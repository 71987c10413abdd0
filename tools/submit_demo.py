#!/usr/bin/env python
"""spark-submit deployment demo (the north-rule packaging contract):

    python tools/make_pyfiles_zip.py
    spark-submit --master local[4] --py-files sketchlib.zip \
        tools/submit_demo.py [n_docs]

Imports sketchlib ONLY from the shipped zip (no repo on sys.path),
generates the deterministic sequences table, builds all four sketches
per source, and prints the estimate table.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    spark = SparkSession.builder.appName("sketchlib-submit-demo").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # resolved from --py-files sketchlib.zip on driver and executors
    from sketchlib.agg import SketchSpec, sketch_aggregate
    from sketchlib.estimates import hll_count, sketch_quantile
    from sketchlib.gen import sequences_df

    seqs = sequences_df(spark, n_docs, partitions=8)
    specs = [
        SketchSpec("hll", "hll", "tokens", {"p": 14, "seed": 42}),
        SketchSpec("cms", "cms", "tokens", {"w": 8192, "d": 5, "seed": 42}),
        SketchSpec("bloom", "bloom", "tokens", {"m": 1 << 20, "k": 7, "seed": 42}),
        SketchSpec("tdigest", "tdigest", "n_tok", {"delta": 200.0}),
    ]
    merged = sketch_aggregate(seqs, ["source"], specs, fanout=8).cache()
    out = (
        merged.filter(F.col("sketch") == "hll")
        .select("source", hll_count("state").alias("distinct_tokens"), "n_updates")
        .join(
            merged.filter(F.col("sketch") == "tdigest").select(
                "source", sketch_quantile("state", F.lit(0.5)).alias("median_n_tok")
            ),
            "source",
        )
        .orderBy("source")
    )
    rows = out.collect()
    for r in rows:
        print(f"source={r.source:6s} distinct_tokens={r.distinct_tokens:>7} "
              f"tokens={r.n_updates:>10} median_n_tok={r.median_n_tok:.1f}")
    assert rows, "no output rows"
    print(f"OK: {len(rows)} sources")
    spark.stop()


if __name__ == "__main__":
    main()
