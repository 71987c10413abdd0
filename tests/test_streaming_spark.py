"""Streaming adapter: file-stream micro-batches == one batch run."""

import os

import pytest
from pyspark.sql import functions as F

from sketchlib.agg import SketchSpec, sketch_aggregate
from sketchlib.estimates import hll_count
from sketchlib.gen import sequences_df
from sketchlib.streaming import (
    current_states,
    session_sketch_stream,
    sketch_stream_writer,
    windowed_sketch_stream,
)

SPECS = [
    SketchSpec("hll", "hll", "tokens", {"p": 12, "seed": 1}),
    SketchSpec("cms", "cms", "tokens", {"w": 1024, "d": 4, "seed": 1}),
    # kmv: bottom-k union is idempotent, so stream==batch byte-identity
    # covers it with no extra assertions
    SketchSpec("kmv", "kmv", "tokens", {"k": 256, "seed": 1}),
    # ddsketch: bucket-wise counter add — byte-identical mergeable like
    # cms, so the same stream==batch byte assertion covers it (r5)
    SketchSpec("dd", "ddsketch", "n_tok", {"alpha": 0.01}),
]


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src = os.path.join(str(root), "src")
    # 4 files → 4 micro-batches with maxFilesPerTrigger=1
    sequences_df(spark, 1200, partitions=4).write.parquet(src)
    return {
        "src": src,
        "state": os.path.join(str(root), "state"),
        "ckpt": os.path.join(str(root), "ckpt"),
    }


def test_stream_equals_batch(spark, stream_dirs):
    batch_df = spark.read.parquet(stream_dirs["src"])
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dirs["src"])
    )
    q = (
        sketch_stream_writer(stream_df, ["source"], SPECS, stream_dirs["state"], stream_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = current_states(spark, stream_dirs["state"], ["source"], fanout=4)
    batched = sketch_aggregate(batch_df, ["source"], SPECS, fanout=4)

    def states(df):
        return {
            (r["source"], r["sketch"]): (bytes(r["state"]), r["n_updates"])
            for r in df.collect()
        }

    s, b = states(streamed), states(batched)
    assert set(s) == set(b)
    for k in b:
        assert s[k][1] == b[k][1], f"n_updates differ for {k}"
    # estimates agree (CMS state is byte-identical: elementwise-sum merge;
    # HLL byte-identical: elementwise max)
    se = {
        (r["source"],): r["est"]
        for r in streamed.filter(F.col("sketch") == "hll")
        .withColumn("est", hll_count("state"))
        .collect()
    }
    be = {
        (r["source"],): r["est"]
        for r in batched.filter(F.col("sketch") == "hll")
        .withColumn("est", hll_count("state"))
        .collect()
    }
    assert se == be
    for k in b:
        assert s[k][0] == b[k][0], f"state bytes differ for {k}"


@pytest.mark.parametrize("operator", ["writer", "windowed", "session"])
@pytest.mark.parametrize(
    "specs",
    [
        [SketchSpec("x", "hll", "value"), SketchSpec("x", "cms", "value")],
        [],
    ],
    ids=["duplicate-name", "empty"],
)
def test_stream_operators_reject_bad_spec_lists(spark, tmp_path, operator, specs):
    """Every streaming operator keys its kernels and rows by spec name:
    a repeated name or an empty list is a ValueError while the query is
    being built, not two rows sharing one kernel."""
    rate = spark.readStream.format("rate").load().withColumn("g", F.col("value") % 2)
    build = {
        "writer": lambda: sketch_stream_writer(
            rate, ["g"], specs, str(tmp_path / "state"), str(tmp_path / "ckpt")
        ),
        "windowed": lambda: windowed_sketch_stream(rate, "timestamp", ["g"], specs),
        "session": lambda: session_sketch_stream(rate, "timestamp", ["g"], specs),
    }[operator]
    with pytest.raises(ValueError, match="duplicate sketch names|at least one SketchSpec"):
        build()
