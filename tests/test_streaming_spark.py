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


FOLD_SPECS = [
    SketchSpec("hll", "hll", "v", {"p": 12, "seed": 3}),
    SketchSpec("cms", "cms", "v", {"w": 512, "d": 4, "seed": 3}),
    SketchSpec("bloom", "bloom", "v", {"m": 1 << 14, "k": 4, "seed": 3}),
    SketchSpec("kmv", "kmv", "v", {"k": 64, "seed": 3}),
    SketchSpec("ams", "ams", "v", {"w": 256, "d": 3, "seed": 3}),
    SketchSpec("dd", "ddsketch", "x", {"alpha": 0.01}),
    SketchSpec("td", "tdigest", "x", {"delta": 100.0}),
    SketchSpec("kll", "kll", "x", {"k": 200}),
    SketchSpec("tdw", "tdigest", "x", {"delta": 100.0}, weight_col="w"),
    SketchSpec("hll_t", "hll", "toks", {"p": 12, "seed": 3}),
]
FOLD_BYTE_KINDS = {"hll", "cms", "bloom", "kmv", "ams", "dd", "hll_t"}


def test_stateful_fold_matches_stage1_consumer(spark):
    """The windowed/session operators' fold over one pandas frame of the
    stream they ship (as applyInPandasWithState delivers it: Arrow to
    pandas, arrays as objects) equals the batch path's stage-1 consumer
    over the same rows, byte for byte, longs beyond 2^53 included;
    folding two halves (the second with only null arrays) gives the same
    bytes for the byte-commutative kinds, and a spec that saw no value
    is an empty kernel with n_updates 0."""
    import numpy as np
    import pyarrow as pa

    from sketchlib.agg import _consume_partials, load_state
    from sketchlib.streaming import _state_folder

    rng = np.random.default_rng(5)
    n = 600
    v = [None if i % 7 == 0 else (1 << 60) + int(e) for i, e in enumerate(rng.integers(0, 300, n))]
    x = rng.gamma(2.0, 10.0, n)
    w = rng.uniform(0.5, 2.0, n)
    x[::11] = w[::11] = np.nan
    toks = [
        rng.integers(0, 50, i % 5).tolist() if i < n // 2 and i % 3 else None for i in range(n)
    ]
    for t in toks[1::10]:
        if t:
            t.append(None)  # null elements are not values
    xs, ws = ([None if np.isnan(e) else float(e) for e in a] for a in (x, w))
    rows = spark.createDataFrame(
        list(zip(range(n), v, xs, ws, toks)), "i long, v long, x double, w double, toks array<long>"
    ).orderBy("i")

    shipped, fold = _state_folder(rows, FOLD_SPECS, ["i"])
    # each input travels once; the key column under its own name
    assert sorted(shipped.columns) == ["__n__v", "__x__toks", "__x__v", "__x__w", "__x__x", "i"]
    pdf = shipped.toPandas()
    got = fold({}, pdf)

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(v, pa.int64()),
            pa.array(xs, pa.float64()),
            pa.array(ws, pa.float64()),
            pa.array(toks, pa.list_(pa.int64())),
        ],
        names=["v", "x", "w", "toks"],
    )
    payload = [(s.name, s.kind, s.col, dict(s.params), s.weight_col) for s in FOLD_SPECS]
    (ref,) = _consume_partials([batch], [], [], payload, 0)
    want = {
        name: (blob, n)
        for name, blob, n in zip(
            *(ref.column(c).to_pylist() for c in ("sketch", "state", "n_updates"))
        )
    }
    assert got == want
    assert got["hll"][1] == sum(e is not None for e in v)
    assert got["tdw"][1] == got["td"][1] == int(np.isfinite(x).sum())
    assert got["hll_t"][1] == sum(e is not None for t in toks if t is not None for e in t)

    halves = fold(fold({}, pdf.iloc[: n // 2]), pdf.iloc[n // 2 :])
    for s in FOLD_SPECS:
        assert halves[s.name][1] == got[s.name][1], s.name
        if s.name in FOLD_BYTE_KINDS:
            assert halves[s.name][0] == got[s.name][0], s.name

    empty = fold({}, pdf.iloc[:0])
    for s in FOLD_SPECS:
        assert empty[s.name] == (s.make().to_bytes(), 0), s.name
    assert load_state(empty["hll"][0]).count() == 0
