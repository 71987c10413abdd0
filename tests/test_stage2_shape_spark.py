"""Stage-2 merge shape at every entry point.

The default ``fanout="auto"`` of ``sketch_aggregate_direct``,
``current_states``, ``compact`` and ``checkpointed_sketch_aggregate``
plans ONE merge pass (one ``FlatMapGroupsInPandas``) below 256 partials
per key, while an explicit ``fanout=4`` plans the salted two-level tree.
Both shapes give byte-identical HLL/CMS/Bloom/KMV/DDSketch states, and
KLL/t-digest quantiles inside their rank bounds.

Also covered: the stream store salts by ``(batch_id, part_id)`` so a long
stream of one-partition batches spreads over the salt buckets, and an
all-filtered micro-batch leaves no trace in the store.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from sketchlib import streaming
from sketchlib.agg import (
    SketchSpec,
    auto_fanout,
    build_partials,
    load_state,
    merge_partials,
    partials_schema,
    sketch_aggregate,
    sketch_aggregate_direct,
)
from sketchlib.checkpoint import checkpointed_sketch_aggregate
from sketchlib.cms import CountMinSketch
from sketchlib.ddsketch import DDSketch
from sketchlib.hll import HLL
from sketchlib.kmv import KMV
from sketchlib.streaming import compact, current_states, sketch_stream_writer

SEED = 11
BYTE_KINDS = {"hll", "cms", "bloom", "kmv", "ddsketch"}
RANK_KINDS = {"kll", "tdigest"}
SPECS = [
    SketchSpec("hll", "hll", "tokens", {"p": 12, "seed": SEED}),
    SketchSpec("cms", "cms", "tokens", {"w": 1024, "d": 4, "seed": SEED}),
    SketchSpec("bloom", "bloom", "tokens", {"m": 1 << 15, "k": 4, "seed": SEED}),
    SketchSpec("kmv", "kmv", "tokens", {"k": 128, "seed": SEED}),
    SketchSpec("ddsketch", "ddsketch", "n_tok", {"alpha": 0.01}),
    SketchSpec("kll", "kll", "n_tok", {"k": 200}),
    SketchSpec("tdigest", "tdigest", "n_tok", {"delta": 100.0}),
]
# KLL k=200 normalized rank error, used for t-digest δ=100 as well; one
# item of slack covers the rank discretization of small per-source n
RANK_EPS = 0.02
QS = (0.1, 0.25, 0.5, 0.75, 0.9)


def _merge_nodes(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum("FlatMapGroupsInPandas" in line for line in plan.splitlines())


def _states(df):
    return {
        (r["source"], r["sketch"]): (bytes(r["state"]), r["n_updates"]) for r in df.collect()
    }


def _exact_n_tok(df) -> dict:
    out = {}
    for r in df.groupBy("source").agg(F.collect_list("n_tok").alias("v")).collect():
        out[r["source"]] = np.sort(np.asarray(r["v"], dtype=np.float64))
    return out


def _within_rank(est: float, v: np.ndarray, q: float) -> bool:
    n = len(v)
    lo = np.searchsorted(v, est, "left") / n
    hi = np.searchsorted(v, est, "right") / n
    eps = RANK_EPS + 1.0 / n
    return lo - eps <= q <= hi + eps


def _assert_same_results(auto: dict, tree: dict, exact: dict) -> None:
    assert set(auto) == set(tree)
    for k in auto:
        assert auto[k][1] == tree[k][1], k
        if k[1] in BYTE_KINDS:
            assert auto[k][0] == tree[k][0], k
        else:
            assert k[1] in RANK_KINDS
            for states in (auto, tree):
                sk = load_state(states[k][0])
                for q in QS:
                    est = sk.quantile(q)
                    assert _within_rank(est, exact[k[0]], q), (k, q, est)


# ---------------------------------------------------------------------------
# direct feed, checkpointed build and merge_partials itself
# ---------------------------------------------------------------------------


def test_merge_partials_default_is_one_merge_pass(spark, seq_small):
    partials = build_partials(seq_small, ["source"], SPECS)
    flat_df = merge_partials(partials, ["source"])
    tree_df = merge_partials(partials, ["source"], 4)
    assert _merge_nodes(flat_df) == 1
    assert _merge_nodes(tree_df) == 2
    _assert_same_results(_states(flat_df), _states(tree_df), _exact_n_tok(seq_small))


def test_direct_feed_default_is_one_merge_pass(spark, tmp_path):
    from sketchlib.gen import write_sequences

    path = str(tmp_path / "seq")
    write_sequences(spark, path, 2000, partitions=6)
    auto_df = sketch_aggregate_direct(spark, path, ["source"], SPECS)
    tree_df = sketch_aggregate_direct(spark, path, ["source"], SPECS, fanout=4)
    assert _merge_nodes(auto_df) == 1
    assert _merge_nodes(tree_df) == 2
    exact = _exact_n_tok(spark.read.parquet(path))
    _assert_same_results(_states(auto_df), _states(tree_df), exact)


def test_checkpointed_default_is_one_merge_pass(spark, seq_small, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    auto_df = checkpointed_sketch_aggregate(seq_small, ["source"], SPECS, ckpt, "fp")
    # same checkpoint and fingerprint: the second build resumes with every
    # partition done, so both merges read the same partial rows
    tree_df = checkpointed_sketch_aggregate(
        seq_small, ["source"], SPECS, ckpt, "fp", fanout=4
    )
    assert _merge_nodes(auto_df) == 1
    assert _merge_nodes(tree_df) == 2
    _assert_same_results(_states(auto_df), _states(tree_df), _exact_n_tok(seq_small))


# ---------------------------------------------------------------------------
# stream store: [non-empty, all-filtered, non-empty] micro-batches
# ---------------------------------------------------------------------------

DROP = "__dropped__"


@pytest.fixture(scope="module")
def stream_store(spark, tmp_path_factory):
    from sketchlib.gen import sequences_df

    root = str(tmp_path_factory.mktemp("stage2_stream"))
    src = os.path.join(root, "src")
    os.makedirs(src)
    staged = os.path.join(root, "staged")
    # two files of real rows, one file whose rows the stream filter drops
    sequences_df(spark, 1200, partitions=2).write.parquet(os.path.join(staged, "kept"))
    sequences_df(spark, 300, partitions=1).withColumn("source", F.lit(DROP)).write.parquet(
        os.path.join(staged, "dropped")
    )
    kept = sorted(
        os.path.join(staged, "kept", f)
        for f in os.listdir(os.path.join(staged, "kept"))
        if f.endswith(".parquet")
    )
    (dropped,) = [
        os.path.join(staged, "dropped", f)
        for f in os.listdir(os.path.join(staged, "dropped"))
        if f.endswith(".parquet")
    ]
    # the file source orders by modification time: kept, dropped, kept
    t0 = 1_700_000_000
    for i, f in enumerate([kept[0], dropped, kept[1]]):
        dst = os.path.join(src, f"f{i}.parquet")
        os.rename(f, dst)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))
    schema = spark.read.parquet(src).schema
    stream_df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .filter(F.col("source") != DROP)
    )
    state = os.path.join(root, "state")
    q = (
        sketch_stream_writer(stream_df, ["source"], SPECS, state, os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    kept_df = spark.read.parquet(os.path.join(src, "f0.parquet"), os.path.join(src, "f2.parquet"))
    return {"root": root, "state": state, "kept": kept_df}


def test_empty_batch_leaves_no_partition(spark, stream_store):
    batches = sorted(d for d in os.listdir(stream_store["state"]) if d.startswith("batch_id="))
    assert batches == ["batch_id=0", "batch_id=2"]
    streamed = _states(current_states(spark, stream_store["state"], ["source"], fanout=None))
    batched = _states(sketch_aggregate(stream_store["kept"], ["source"], SPECS, fanout=None))
    assert set(streamed) == set(batched)
    for k in batched:
        assert streamed[k][1] == batched[k][1], k
        if k[1] in BYTE_KINDS:
            assert streamed[k][0] == batched[k][0], k


def test_store_read_runs_no_schema_job(spark, stream_store, tmp_path):
    """The store's schema comes from a part file's footer on the driver:
    planning ``current_states`` runs no Spark job, and the schema is the
    one ``spark.read.parquet`` infers. A store without a part file still
    raises Spark's ``AnalysisException``."""
    from pyspark.errors import AnalysisException

    sc = spark.sparkContext
    group = "stream-store-planning"
    sc.setJobGroup(group, "plan a merge-on-read of the stream store")
    try:
        planned = current_states(spark, stream_store["state"], ["source"])
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        read = spark.read.schema(streaming._store_schema(spark, stream_store["state"]))
        schema = read.parquet(stream_store["state"]).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert schema == spark.read.parquet(stream_store["state"]).schema
    assert schema[streaming._BATCH_COL].dataType == IntegerType()
    assert set(_states(planned)) == set(
        _states(current_states(spark, stream_store["state"], ["source"], fanout=None))
    )
    empty = tmp_path / "empty_store"
    (empty / "batch_id=0").mkdir(parents=True)
    for path in (empty, tmp_path / "no_store"):
        with pytest.raises(AnalysisException):
            current_states(spark, str(path), ["source"])


def test_current_states_default_is_one_merge_pass(spark, stream_store):
    auto_df = current_states(spark, stream_store["state"], ["source"])
    tree_df = current_states(spark, stream_store["state"], ["source"], fanout=4)
    assert _merge_nodes(auto_df) == 1
    assert _merge_nodes(tree_df) == 2
    exact = _exact_n_tok(stream_store["kept"])
    _assert_same_results(_states(auto_df), _states(tree_df), exact)


def test_compact_default_is_one_merge_pass(spark, stream_store, monkeypatch):
    planned = []
    merge = streaming.merge_partials

    def spy(*args, **kwargs):
        out = merge(*args, **kwargs)
        planned.append(_merge_nodes(out))
        return out

    monkeypatch.setattr(streaming, "merge_partials", spy)
    auto_path = os.path.join(stream_store["root"], "compact_auto")
    tree_path = os.path.join(stream_store["root"], "compact_tree")
    compact(spark, stream_store["state"], ["source"], auto_path)
    compact(spark, stream_store["state"], ["source"], tree_path, fanout=4)
    assert planned == [1, 2]
    _assert_same_results(
        _states(spark.read.parquet(auto_path)),
        _states(spark.read.parquet(tree_path)),
        _exact_n_tok(stream_store["kept"]),
    )


# ---------------------------------------------------------------------------
# stream store salt: a long stream of one-partition batches
# ---------------------------------------------------------------------------

N_BATCHES = 300
STORE_SPECS = {
    "hll": lambda: HLL(p=10, seed=SEED),
    "cms": lambda: CountMinSketch(w=256, d=3, seed=SEED),
    "kmv": lambda: KMV(k=64, seed=SEED),
    "ddsketch": lambda: DDSketch(alpha=0.02),
}


def _one_partition_batch_store(spark, path: str) -> None:
    """A store as ``sketch_stream_writer`` leaves it after N_BATCHES
    one-partition micro-batches: every partial has ``part_id = 0``."""
    rng = np.random.default_rng(SEED)
    rows = []
    for b in range(N_BATCHES):
        values = rng.integers(0, 5000, size=64)
        for name, make in STORE_SPECS.items():
            sk = make()
            sk.update(values)
            rows.append(("all", name, sk.to_bytes(), len(values), 1, 0, b))
    pdf = pd.DataFrame(
        rows, columns=["source", "sketch", "state", "n_updates", "n_rows", "part_id", "batch_id"]
    )
    schema = partials_schema(spark.createDataFrame([("x",)], ["source"]), ["source"])
    schema = schema.add("batch_id", IntegerType(), False)
    spark.createDataFrame(pdf, schema).write.partitionBy("batch_id").parquet(path)


def test_stream_salt_spreads_one_partition_batches(spark, tmp_path):
    path = str(tmp_path / "store")
    _one_partition_batch_store(spark, path)
    fanout = auto_fanout(N_BATCHES)
    assert fanout is not None  # 300 store files: "auto" keeps the tree
    salts = (
        streaming._salt_by_batch(spark.read.parquet(path))
        .select(F.pmod("part_id", F.lit(fanout)).alias("salt"))
        .distinct()
        .count()
    )
    assert salts > fanout // 2, salts
    auto_df = current_states(spark, path, ["source"])
    assert _merge_nodes(auto_df) == 2
    tree = _states(auto_df)
    flat = _states(current_states(spark, path, ["source"], fanout=None))
    assert set(tree) == set(flat) == {("all", k) for k in STORE_SPECS}
    for k in flat:
        assert tree[k] == flat[k], k
