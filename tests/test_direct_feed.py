"""Direct parquet-split feed (`build_partials_direct`) vs the default
JVM-scan feed: the two stage-1 feeds share one consumer
(`agg._consume_partials`), so commutative/idempotent kernels must come
out BYTE-identical no matter how differently the feeds split the input,
and order-sensitive kernels must agree within their published bounds —
the same contract any repartition of the default feed already meets
(reference merge-equivalence contract, hyperloglog/mod.rs:556-574).
"""

import glob
import os

import pytest

from sketchlib.agg import (
    SketchSpec,
    build_partials_direct,
    load_state,
    sketch_aggregate,
    sketch_aggregate_direct,
)

SEED = 7
SPECS = [
    SketchSpec("hll", "hll", "tokens", {"p": 12, "seed": SEED}),
    SketchSpec("cms", "cms", "tokens", {"w": 1024, "d": 5, "seed": SEED}),
    SketchSpec("bloom", "bloom", "tokens", {"m": 1 << 16, "k": 5, "seed": SEED}),
    SketchSpec("tdigest", "tdigest", "n_tok", {"delta": 100.0}),
]


@pytest.fixture(scope="module")
def seq_path(spark, tmp_path_factory):
    """A small multi-file sequences table on disk (both feeds read it)."""
    from sketchlib.gen import write_sequences

    path = str(tmp_path_factory.mktemp("directfeed") / "seq")
    write_sequences(spark, path, 3000, partitions=6)
    return path


def _states(rows):
    return {
        (r["source"], r["sketch"]): (bytes(r["state"]), r["n_updates"])
        for r in rows
    }


def test_feeds_agree(spark, seq_path):
    a = _states(sketch_aggregate(spark.read.parquet(seq_path), ["source"], SPECS).collect())
    b = _states(sketch_aggregate_direct(spark, seq_path, ["source"], SPECS).collect())
    assert set(a) == set(b)
    for k in a:
        # every update reached every kernel through either feed
        assert a[k][1] == b[k][1], k
        if k[1] == "tdigest":
            # partition boundaries differ between feeds; t-digest is only
            # value-associative, so compare estimates, not bytes
            qa = load_state(a[k][0]).quantile(0.5)
            qb = load_state(b[k][0]).quantile(0.5)
            assert abs(qa - qb) <= max(1.0, 0.05 * abs(qa)), (k, qa, qb)
        else:
            assert a[k][0] == b[k][0], k


def test_task_packing_invariant(spark, seq_path):
    """Results do not depend on how files pack into tasks; part_id is
    the first sorted-file index of each task."""
    one = _states(
        sketch_aggregate_direct(spark, seq_path, ["source"], SPECS, tasks=1).collect()
    )
    many = _states(
        sketch_aggregate_direct(spark, seq_path, ["source"], SPECS, tasks=64).collect()
    )
    assert set(one) == set(many)
    for k in one:
        assert one[k][1] == many[k][1]
        if k[1] != "tdigest":
            assert one[k][0] == many[k][0], k
    files = sorted(glob.glob(os.path.join(seq_path, "*.parquet")))
    assert len(files) == 6
    parts = build_partials_direct(spark, seq_path, ["source"], SPECS, tasks=2)
    pids = {r.part_id for r in parts.select("part_id").distinct().collect()}
    assert pids == {0, 3}


def test_premerge_is_the_only_mode(spark, seq_path):
    with pytest.raises(ValueError, match="pre-merges"):
        build_partials_direct(spark, seq_path, ["source"], SPECS, premerge=False)


def test_string_sketch_columns_rejected(spark, seq_path):
    with pytest.raises(ValueError, match="xxhash64"):
        build_partials_direct(
            spark,
            seq_path,
            [],
            [SketchSpec("h", "hll", "source", {"p": 12, "seed": SEED})],
        )


def test_single_file_source(spark, seq_path):
    files = sorted(glob.glob(os.path.join(seq_path, "*.parquet")))
    one = _states(
        sketch_aggregate_direct(spark, files[0], ["source"], SPECS).collect()
    )
    ref = _states(
        sketch_aggregate(spark.read.parquet(files[0]), ["source"], SPECS).collect()
    )
    assert set(one) == set(ref)
    for k in one:
        assert one[k][1] == ref[k][1]


def test_auto_fanout_resolution():
    from sketchlib.agg import auto_fanout

    # below the threshold a single reducer handles every partial
    assert auto_fanout(1) is None
    assert auto_fanout(130) is None
    assert auto_fanout(256) is None
    # above it: sqrt(n) balances both tree levels
    assert auto_fanout(257) == 16
    assert auto_fanout(1 << 20) == 1 << 10
    assert auto_fanout(100_000) == 316


def test_auto_fanout_end_to_end(spark, seq_path):
    """fanout='auto' (few files -> single-level merge) gives states
    byte-identical to the explicit tree for shape-invariant kernels."""
    auto = _states(
        sketch_aggregate_direct(spark, seq_path, ["source"], SPECS, fanout="auto").collect()
    )
    tree = _states(
        sketch_aggregate_direct(spark, seq_path, ["source"], SPECS, fanout=4).collect()
    )
    assert set(auto) == set(tree)
    for k in auto:
        assert auto[k][1] == tree[k][1], k
        if k[1] != "tdigest":  # tree shape is invisible to max/sum/OR merges
            assert auto[k][0] == tree[k][0], k


def test_merge_partials_rejects_unresolved_auto(spark, seq_path):
    import pytest as _pytest

    from sketchlib.agg import build_partials_direct, merge_partials

    partials = build_partials_direct(spark, seq_path, ["source"], SPECS[:1])
    with _pytest.raises(ValueError, match="auto"):
        merge_partials(partials, ["source"], fanout="auto")
