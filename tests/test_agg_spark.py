"""Spark aggregation-layer tests (FIXTURES.md §3): estimates vs exact
oracles, partition invariance (the merge-equivalence contract), skew
salting, broadcast point-query/membership UDFs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib import estimates as E
from sketchlib.agg import SketchSpec, build_partials, merge_partials, sketch_aggregate
from sketchlib.salt import salted_repartition, with_salt

SPECS = [
    SketchSpec("hll_tok", "hll", "tokens", {"p": 14}),
    SketchSpec("cms_tok", "cms", "tokens", {"w": 65536, "d": 5}),
    SketchSpec("bloom_tok", "bloom", "tokens", {"m": 1_200_000, "k": 6}),
    SketchSpec("td_ntok", "tdigest", "n_tok", {"delta": 100.0}),
    SketchSpec("kll_ntok", "kll", "n_tok", {"k": 200}),
]


@pytest.fixture(scope="module")
def merged(seq_small):
    m = sketch_aggregate(seq_small, ["source"], SPECS, fanout=4).cache()
    m.count()
    return m


@pytest.fixture(scope="module")
def exact_distinct(seq_small):
    rows = (
        seq_small.select("source", F.explode("tokens").alias("t"))
        .groupBy("source")
        .agg(F.countDistinct("t").alias("exact"))
        .collect()
    )
    return {r.source: r.exact for r in rows}


def test_hll_distinct_within_bound(merged, exact_distinct):
    rows = merged.filter(F.col("sketch") == "hll_tok").select(
        "source", E.hll_count("state").alias("est")
    ).collect()
    assert len(rows) == 4
    bound = 1.04 / np.sqrt(2**14)
    for r in rows:
        exact = exact_distinct[r.source]
        assert abs(r.est - exact) / exact <= 3 * bound, (r.source, r.est, exact)


def test_metrics_columns(merged, seq_small):
    tok_updates = {
        r.source: r.n_updates
        for r in merged.filter(F.col("sketch") == "hll_tok").collect()
    }
    exact_tokens = {
        r.source: r.s
        for r in seq_small.groupBy("source").agg(F.sum("n_tok").alias("s")).collect()
    }
    assert tok_updates == exact_tokens


def test_cms_point_queries_match_exact(spark, merged, seq_small):
    # at this load (65k cells x 5 rows vs ~48k distinct tokens per group)
    # collisions are absent for head tokens: estimates == exact counts
    exact = (
        seq_small.select("source", F.explode("tokens").alias("t"))
        .groupBy("source", "t")
        .count()
        .filter(F.col("count") >= 20)
        .cache()
    )
    states = E.collect_states(merged, ["source"], "cms_tok")
    freq = E.point_query_udf(spark, states)
    checked = exact.withColumn("est", freq("source", "t"))
    bad = checked.filter(F.col("est") < F.col("count")).count()
    assert bad == 0, "CMS must never underestimate"
    # at load factor ~0.73 (48k distinct / 65k cells, d=5) the vast
    # majority of head tokens see no collision in at least one row
    frac_exact = checked.filter(F.col("est") == F.col("count")).count() / checked.count()
    assert frac_exact > 0.9, frac_exact
    # and the eps-bound holds: est <= exact + eps*N with eps = e/w
    import math
    n_tot = seq_small.selectExpr("sum(n_tok)").collect()[0][0]
    eps = math.e / 65536
    viol = checked.filter(F.col("est") > F.col("count") + eps * n_tot).count()
    assert viol == 0


def test_bloom_membership_no_false_negatives(spark, merged, seq_small):
    present = (
        seq_small.select("source", F.explode("tokens").alias("t")).distinct().limit(2000)
    )
    states = E.collect_states(merged, ["source"], "bloom_tok")
    member = E.membership_udf(spark, states)
    miss = present.withColumn("hit", member("source", "t")).filter(~F.col("hit")).count()
    assert miss == 0


def test_quantile_estimates_close_to_exact(merged, seq_small):
    exact = {
        r.source: r.q
        for r in seq_small.groupBy("source")
        .agg(F.expr("percentile(n_tok, 0.5)").alias("q"))
        .collect()
    }
    for sk in ("td_ntok", "kll_ntok"):
        rows = merged.filter(F.col("sketch") == sk).select(
            "source", E.sketch_quantile("state", F.lit(0.5)).alias("p50")
        ).collect()
        for r in rows:
            # n_tok spans 16..500; sketch p50 within 5% of the span
            assert abs(r.p50 - exact[r.source]) <= 25, (sk, r.source, r.p50, exact[r.source])


def test_partition_invariance_byte_identical(spark, seq_small):
    """FIXTURES `partition_invariance`: final merged states are
    byte-identical across input partitionings and merge fanouts."""
    specs = [SketchSpec("hll_tok", "hll", "tokens", {"p": 12}),
             SketchSpec("bloom_tok", "bloom", "tokens", {"m": 100_000, "k": 4})]

    def states_of(df, fanout):
        m = sketch_aggregate(df, ["source"], specs, fanout=fanout)
        return {
            (r.source, r.sketch): bytes(r.state)
            for r in m.collect()
        }

    base = states_of(seq_small.repartition(1), None)
    for df, fanout in [
        (seq_small.repartition(7), 3),
        (seq_small.repartition(32), 8),
        (salted_repartition(seq_small, ["source"], 16), None),
    ]:
        got = states_of(df, fanout)
        assert got == base


def test_merge_idempotence_vs_counting(spark, seq_small):
    """HLL/Bloom merges are idempotent, CMS is additive — feeding the
    same partials through a 2-level tree must not double-count."""
    specs = [SketchSpec("cms_tok", "cms", "tokens", {"w": 8192, "d": 3})]
    partials = build_partials(seq_small.repartition(16), ["source"], specs)
    m1 = merge_partials(partials, ["source"], fanout=None).collect()
    m2 = merge_partials(partials, ["source"], fanout=4).collect()
    t1 = {r.source: r.n_updates for r in m1}
    t2 = {r.source: r.n_updates for r in m2}
    assert t1 == t2
    from sketchlib.agg import load_state
    for r1 in m1:
        r2 = [r for r in m2 if r.source == r1.source][0]
        assert load_state(r1.state).total() == load_state(r2.state).total()


def test_string_column_prehash(spark, seq_small):
    """String sketch inputs are hashed JVM-side (xxhash64), never in
    per-row Python."""
    specs = [SketchSpec("hll_src", "hll", "doc_id", {"p": 12})]
    m = sketch_aggregate(seq_small, [], specs, fanout=None)
    row = m.select(E.hll_count("state").alias("est")).collect()[0]
    assert abs(row.est - 2000) / 2000 < 0.1


def test_with_salt_bounds(seq_small):
    s = with_salt(seq_small, 8)
    vals = [r[0] for r in s.select("__salt").distinct().collect()]
    assert all(0 <= v < 8 for v in vals)
    with pytest.raises(ValueError):
        with_salt(seq_small, 0)


def test_global_aggregate_no_groups(seq_small):
    m = sketch_aggregate(seq_small, [], [SketchSpec("hll_tok", "hll", "tokens", {"p": 14})])
    rows = m.select(E.hll_count("state").alias("est")).collect()
    assert len(rows) == 1
    assert abs(rows[0].est - 50_000) / 50_000 < 0.05


# byte-commutative kinds: any partitioning and merge tree yields the
# state of one kernel fed every value at once
REF_PARAMS = {
    "hll": {"p": 12, "seed": 7},
    "cms": {"w": 2048, "d": 4, "seed": 7},
    "bloom": {"m": 1 << 16, "k": 5, "seed": 7},
    "ams": {"w": 1024, "d": 5, "seed": 7},
    "kmv": {"k": 512, "seed": 7},
}


def _driver_state(spec: SketchSpec, values) -> bytes:
    kernel = spec.make()
    kernel.update(np.asarray(values, dtype=np.int64))
    return kernel.to_bytes()


@pytest.mark.parametrize(
    "group_cols, col",
    [(["source"], "tokens"), ([], "doc_id")],
    ids=["grouped-int-array", "global-scalar-string"],
)
def test_stage1_states_match_driver_kernel(seq_small, group_cols, col):
    """The stage-1 reference: a state Spark builds over 8 input
    partitions and a fanout=8 merge tree is byte-equal to ONE kernel
    built in the driver over the collected values, and n_updates is the
    exact value count. A string column is pre-hashed JVM-side with
    xxhash64, so the reference collects the same hashes."""
    specs = [SketchSpec(kind, kind, col, params) for kind, params in REF_PARAMS.items()]
    got = {
        (tuple(r[c] for c in group_cols), r.sketch): (bytes(r.state), r.n_updates)
        for r in sketch_aggregate(seq_small, group_cols, specs, fanout=8).collect()
    }
    vcol = F.col(col) if col == "tokens" else F.array(F.xxhash64(col))
    values: dict = {}
    for r in seq_small.select(*group_cols, vcol.alias("v")).collect():
        values.setdefault(tuple(r[c] for c in group_cols), []).extend(r.v)
    assert len(values) == (4 if group_cols else 1)
    assert set(got) == {(key, s.name) for key in values for s in specs}
    for key, vals in values.items():
        for spec in specs:
            assert got[(key, spec.name)] == (_driver_state(spec, vals), len(vals)), (
                key,
                spec.name,
            )


def test_null_array_elements_are_not_values(spark):
    """A null inside an array is not a value: stage 1 drops it, so the
    state equals a kernel fed only the real values and n_updates counts
    only them; a group whose arrays hold nothing but nulls emits no
    state."""
    df = spark.createDataFrame(
        [("a", [1, None, 3]), ("a", [4]), ("b", None), ("b", [None, None])],
        "source string, tokens array<bigint>",
    )
    specs = [
        SketchSpec("hll", "hll", "tokens", {"p": 10, "seed": 3}),
        SketchSpec("cms", "cms", "tokens", {"w": 256, "d": 3, "seed": 3}),
    ]
    got = {
        (r.source, r.sketch): (bytes(r.state), r.n_updates)
        for r in sketch_aggregate(df, ["source"], specs, fanout=None).collect()
    }
    assert set(got) == {("a", "hll"), ("a", "cms")}
    for spec in specs:
        assert got[("a", spec.name)] == (_driver_state(spec, [1, 3, 4]), 3), spec.name


def _bloom_cms_blobs(ids):
    from sketchlib.bloom import BloomFilter
    from sketchlib.cms import CountMinSketch

    bloom = BloomFilter(m=1 << 14, k=5)
    cms = CountMinSketch(w=1024, d=4)
    vals = np.asarray(ids, dtype=np.int64)
    bloom.update(vals)
    cms.update(vals)
    return bloom, cms


def test_point_queries_global_none_group(spark):
    """The documented global form: ``{None: blob}`` with a null group
    column. Every inserted id is a member and the CMS never
    underestimates, so 100 ids of count 1 sum to at least 100."""
    bloom, cms = _bloom_cms_blobs(range(100))
    member = E.membership_udf(spark, {None: bloom.to_bytes()})
    freq = E.point_query_udf(spark, {None: cms.to_bytes()})
    df = spark.range(100).withColumn("g", F.lit(None).cast("string"))
    row = (
        df.select(member("g", "id").alias("hit"), freq("g", "id").alias("est"))
        .agg(F.sum(F.col("hit").cast("long")).alias("hits"), F.sum("est").alias("est"))
        .collect()[0]
    )
    assert row["hits"] == 100
    assert row["est"] >= 100


def test_point_queries_missing_group_is_empty(spark):
    """A group absent from the state dict answers False / 0."""
    bloom, cms = _bloom_cms_blobs(range(100))
    member = E.membership_udf(spark, {"a": bloom.to_bytes()})
    freq = E.point_query_udf(spark, {"a": cms.to_bytes()})
    df = spark.range(100).withColumn("g", F.lit("b"))
    rows = df.select(member("g", "id").alias("hit"), freq("g", "id").alias("est")).collect()
    assert not any(r["hit"] for r in rows)
    assert all(r["est"] == 0 for r in rows)


def test_point_queries_mixed_groups_match_per_row_kernel(spark):
    """A frame whose batches mix groups (a, b, a null group and one
    with no state) answers every row exactly as that row's own kernel
    would."""
    rng = np.random.default_rng(11)
    kernels = {
        "a": _bloom_cms_blobs(rng.integers(0, 400, 300)),
        "b": _bloom_cms_blobs(rng.integers(200, 600, 300)),
        None: _bloom_cms_blobs(rng.integers(0, 50, 500)),
    }
    member = E.membership_udf(spark, {g: k[0].to_bytes() for g, k in kernels.items()})
    freq = E.point_query_udf(spark, {g: k[1].to_bytes() for g, k in kernels.items()})
    n = 2000
    groups = [("a", "b", None, "c")[j] for j in rng.integers(0, 4, n)]
    ids = rng.integers(0, 700, n).tolist()
    df = spark.createDataFrame(list(zip(groups, ids)), "g string, v long")
    rows = (
        df.repartition(3)
        .select("g", "v", member("g", "v").alias("hit"), freq("g", "v").alias("est"))
        .collect()
    )
    assert len(rows) == n
    for r in rows:
        kernel = kernels.get(r["g"])
        if kernel is None:
            assert (r["hit"], r["est"]) == (False, 0), r
            continue
        v = np.array([r["v"]], dtype=np.int64)
        assert r["hit"] == bool(kernel[0].query(v)[0]), r
        assert r["est"] == int(kernel[1].query_points(v)[0]), r


def test_build_partials_checks_each_spec_once(spark, monkeypatch):
    """Planning ``build_partials`` builds each spec's kernel once (a
    stream trigger plans it anew), and bad params on a pre-hashed
    string input still fail there, naming the spec."""
    made = []
    make = SketchSpec.make
    monkeypatch.setattr(SketchSpec, "make", lambda s: made.append(s.name) or make(s))
    df = spark.range(10).withColumn("s", F.col("id").cast("string"))
    build_partials(df, [], [SketchSpec("h", "hll", "s", {"p": 10}), SketchSpec("c", "cms", "id", {"w": 64, "d": 2})])
    assert sorted(made) == ["c", "h"]
    with pytest.raises(TypeError, match=r"spec 'h'.*'pp'"):
        build_partials(df, [], [SketchSpec("h", "hll", "s", {"pp": 12})])
    with pytest.raises(ValueError, match=r"spec 'x': unknown kind"):
        build_partials(df, [], [SketchSpec("x", "nosuch", "s")])
