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
    KERNELS,
    SketchSpec,
    _direct_tasks,
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
# each sketch's declared merge contract: "bytes" states must match byte
# for byte across feeds and merge trees, "bounded" ones within bounds
CONTRACT = {s.name: KERNELS[s.kind].merge_contract for s in SPECS}


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
        if CONTRACT[k[1]] == "bounded":
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
        if CONTRACT[k[1]] == "bytes":
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
        if CONTRACT[k[1]] == "bytes":  # tree shape is invisible to max/sum/OR merges
            assert auto[k][0] == tree[k][0], k


def test_merge_partials_rejects_unresolved_auto(spark, seq_path):
    import pytest as _pytest

    from sketchlib.agg import build_partials_direct, merge_partials

    partials = build_partials_direct(spark, seq_path, ["source"], SPECS[:1])
    with _pytest.raises(ValueError, match="auto"):
        merge_partials(partials, ["source"], fanout="auto")


# -- row chunks: a task's files reach the consumer concatenated ------------


def _table_batch(n, start=0, n_tok_type=None):
    import numpy as np
    import pyarrow as pa

    ids = np.arange(start, start + n, dtype=np.int64)
    return pa.record_batch(
        [pa.array(ids), pa.array(ids % 97, type=n_tok_type or pa.int32())],
        names=["doc_id", "n_tok"],
    )


def test_row_chunks_concatenate_small_batches():
    from sketchlib.agg import DIRECT_BATCH_ROWS, _row_chunks

    batches = [_table_batch(1000, 1000 * i) for i in range(6)]
    (chunk,) = _row_chunks(iter(batches), DIRECT_BATCH_ROWS)
    assert chunk.num_rows == 6000
    assert chunk.column("doc_id").to_pylist() == list(range(6000))


def test_row_chunks_bound_rows_and_keep_order():
    import pyarrow as pa

    from sketchlib.agg import DIRECT_BATCH_ROWS, _row_chunks

    sizes = [30_000, 25_000, 1, 14_999]  # 70,000 rows in batches that do not align
    starts = [sum(sizes[:i]) for i in range(len(sizes))]
    batches = [_table_batch(n, s) for n, s in zip(sizes, starts)]
    chunks = list(_row_chunks(batches, DIRECT_BATCH_ROWS))
    assert [c.num_rows for c in chunks] == [DIRECT_BATCH_ROWS, 70_000 - DIRECT_BATCH_ROWS]
    joined = pa.Table.from_batches(chunks)
    assert joined.column("doc_id").to_pylist() == list(range(70_000))
    # a small bound slices inside batches and still keeps every row once
    chunks = list(_row_chunks(batches, 4096))
    assert max(c.num_rows for c in chunks) == 4096
    assert pa.Table.from_batches(chunks).equals(pa.Table.from_batches(batches))


def test_row_chunks_end_at_schema_change():
    import pyarrow as pa

    from sketchlib.agg import DIRECT_BATCH_ROWS, _row_chunks

    batches = [
        _table_batch(1000, 0, pa.int32()),
        _table_batch(1000, 1000, pa.int32()),
        _table_batch(1000, 2000, pa.int64()),
        _table_batch(1000, 3000, pa.int32()),
    ]
    chunks = list(_row_chunks(batches, DIRECT_BATCH_ROWS))
    assert [(c.num_rows, c.schema.field("n_tok").type) for c in chunks] == [
        (2000, pa.int32()),
        (1000, pa.int64()),
        (1000, pa.int32()),
    ]


def _write_task_files(dir_, n_files=6, docs=1000, seed=3):
    """One task's share on disk: ``source``, ``tokens`` (Zipf-like ids,
    heavy overlap between files), ``n_tok`` and a float ``score``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    paths = []
    for f in range(n_files):
        lens = rng.integers(0, 40, docs)
        toks = (rng.zipf(1.3, int(lens.sum())) % 5000).astype(np.int64)
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        tbl = pa.table(
            {
                "source": pa.array(rng.choice(["a", "b", "c", "d"], docs)),
                "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(toks)),
                "n_tok": pa.array(lens.astype(np.int32)),
                "score": pa.array(rng.gamma(2.0, 10.0, docs)),
            }
        )
        path = os.path.join(dir_, f"part-{f:05d}.parquet")
        pq.write_table(tbl, path)
        paths.append(path)
    return paths


def _rank_ok(sketch, values, eps):
    import numpy as np

    v = np.sort(values)
    for q in np.linspace(0.01, 0.99, 33):
        est = sketch.quantile(q)
        lo = np.searchsorted(v, est, side="left") / v.size
        hi = np.searchsorted(v, est, side="right") / v.size
        if not lo - eps <= q <= hi + eps:
            return False
    return True


def test_chunked_consumer_matches_per_file_feed(tmp_path):
    """The consumer over a task's files in row chunks equals the
    consumer over one batch per file: HLL/CMS/Bloom bytes, n_updates and
    n_rows are equal, and t-digest/KLL answer within their rank bound."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.agg import DIRECT_BATCH_ROWS, _consume_partials, _row_chunks

    paths = _write_task_files(str(tmp_path))
    specs = [
        SketchSpec("hll", "hll", "tokens", {"p": 12, "seed": SEED}),
        SketchSpec("cms", "cms", "tokens", {"w": 1024, "d": 5, "seed": SEED}),
        SketchSpec("bloom", "bloom", "tokens", {"m": 1 << 16, "k": 5, "seed": SEED}),
        SketchSpec("hll_n", "hll", "n_tok", {"p": 12, "seed": SEED}),
        SketchSpec("tdigest", "tdigest", "score", {"delta": 100.0}),
        SketchSpec("kll", "kll", "score", {"k": 200}),
    ]
    payload = [(s.name, s.kind, s.col, dict(s.params), s.weight_col) for s in specs]

    def per_file():
        for p in paths:
            yield from pq.ParquetFile(p).iter_batches(batch_size=DIRECT_BATCH_ROWS)

    def states(batches):
        (part,) = _consume_partials(batches, ["source"], [pa.string()], payload, 0)
        return {
            (r["source"], r["sketch"]): (r["state"], r["n_updates"], r["n_rows"])
            for r in part.to_pylist()
        }

    ref = states(per_file())
    table = pa.concat_tables([pq.read_table(p) for p in paths])
    for max_rows in (DIRECT_BATCH_ROWS, 700):  # one chunk; chunks that slice files
        got = states(_row_chunks(per_file(), max_rows))
        assert set(got) == set(ref)
        for key, (blob, n_upd, n_rows) in got.items():
            assert (n_upd, n_rows) == ref[key][1:], key
            if key[1] in ("tdigest", "kll"):
                mask = np.asarray(table.column("source").to_pylist()) == key[0]
                scores = table.column("score").to_numpy()[mask]
                assert _rank_ok(load_state(blob), scores, 0.02), (key, max_rows)
            else:
                assert blob == ref[key][0], (key, max_rows)


def test_mixed_int_widths_across_files(spark, tmp_path):
    """Files whose ``n_tok`` is int32 in some and int64 in others (an
    int→long promotion) build through the direct feed exactly as through
    the JVM feed: equal HLL/CMS/Bloom bytes and n_updates."""
    import functools

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    paths = _write_task_files(str(tmp_path), n_files=4, docs=500, seed=9)
    for p in paths[1::2]:
        tbl = pq.read_table(p)
        i = tbl.schema.get_field_index("n_tok")
        pq.write_table(tbl.set_column(i, "n_tok", tbl.column("n_tok").cast(pa.int64())), p)
    specs = [
        SketchSpec(kind, kind, "n_tok", params)
        for kind, params in (
            ("hll", {"p": 12, "seed": SEED}),
            ("cms", {"w": 1024, "d": 5, "seed": SEED}),
            ("bloom", {"m": 1 << 16, "k": 5, "seed": SEED}),
        )
    ]
    jvm = functools.reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(p).withColumn("n_tok", F.col("n_tok").cast("long"))
            for p in paths
        ],
    )
    want = _states(sketch_aggregate(jvm, ["source"], specs).collect())
    for tasks in (1, None):
        got = _states(
            sketch_aggregate_direct(spark, str(tmp_path), ["source"], specs, tasks=tasks).collect()
        )
        assert got == want, tasks


def test_default_is_one_wave_of_tasks(spark):
    """Without ``tasks`` the direct feed runs one task per core (the
    session's ``local[4]``), never more tasks than files; an explicit
    ``tasks`` is kept."""
    assert spark.sparkContext.defaultParallelism == 4
    assert _direct_tasks(spark, 48, None) == 4
    assert _direct_tasks(spark, 2, None) == 2
    assert _direct_tasks(spark, 48, 8) == 8


# -- planning: the schema comes from the parquet footer, not a Spark job ---


def test_planning_launches_no_job(spark, seq_path):
    """Planning the direct build runs no Spark job; one collect runs
    exactly two, stage 1 and the merge."""
    sc = spark.sparkContext
    group = "direct-feed-planning"
    sc.setJobGroup(group, "plan and run one direct build")
    try:
        merged = sketch_aggregate_direct(spark, seq_path, ["source"], SPECS)
        planned = list(sc.statusTracker().getJobIdsForGroup(group))
        merged.collect()
        ran = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert planned == []
    assert len(ran) == 2, ran


def _planned_schema(path, group_cols, specs):
    """The narrowed schema the direct feed plans with for ``path``."""
    from sketchlib.agg import _footer_schema, _needed_cols, _plan_stage1

    needed, _ = _plan_stage1(
        _footer_schema(path, _needed_cols(group_cols, specs)), group_cols, specs
    )
    return needed


def test_footer_schema_matches_spark(spark, seq_path, tmp_path):
    """For each input the footer schema equals what ``spark.read.parquet``
    infers for the needed columns, types and nullability both: the seq
    corpus, a Spark-written REQUIRED ``id``, Spark-written date and
    (INT96) timestamp group columns, pyarrow large types and a zoned
    timestamp, and each file of the mixed int32/int64 manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    hll_id = [SketchSpec("hll", "hll", "id", {"p": 12, "seed": SEED})]
    cases = []
    seq_first = sorted(glob.glob(os.path.join(seq_path, "*.parquet")))[0]
    cases.append((seq_first, ["source"], SPECS))

    spark_dir = str(tmp_path / "spark_written")
    spark.range(0, 200, 1, 1).select(
        "id",
        F.expr("date_add(date'2024-01-01', cast(id % 3 as int))").alias("day"),
        F.expr("timestamp_seconds(id % 4)").alias("ts"),
        (F.col("id") % 100).cast("byte").alias("b"),
    ).write.parquet(spark_dir)
    (spark_file,) = glob.glob(os.path.join(spark_dir, "*.parquet"))
    assert pq.read_schema(spark_file).field("id").nullable is False  # REQUIRED
    hll_b = SketchSpec("hll_b", "hll", "b", {"p": 12, "seed": SEED})
    cases.append((spark_file, [], hll_id))
    cases.append((spark_file, ["day", "ts"], hll_id + [hll_b]))

    # large strings and lists, a zoned timestamp (as other writers leave them)
    large = str(tmp_path / "large.parquet")
    pq.write_table(
        pa.table(
            {
                "source": pa.array(["a", "b"], pa.large_string()),
                "at": pa.array([1, 2], pa.timestamp("ms", tz="Europe/Paris")),
                "tokens": pa.array([[1, 2], [3]], pa.large_list(pa.int64())),
            }
        ),
        large,
    )
    cases.append((large, ["source", "at"], SPECS[:1]))

    mixed = str(tmp_path / "mixed")
    os.makedirs(mixed)
    paths = _write_task_files(mixed, n_files=2, docs=50, seed=9)
    tbl = pq.read_table(paths[1])
    i = tbl.schema.get_field_index("n_tok")
    pq.write_table(tbl.set_column(i, "n_tok", tbl.column("n_tok").cast(pa.int64())), paths[1])
    n_tok = [SketchSpec("hll", "hll", "n_tok", {"p": 12, "seed": SEED})]
    cases += [(p, ["source"], n_tok) for p in paths]

    for path, group_cols, specs in cases:
        needed = _planned_schema(path, group_cols, specs)
        assert needed == spark.read.parquet(path).select(*needed.names).schema, path

    # date and INT96 timestamp groups build through the direct feed as
    # through the JVM feed
    got = sketch_aggregate_direct(spark, spark_dir, ["day", "ts"], hll_id).collect()
    want = sketch_aggregate(spark.read.parquet(spark_dir), ["day", "ts"], hll_id).collect()
    key = lambda r: (r["day"], r["ts"])  # noqa: E731
    assert {key(r): bytes(r["state"]) for r in got} == {
        key(r): bytes(r["state"]) for r in want
    }
    assert len(got) == 12


def test_footer_schema_unmappable_types(spark, tmp_path):
    """A column of a type with no Spark mapping is never looked at unless
    the build reads it; then planning raises ``TypeError`` naming it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = _write_task_files(str(tmp_path), n_files=2, docs=200, seed=5)
    for p in paths:
        tbl = pq.read_table(p)
        n = tbl.num_rows
        tbl = tbl.append_column("dec", pa.array([1] * n, pa.decimal128(10, 2))).append_column(
            "u", pa.array(range(n), pa.uint32())
        )
        pq.write_table(tbl, p)
    specs = SPECS[:3]
    got = _states(sketch_aggregate_direct(spark, str(tmp_path), ["source"], specs).collect())
    want = _states(
        sketch_aggregate(spark.read.parquet(str(tmp_path)), ["source"], specs).collect()
    )
    assert got == want
    with pytest.raises(TypeError, match="'dec'"):
        build_partials_direct(spark, str(tmp_path), ["dec"], specs)
    with pytest.raises(TypeError, match="'u'"):
        build_partials_direct(
            spark, str(tmp_path), ["source"], [SketchSpec("h", "hll", "u", {"p": 12})]
        )
