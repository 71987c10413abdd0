"""Streaming near-dup (streaming.neardup_stream_writer): the pairs found
incrementally across micro-batches must equal the one-shot batch path's
(and, at these LSH settings, the exact shingle-Jaccard answer)."""

import glob
import logging
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sketchlib.dedup import minhash_neardup_pairs
from sketchlib.streaming import neardup_clusters, neardup_pairs, neardup_stream_writer


def _docs(spark, n=300, dup_every=7):
    # deterministic corpus with planted near-dups: doc i and its "echo"
    # share most words when i % dup_every == 0
    rows = []
    for i in range(n):
        words = [f"w{(i * 13 + j) % 50}" for j in range(30)]
        rows.append((f"d{i:04d}", words))
        if i % dup_every == 0:
            rows.append((f"e{i:04d}", words[:-2] + ["x1", "x2"]))
    return spark.createDataFrame(rows, "doc_id string, words array<string>")


def _run_stream(spark, docs, root, src_partitions=4, **writer_kw):
    src = os.path.join(root, "src")
    if not os.path.exists(src):
        docs.repartition(src_partitions).write.parquet(src)
    q = (
        neardup_stream_writer(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            "doc_id",
            "words",
            os.path.join(root, "store"),
            os.path.join(root, "pairs"),
            os.path.join(root, "ckpt"),
            threshold=0.5,
            **writer_kw,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)


def _pairs(spark, root):
    return {(r.doc_a, r.doc_b) for r in neardup_pairs(spark, os.path.join(root, "pairs")).collect()}


def test_stream_equals_batch_neardup(spark, caplog):
    caplog.set_level(logging.DEBUG, logger="sketchlib.streaming")
    docs = _docs(spark)
    root = tempfile.mkdtemp(prefix="sk_neardup_stream_")
    try:
        _run_stream(spark, docs, root)
        # one timing record per trigger; every source file is one trigger
        recs = [r for r in caplog.records if r.name == "sketchlib.streaming"]
        n_files = len(glob.glob(os.path.join(root, "src", "*.parquet")))
        assert sorted(r.batch_id for r in recs) == list(range(n_files))
        for r in recs:
            assert r.levelno == logging.DEBUG
            assert "writes" in r.phases
            assert r.total_s >= sum(r.phases.values()) > 0
        streamed = _pairs(spark, root)
        batch = {
            (r.doc_a, r.doc_b)
            for r in minhash_neardup_pairs(
                docs, "doc_id", "words", threshold=0.5
            ).collect()
        }
        assert streamed == batch
        assert len(streamed) > 0
        # exactly-once: no pair appears in two batch partitions
        dup = (
            spark.read.parquet(os.path.join(root, "pairs"))
            .groupBy("doc_a", "doc_b")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dup == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_bucket_pruning_never_opens_untouched_buckets(spark):
    """The store is partitioned by pmod(key, n_buckets); a read filtered
    to a bucket subset must never OPEN files in other buckets. Proof: a
    deliberately corrupted parquet file in an excluded bucket does not
    fail the pruned read, but does fail an unpruned one."""
    from sketchlib.streaming import _read_store

    docs = _docs(spark, n=120)
    root = tempfile.mkdtemp(prefix="sk_neardup_prune_")
    try:
        _run_stream(spark, docs, root, n_buckets=8)
        keys_dir = os.path.join(root, "store", "keys")
        bucket_dirs = sorted(glob.glob(os.path.join(keys_dir, "*", "__bkt=*")))
        assert bucket_dirs, "store should be bucket-partitioned"
        victim_bucket = int(bucket_dirs[0].rsplit("=", 1)[1])
        victim_files = glob.glob(
            os.path.join(keys_dir, "*", f"__bkt={victim_bucket}", "*.parquet")
        )
        assert victim_files
        for f in victim_files:
            with open(f, "wb") as fh:
                fh.write(b"this is not a parquet file")
        schema = (
            spark.createDataFrame([], "doc_id string, band int, key long").schema
        )
        others = sorted(
            {int(d.rsplit("=", 1)[1]) for d in bucket_dirs} - {victim_bucket}
        )
        # pruned read: corrupted bucket excluded -> must succeed
        ok = _read_store(spark, keys_dir, schema, exclude_batch=-1, buckets=others)
        assert ok.count() > 0
        # unpruned read opens the corrupted file -> must fail
        with pytest.raises(Exception):
            _read_store(spark, keys_dir, schema, exclude_batch=-1).count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_read_store_missing_root_is_empty_history(spark):
    """Crash-recovery: the caller's has_history probe checks only the
    FIRST sibling store (keys/), so a kill between batch 0's store
    writes can leave keys/ present while shingles/ has no root yet. The replay's read of the missing store must see EMPTY
    history — schema-correct, zero rows — not wedge the stream on a
    FileNotFoundException."""
    from sketchlib.streaming import _read_store

    schema = spark.createDataFrame([], "doc_id string, band int, key long").schema
    missing = os.path.join(
        tempfile.mkdtemp(prefix="sk_neardup_missing_"), "store", "shingles"
    )
    df = _read_store(spark, missing, schema, exclude_batch=0)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["doc_id", "band", "key"]
    # bucket pruning on the empty result is a no-op, not an error
    assert _read_store(spark, missing, schema, exclude_batch=0, buckets=[1]).count() == 0


def test_reingest_same_docs_no_duplicate_pairs(spark):
    """Streaming the same corpus twice (doc_ids repeat across batches)
    must not duplicate pairs or store rows: the re-ingest guard drops
    already-seen doc_ids before matching."""
    docs = _docs(spark, n=80)
    root = tempfile.mkdtemp(prefix="sk_neardup_reingest_")
    try:
        src = os.path.join(root, "src")
        docs.repartition(2).write.parquet(src)
        # append the SAME docs again as new source files (second ingest)
        docs.repartition(2).write.mode("append").parquet(src)
        _run_stream(spark, docs, root)
        streamed = [
            (r.doc_a, r.doc_b)
            for r in neardup_pairs(spark, os.path.join(root, "pairs")).collect()
        ]
        batch = {
            (r.doc_a, r.doc_b)
            for r in minhash_neardup_pairs(docs, "doc_id", "words", threshold=0.5).collect()
        }
        assert set(streamed) == batch and len(streamed) == len(batch) > 0
        # store stays unique by doc_id
        keys = spark.read.parquet(os.path.join(root, "store", "keys"))
        per_doc_band = (
            keys.groupBy("doc_id", "band").count().filter(F.col("count") > 1).count()
        )
        assert per_doc_band == 0
        sh = spark.read.parquet(os.path.join(root, "store", "shingles"))
        assert sh.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_compact_preserves_store(spark):
    from sketchlib.streaming import neardup_compact

    docs = _docs(spark, n=100)
    root = tempfile.mkdtemp(prefix="sk_neardup_compact_")
    try:
        _run_stream(spark, docs, root)
        store = os.path.join(root, "store")
        compact = os.path.join(root, "store_c")
        neardup_compact(spark, store, compact)
        for sub in ("keys", "shingles"):
            a = spark.read.parquet(os.path.join(store, sub)).drop("batch_id", "__bkt")
            b = spark.read.parquet(os.path.join(compact, sub)).drop("batch_id", "__bkt")
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        # hot keys are counted from the key rows: no other store exists
        for d in (store, compact):
            assert sorted(os.listdir(d)) == ["keys", "shingles"]
        # compacted generation is a single batch partition per store
        assert set(
            r.batch_id
            for r in spark.read.parquet(os.path.join(compact, "keys"))
            .select("batch_id")
            .distinct()
            .collect()
        ) == {-1}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_clusters_match_batch(spark):
    docs = _docs(spark, n=120)
    root = tempfile.mkdtemp(prefix="sk_neardup_cc_")
    try:
        _run_stream(spark, docs, root, src_partitions=3)
        from sketchlib.dedup import connected_components, minhash_neardup_pairs
        streamed = {
            (r.node, r.component)
            for r in neardup_clusters(spark, os.path.join(root, "pairs")).collect()
        }
        batch_pairs = minhash_neardup_pairs(docs, "doc_id", "words", threshold=0.5)
        batch = {
            (r.node, r.component)
            for r in connected_components(batch_pairs).collect()
        }
        assert streamed == batch and streamed
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_resume_after_compaction(spark):
    """Maintenance contract: stop the stream, fold the store with
    neardup_compact, swap it in, resume from the same checkpoint —
    continued matching against the compacted history must yield exactly
    the batch answer (compacted generations join with live batches)."""
    from sketchlib.streaming import neardup_compact

    docs = _docs(spark, n=160)
    root = tempfile.mkdtemp(prefix="sk_neardup_resume_")
    try:
        src = os.path.join(root, "src")
        docs.repartition(4).write.parquet(src)
        store = os.path.join(root, "store")
        pairs = os.path.join(root, "pairs")
        ckpt = os.path.join(root, "ckpt")

        def start(max_files):
            sdf = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .option("maxFileAge", "7d")
                .parquet(src)
            )
            return neardup_stream_writer(
                sdf, "doc_id", "words", store, pairs, ckpt, threshold=0.5
            ).trigger(availableNow=True).start()

        # phase 1: ingest everything available so far
        q = start(1)
        q.awaitTermination(600)
        # compact and swap the store between runs
        compacted = os.path.join(root, "store_c")
        neardup_compact(spark, store, compacted)
        shutil.move(store, os.path.join(root, "store_old"))
        shutil.move(compacted, store)
        # phase 2: new docs arrive (ids disjoint from phase 1)
        extra_rows = []
        for i in range(160, 200):
            words = [f"w{(i * 13 + j) % 50}" for j in range(30)]
            extra_rows.append((f"d{i:04d}", words))
            if i % 7 == 0:
                extra_rows.append((f"e{i:04d}", words[:-2] + ["x1", "x2"]))
        extra = spark.createDataFrame(extra_rows, docs.schema)
        extra.repartition(2).write.mode("append").parquet(src)
        q = start(1)
        q.awaitTermination(600)
        streamed = {
            (r.doc_a, r.doc_b) for r in neardup_pairs(spark, pairs).collect()
        }
        all_docs = docs.unionByName(extra)
        batch = {
            (r.doc_a, r.doc_b)
            for r in minhash_neardup_pairs(all_docs, "doc_id", "words", threshold=0.5).collect()
        }
        assert streamed == batch and streamed
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _write_sources(root, files):
    """One parquet file per trigger, in list order: ``files`` holds
    lists of (doc_id, words) rows; modification times are set apart so
    the file source takes them in that order."""
    src = os.path.join(root, "src")
    os.makedirs(src)
    for i, rows in enumerate(files):
        path = os.path.join(src, f"part-{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d for d, _ in rows], pa.string()),
                    "words": pa.array([w for _, w in rows], pa.list_(pa.string())),
                }
            ),
            path,
        )
        os.utime(path, (1_000_000 + 10 * i, 1_000_000 + 10 * i))
    return src


_DOC_SCHEMA = "doc_id string, words array<string>"


@pytest.mark.parametrize(
    "bucket_cap, want",
    [
        (3, {("a", "b")}),
        (None, {("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")}),
    ],
)
def test_bucket_cap_is_cumulative_across_triggers(spark, bucket_cap, want):
    """Four docs with the same 30 words arrive two per trigger. Every
    (band, key) then holds 2 rows after the first trigger and 4 after
    the second, so ``bucket_cap=3`` stops the second trigger's keys from
    producing candidates while the first trigger's pair stands."""
    words = [f"w{j}" for j in range(30)]
    root = tempfile.mkdtemp(prefix="sk_neardup_cap_")
    try:
        _write_sources(root, [[("a", words), ("b", words)], [("c", words), ("d", words)]])
        _run_stream(
            spark, spark.createDataFrame([], _DOC_SCHEMA), root, bucket_cap=bucket_cap
        )
        assert _pairs(spark, root) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_empty_trigger_runs_through(spark, caplog):
    """A 0-row source file is a trigger like any other: it runs without
    an emptiness probe, writes an empty pairs generation, logs its
    timing record, and the later triggers still match against the
    history before it."""
    caplog.set_level(logging.DEBUG, logger="sketchlib.streaming")
    words = [f"w{j}" for j in range(30)]
    other = [f"v{j}" for j in range(30)]
    files = [
        [("a", words), ("x", other)],
        [],
        [("b", words[:-2] + ["z1", "z2"]), ("y", [f"u{j}" for j in range(30)])],
    ]
    root = tempfile.mkdtemp(prefix="sk_neardup_empty_")
    try:
        _write_sources(root, files)
        docs = spark.createDataFrame([r for rows in files for r in rows], _DOC_SCHEMA)
        _run_stream(spark, docs, root)
        recs = [r for r in caplog.records if r.name == "sketchlib.streaming"]
        assert sorted(r.batch_id for r in recs) == [0, 1, 2]
        empty = spark.read.parquet(os.path.join(root, "pairs", "batch_id=1"))
        assert empty.count() == 0
        batch = {
            (r.doc_a, r.doc_b)
            for r in minhash_neardup_pairs(docs, "doc_id", "words", threshold=0.5).collect()
        }
        assert _pairs(spark, root) == batch == {("a", "b")}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_failed_trigger_unpersists_its_frames(spark):
    """A trigger whose pairs write fails fails the query, and every
    frame the trigger persisted is released on the way out."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    docs = _docs(spark, n=40)
    root = tempfile.mkdtemp(prefix="sk_neardup_fail_")
    try:
        src = os.path.join(root, "src")
        docs.repartition(1).write.parquet(src)
        with open(os.path.join(root, "pairs"), "w") as fh:
            fh.write("a regular file where the pairs directory should be")
        with pytest.raises(Exception):
            _run_stream(spark, docs, root)
        assert jsc.getPersistentRDDs().size() == before
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_compact_after_only_empty_triggers(spark):
    """A store whose every trigger was empty holds batch directories but
    no rows; compacting it writes nothing and does not fail."""
    from sketchlib.streaming import neardup_compact

    root = tempfile.mkdtemp(prefix="sk_neardup_empty_compact_")
    try:
        _write_sources(root, [[]])
        _run_stream(spark, spark.createDataFrame([], _DOC_SCHEMA), root)
        assert os.path.isdir(os.path.join(root, "store", "keys", "batch_id=0"))
        neardup_compact(spark, os.path.join(root, "store"), os.path.join(root, "store_c"))
        assert not os.path.exists(os.path.join(root, "store_c"))
    finally:
        shutil.rmtree(root, ignore_errors=True)
