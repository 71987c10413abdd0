"""Structured Streaming adapter: continuously-updated sketch states.

The reference's structures are one-pass stream consumers by construction
(`add(x)` per element); the Spark expression is ``foreachBatch``: each
micro-batch runs the same stage-1 partial build as the batch path, and
appends its partial states to a parquet state store partitioned by
``batch_id``. Because every kernel merge is associative + commutative
(reference merge-equivalence contract, hyperloglog/mod.rs:556-574),
batch boundaries, arrival order, and replays change the merged result
only within the kernel's declared ``merge_contract`` (``agg.KERNELS``)
— no watermarks needed (SURVEY.md §2.5 streaming row).

Exactly-once: the store is partitioned by batch_id and written with
dynamic partition overwrite, so a replayed micro-batch (foreachBatch's
at-least-once contract) replaces its own partition instead of
double-counting.

Reads merge on the fly (:func:`current_states`); :func:`compact`
folds all batch partitions into one to bound read fan-in on
long-running streams.

The stateful operators (:func:`windowed_sketch_stream`,
:func:`session_sketch_stream`) keep one ``{sketch: (state, n_updates)}``
value per open key and fold a key's new rows into it by merging the
partials of the same stage-1 consumer the batch path runs
(``agg._consume_partials``) — the merge contract again, so a finalized
state equals a batch build of its rows per the kernel's
``merge_contract``: the same bytes for ``"bytes"`` kernels, within
published bounds for ``"bounded"`` ones.

The near-dup writer (:func:`neardup_stream_writer`) keeps two
bucket-partitioned stores, ``keys/`` and ``shingles/``. Each trigger
statically overwrites its own ``batch_id`` generation of both and of
the pairs output, so a replay rewrites exactly what it wrote.
"""

from __future__ import annotations

import json
import logging
import os
import pickle
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .agg import (
    SketchSpec,
    _check_specs,
    _pa_type,
    _plan_stage1,
    _resolve_specs,
    build_partials,
    load_state,
    merge_partials,
    resolve_fanout,
)
from .io import path_exists
from .session import run_concurrently

_log = logging.getLogger(__name__)

_BATCH_COL = "batch_id"


def sketch_stream_writer(
    stream_df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    state_path: str,
    checkpoint_dir: str,
):
    """``writeStream`` builder whose foreachBatch maintains the sketch
    state store. Start with ``.start()``; combine with any trigger."""
    _check_specs(specs)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness probe (it is a job per trigger): an empty batch
        # builds no partial rows, and a dynamic-overwrite write of zero
        # rows replaces no batch partition
        _enable_batch_aqe(batch_df.sparkSession)
        partials = build_partials(batch_df, group_cols, specs).withColumn(
            _BATCH_COL, F.lit(int(batch_id))
        )
        (
            partials.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_BATCH_COL)
            .parquet(state_path)
        )

    return (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def _salt_by_batch(partials: DataFrame) -> DataFrame:
    """Fold ``batch_id`` into ``part_id`` before it is dropped.

    ``part_id`` restarts at 0 in every micro-batch, so the salted merge
    level's ``pmod(part_id, fanout)`` alone would put every partial of a
    long stream of one-partition batches into bucket 0. The hash is
    deterministic, so reruns keep the same tree shape."""
    return partials.withColumn(
        "part_id", F.xxhash64(_BATCH_COL, "part_id")
    ).drop(_BATCH_COL)


def _store_schema(spark: SparkSession, state_path: str) -> StructType | None:
    """The store's Spark schema from the footer of its first part file,
    read on the driver through the JVM's Hadoop FS and parquet-hadoop,
    so ``spark.read`` runs no schema-inference job. Spark keeps the
    schema it wrote under the footer key
    ``org.apache.spark.sql.parquet.row.metadata``; ``batch_id`` is
    appended as the ``IntegerType`` Spark infers for it
    (:func:`_salt_by_batch` hashes it, and a long would change the
    tree). ``None`` when the path, a part file or the key is missing:
    the caller then reads as before, and an empty store raises Spark's
    own ``AnalysisException``."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return None

    def listed(path, directories: bool):
        return sorted(
            (st.getPath() for st in fs.listStatus(path) if st.isDirectory() == directories),
            key=lambda p: p.getName(),
        )

    for batch_dir in listed(root, True):
        if not batch_dir.getName().startswith(f"{_BATCH_COL}="):
            continue
        for part in listed(batch_dir, False):
            if part.getName().startswith(("_", ".")):
                continue
            pq = jvm.org.apache.parquet.hadoop
            reader = pq.ParquetFileReader.open(pq.util.HadoopInputFile.fromPath(part, conf))
            try:
                meta = reader.getFooter().getFileMetaData().getKeyValueMetaData()
                row_meta = meta.get("org.apache.spark.sql.parquet.row.metadata")
            finally:
                reader.close()
            if row_meta is None:
                return None
            return StructType.fromJson(json.loads(row_meta)).add(_BATCH_COL, IntegerType())
    return None


def current_states(
    spark: SparkSession,
    state_path: str,
    group_cols: list[str],
    fanout: int | None | str = "auto",
) -> DataFrame:
    """Merge-on-read: one row per (group, sketch) across all batches.

    ``fanout="auto"`` resolves from the store's file count: each file is
    one write task's output and holds at most one partial per key."""
    schema = _store_schema(spark, state_path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    partials = reader.parquet(state_path)
    fanout = resolve_fanout(fanout, lambda: len(partials.inputFiles()))
    return merge_partials(_salt_by_batch(partials), group_cols, fanout)


def compact(
    spark: SparkSession,
    state_path: str,
    group_cols: list[str],
    compact_path: str,
    fanout: int | None | str = "auto",
) -> None:
    """Fold the per-batch partials into a single merged partition set.
    Writes to ``compact_path`` (callers swap paths/views atomically —
    same pattern as any streaming table maintenance job)."""
    merged = current_states(spark, state_path, group_cols, fanout)
    out = merged.withColumnRenamed("n_partials", "n_rows").withColumn(
        "part_id", F.lit(0).cast("int")
    )
    out.withColumn(_BATCH_COL, F.lit(-1)).write.mode("overwrite").partitionBy(
        _BATCH_COL
    ).parquet(compact_path)


# ---------------------------------------------------------------------------
# event-time windowed sketches (applyInPandasWithState)
# ---------------------------------------------------------------------------


def _state_folder(stream_df: DataFrame, specs: list[SketchSpec], keep: list[str]):
    """``(shipped, fold)`` for the stateful operators: ``shipped`` is the
    stream narrowed to the ``keep`` columns (key and event time) and the
    inputs the specs read, and ``fold(kernels, pdf)`` runs the batch
    path's stage-1 consumer over a key's rows and merges each partial
    into the ``{name: (blob, n_updates)}`` state. A spec with no state
    yet takes the partial's bytes as they are; a spec still without
    state afterwards (no non-null value so far) gets an empty kernel, so
    every emitted window or session has one row per spec.

    The rows go to Arrow with the types of the stream's Spark schema.
    Pandas hands an integer column or list over as float64 once it holds
    a null, which loses longs ≥ 2^53. So each input ``c`` (strings
    pre-hashed, as the batch path does) travels once, as ``__x__c``: an
    array as its non-null elements, filtered JVM-side; a nullable long
    as ``coalesce(c, 0)`` next to a ``__n__c`` null flag, from which
    ``fold`` rebuilds the masked column; anything else as it is. Nulls
    are never values (the consumer drops them too), and the ``keep``
    columns travel under their own names."""
    hashed, rspecs = _resolve_specs(stream_df, specs)
    needed, consume = _plan_stage1(hashed.schema, [], rspecs)  # checks the specs
    schema = pa.schema([(f.name, _pa_type(f.dataType)) for f in needed])
    cols = [F.col(c) for c in dict.fromkeys(keep)]
    flagged = set()
    for f in needed:
        x = F.col(f.name)
        if isinstance(f.dataType, ArrayType):
            x = F.filter(x, lambda e: e.isNotNull())
        elif isinstance(f.dataType, LongType) and f.nullable:
            flagged.add(f.name)
            cols.append(x.isNull().alias(f"__n__{f.name}"))
            x = F.coalesce(x, F.lit(0).cast("long"))
        cols.append(x.alias(f"__x__{f.name}"))
    shipped = hashed.select(*cols)

    def column(pdf, f: pa.Field) -> pa.Array:
        x = pdf[f"__x__{f.name}"]
        if f.name in flagged:
            nulls = pdf[f"__n__{f.name}"].to_numpy(dtype=bool)
            return pa.array(x.to_numpy(), type=f.type, mask=nulls)
        return pa.Array.from_pandas(x, type=f.type)

    def fold(kernels: dict, pdf) -> dict:
        batch = pa.RecordBatch.from_arrays([column(pdf, f) for f in schema], schema=schema)
        out = dict(kernels)
        for part in consume([batch], 0):
            cols = (part.column(c).to_pylist() for c in ("sketch", "state", "n_updates"))
            for name, blob, n in zip(*cols):
                if name in out:
                    kernel = load_state(out[name][0])
                    kernel.merge(load_state(blob))
                    out[name] = (kernel.to_bytes(), out[name][1] + n)
                else:
                    out[name] = (blob, n)
        for s in rspecs:
            if s.name not in out:
                out[s.name] = (s.make().to_bytes(), 0)
        return out

    return shipped, fold


def windowed_sketch_stream(
    stream_df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    specs: list[SketchSpec],
    window_duration: str = "1 minute",
    watermark_delay: str = "30 seconds",
    slide_duration: str | None = None,
):
    """Tumbling (or, with ``slide_duration``, sliding) event-time
    windows of sketch states as a custom stateful streaming operator
    (``applyInPandasWithState`` + event-time timeout). For sliding
    windows Spark's TimeWindowing rule expands each row into every
    containing window before the stateful groupBy, so a row updates
    duration/slide kernels — state stays one blob per OPEN (window,
    group) key either way.

    Each (window, group) key keeps one state per spec in the Spark
    state store (serialized KB-scale blobs — same codec as the batch
    path), and a micro-batch's rows merge in as stage-1 partials
    (:func:`_state_folder`); when the watermark passes ``window_end +
    watermark_delay`` the state times out and the FINAL merged states
    are appended downstream, exactly once per window. Late rows beyond
    the watermark cannot resurrect an emitted window: the function
    drops data for already-expired windows explicitly, so the append
    contract holds even if the engine delivers stragglers.

    Output rows: ``window_start, window_end, group_cols..., sketch,
    state, n_updates`` — readable by the same estimate UDFs as batch
    states.
    """
    shipped, fold = _state_folder(stream_df, specs, [ts_col, *group_cols])
    names = [s.name for s in specs]
    delay_ms = int(pd.Timedelta(watermark_delay).total_seconds() * 1000)
    win = F.window(F.col(ts_col), window_duration, slide_duration or window_duration)
    # materialize the window struct ONCE: referencing win.start and
    # win.end as two separate expressions makes TimeWindowing expand
    # each independently — a start x end cross product for sliding
    # windows (invalid (start_i, end_j) combos included)
    keyed = (
        shipped.withWatermark(ts_col, watermark_delay)
        .withColumn("__w", win)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )
    gcols = ["window_start", "window_end", *group_cols]
    out_fields = [
        StructField("window_start", TimestampType(), False),
        StructField("window_end", TimestampType(), False),
        *[keyed.schema[c] for c in group_cols],
        StructField("sketch", StringType(), False),
        StructField("state", BinaryType(), False),
        StructField("n_updates", LongType(), False),
    ]
    out_schema = StructType(out_fields)
    state_schema = StructType([StructField("pkl", BinaryType(), True)])

    def fn(key, pdfs, state: GroupState):
        win_end_ms = int(pd.Timestamp(key[1]).value // 1_000_000)
        expiry_ms = win_end_ms + delay_ms
        if state.hasTimedOut:
            (pkl,) = state.get
            kernels = pickle.loads(bytes(pkl))
            state.remove()
            rows = {
                "window_start": [key[0]] * len(names),
                "window_end": [key[1]] * len(names),
            }
            for i, c in enumerate(group_cols):
                rows[c] = [key[2 + i]] * len(names)
            rows["sketch"] = names
            rows["state"] = [kernels[name][0] for name in names]
            rows["n_updates"] = [kernels[name][1] for name in names]
            yield pd.DataFrame(rows)
            return
        # a straggler for an already-finalized window: drop, never re-emit
        if state.getCurrentWatermarkMs() >= expiry_ms:
            return
        kernels = pickle.loads(bytes(state.get[0])) if state.exists else {}
        for pdf in pdfs:
            kernels = fold(kernels, pdf)
        state.update((pickle.dumps(kernels),))
        state.setTimeoutTimestamp(max(expiry_ms, state.getCurrentWatermarkMs() + 1))

    return keyed.groupBy(*gcols).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


# ---------------------------------------------------------------------------
# incremental near-duplicate detection (streaming MinHash LSH)
# ---------------------------------------------------------------------------


_BUCKET_COL = "__bkt"


def _read_store(
    spark: SparkSession,
    path: str,
    data_schema,
    exclude_batch: int,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Partition-pruned read of a bucket-partitioned store directory.

    The schema is passed explicitly (data columns + the two partition
    columns) so planning never opens a parquet footer — combined with
    the ``bucket IN (...)`` partition filter, files under untouched
    buckets are NEVER opened (driver-verifiable: a corrupt file in a
    pruned bucket does not fail the read — tested).

    The batch generations to read are enumerated EXPLICITLY (one
    driver-side directory listing, one Hadoop FS call) instead of
    handing Spark the store root with a ``batch != exclude_batch``
    filter: the root listing would also walk ``batch_id=exclude_batch``
    — the very directory a concurrent store-write thread (or a replay
    of this batch) is overwriting — and a file vanishing mid-listing
    fails the read. With explicit paths the in-flight generation is
    never touched."""
    full = StructType(
        [
            *data_schema.fields,
            StructField(_BATCH_COL, IntegerType(), True),
            StructField(_BUCKET_COL, IntegerType(), True),
        ]
    )
    jvm = spark._jvm
    jroot = jvm.org.apache.hadoop.fs.Path(path)
    fs = jroot.getFileSystem(spark._jsc.hadoopConfiguration())
    # a missing root IS an empty history, not an error: the caller's
    # has_history probe checks only the FIRST of the sibling stores
    # (keys/), so a crash between batch 0's store writes can leave
    # keys/ present while this store's root does not exist yet — the
    # replay must see empty history and rebuild it, not wedge the
    # stream on a FileNotFoundException forever
    if not fs.exists(jroot):
        return spark.createDataFrame([], StructType(list(data_schema.fields)))
    prefix = f"{_BATCH_COL}="
    batch_dirs = [
        str(st.getPath().toString())  # keep the scheme (s3a://, hdfs://)
        for st in fs.listStatus(jroot)
        if st.isDirectory()
        and st.getPath().getName().startswith(prefix)
        and st.getPath().getName() != f"{prefix}{int(exclude_batch)}"
    ]
    if not batch_dirs:
        empty = spark.createDataFrame([], StructType(list(data_schema.fields)))
        return empty
    df = (
        spark.read.option("basePath", path)
        .schema(full)
        .parquet(*sorted(batch_dirs))
        # belt-and-braces: the partition filter is redundant with the
        # explicit path list but keeps the contract visible in the plan
        .filter(F.col(_BATCH_COL) != exclude_batch)
    )
    if buckets is not None:
        df = df.filter(F.col(_BUCKET_COL).isin([int(b) for b in buckets]))
    return df.drop(_BATCH_COL, _BUCKET_COL)


def _enable_batch_aqe(spark: SparkSession, shuffle_partitions: int | None = None) -> None:
    """Structured Streaming disables AQE on the query's cloned session
    (it is unsupported for *streaming* plans), but the DataFrame actions
    a foreachBatch body runs are plain BATCH queries — re-enabling AQE
    on the clone restores runtime shuffle-partition coalescing for them.
    Without this every inner KB-scale shuffle runs at the full fixed
    ``spark.sql.shuffle.partitions`` width (measured ~3000 tasks per
    micro-batch at test scale). The settings live on the stream's
    private session clone, never the user's session.

    ``shuffle_partitions`` overrides the clone's shuffle width for the
    batch bodies: AQE cannot coalesce shuffles under PERSISTED plans
    (it refuses to change a cached plan's output partitioning), so a
    batch body that persists its intermediates — the near-dup writer —
    pays full session width per cached shuffle regardless of data size.
    Size the override to the TRIGGER volume, not the cluster (measured
    at sf0.1: 32 → 8 cut the candidate phase ~20%).

    AQE is off exactly when ``shuffle_partitions`` is set: an
    explicitly-sized body leaves AQE nothing to coalesce (its shuffles
    are already trigger-sized, and the persisted ones are uncoalescible
    regardless), so all AQE contributes is one extra adaptive re-plan
    job round-trip per shuffle stage — measured 17.8–18.1 s → 14.3–16.1
    s warm on the 4-batch near-dup query at sf0.1 (identical 256 output
    pairs). Large deployments that leave ``shuffle_partitions=None``
    keep AQE (runtime coalescing + broadcast conversion are worth the
    per-stage round-trips when batch volumes actually vary)."""
    spark.conf.set("spark.sql.adaptive.enabled", str(not shuffle_partitions).lower())
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # coalesce to the advisory partition SIZE, not the cluster's
    # default parallelism: a micro-batch's internal shuffles are KB-to-
    # MB scale, and parallelismFirst=true (the default) still fans them
    # out to ~shuffle.partitions tasks. Size-driven coalescing keeps
    # tiny uncached shuffles at 1-2 tasks while leaving genuinely large
    # batches wide (advisory 64 MB).
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(int(shuffle_partitions)))


def _write_bucketed(df: DataFrame, path: str, bid: int, bucket_expr) -> None:
    """Write one micro-batch's rows as a STATIC overwrite of that
    batch's own partition directory (``path/batch_id=N/``), partitioned
    by bucket inside it — a foreachBatch replay rewrites exactly its own
    directory (exactly-once) without the dynamic-overwrite commit
    protocol, whose partition listing grows with the whole store. Rows
    are hash-repartitioned by bucket first so each bucket gets exactly
    one file per batch (each bucket hashes to exactly one task; AQE
    coalesces the tiny ones, so write parallelism follows batch size
    instead of a fixed task count)."""
    (
        df.withColumn(_BUCKET_COL, bucket_expr.cast("int"))
        .repartition(F.col(_BUCKET_COL))
        .write.mode("overwrite")
        .partitionBy(_BUCKET_COL)
        .parquet(os.path.join(path, f"{_BATCH_COL}={int(bid)}"))
    )


def neardup_stream_writer(
    stream_df: DataFrame,
    id_col: str,
    words_col: str,
    store_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    n_hashes: int = 64,
    bands: int = 32,
    seed: int | None = None,
    bucket_cap: int | None = 4096,
    n_buckets: int = 16,
    batch_shuffle_partitions: int | None = None,
):
    """Incremental near-dup detection: every micro-batch's docs are
    MinHash-banded and matched against all previously seen docs via the
    accumulated (doc_id, band, key) store, candidates exactly verified
    (shingle-set Jaccard >= threshold), and each verified pair emitted
    EXACTLY ONCE — in the partition of its later-arriving member (all
    writes are batch_id-partitioned dynamic overwrites, so foreachBatch
    replays rewrite their own partitions instead of double-emitting).

    Scale layout — per-batch work is bounded by the batch, not the
    corpus:

    - ``keys/`` is partitioned by ``pmod(key, n_buckets)``; a batch
      reads ONLY the buckets its own keys hash to (partition-pruned —
      files in untouched buckets are never opened). Size ``n_buckets``
      to the store, not the batch: roughly ``store_rows_bytes /
      target_file_bytes`` after compaction (each bucket is one file per
      batch generation) — more buckets prune finer but cost listing
      overhead, so small deployments keep the default and 100 TB
      deployments raise it with the store.
    - hot keys are counted from the key rows a batch already reads: the
      touched buckets' history plus the batch's own rows, per (band,
      key). Keys whose cumulative count exceeds ``bucket_cap`` stop
      producing candidates.
    - ``shingles/`` is partitioned by ``pmod(xxhash64(doc_id),
      n_buckets)``; exact verification reads only the buckets that hold
      a candidate's historical counterpart.
    - long-running streams fold the per-batch partitions together with
      :func:`neardup_compact` (same maintenance contract as
      :func:`compact` for sketch states).
    - ``batch_shuffle_partitions`` sizes the batch bodies' shuffle
      width to the TRIGGER volume instead of the session default: the
      body persists its intermediates and AQE cannot coalesce cached
      shuffles, so an oversized session width costs pure scheduling per
      batch. None keeps the session setting. Setting it also disables
      AQE for the bodies (see :func:`_enable_batch_aqe`): an
      explicitly-sized body gains nothing from runtime coalescing and
      pays one adaptive re-plan job per shuffle stage (~3.5 s of the
      4-batch query at sf0.1).

    Each trigger logs one DEBUG record on the
    ``sketchlib.streaming`` logger with ``batch_id``, ``total_s`` and
    ``phases`` (seconds per phase) as record attributes.

    Re-ingest guard: a ``doc_id`` that already exists in the store is
    dropped from the batch (its pairs were emitted when first seen), so
    the store stays unique by doc_id and replayed *sources* cannot
    duplicate pairs. Precondition: a doc_id identifies immutable
    content — re-ingesting DIFFERENT words under an id that was seen
    with other content is undefined (the guard only sees history in the
    buckets the new signature touches).
    """
    from .dedup import (
        DEFAULT_SEED,
        _signature_fn,
        jaccard_verify,
        shingle_hash_frame,
    )

    if seed is None:
        seed = DEFAULT_SEED
    if n_hashes % bands:
        raise ValueError(f"bands ({bands}) must divide n_hashes ({n_hashes})")
    keys_dir = os.path.join(store_path, "keys")
    sh_dir = os.path.join(store_path, "shingles")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness probe (it is a job per trigger): an empty trigger
        # writes empty generations of its own directories and no pairs
        t0 = time.perf_counter()
        marks: list[tuple[str, float]] = []

        def mark(label: str) -> None:
            marks.append((label, time.perf_counter()))

        spark = batch_df.sparkSession
        _enable_batch_aqe(spark, batch_shuffle_partitions)
        bid = int(batch_id)
        persisted: list[DataFrame] = []

        def keep(df: DataFrame) -> DataFrame:
            persisted.append(df)
            return df.persist()

        try:
            shingles = keep(shingle_hash_frame(batch_df, id_col, words_col, shingle_n))
            id_type = batch_df.schema[id_col].dataType
            sigs = shingles.mapInArrow(
                _signature_fn(n_hashes, bands, seed),
                StructType(
                    [
                        StructField("doc_id", id_type, False),
                        StructField("band_keys", ArrayType(LongType()), False),
                    ]
                ),
            )
            brows = keep(
                sigs.select("doc_id", F.posexplode("band_keys").alias("band", "key"))
            )
            key_bucket = F.pmod(F.col("key"), F.lit(n_buckets))
            doc_bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets))
            has_history = path_exists(spark, keys_dir)
            if has_history:
                # the batch's keys determine which store buckets can
                # possibly match: collect that (<= n_buckets ints) and
                # prune the read
                touched = [
                    r[0]
                    for r in brows.select(key_bucket.cast("int").alias("b"))
                    .distinct()
                    .collect()
                ]
                mark("touched_collect")
                hist = keep(_read_store(spark, keys_dir, brows.schema, bid, touched))
                # re-ingest guard: identical content re-ingested under a
                # seen doc_id hashes to the same (band, key) rows, so its
                # history is fully inside the touched buckets — drop it
                seen = keep(hist.select("doc_id").distinct())
                brows_new = keep(brows.join(seen, "doc_id", "left_anti"))
                shingles_new = keep(shingles.join(seen, "doc_id", "left_anti"))
            else:  # first batch: nothing seen yet
                hist = spark.createDataFrame([], brows.schema)
                brows_new = brows
                shingles_new = shingles
            if bucket_cap is not None:
                # cumulative per-key counts from the key rows themselves:
                # ``hist`` holds every earlier batch's rows in the touched
                # buckets, ``brows_new`` this batch's
                hot = (
                    hist.select("band", "key")
                    .unionByName(brows_new.select("band", "key"))
                    .groupBy("band", "key")
                    .count()
                    .filter(F.col("count") > bucket_cap)
                    .select("band", "key")
                )
                hist_f = hist.join(F.broadcast(hot), ["band", "key"], "left_anti")
                brows_c = brows_new.join(F.broadcast(hot), ["band", "key"], "left_anti")
            else:
                hist_f = hist
                brows_c = brows_new

            def candidates_and_pairs() -> None:
                x = brows_c.alias("x")
                y = hist_f.unionByName(brows_c).alias("y")
                cands = keep(
                    x.join(
                        y,
                        (F.col("x.band") == F.col("y.band"))
                        & (F.col("x.key") == F.col("y.key"))
                        & (F.col("x.doc_id") != F.col("y.doc_id")),
                    )
                    .select(
                        F.least("x.doc_id", "y.doc_id").alias("doc_a"),
                        F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
                    )
                    .distinct()
                )
                # exact verification needs shingles only for the
                # candidates' historical members: prune the shingle store
                # to their buckets, then semi-join down to exactly those
                # docs
                if has_history:  # keys/ and shingles/ are written together
                    cand_ids = keep(
                        cands.select(
                            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
                        ).distinct()
                    )
                    cand_buckets = [
                        r[0]
                        for r in cand_ids.select(doc_bucket.cast("int").alias("b"))
                        .distinct()
                        .collect()
                    ]
                    mark("cand_collect")
                    hist_sh = _read_store(
                        spark, sh_dir, shingles.schema, bid, cand_buckets
                    ).join(cand_ids, "doc_id", "left_semi")
                else:
                    hist_sh = spark.createDataFrame([], shingles.schema)
                pairs = jaccard_verify(cands, hist_sh.unionByName(shingles_new), threshold)
                pairs.write.mode("overwrite").parquet(
                    os.path.join(pairs_path, f"{_BATCH_COL}={bid}")
                )

            # the two store writes depend only on brows_new / shingles_new,
            # not on candidates, so they run concurrently with the
            # candidate + verify phase (per-trigger latency is the max of
            # the three, not their sum). A mid-batch failure is
            # replay-safe whichever writes finished: the replay statically
            # overwrites exactly these directories.
            run_concurrently(
                lambda: _write_bucketed(brows_new, keys_dir, bid, key_bucket),
                lambda: _write_bucketed(shingles_new, sh_dir, bid, doc_bucket),
                candidates_and_pairs,
            )
            mark("writes")
        finally:
            # on every exit: a failed trigger must not leave its cached
            # frames behind, and a failing release must not mask the
            # trigger's own error
            for df in persisted:
                try:
                    df.unpersist()
                except Exception:
                    _log.warning("near-dup trigger %d: unpersist failed", bid, exc_info=True)
        phases, prev = {}, t0
        for label, t in marks:
            phases[label] = t - prev
            prev = t
        total = time.perf_counter() - t0
        _log.debug(
            "near-dup trigger batch_id=%d total=%.2fs %s",
            bid,
            total,
            " ".join(f"{k}={v:.2f}" for k, v in phases.items()),
            extra={"batch_id": bid, "total_s": total, "phases": phases},
        )

    return (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def neardup_compact(spark: SparkSession, store_path: str, compact_path: str) -> None:
    """Fold a near-dup stream's per-batch store partitions into a single
    ``batch_id=-1`` generation per bucket: key and shingle rows are
    rewritten as-is. Run between micro-batches or on a schedule; callers
    swap ``compact_path`` in atomically (same contract as
    :func:`compact`)."""
    for sub in ("keys", "shingles"):
        src = os.path.join(store_path, sub)
        if not path_exists(spark, src):
            continue
        try:
            df = spark.read.parquet(src)
        except AnalysisException as e:
            # every trigger so far was empty: directories, no rows
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
            continue
        (
            df.withColumn(_BATCH_COL, F.lit(-1))
            .write.mode("overwrite")
            .partitionBy(_BATCH_COL, _BUCKET_COL)
            .parquet(os.path.join(compact_path, sub))
        )


def neardup_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All verified near-dup pairs found by the stream so far. Unique by
    construction (each pair lands in exactly one batch partition, and
    re-ingested doc_ids are dropped before matching)."""
    return spark.read.parquet(pairs_path).select("doc_a", "doc_b")


def neardup_clusters(
    spark: SparkSession, pairs_path: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Periodic maintenance for a near-dup stream: fold everything the
    stream has emitted so far into duplicate-cluster labels (node ->
    component min) via :func:`sketchlib.dedup.connected_components`.
    Run between micro-batches or on a schedule — the input is the pair
    store (the answer's own size), never the corpus. ``checkpoint_dir``:
    reliable-checkpoint directory for the CC loop (executor-loss-safe)."""
    from .dedup import connected_components

    return connected_components(
        neardup_pairs(spark, pairs_path), "doc_a", "doc_b", checkpoint_dir=checkpoint_dir
    )


# ---------------------------------------------------------------------------
# event-time SESSION windows (applyInPandasWithState + gap timeout)
# ---------------------------------------------------------------------------


def session_sketch_stream(
    stream_df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    specs: list["SketchSpec"],
    gap: str = "30 minutes",
    watermark_delay: str = "30 seconds",
):
    """Event-time SESSION windows of sketch states as a custom stateful
    operator — the sessionization dual of :func:`windowed_sketch_stream`
    (which covers tumbling/sliding windows). One OPEN session per key
    lives in the state store as a KB-scale kernel blob; a row extends it
    when ``ts - session_end <= gap`` (sessions whose windows TOUCH merge
    — verified native ``session_window`` semantics: events at t and
    t+gap share one session), else the closed
    session is emitted immediately and a new one opens. The open session
    finalizes exactly once when the watermark passes ``session_end +
    gap + watermark_delay`` (event-time timeout); stragglers beyond the
    watermark are dropped explicitly, so an emitted session can never
    resurrect.

    Ordering contract: rows within a batch are sorted by event time
    before processing; across batches the operator assumes arrival is
    in event-time order up to ``watermark_delay`` (the same contract
    any incremental sessionizer without retro-merge makes — rows later
    than that are dropped by the watermark anyway).

    Output rows: ``key_cols..., session_start, session_end (last event
    time), sketch, state, n_updates`` — readable by the same estimate
    UDFs as batch states.
    """
    shipped, fold = _state_folder(stream_df, specs, [ts_col, *key_cols])
    names = [s.name for s in specs]
    # all event-time arithmetic in MICROSECONDS (the column's native
    # precision — ms truncation would corrupt session_start as a join
    # key against batch session_window output); the state API's
    # watermark/timeout surface stays in ms and is converted at the edge
    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)
    delay_us = int(pd.Timedelta(watermark_delay).total_seconds() * 1_000_000)
    keyed = shipped.withWatermark(ts_col, watermark_delay)
    out_fields = [
        *[keyed.schema[c] for c in key_cols],
        StructField("session_start", TimestampType(), False),
        StructField("session_end", TimestampType(), False),
        StructField("sketch", StringType(), False),
        StructField("state", BinaryType(), False),
        StructField("n_updates", LongType(), False),
    ]
    out_schema = StructType(out_fields)
    state_schema = StructType([StructField("pkl", BinaryType(), True)])

    def emit_frame(key, start_us: int, end_us: int, kernels: dict) -> pd.DataFrame:
        rows = {}
        for i, c in enumerate(key_cols):
            rows[c] = [key[i]] * len(names)
        rows["session_start"] = [pd.Timestamp(start_us, unit="us")] * len(names)
        rows["session_end"] = [pd.Timestamp(end_us, unit="us")] * len(names)
        rows["sketch"] = names
        rows["state"] = [kernels[name][0] for name in names]
        rows["n_updates"] = [kernels[name][1] for name in names]
        return pd.DataFrame(rows)

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (pkl,) = state.get
            start_us, end_us, kernels = pickle.loads(bytes(pkl))
            state.remove()
            yield emit_frame(key, start_us, end_us, kernels)
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # datetime64[ns] -> microseconds (native precision of the data)
        ts_us = (pdf[ts_col].astype("int64") // 1_000).to_numpy()
        wm_us = state.getCurrentWatermarkMs() * 1000
        keep = ts_us >= wm_us  # straggler drop: emitted sessions never resurrect
        pdf, ts_us = pdf[keep], ts_us[keep]
        if not len(pdf):
            return
        order = np.argsort(ts_us, kind="stable")
        pdf, ts_us = pdf.iloc[order], ts_us[order]
        open_sess = (
            pickle.loads(bytes(state.get[0])) if state.exists else None
        )  # (start_ms, end_ms, kernels)
        # split the sorted batch into session segments (inclusive gap:
        # a difference of exactly gap_ms still extends, matching Spark)
        new_seg = np.zeros(len(ts_us), dtype=bool)
        new_seg[0] = True
        if len(ts_us) > 1:
            new_seg[1:] = (ts_us[1:] - ts_us[:-1]) > gap_us
        seg_ids = np.cumsum(new_seg)
        for seg in range(1, int(seg_ids[-1]) + 1):
            mask = seg_ids == seg
            seg_pdf = pdf[mask]
            s0, s1 = int(ts_us[mask][0]), int(ts_us[mask][-1])
            if open_sess is not None and s0 - open_sess[1] <= gap_us:
                open_sess = (
                    min(open_sess[0], s0),
                    max(open_sess[1], s1),
                    fold(open_sess[2], seg_pdf),
                )
            else:
                if open_sess is not None:  # closed by this newer segment
                    yield emit_frame(key, open_sess[0], open_sess[1], open_sess[2])
                open_sess = (s0, s1, fold({}, seg_pdf))
        state.update((pickle.dumps(open_sess),))
        timeout_ms = -(-(open_sess[1] + gap_us + delay_us) // 1000)  # ceil to ms
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))

    return keyed.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
