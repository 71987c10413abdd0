"""Checkpointed per-partition sketch state with lineage + metrics.

North-rule requirement: resumable runs. Stage-1 partials (the expensive
pass over the 100 TB input) persist to a parquet checkpoint table:

    group_cols..., sketch, state,
    n_updates, n_rows, part_id            -- update metrics
    fingerprint string, updated_at ts     -- lineage

Resume = read the checkpoint, find which input partitions already have
partials for this (fingerprint), and run stage 1 with those partitions
skipped (their tasks pull zero batches). Because every kernel merge is
associative/commutative and the generator/hash stack is deterministic,
a resumed run's merged states are byte-identical to an uninterrupted
run — tested in tests/test_checkpoint_spark.py.

Requires a stable input partition layout between runs (same files, same
``spark.sql.files.maxPartitionBytes``) — the same assumption any
file-offset-based bookmark makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .agg import SketchSpec, build_partials, merge_partials, resolve_fanout
from .io import path_exists

LINEAGE_COLS = ["fingerprint", "updated_at"]


def _existing_parts(spark, ckpt_path: str, fingerprint: str) -> frozenset[int]:
    """Partition ids this fingerprint has checkpointed. An absent path
    means none, and so does a directory without data files (an aborted
    first append leaves one): the explicit schema spares the read the
    schema inference that fails on it. Any other read failure raises
    here, before stage 1 runs, instead of re-building every partition
    and appending its partials a second time."""
    if not path_exists(spark, ckpt_path):
        return frozenset()
    rows = (
        spark.read.schema("fingerprint string, part_id int")
        .parquet(ckpt_path)
        .filter(F.col("fingerprint") == fingerprint)
        .select("part_id")
        .distinct()
        .collect()
    )
    return frozenset(r[0] for r in rows)


def build_partials_checkpointed(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    ckpt_path: str,
    fingerprint: str,
) -> DataFrame:
    """Build stage-1 partials, persisting to / resuming from ``ckpt_path``.

    Returns the complete partials DataFrame (checkpointed rows for this
    fingerprint) ready for :func:`sketchlib.agg.merge_partials`.
    """
    spark = df.sparkSession
    done = _existing_parts(spark, ckpt_path, fingerprint)
    # No df.rdd.getNumPartitions() probe (it converts the whole plan to
    # an RDD): stage 1 always runs with the done-set skipped — a task
    # whose partition is already checkpointed returns before pulling any
    # input batch, so a fully-resumed run costs one empty scan job.
    fresh = (
        build_partials(df, group_cols, specs, skip_parts=done or None)
        .withColumn("fingerprint", F.lit(fingerprint))
        .withColumn("updated_at", F.current_timestamp())
    )
    fresh.write.mode("append").parquet(ckpt_path)
    # note: a partition whose rows all fall outside every group emits no
    # partial row and so is indistinguishable from "not yet run" — it gets
    # re-scanned on the next resume, which is idempotent (emits nothing
    # again) and cheap relative to tracking a separate done-manifest.
    return spark.read.parquet(ckpt_path).filter(F.col("fingerprint") == fingerprint)


def checkpointed_sketch_aggregate(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    ckpt_path: str,
    fingerprint: str,
    fanout: int | None | str = "auto",
) -> DataFrame:
    """Checkpointed build + merge. ``fanout="auto"`` resolves from the
    input partition count, as :func:`sketchlib.agg.sketch_aggregate`
    does: each partition checkpoints at most one partial per key."""
    partials = build_partials_checkpointed(df, group_cols, specs, ckpt_path, fingerprint)
    fanout = resolve_fanout(fanout, lambda: df.rdd.getNumPartitions())
    return merge_partials(partials.drop(*LINEAGE_COLS), group_cols, fanout)


def lineage_summary(spark, ckpt_path: str) -> DataFrame:
    """Per-fingerprint coverage: partitions done, rows consumed, updates."""
    ckpt = spark.read.parquet(ckpt_path)
    return ckpt.groupBy("fingerprint").agg(
        F.countDistinct("part_id").alias("partitions_done"),
        F.sum("n_updates").alias("total_updates"),
        F.max("updated_at").alias("last_update"),
    )
