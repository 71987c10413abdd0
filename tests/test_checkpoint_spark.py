"""Checkpoint/resume tests (FIXTURES `resume`): a run killed halfway
resumes from the partial-state table and produces byte-identical merged
states; lineage covers every partition exactly once."""

import pytest
from pyspark.sql import functions as F

from sketchlib.agg import SketchSpec, build_partials, merge_partials
from sketchlib.checkpoint import (
    build_partials_checkpointed,
    checkpointed_sketch_aggregate,
    lineage_summary,
)

SPECS = [
    SketchSpec("hll_tok", "hll", "tokens", {"p": 12}),
    SketchSpec("cms_tok", "cms", "tokens", {"w": 8192, "d": 3}),
]
FP = "seq_small@v1"


def _final_states(merged):
    return {(r.source, r.sketch): bytes(r.state) for r in merged.collect()}


def test_resume_byte_identical(spark, seq_small, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    df = seq_small.repartition(8)

    # uninterrupted reference run (no checkpoint)
    ref = _final_states(merge_partials(build_partials(df, ["source"], SPECS), ["source"], 4))

    # simulate a job killed after finishing only partitions {0,1,2}:
    # write just those partials to the checkpoint
    half = (
        build_partials(df, ["source"], SPECS)
        .filter(F.col("part_id") < 3)
        .withColumn("fingerprint", F.lit(FP))
        .withColumn("updated_at", F.current_timestamp())
    )
    half.write.mode("overwrite").parquet(ckpt)
    done_before = spark.read.parquet(ckpt).select("part_id").distinct().count()
    assert done_before == 3

    # resume: only the 5 missing partitions are rebuilt
    merged = checkpointed_sketch_aggregate(df, ["source"], SPECS, ckpt, FP, fanout=4)
    assert _final_states(merged) == ref

    # lineage: every partition exactly once per sketch
    pc = (
        spark.read.parquet(ckpt)
        .groupBy("source", "sketch", "part_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert pc == 0
    summary = lineage_summary(spark, ckpt).collect()[0]
    assert summary.partitions_done == 8
    assert summary.fingerprint == FP


def test_rerun_is_noop(spark, seq_small, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    df = seq_small.repartition(4)
    first = _final_states(
        checkpointed_sketch_aggregate(df, ["source"], SPECS, ckpt, FP, fanout=None)
    )
    rows_after_first = spark.read.parquet(ckpt).count()
    second = _final_states(
        checkpointed_sketch_aggregate(df, ["source"], SPECS, ckpt, FP, fanout=None)
    )
    assert first == second
    assert spark.read.parquet(ckpt).count() == rows_after_first  # nothing re-appended


def test_distinct_fingerprints_coexist(spark, seq_small, tmp_path):
    ckpt = str(tmp_path / "ckpt3")
    df = seq_small.repartition(2)
    a = _final_states(checkpointed_sketch_aggregate(df, ["source"], SPECS, ckpt, "fp-a", fanout=None))
    b = _final_states(checkpointed_sketch_aggregate(df, ["source"], SPECS, ckpt, "fp-b", fanout=None))
    assert a == b
    assert lineage_summary(spark, ckpt).count() == 2


def test_unreadable_checkpoint_raises_before_rebuild(spark, seq_small, tmp_path):
    """A checkpoint that exists but cannot be read is an error, not an
    empty history: resuming must raise before stage 1 appends a second
    copy of every partition's partials."""
    import glob
    import os

    ckpt = str(tmp_path / "ckpt4")
    df = seq_small.repartition(4)
    checkpointed_sketch_aggregate(df, ["source"], SPECS, ckpt, FP, fanout=None).collect()
    for name in ("0-garbage.parquet", "1-garbage.parquet"):
        with open(os.path.join(ckpt, name), "wb") as f:
            f.write(b"not a parquet file")
    files = sorted(glob.glob(os.path.join(ckpt, "*.parquet")))
    with pytest.raises(Exception):
        checkpointed_sketch_aggregate(df, ["source"], SPECS, ckpt, FP, fanout=None).collect()
    assert sorted(glob.glob(os.path.join(ckpt, "*.parquet"))) == files


def test_empty_checkpoint_dir_is_nothing_done(spark, seq_small, tmp_path):
    """An aborted first append leaves the checkpoint directory without
    data files; resuming over it builds every partition."""
    ckpt = tmp_path / "ckpt5"
    ckpt.mkdir()
    df = seq_small.repartition(4)
    resumed = _final_states(
        checkpointed_sketch_aggregate(df, ["source"], SPECS, str(ckpt), FP, fanout=None)
    )
    assert resumed == _final_states(merge_partials(build_partials(df, ["source"], SPECS), ["source"]))
    assert lineage_summary(spark, str(ckpt)).collect()[0].partitions_done == 4
