"""Event-time windowed sketch streaming (applyInPandasWithState).

Feeds a file-source stream micro-batch by micro-batch and asserts:

- a window is finalized exactly once, only after the watermark passes
  window_end + delay,
- finalized HLL states give the exact distinct count of the window's
  on-time rows (small cardinalities are exact under HLL linear counting),
- a straggler row older than the watermark can NOT resurrect or
  double-emit an already-finalized window,
- n_updates matches the on-time row count per window.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sketchlib.agg import SketchSpec, _pa_type, load_state  # noqa: E402

EPOCH = dt.datetime(2026, 1, 1, 0, 0, 0)


def _write_batch(
    dir_: str, idx: int, rows: list[tuple], col: str = "user_id", type=pa.int64()
) -> None:
    """rows: (seconds_after_epoch, value of ``col``)"""
    ts = [EPOCH + dt.timedelta(seconds=s) for s, _ in rows]
    tbl = pa.table(
        {
            "ts": pa.array(ts, type=pa.timestamp("us")),
            col: pa.array([v for _, v in rows], type=type),
        }
    )
    pq.write_table(tbl, os.path.join(dir_, f"batch{idx}.parquet"))


@pytest.fixture(scope="module")
def windowed_rows(spark, tmp_path_factory):
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from sketchlib.streaming import windowed_sketch_stream

    src = str(tmp_path_factory.mktemp("win_src"))
    ckpt = str(tmp_path_factory.mktemp("win_ckpt"))
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("user_id", LongType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = windowed_sketch_stream(
        stream,
        "ts",
        [],
        [SketchSpec("hll", "hll", "user_id", {"p": 12})],
        window_duration="1 minute",
        watermark_delay="30 seconds",
    )
    # batch 1: window0 [0,60) users {1,2,3}; window1 [60,120) users {1,2}
    _write_batch(src, 1, [(0, 1), (10, 2), (20, 3), (61, 1), (70, 2)])
    q = (
        out.writeStream.format("memory")
        .queryName("win_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: window2 [120,180) users {7,8}; max ts 170 -> watermark 140
        _write_batch(src, 2, [(120, 7), (150, 8), (170, 7)])
        q.processAllAvailable()
        after_b2 = spark.sql("select * from win_sink").collect()
        # batch 3: fresh row far in the future (advances watermark to 370)
        # plus a straggler for the already-expiring window0 (ts=50 < wm)
        _write_batch(src, 3, [(400, 9), (50, 99)])
        q.processAllAvailable()
        # batch 4: empty-ish nudge so timeouts fire against watermark 370
        _write_batch(src, 4, [(410, 9)])
        q.processAllAvailable()
        _write_batch(src, 5, [(420, 9)])
        q.processAllAvailable()
        rows = spark.sql("select * from win_sink").collect()
    finally:
        q.stop()
    return after_b2, rows


def _starts(rows):
    return sorted((r["window_start"] - EPOCH).total_seconds() for r in rows)


def test_no_emission_before_watermark(windowed_rows):
    after_b2, _ = windowed_rows
    # during batch 2 the watermark was still 0 (set from batch 1 at its
    # end); nothing may be finalized yet
    assert _starts(after_b2) in ([], [0.0])


def test_windows_finalize_exactly_once(windowed_rows):
    _, rows = windowed_rows
    starts = _starts(rows)
    # windows 0,60,120 must be finalized exactly once; the 390/420
    # windows are still open (watermark <= end+delay)
    assert starts == [0.0, 60.0, 120.0]


def test_finalized_states_are_exact(windowed_rows):
    _, rows = windowed_rows
    expect = {0.0: (3, 3), 60.0: (2, 2), 120.0: (2, 3)}  # (distinct, n_rows)
    for r in rows:
        start = (r["window_start"] - EPOCH).total_seconds()
        distinct, n_rows = expect[start]
        hll = load_state(bytes(r["state"]))
        assert r["sketch"] == "hll"
        assert r["n_updates"] == n_rows
        # tiny cardinalities sit in HLL linear-counting range: exact
        assert round(hll.count()) == distinct


def test_straggler_dropped(windowed_rows):
    _, rows = windowed_rows
    w0 = [r for r in rows if (r["window_start"] - EPOCH).total_seconds() == 0.0]
    assert len(w0) == 1
    hll = load_state(bytes(w0[0]["state"]))
    assert round(hll.count()) == 3  # user 99 (late) not absorbed


def test_sliding_windows(spark, tmp_path_factory):
    """60s windows sliding by 30s: every row lands in exactly two
    windows; finalized counts match per-window exact distincts."""
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from sketchlib.streaming import windowed_sketch_stream

    src = str(tmp_path_factory.mktemp("slide_src"))
    ckpt = str(tmp_path_factory.mktemp("slide_ckpt"))
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("user_id", LongType())]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = windowed_sketch_stream(
        stream,
        "ts",
        [],
        [SketchSpec("hll", "hll", "user_id", {"p": 12})],
        window_duration="1 minute",
        watermark_delay="10 seconds",
        slide_duration="30 seconds",
    )
    # rows at t=40 (windows [-20,40+20) -> starts 0 and 30... i.e.
    # [0,60) and [30,90)) and t=70 ([30,90) and [60,120))
    _write_batch(src, 1, [(40, 1), (41, 2), (70, 3)])
    q = (
        out.writeStream.format("memory")
        .queryName("slide_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(src, 2, [(400, 9)])
        q.processAllAvailable()
        _write_batch(src, 3, [(430, 9)])
        q.processAllAvailable()
        rows = spark.sql("select * from slide_sink").collect()
    finally:
        q.stop()
    got = {
        (r["window_start"] - EPOCH).total_seconds(): (
            round(load_state(bytes(r["state"])).count()),
            r["n_updates"],
        )
        for r in rows
        if (r["window_start"] - EPOCH).total_seconds() < 300
    }
    assert got == {0.0: (2, 2), 30.0: (3, 3), 60.0: (1, 1)}


def test_restart_resumes_state(spark, tmp_path_factory):
    """Kill the query after ingesting window0's rows (nothing emitted
    yet — watermark still 0), restart from the same checkpoint, then
    advance the watermark: window0 must finalize exactly once with the
    pre-restart HLL state intact (distinct=3), proving the kernels
    live in the fault-tolerant state store, not in process memory."""
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from sketchlib.streaming import windowed_sketch_stream

    src = str(tmp_path_factory.mktemp("restart_src"))
    ckpt = str(tmp_path_factory.mktemp("restart_ckpt"))
    sink_dir = str(tmp_path_factory.mktemp("restart_sink"))
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("user_id", LongType())]
    )

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = windowed_sketch_stream(
            stream,
            "ts",
            [],
            [SketchSpec("hll", "hll", "user_id", {"p": 12})],
            window_duration="1 minute",
            watermark_delay="10 seconds",
        )
        # memory sink cannot recover from a checkpoint; the parquet
        # sink is the fault-tolerant one (exactly-once file log)
        return (
            out.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    _write_batch(src, 1, [(0, 1), (10, 2), (20, 3)])
    q1 = start()
    q1.processAllAvailable()
    q1.stop()  # state for window0 lives only in the checkpoint now

    _write_batch(src, 2, [(300, 9)])
    _write_batch(src, 3, [(330, 9)])
    q2 = start()
    try:
        q2.processAllAvailable()
        rows = spark.read.parquet(sink_dir).collect()
    finally:
        q2.stop()
    w0 = [r for r in rows if (r["window_start"] - EPOCH).total_seconds() == 0.0]
    assert len(w0) == 1
    assert w0[0]["n_updates"] == 3
    assert round(load_state(bytes(w0[0]["state"])).count()) == 3


def test_windowed_ddsketch_states(spark, tmp_path_factory):
    """r5 kernel through the windowed stateful operator: per-window
    DDSketch states finalize with exact n and a median within alpha of
    the true per-window median (values here are small ints, so the
    relative bound pins them to the exact bucket)."""
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from sketchlib.streaming import windowed_sketch_stream

    src = str(tmp_path_factory.mktemp("win_dd_src"))
    ckpt = str(tmp_path_factory.mktemp("win_dd_ckpt"))
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("user_id", LongType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = windowed_sketch_stream(
        stream,
        "ts",
        [],
        [SketchSpec("dd", "ddsketch", "user_id", {"alpha": 0.01})],
        window_duration="1 minute",
        watermark_delay="30 seconds",
    )
    # window0 [0,60): values 10,20,30; window1 [60,120): 40,50
    _write_batch(src, 1, [(0, 10), (10, 20), (20, 30), (61, 40), (70, 50)])
    q = (
        out.writeStream.format("memory")
        .queryName("win_dd_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # push the watermark far past both windows so they finalize
        _write_batch(src, 2, [(400, 1)])
        q.processAllAvailable()
        _write_batch(src, 3, [(500, 1)])
        q.processAllAvailable()
        rows = spark.sql("select * from win_dd_sink").collect()
    finally:
        q.stop()
    got = {
        (r["window_start"] - EPOCH).total_seconds(): load_state(bytes(r["state"]))
        for r in rows
        if (r["window_start"] - EPOCH).total_seconds() < 120
    }
    assert set(got) == {0.0, 60.0}
    dd0, dd1 = got[0.0], got[60.0]
    assert dd0.n == 3 and dd1.n == 2
    assert abs(dd0.quantile(0.5) - 20.0) <= 0.01 * 20.0
    assert abs(dd1.quantile(0.5) - 40.0) <= 0.01 * 40.0


def test_null_only_spec_still_emits_its_row(spark, tmp_path_factory):
    """A window in which one spec's column held only nulls still emits
    that spec's row: an empty kernel with n_updates 0."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from sketchlib.streaming import windowed_sketch_stream

    src = str(tmp_path_factory.mktemp("win_null_src"))
    ckpt = str(tmp_path_factory.mktemp("win_null_ckpt"))
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def write(idx, rows):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [EPOCH + dt.timedelta(seconds=s) for s, _, _ in rows],
                        type=pa.timestamp("us"),
                    ),
                    "user_id": pa.array([u for _, u, _ in rows], type=pa.int64()),
                    "score": pa.array([x for _, _, x in rows], type=pa.float64()),
                }
            ),
            os.path.join(src, f"batch{idx}.parquet"),
        )

    specs = [
        SketchSpec("hll", "hll", "user_id", {"p": 12}),
        SketchSpec("kll", "kll", "score", {"k": 200}),
    ]
    out = windowed_sketch_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        "ts",
        [],
        specs,
        window_duration="1 minute",
        watermark_delay="30 seconds",
    )
    # window0 [0,60): scores all null; window1 [60,120): two scores
    write(1, [(0, 1, None), (10, 2, None), (20, 3, None), (61, 4, 1.0), (70, 5, 2.0)])
    q = (
        out.writeStream.format("memory")
        .queryName("win_null_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write(2, [(400, 9, 3.0)])
        q.processAllAvailable()
        write(3, [(500, 9, 4.0)])
        q.processAllAvailable()
        rows = spark.sql("select * from win_null_sink").collect()
    finally:
        q.stop()
    got = {
        ((r["window_start"] - EPOCH).total_seconds(), r["sketch"]): r
        for r in rows
        if (r["window_start"] - EPOCH).total_seconds() < 120
    }
    assert set(got) == {(0.0, "hll"), (0.0, "kll"), (60.0, "hll"), (60.0, "kll")}
    assert got[(0.0, "hll")]["n_updates"] == 3
    assert got[(0.0, "kll")]["n_updates"] == 0
    assert bytes(got[(0.0, "kll")]["state"]) == specs[1].make().to_bytes()
    assert got[(60.0, "kll")]["n_updates"] == 2
    assert load_state(bytes(got[(60.0, "kll")]["state"])).n == 2


def _first_window_vs_batch(spark, tmp_path_factory, name, col_type, rows, specs):
    """Stream ``rows`` (seconds_after_epoch, value of column ``v``) as
    one file, close its first window with two later files, and return
    that window's ``{sketch: (state, n_updates)}`` next to the batch
    build's over the same file."""
    from pyspark.sql.types import StructField, StructType, TimestampType

    from sketchlib.agg import sketch_aggregate
    from sketchlib.streaming import windowed_sketch_stream

    src = str(tmp_path_factory.mktemp(f"{name}_src"))
    ckpt = str(tmp_path_factory.mktemp(f"{name}_ckpt"))
    schema = StructType([StructField("ts", TimestampType()), StructField("v", col_type)])

    def write(idx, rows):
        _write_batch(src, idx, rows, "v", _pa_type(col_type))

    out = windowed_sketch_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        "ts",
        [],
        specs,
        window_duration="1 minute",
        watermark_delay="30 seconds",
    )
    write(1, rows)
    q = (
        out.writeStream.format("memory")
        .queryName(f"{name}_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        nudge = rows[-1][1]
        write(2, [(400, nudge)])
        q.processAllAvailable()
        write(3, [(500, nudge)])
        q.processAllAvailable()
        got = spark.sql(f"select * from {name}_sink").collect()
    finally:
        q.stop()
    batch = spark.read.schema(schema).parquet(os.path.join(src, "batch1.parquet"))

    def states(rows):
        return {r["sketch"]: (bytes(r["state"]), r["n_updates"]) for r in rows}

    return (
        states(r for r in got if r["window_start"] == EPOCH),
        states(sketch_aggregate(batch, [], specs).collect()),
    )


def test_nullable_long_inputs_beyond_2_53_are_exact(spark, tmp_path_factory):
    """A nullable long column reaches pandas as float64, where ids 2^60+1,
    2^60+2 and 2^60+3 collapse into one value. The window of those three
    ids and one null must equal the batch build over the same rows: equal
    HLL/CMS bytes and n_updates 3."""
    from pyspark.sql.types import LongType

    big = 1 << 60
    got, want = _first_window_vs_batch(
        spark,
        tmp_path_factory,
        "win_big",
        LongType(),
        [(0, big + 1), (10, big + 2), (20, big + 3), (30, None)],
        [
            SketchSpec("hll", "hll", "v", {"p": 12}),
            SketchSpec("cms", "cms", "v", {"w": 256, "d": 3}),
        ],
    )
    assert got == want
    assert got["hll"][1] == 3
    assert load_state(got["hll"][0]).count() == 3


def test_array_long_inputs_with_null_elements_beyond_2_53_are_exact(spark, tmp_path_factory):
    """An ``array<long>`` that holds a null reaches pandas as a float64
    array, where 2^60+1 and 2^60+3 collapse into one value. The window
    of the rows [2^60+1, null, 2^60+3] and [2^60+2] must equal the batch
    build over the same file: equal HLL bytes and n_updates 3."""
    from pyspark.sql.types import ArrayType, LongType

    big = 1 << 60
    got, want = _first_window_vs_batch(
        spark,
        tmp_path_factory,
        "win_arr",
        ArrayType(LongType()),
        [(0, [big + 1, None, big + 3]), (10, [big + 2])],
        [SketchSpec("hll", "hll", "v", {"p": 12})],
    )
    assert got == want
    assert got["hll"][1] == 3
    assert load_state(got["hll"][0]).count() == 3
