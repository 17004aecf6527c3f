"""Watermarked windowed aggregation: stream-vs-batch equality on finalized
windows, append-mode emit-once, and late-row drop across restarts."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from hexspark.streaming.windows import (
    EVENT_DDL,
    stream_window_counts_to_parquet,
    windowed_event_counts,
)

_T0 = dt.datetime(2024, 3, 1)


def _ev(eid: int, minutes: int, etype: str, value: float, user: int = 1):
    return (eid, _T0 + dt.timedelta(minutes=minutes), user, etype, value)


# hours 0..3; max ts 03:10 → watermark after drain = 02:40 → finalized
# windows are [00,01) and [01,02)
_BATCH_A = [
    _ev(1, 10, "click", 1.5),
    _ev(2, 20, "view", 2.5),
    _ev(3, 70, "click", 3.0),
    _ev(4, 130, "click", 4.0),
    _ev(5, 190, "view", 5.0),
]

# one LATE row (00:30, window [00,01) already finalized → dropped) plus
# rows at 05:10 advancing the watermark to 04:40 → finalizes [02,03), [03,04)
_BATCH_B = [
    _ev(6, 30, "click", 100.0),
    _ev(7, 310, "view", 6.0),
    _ev(8, 311, "click", 7.0),
]


def _drain(spark, src, out, ckpt):
    q = stream_window_counts_to_parquet(
        spark, src, out, ckpt, window_duration="1 hour", watermark_delay="30 minutes"
    )
    q.awaitTermination()


def _sink_rows(spark, out):
    return {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }


def test_stream_drain_equals_batch_on_finalized_windows(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.createDataFrame(_BATCH_A, EVENT_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt)

    got = _sink_rows(spark, out)
    # batch reference over the same rows, restricted to finalized windows
    batch = windowed_event_counts(spark.createDataFrame(_BATCH_A, EVENT_DDL))
    wm = _T0 + dt.timedelta(minutes=190 - 30)
    expected = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.where(F.col("win_end") <= F.lit(wm)).collect()
    }
    assert got == expected
    assert (_T0, "click") in got and got[(_T0, "click")] == (1, 1.5)
    # window [02,03) not finalized yet (end 03:00 > watermark 02:40)
    assert all(ws < _T0 + dt.timedelta(hours=2) for ws, _ in got)


def test_late_row_dropped_and_windows_emitted_once(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.createDataFrame(_BATCH_A, EVENT_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt)
    spark.createDataFrame(_BATCH_B, EVENT_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt)  # fresh query, same checkpoint → resume

    sink = spark.read.parquet(out)
    # emit-once: no (window, type) key appears twice across the two drains
    dup = (
        sink.groupBy("win_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup == 0

    got = _sink_rows(spark, out)
    # the late event (00:30, value 100.0) was dropped: window [00,01) keeps
    # its original count from the first drain
    assert got[(_T0, "click")] == (1, 1.5)
    # the watermark advance finalized [02,03) and [03,04)
    assert got[(_T0 + dt.timedelta(hours=2), "click")] == (1, 4.0)
    assert got[(_T0 + dt.timedelta(hours=3), "view")] == (1, 5.0)
    # hour-5 windows not finalized (end 06:00 > watermark 04:41)
    assert all(ws < _T0 + dt.timedelta(hours=5) for ws, _ in got)


def test_batch_form_matches_plain_sql_aggregate(spark):
    """The batch path of windowed_event_counts is a plain windowed groupBy —
    cross-checked against a floor-to-hour aggregate."""
    df = spark.createDataFrame(_BATCH_A + _BATCH_B, EVENT_DDL)
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(df).collect()
    }
    ref = {
        (r["h"], r["event_type"]): (r["n"], r["s"])
        for r in df.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,9)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert got == ref
