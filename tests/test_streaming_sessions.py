"""Stateful streaming sessionization (applyInPandasWithState): closed-by-
data and closed-by-timeout emission, cross-drain state carry-over, and
equality with the batch sessionization on finalized sessions."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from hexspark.streaming.sessions import stream_sessions_to_parquet
from hexspark.streaming.windows import EVENT_DDL

_T0 = dt.datetime(2024, 3, 1)
_GAP_MIN = 30


def _ev(eid, minutes, user, value):
    return (eid, _T0 + dt.timedelta(minutes=minutes), user, "click", value)


def _us(minutes: int) -> int:
    return int((_T0 + dt.timedelta(minutes=minutes) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _drain(spark, src, out, ckpt):
    q = stream_sessions_to_parquet(
        spark, src, out, ckpt, gap=f"{_GAP_MIN} minutes", watermark_delay="10 minutes"
    )
    q.awaitTermination()


def _sessions(spark, out):
    try:
        return {
            (r["user_id"], r["start_us"]): (r["end_us"], r["n_events"], r["sum_value"])
            for r in spark.read.parquet(out).collect()
        }
    except Exception:
        return {}


def _batch_sessions(spark, rows):
    """Batch gap-sessionization oracle (same shape as q_event_sessions)."""
    ev = spark.createDataFrame(rows, EVENT_DDL)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.expr("timestampdiff(MICROSECOND, timestamp'1970-01-01 00:00:00Z', ts)")
    ev = ev.withColumn("ts_us", ts_us)
    gap = (F.col("ts_us") - F.lag("ts_us").over(w)) / 1_000_000
    sess = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > _GAP_MIN * 60), 1).otherwise(0)
    ).withColumn(
        "sid", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    out = sess.groupBy("user_id", "sid").agg(
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(38,9)")), 6).cast("double").alias("s"),
    )
    return {
        (r["user_id"], r["start_us"]): (r["end_us"], r["n"], r["s"])
        for r in out.collect()
    }


# user 1: two sessions (gap 40 > 30 between minute 20 and 60); user 2: a
# session [0,25] then a new one opening at minute 120 (gap 95 > 30). Max ts
# minute 120 → watermark 110 → user-1 session A (ends min 20, timeout bound
# 50) and session B (ends min 61, bound 91) flush by timeout, user-2's
# [0,25] closes by data; the session opened at 120 (bound 150) stays open.
_BATCH_A = [
    _ev(1, 0, 1, 1.25),
    _ev(2, 20, 1, 2.5),
    _ev(3, 60, 1, 4.0),
    _ev(4, 61, 1, 0.5),
    _ev(5, 0, 2, 10.0),
    _ev(6, 25, 2, 10.0),
    _ev(7, 120, 2, 5.0),
]

# user 2 continues the OPEN session within-gap (145 - 120 = 25 <= 30): the
# state must extend it, proving cross-drain carry-over; user 3 appears.
# Max ts minute 400 → watermark 390 → everything but user 3's closes.
_BATCH_B = [
    _ev(8, 145, 2, 1.0),
    _ev(9, 400, 3, 7.0),
]


def test_sessions_closed_by_data_and_timeout(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.createDataFrame(_BATCH_A, EVENT_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt)
    got = _sessions(spark, out)

    # user 1 session A: closed by DATA (the minute-60 event), exact values
    assert got[(1, _us(0))] == (_us(20), 2, 3.75)
    # user 1 session B: closed by TIMEOUT (watermark 110 > bound 91)
    assert got[(1, _us(60))] == (_us(61), 2, 4.5)
    # user 2's [0,25] closed by DATA (the minute-120 event, gap 95 > 30)
    assert got[(2, _us(0))] == (_us(25), 2, 20.0)
    # the session opened at 120 is still open (bound 150 > watermark 110)
    assert (2, _us(120)) not in got
    assert len(got) == 3


def test_state_carries_across_drains_and_matches_batch(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.createDataFrame(_BATCH_A, EVENT_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt)
    spark.createDataFrame(_BATCH_B, EVENT_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt)
    got = _sessions(spark, out)

    # user 2's session opened in drain 1 (minute 120) was EXTENDED by the
    # drain-2 event at 145 — only possible if the open-session state
    # survived the checkpoint restart rather than starting fresh
    assert got[(2, _us(120))] == (_us(145), 2, 6.0)

    # every closed session equals the batch sessionization of the same rows
    # (user 3's trailing session is still open: bound 430 > watermark 390)
    batch = _batch_sessions(spark, _BATCH_A + _BATCH_B)
    open_keys = {(3, _us(400))}
    assert got == {k: v for k, v in batch.items() if k not in open_keys}


def test_emit_once_across_drains(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.createDataFrame(_BATCH_A, EVENT_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt)
    spark.createDataFrame(_BATCH_B, EVENT_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt)
    dup = (
        spark.read.parquet(out)
        .groupBy("user_id", "start_us")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup == 0
