"""Watermarked stream-stream join: drain ≡ batch join, cross-restart state,
left-outer null emission gated on the watermark, idempotent re-drain."""

from __future__ import annotations

import datetime as dt

import pytest

from hexspark.streaming.joins import (
    CLICK_DDL,
    PURCHASE_DDL,
    purchase_attribution,
    stream_attribution_to_parquet,
)

_T0 = dt.datetime(2024, 3, 1)


def _t(minutes: int) -> dt.datetime:
    return _T0 + dt.timedelta(minutes=minutes)


# horizon 1h, watermark 30m everywhere below
_CLICKS_A = [
    (1, _t(0), 1, "a"),     # matched by p1 (+30m)
    (2, _t(5), 2, "b"),     # never matched → leftOuter null once wm > 1:05
    (3, _t(10), 3, "c"),    # p2 at +2h is OUTSIDE the horizon → no match
]
_PURCHASES_A = [
    (101, _t(30), 1, 1250),
    (102, _t(130), 3, 999),  # 2h after c3 → outside horizon
]
# much-later activity that advances both watermarks past every A-row's
# match-window end (min side max = 4:00 → wm 3:30 > 1:10 + 1h)
_CLICKS_B = [(4, _t(240), 4, "d")]
_PURCHASES_B = [(103, _t(240), 4, 500)]

_INNER_A = {(1, 101, 1250)}


def _write(spark, rows, ddl, path):
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(path)


def _drain(spark, dirs, join_type="inner"):
    q = stream_attribution_to_parquet(
        spark,
        dirs["clicks"],
        dirs["purchases"],
        dirs["out"],
        dirs["ckpt"],
        horizon="1 hour",
        watermark_delay="30 minutes",
        join_type=join_type,
    )
    q.awaitTermination()
    return q


def _dirs(tmp_path):
    return {d: str(tmp_path / d) for d in ("clicks", "purchases", "out", "ckpt")}


def _sink(spark, out):
    return {
        (r["click_id"], r["purchase_id"], r["amount_cents"])
        for r in spark.read.parquet(out).collect()
    }


def test_stream_inner_drain_equals_batch_join(spark, tmp_path):
    dirs = _dirs(tmp_path)
    _write(spark, _CLICKS_A, CLICK_DDL, dirs["clicks"])
    _write(spark, _PURCHASES_A, PURCHASE_DDL, dirs["purchases"])
    q = _drain(spark, dirs)

    batch = purchase_attribution(
        spark.createDataFrame(_CLICKS_A, CLICK_DDL),
        spark.createDataFrame(_PURCHASES_A, PURCHASE_DDL),
        horizon="1 hour",
    )
    expected = {
        (r["click_id"], r["purchase_id"], r["amount_cents"]) for r in batch.collect()
    }
    assert _sink(spark, dirs["out"]) == expected == _INNER_A

    # the streaming plan really ran the symmetric hash join state operator
    ops = [
        so["operatorName"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    ]
    assert "symmetricHashJoin" in ops


def test_rows_match_across_query_restarts(spark, tmp_path):
    dirs = _dirs(tmp_path)
    # first drain sees ONLY the clicks; purchases dir exists but is empty
    _write(spark, _CLICKS_A, CLICK_DDL, dirs["clicks"])
    _write(spark, [], PURCHASE_DDL, dirs["purchases"])
    _drain(spark, dirs)
    assert _sink(spark, dirs["out"]) == set()

    # purchases arrive a restart later: the buffered clicks are in the
    # checkpointed state store, so the matches still come out
    _write(spark, _PURCHASES_A, PURCHASE_DDL, dirs["purchases"])
    _drain(spark, dirs)
    assert _sink(spark, dirs["out"]) == _INNER_A


def test_left_outer_nulls_gated_on_watermark(spark, tmp_path):
    dirs = _dirs(tmp_path)
    _write(spark, _CLICKS_A, CLICK_DDL, dirs["clicks"])
    _write(spark, _PURCHASES_A, PURCHASE_DDL, dirs["purchases"])
    _drain(spark, dirs, join_type="leftOuter")

    # watermark after drain A = min(0:10, 2:10) - 30m < every match-window
    # end → no speculative nulls, only the real match
    assert _sink(spark, dirs["out"]) == _INNER_A

    # later activity on BOTH sides advances the watermark past 1:10 + 1h;
    # the unmatched clicks' null rows must now emit, exactly once each
    _write(spark, _CLICKS_B, CLICK_DDL, dirs["clicks"])
    _write(spark, _PURCHASES_B, PURCHASE_DDL, dirs["purchases"])
    _drain(spark, dirs, join_type="leftOuter")
    got = _sink(spark, dirs["out"])
    assert (1, 101, 1250) in got and (4, 103, 500) in got
    assert (2, None, None) in got and (3, None, None) in got
    # exactly one row per click: 3 A-clicks + 1 B-click
    rows = spark.read.parquet(dirs["out"]).collect()
    assert len(rows) == 4 and len({r["click_id"] for r in rows}) == 4


def test_redrain_without_new_data_is_noop(spark, tmp_path):
    dirs = _dirs(tmp_path)
    _write(spark, _CLICKS_A, CLICK_DDL, dirs["clicks"])
    _write(spark, _PURCHASES_A, PURCHASE_DDL, dirs["purchases"])
    _drain(spark, dirs)
    first = _sink(spark, dirs["out"])
    _drain(spark, dirs)
    assert _sink(spark, dirs["out"]) == first == _INNER_A


def test_crash_inside_microbatch_is_exactly_once(spark, tmp_path):
    """Restart INSIDE a partially-committed micro-batch: the classic crash
    window is after the file sink commits batch N to its _spark_metadata
    transaction log but before the checkpoint writes commits/N. Simulate
    it by deleting the checkpoint's last commit marker after a drain — on
    restart Structured Streaming replays batch N (same batch id, same
    offsets from offsets/N, state reloaded at the pre-batch version), and
    the FileStreamSink's log makes the re-commit idempotent: readers see
    each output row exactly once."""
    import os
    import shutil

    dirs = _dirs(tmp_path)
    _write(spark, _CLICKS_A, CLICK_DDL, dirs["clicks"])
    _write(spark, _PURCHASES_A, PURCHASE_DDL, dirs["purchases"])
    _drain(spark, dirs)
    assert _sink(spark, dirs["out"]) == _INNER_A

    commits = sorted(os.listdir(f"{dirs['ckpt']}/commits"))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(f"{dirs['ckpt']}/commits/{last}")
    crc = f"{dirs['ckpt']}/commits/.{last}.crc"
    if os.path.exists(crc):  # Hadoop local-FS checksum sidecar: a stale
        os.remove(crc)  # one makes the commit-marker rewrite non-atomic
    # also drop any state version written by the uncommitted batch replayed
    # on restart? No — the engine handles that itself; the test's job is
    # only to create the torn checkpoint.
    q = _drain(spark, dirs)
    # the replayed batch really ran (progress reports the replayed id)...
    replayed = [p["batchId"] for p in q.recentProgress]
    assert int(last) in replayed
    # ...and the sink is unchanged: same match set, exactly one physical row
    assert _sink(spark, dirs["out"]) == _INNER_A
    assert len(spark.read.parquet(dirs["out"]).collect()) == 1

    # a later batch still folds cleanly on top of the healed checkpoint
    _write(spark, _CLICKS_B, CLICK_DDL, dirs["clicks"])
    _write(spark, _PURCHASES_B, PURCHASE_DDL, dirs["purchases"])
    _drain(spark, dirs)
    assert _sink(spark, dirs["out"]) == _INNER_A | {(4, 103, 500)}

    shutil.rmtree(dirs["out"])  # keep tmp_path small for slow CI disks


def test_batch_plan_is_equi_join_no_python(spark):
    df = purchase_attribution(
        spark.createDataFrame(_CLICKS_A, CLICK_DDL),
        spark.createDataFrame(_PURCHASES_A, PURCHASE_DDL),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_validation_guards(spark, tmp_path):
    c = spark.createDataFrame(_CLICKS_A, CLICK_DDL)
    p = spark.createDataFrame(_PURCHASES_A, PURCHASE_DDL)
    with pytest.raises(ValueError, match="join_type"):
        purchase_attribution(c, p, join_type="fullOuter")
    src = str(tmp_path / "cs")
    _write(spark, _CLICKS_A, CLICK_DDL, src)
    cs = spark.readStream.schema(CLICK_DDL).parquet(src)
    with pytest.raises(ValueError, match="two streams"):
        purchase_attribution(cs, p)
