"""Watermarked stream-stream join — the sixth Structured-Streaming idiom
in the package, next to the foreachBatch fold (ingest.py), watermarked
windows (windows.py), applyInPandasWithState sessions (sessions.py),
dropDuplicatesWithinWatermark (dedup.py), and the probe service's
mapInArrow over a broadcast snapshot index (probe.py).

The demo correlation: attribute each purchase to the same user's click at
most `horizon` earlier — two live event streams joined on user_id with a
time-range bound. The same shape correlates a record-ingest stream with a
match-result stream, or probe requests with probe answers.

Semantics contract (what the tests pin):

* INNER join on a batch pair and on the streaming pair produce the SAME
  row set once both streams drain, for rows inside the watermark —
  Structured Streaming's exactness promise for watermarked stream-stream
  joins. State is symmetric: each side buffers its rows until the other
  side's watermark proves no future match can arrive.

* Rows can match ACROSS micro-batches and across query restarts: the
  buffered side lives in the state store under the checkpoint, so a
  purchase arriving a restart later still finds its click.

* LEFT OUTER emits the null-padded row for an unmatched click exactly
  once, only after the watermark passes the end of its match window
  (click_ts + horizon) — never speculatively. Until the watermark
  advances that far the row is withheld, not dropped.

At 100 TB this is the canonical shape for joining two unbounded inputs:
state per side is bounded by (watermark delay + horizon) x input rate,
NOT by history; the exchange is one hash partition on the join key per
side (the same two exchanges the batch join pays); everything is JVM-side
(no Python in the plan). The batch analogue of the time-range condition
is ops/temporal.interval_join's bucket-explode equi-join — streaming
replaces the bucket trick with the symmetric hash join's watermark-driven
state eviction, which is the better deal when both sides are unbounded.

Reference anchor: extends hexhamming's one-shot pair predicates
(reference/src/python_bindings.cpp check_hexstrings_within_dist) to
continuous correlation of two live feeds; no analogue exists in the
reference — this is the Spark-native generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# TIMESTAMP (not NTZ) for the same reason windows.py documents: event-time
# watermarks require instant-semantics timestamps.
CLICK_DDL = "click_id long, click_ts timestamp, user_id long, page string"
PURCHASE_DDL = (
    "purchase_id long, purchase_ts timestamp, user_id long, amount_cents long"
)

_JOIN_TYPES = ("inner", "leftOuter")


def purchase_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark_delay: str = "30 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """Join purchases to the same user's clicks at most `horizon` earlier.

    Works identically on batch or streaming inputs; the streaming variant
    watermarks BOTH sides (required for state cleanup and for outer-join
    null emission) and joins with the time-range condition that lets the
    engine evict state:

        purchase_ts in [click_ts, click_ts + horizon]

    `amount_cents` is an exact long so stream-vs-batch equality is
    byte-exact (see the event_sessions integer-cents lesson).

    leftOuter keeps every click; unmatched clicks carry null purchase
    columns. (rightOuter/fullOuter are symmetric in Spark; the demo pins
    the left form.)
    """
    if join_type not in _JOIN_TYPES:
        raise ValueError(f"join_type must be one of {_JOIN_TYPES} (got {join_type!r})")
    lhs, rhs = clicks, purchases
    if lhs.isStreaming or rhs.isStreaming:
        if not (lhs.isStreaming and rhs.isStreaming):
            raise ValueError(
                "purchase_attribution joins two streams or two batch frames; "
                "for stream-vs-static use Spark's stateless stream-static join"
            )
        lhs = lhs.withWatermark("click_ts", watermark_delay)
        rhs = rhs.withWatermark("purchase_ts", watermark_delay)
    cond = (
        (lhs["user_id"] == rhs["user_id"])
        & (rhs["purchase_ts"] >= lhs["click_ts"])
        & (rhs["purchase_ts"] <= lhs["click_ts"] + F.expr(f"interval {horizon}"))
    )
    joined = lhs.join(rhs, cond, join_type)
    return joined.select(
        lhs["click_id"],
        lhs["click_ts"],
        lhs["user_id"],
        lhs["page"],
        rhs["purchase_id"],
        rhs["purchase_ts"],
        rhs["amount_cents"],
    )


def stream_attribution_to_parquet(
    spark,
    clicks_dir: str,
    purchases_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    horizon: str = "1 hour",
    watermark_delay: str = "30 minutes",
    join_type: str = "inner",
    available_now: bool = True,
):
    """readStream both parquet drop-dirs → watermarked stream-stream join →
    append-mode parquet sink. Returns the StreamingQuery (caller awaits).

    Append is the only output mode stream-stream joins support; emitted
    rows are immutable facts, so re-draining after new files arrive
    appends only new matches (or newly-expired outer rows) — idempotent
    downstream consumption, same property windows.py pins.
    """
    clicks = spark.readStream.schema(CLICK_DDL).parquet(clicks_dir)
    purchases = spark.readStream.schema(PURCHASE_DDL).parquet(purchases_dir)
    out = purchase_attribution(
        clicks, purchases, horizon, watermark_delay, join_type
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
