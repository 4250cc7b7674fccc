"""Stream-stream joins: correlate two live event streams within an
event-time interval — Structured Streaming's watermark-bounded join,
where BOTH sides buffer state and the time-range predicate lets the
engine expire it.

The reference correlates click/conversion-style event pairs driver-side
over its in-memory recent-events buffer (message_broadcaster.cpp keeps
per-connection recent state); the engine version is declarative: the
join condition's event-time bounds tell Spark exactly how long each
side's rows can matter, so state is bounded by (watermark + interval),
not by stream length.

Scale: state per key is O(events inside the interval window); the join
itself shuffles both streams on the equi-key. Without the time bounds
Spark rejects the plan (unbounded state) — the bounds ARE the operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_clicks_to_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    max_lag: str = "30 minutes",
) -> DataFrame:
    """Join each purchase to the clicks that PRECEDED it by at most
    ``max_lag`` for the same key: the attribution-candidate join, as a
    stream-stream operator. Works identically on batch DataFrames (the
    parity tests exploit this).

    Both sides are watermarked; the join predicate's two-sided bound
    (click ≤ purchase ≤ click + lag) gives the engine the state-expiry
    guarantee."""
    c = (
        clicks.withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        [
            c["user_id"] == p["user_id"],
            c["click_ts"] <= p["purchase_ts"],
            p["purchase_ts"]
            <= c["click_ts"] + F.expr(f"INTERVAL {max_lag}"),
        ],
        "inner",
    ).select(
        c["user_id"],
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )
