"""Streaming sessionization — gap-based session windows on a live stream.

The batch engine's gaps-and-islands sessionization (`w_sessionization`,
oracle-verified) needs a full per-key sort; a stream cannot sort an
unbounded key history. Spark's native ``session_window`` is the
streaming-capable formulation: each event opens/extends a [ts, ts+gap)
window, overlapping windows merge in the state store, and the watermark
finalizes + expires sessions once no in-gap event can still arrive —
bounded state, the reference's keep-recent-state cleanup discipline.

Boundary note: ``session_window`` starts a new session when the gap is
≥ the timeout (windows merge only on strict overlap), while the
gaps-and-islands SQL splits on gap > timeout — events spaced EXACTLY one
timeout apart land differently. The live test pins batch-native ≡
stream-native equality and conservation of total events vs the
oracle-verified batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_agg(events: DataFrame, *, gap: str = "30 minutes") -> DataFrame:
    """Per-(key, session) aggregates via native session windows. Works
    identically on batch and streaming DataFrames (the streaming side
    adds a watermark first — see ``sessionize_stream``)."""
    return (
        events.groupBy(
            F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming sessionization: watermarked session-window aggregation.
    State per open session only; sessions emit (append mode) when the
    watermark passes their end."""
    return session_agg(events.withWatermark("ts", "1 hour"))
