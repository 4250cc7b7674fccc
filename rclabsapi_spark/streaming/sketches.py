"""Streaming sketch maintenance: the Count-Min counter table as a live
aggregate. The sketch's merge IS addition, so the streaming version is
just the same (seed, bucket) groupBy in complete mode — no custom state
machine needed, and the stream-built table is bit-identical to the
batch-built one over the same events (tests/test_streaming.py pins the
parity). The reference keeps its monitoring counters hot the same way
(system_metrics.hpp gauges updated per event)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rclabsapi_spark.operators.approx import cms_buckets


def cms_sketch_stream(events: DataFrame, *, item_col: str) -> DataFrame:
    """Maintain the 4 × 16² Count-Min counter table over a
    stream: per micro-batch the (seed, bucket) counts fold into the
    running aggregate (complete/update mode). State is the fixed-size
    counter table itself — independent of stream length."""
    item = F.col(item_col)
    pts = events.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("seed"), b.alias("bucket"))
                    for j, b in enumerate(cms_buckets(item))
                ]
            )
        ).alias("sb")
    ).select("sb.seed", "sb.bucket")
    return pts.groupBy("seed", "bucket").agg(F.count(F.lit(1)).alias("c"))
