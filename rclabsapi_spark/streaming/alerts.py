"""ST6/ST7 — threshold alerting and progress-update throttling.

ST6 (system_metrics.hpp:43-54; notification triggers job_monitor_service
.cpp:876-897, thresholds config.json:108-117): a stateless filter over the
metric stream emitting alert rows — identical in batch and streaming.

ST7 (progress throttling) lives in ``streaming.stateful.throttle_progress``
(applyInPandasWithState, exact last-EMITTED semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def threshold_alerts(
    metrics: DataFrame,
    *,
    warn_at: float = 180.0,
    critical_at: float = 195.0,
) -> DataFrame:
    """ST6 — stateless threshold filter; works on batch or stream."""
    v = F.col("value")
    return metrics.filter(v > warn_at).withColumn(
        "severity", F.when(v > critical_at, "critical").otherwise("warning")
    ).withColumn("alert_type", F.lit("RESOURCE_ALERT"))
