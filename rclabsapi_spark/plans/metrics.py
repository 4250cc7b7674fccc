"""Metrics plans — per-row derived indicators + multi-job rollups
(SURVEY A3-A14, §7.2 phase 3).

``derived_indicators`` reproduces updatePerformanceIndicators
(job_monitoring_models.cpp:160-209) as pure Column expressions with the
reference's divide-by-zero guards; ``benchmarks`` reproduces the min/max
best/worst scan (job_monitor_service.cpp:608-665).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rclabsapi_spark.operators.aggregates import efficiency_score


def derived_indicators(
    df: DataFrame,
    *,
    records_col: str = "records_processed",
    failed_col: str = "records_failed",
    ms_col: str = "execution_time_ms",
    bytes_col: str = "bytes_processed",
    mem_col: str = "memory_usage",
    cpu_col: str = "cpu_usage",
) -> DataFrame:
    """A11 — per-row processingRate / errorRate / throughputMBps /
    memoryEfficiency / cpuEfficiency with guards."""
    rec = F.col(records_col)
    sec = F.col(ms_col) / 1000.0
    out = (
        df.withColumn("processing_rate", F.when(sec > 0, rec / sec).otherwise(0.0))
        .withColumn(
            "error_rate",
            F.when(rec > 0, 100.0 * F.col(failed_col) / rec).otherwise(0.0),
        )
        .withColumn(
            "throughput_mbps",
            F.when(sec > 0, (F.col(bytes_col) / F.lit(1048576.0)) / sec).otherwise(0.0),
        )
        .withColumn(
            "memory_efficiency",
            F.when(F.col(mem_col) > 0, rec / (F.col(mem_col) / F.lit(1048576.0))).otherwise(0.0),
        )
        .withColumn(
            "cpu_efficiency",
            F.when(F.col(cpu_col) > 0, rec / F.col(cpu_col)).otherwise(0.0),
        )
    )
    return out.withColumn(
        "efficiency_score",
        efficiency_score(
            F.col("processing_rate"),
            F.col("error_rate"),
            F.col("memory_efficiency"),
            F.col("cpu_efficiency"),
            rec,
        ),
    )


def benchmarks(df: DataFrame) -> DataFrame:
    """A9 — per-column worst (min) and best (max) of rate (>0 only),
    error rate (inverted: min is best), memory/cpu efficiency over the
    whole input, one row (job_monitor_service.cpp:608-665)."""
    rate_pos = F.when(F.col("processing_rate") > 0, F.col("processing_rate"))
    aggs = [
        F.min(rate_pos).alias("worst_rate"),
        F.max(rate_pos).alias("best_rate"),
        F.max(F.col("error_rate")).alias("worst_error_rate"),
        F.min(F.col("error_rate")).alias("best_error_rate"),
        F.min(F.col("memory_efficiency")).alias("worst_memory_efficiency"),
        F.max(F.col("memory_efficiency")).alias("best_memory_efficiency"),
        F.min(F.col("cpu_efficiency")).alias("worst_cpu_efficiency"),
        F.max(F.col("cpu_efficiency")).alias("best_cpu_efficiency"),
    ]
    return df.groupBy().agg(*aggs)


def performing_well(
    df: DataFrame,
    baseline_rate: float,
    baseline_error: float,
    baseline_mem: float,
    baseline_cpu: float,
) -> DataFrame:
    """A14 — isPerformingWell vs baseline, each term included only when its
    baseline > 0 (job_monitoring_models.cpp:321-352)."""
    conds = F.lit(True)
    if baseline_rate > 0:
        conds = conds & (F.col("processing_rate") >= 0.8 * baseline_rate)
    if baseline_error > 0:
        conds = conds & (F.col("error_rate") <= 1.2 * baseline_error)
    if baseline_mem > 0:
        conds = conds & (F.col("memory_efficiency") >= 0.8 * baseline_mem)
    if baseline_cpu > 0:
        conds = conds & (F.col("cpu_efficiency") >= 0.8 * baseline_cpu)
    return df.withColumn("performing_well", conds)
