"""Aggregation operators (SURVEY §2.4, A1-A18).

The reference's rollups have exact guard semantics we reproduce verbatim:
- AVG over rows where the input > 0 (A3/A7/A8: job_monitor_service.cpp
  :540-606) → ``avg(when(x > 0, x))`` (nulls excluded by AVG).
- divide-by-zero guards on every derived ratio (A11:
  job_monitoring_models.cpp:160-209) → ``when(den > 0, num/den).otherwise(0)``.
- composite efficiency score = mean of up to 4 clamped terms, each included
  only if its input > 0 (A13: job_monitoring_models.cpp:285-319).

All single-pass groupBy/agg: map-side partial aggregation makes these
shuffle only one pre-aggregated row per (group, partition) — the pattern
that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def count_by(df: DataFrame, *cols: str) -> DataFrame:
    """A1/A2 — counts per group in a single pass (replaces the reference's
    4 sequential scans, request_handler.cpp:1526-1548)."""
    return df.groupBy(*cols).agg(F.count(F.lit(1)).alias("cnt"))


def avg_positive(c: Column) -> Column:
    """A7/A8 — mean over rows where the metric > 0
    (job_monitor_service.cpp:540-572), 6dp. Computed as a 9dp-integer-
    grid sum (functions.scalars.grid_mean) rather than a raw AVG so the
    result is accumulation-order-independent across engines."""
    from rclabsapi_spark.functions.scalars import grid_mean

    return grid_mean(F.when(c > 0, c))


def sum_l(c: Column) -> Column:
    """SUM with a stable long type for count-like metrics."""
    return F.sum(c).cast("long")


def metric_rollup(df: DataFrame, *, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """A3 — aggregateMetrics (job_monitor_service.cpp:1292-1385), mapped
    onto the fixture metric columns. SUM of volume counters, MAX of peaks,
    AVG of rates where > 0, then derived post-agg expressions with the
    reference's divide-by-zero guards.

    Expects columns: records_processed, records_successful, records_failed,
    bytes_processed, execution_time_ms, batches, rate, peak_memory, peak_cpu.
    """
    aggs = [
        sum_l(F.col("records_processed")).alias("sum_records_processed"),
        sum_l(F.col("records_successful")).alias("sum_records_successful"),
        sum_l(F.col("records_failed")).alias("sum_records_failed"),
        sum_l(F.col("bytes_processed")).alias("sum_bytes_processed"),
        sum_l(F.col("execution_time_ms")).alias("sum_execution_time_ms"),
        sum_l(F.col("batches")).alias("sum_batches"),
        F.max(F.col("peak_memory")).alias("max_peak_memory"),
        F.max(F.col("peak_cpu")).alias("max_peak_cpu"),
        avg_positive(F.col("rate")).alias("avg_rate_positive"),
    ]
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
    out = grouped.agg(*aggs)
    sec = F.col("sum_execution_time_ms") / 1000.0
    return (
        out.withColumn(
            "avg_batch_size",
            F.when(
                F.col("sum_batches") > 0,
                F.col("sum_records_processed") / F.col("sum_batches"),
            ).otherwise(0.0),
        )
        .withColumn(
            "processing_rate",
            F.when(sec > 0, F.col("sum_records_processed") / sec).otherwise(0.0),
        )
        .withColumn(
            "error_rate",
            F.when(
                F.col("sum_records_processed") > 0,
                100.0 * F.col("sum_records_failed") / F.col("sum_records_processed"),
            ).otherwise(0.0),
        )
        .withColumn(
            "throughput_mbps",
            F.when(
                sec > 0, (F.col("sum_bytes_processed") / F.lit(1048576.0)) / sec
            ).otherwise(0.0),
        )
    )


def efficiency_score(
    rate: Column,
    error_rate: Column,
    mem_eff: Column,
    cpu_eff: Column,
    records_processed: Column,
) -> Column:
    """A13 — mean of up to 4 clamped terms (job_monitoring_models.cpp
    :285-319). Rate/mem/cpu terms gate on their own value > 0; the error
    term gates on ``recordsProcessed > 0`` — a job that processed records
    with zero failures contributes a perfect 1.0 error term."""
    terms = [
        F.when(rate > 0, F.least(F.lit(1.0), rate / 1000.0)),
        F.when(records_processed > 0, (F.lit(100.0) - error_rate) / 100.0),
        F.when(mem_eff > 0, F.least(F.lit(1.0), mem_eff / 1000.0)),
        F.when(cpu_eff > 0, F.least(F.lit(1.0), cpu_eff / 100.0)),
    ]
    arr = F.array(*terms)
    present = F.filter(arr, lambda x: x.isNotNull())
    n = F.size(present)
    total = F.aggregate(present, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(n > 0, total / n).otherwise(F.lit(0.0))


def table_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Column-level data profile in ONE global aggregate: per column the
    row count, null count, distinct count, and (for numeric columns)
    min/max. The output is |cols| rows — the table-stats audit a
    warehouse runs before trusting a new feed (the engine-side analog of
    the reference's schema CHECK constraints, schema.sql:1-80, which
    validate per-row but never summarize).

    All statistics compute in a single pass with no fact shuffle: one
    global aggregate (multi-column distinct counts expand map-side),
    then a driver-trivial unpivot of the 1-row result. At 100 TB the
    scan is the cost floor; everything else is O(cols)."""
    cols = cols or df.columns
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName()
        in ("integer", "long", "double", "float", "short", "decimal")
    }
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__null_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"__dist_{c}"))
        if c in numeric:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__min_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__max_{c}"))
    one = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__n_rows").cast("long").alias("n_rows"),
            F.col(f"__null_{c}").cast("long").alias("n_null"),
            F.col(f"__dist_{c}").cast("long").alias("n_distinct"),
            (
                F.col(f"__min_{c}")
                if c in numeric
                else F.lit(None).cast("double")
            ).alias("min_num"),
            (
                F.col(f"__max_{c}")
                if c in numeric
                else F.lit(None).cast("double")
            ).alias("max_num"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")
