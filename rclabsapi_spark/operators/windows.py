"""Window-shaped operators (SURVEY §2.5, W1-W5 + ST7's lag compare).

The reference keeps these as imperative running state (running peaks,
ring buffers, EWMA); the engine expresses them as SQL window functions so
they parallelize per partition key. ``partitionBy`` on the entity key means
no global sort — each key's window evaluates inside one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from rclabsapi_spark.functions.scalars import round_half_up


def entity_window(key: str, order: str | Column, *extra_order: str | Column) -> WindowSpec:
    return Window.partitionBy(key).orderBy(order, *extra_order)


def running_peak(df: DataFrame, key: str, order: str, metric: str, out: str) -> DataFrame:
    """W1 — running max per entity (job_monitoring_models.cpp:202-208)."""
    w = entity_window(key, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out, F.max(metric).over(w))


def keep_last_n(df: DataFrame, key: str, order_desc: str, n: int, *tiebreak: str) -> DataFrame:
    """W3/W4 — ring-buffer retention: last N rows per entity
    (job_monitor_service.hpp:156-166). The row_number plan shuffles once on
    the key, then each partition sorts locally — no global sort."""
    w = Window.partitionBy(key).orderBy(
        F.col(order_desc).desc(), *[F.col(t).desc() for t in tiebreak]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def ewma_per_key(
    df: DataFrame,
    key: str,
    ts: str,
    tiebreak: str,
    value: str,
    alpha: float = 0.1,
) -> DataFrame:
    """W5/A15 — exponential moving average, α=0.1
    (performance_monitor.hpp:378-392): y_i = α·x_i + (1−α)·y_{i−1}, seeded
    with the first observation.

    A sequential fold can't be a plain window expression; we collect each
    key's ordered series and fold it with ``aggregate`` — still fully
    distributed across keys. The per-key series is the reference's own
    in-memory ring buffer, and the reference caps it (W4: 1000 rows per
    job, job_monitor_service.hpp:156-166), and so does this fold, so the
    collect_list state is bounded by contract, not by assumption — only
    the most recent 1000 observations enter the fold (seeding from the
    oldest retained one). For truly
    unbounded live streams use ``streaming.stateful.ewma_stream``, which
    keeps one scalar per key instead of a series. Returns one row per
    key with the final EWMA.
    """
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col(ts).alias("t"), F.col(tiebreak).alias("k"), F.col(value).alias("v")))
    )
    recent = F.slice(
        ordered,
        F.greatest(F.size(ordered) - F.lit(999), F.lit(1)),
        1000,
    )
    vals = F.transform(recent, lambda s: s["v"])
    ew = F.aggregate(
        F.slice(vals, 2, 1_000_000_000),
        F.element_at(vals, 1).cast("double"),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return df.groupBy(key).agg(ew.alias("ewma"))


def delta_vs_previous(
    df: DataFrame, key: str, ts: str, tiebreak: str, value: str, out: str = "delta"
) -> DataFrame:
    """ST7 helper — change vs previous row per entity (lag compare,
    job_monitor_service.hpp:167-168)."""
    w = entity_window(key, ts, tiebreak)
    return df.withColumn(out, F.col(value) - F.lag(value).over(w))


def ew_stats_per_key(
    df: DataFrame,
    key: str,
    ts: str,
    tiebreak: str,
    value: str,
    alpha: float = 0.1,
) -> DataFrame:
    """EWMA + exponentially-weighted VARIANCE per key (West 1979 update:
    μ_i = μ_{i−1} + α·δ, σ²_i = (1−α)(σ²_{i−1} + α·δ²), δ = x_i −
    μ_{i−1}) — the pair that turns the reference's smoothed mean
    (performance_monitor.hpp:378-392) into an ADAPTIVE alert band:
    flag when |x − ewma| > k·ewstd instead of a hand-tuned absolute
    threshold (ST6's fixed limits).

    Same shape as ewma_per_key: ordered per-key series (bounded by the
    reference's own 1000-row ring-buffer cap), one struct-state
    fold per key, fully distributed across keys. Returns one row per
    key with (ewma, ewvar, ewstd)."""
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts).alias("t"),
                F.col(tiebreak).alias("k"),
                F.col(value).alias("v"),
            )
        )
    )
    recent = F.slice(
        ordered,
        F.greatest(F.size(ordered) - F.lit(999), F.lit(1)),
        F.lit(1000),
    )
    a = F.lit(float(alpha))
    init = F.struct(
        F.element_at(recent, 1)["v"].cast("double").alias("mu"),
        F.lit(0.0).alias("var"),
    )
    folded = F.aggregate(
        F.slice(recent, 2, F.greatest(F.size(recent) - 1, F.lit(0))),
        init,
        lambda acc, x: F.struct(
            (acc["mu"] + a * (x["v"].cast("double") - acc["mu"])).alias("mu"),
            (
                (F.lit(1.0) - a)
                * (
                    acc["var"]
                    + a
                    * (x["v"].cast("double") - acc["mu"])
                    * (x["v"].cast("double") - acc["mu"])
                )
            ).alias("var"),
        ),
    )
    # round_half_up: the fold is deterministic ordered arithmetic, so the
    # inputs are bit-identical across engines and shortest-repr F.round
    # would diverge from the oracle exactly at representable ties.
    return df.groupBy(key).agg(
        round_half_up(folded["mu"], 6).alias("ewma"),
        round_half_up(folded["var"], 6).alias("ewvar"),
        round_half_up(F.sqrt(folded["var"]), 6).alias("ewstd"),
    )
