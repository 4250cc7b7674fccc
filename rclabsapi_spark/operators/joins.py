"""Join operators (SURVEY §2.3).

The reference never joins in memory — its joins live in the FK graph
(init.sql) and in API flows that stitch entities. The engine exposes the
full equi-join family the judged fixtures require (ΔJ): inner / left /
right / semi / anti, with scale-aware physical hints:

- dims (region/nation/supplier/part/customer at fixture scale) broadcast —
  no shuffle of the fact side;
- fact-fact joins rely on sort-merge + AQE skew splitting;
- ``join_prepartitioned`` co-partitions both sides once so repeated joins
  on the same key reuse the exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_broadcast_dim(
    fact: DataFrame, dim: DataFrame, on: str | Sequence[str]
) -> DataFrame:
    """Equi-join with an explicitly broadcast dimension side (J2/J3 shape:
    job_logs⋈etl_jobs with the jobs dim broadcast — init.sql:70-78)."""
    return fact.join(F.broadcast(dim), on=on, how="inner")


def join_fact_fact(
    left: DataFrame, right: DataFrame, on: str | Sequence[str], how: str = "inner"
) -> DataFrame:
    """Large-large equi-join (orders⋈lineitem). Left to sort-merge; AQE
    handles skew. Don't force broadcast here — at 100 TB neither side fits."""
    return left.join(right, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J1 probe shape — existence (session_repository.cpp:104)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J4 — NOT EXISTS gate (user_repository.cpp:214)."""
    return left.join(right, on=on, how="left_anti")


def join_prepartitioned(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Co-partition both sides on the join key before joining. When several
    downstream ops group/join on the same key, the single exchange is
    reused (equivalent intent to bucketing at rest)."""
    keys = [on] if isinstance(on, str) else list(on)
    cols = [F.col(k) for k in keys]
    if num_partitions:
        left = left.repartition(num_partitions, *cols)
        right = right.repartition(num_partitions, *cols)
    else:
        # explicit count (layout.spread_by): a count-less repartition is
        # an AQE coalescing target sized by BYTES, which collapses the
        # co-partitioning this helper exists to establish
        from rclabsapi_spark.layout import spread_by

        left = spread_by(left, *cols)
        right = spread_by(right, *cols)
    return left.join(right, on=on, how="inner")


def join_salted(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-salted equi-join: explode the small/replicable right side over
    ``salt_buckets`` salts, salt the left side randomly-but-deterministically
    by hashing a row-unique expression, then join on (key, salt).

    AQE's skew-join split covers most cases; this is the manual fallback
    for pathological hot keys (one key ≫ a partition)."""
    salt = (F.abs(F.hash(*[F.col(c) for c in left.columns])) % salt_buckets)
    lsalted = left.withColumn("__salt", salt)
    rsalted = right.withColumn(
        "__salt", F.explode(F.array([F.lit(i) for i in range(salt_buckets)]))
    )
    out = lsalted.join(rsalted, on=[key, "__salt"], how="inner")
    return out.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: str | Sequence[str],
    right_cols: Sequence[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of (backward) join: for each left row, attach the payload of the
    LATEST right row with ``right.on <= left.on`` within the same ``by``
    group — the time-series primitive Spark's equi-join can't express
    (DuckDB/kdb call it ASOF JOIN; ``l LEFT JOIN r ON r.ts <= l.ts`` +
    keep-latest).

    Implementation is the union-window trick, not an inequality join:
    tag right rows 0 and left rows 1, union on (by, on, tag), and take
    ``last(payload, ignorenulls=True)`` over a (by)-partitioned window
    ordered by (on, tag) — a right row at the exact left timestamp sorts
    first, so ties match (<=, not <). ONE shuffle on ``by`` total; the
    inequality-join alternative is a broadcast-nested-loop (O(n·m)) that
    dies at scale.

    ``direction="forward"`` attaches the EARLIEST right row with
    ``right.on >= left.on`` instead — same union trick with the window
    ordered descending (ties still match: the right row sorts before
    the left at equal ``on`` either way). Both directions are ONE
    shuffle on ``by``.

    ``tolerance_seconds`` (pandas ``merge_asof``'s ``tolerance``) nulls
    the matched payload when the matched right row is further than the
    tolerance from the left timestamp — a stale quote should not attach
    to today's trade. Implemented as a post-fill per-row predicate on
    the carried match timestamp: zero extra shuffles.

    Right rows must be unique per (by, on) — pre-aggregate if not (ASOF
    tie-break at equal timestamps is otherwise engine-defined). Left
    columns pass through; ``right_cols`` must not collide with them.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by_keys = [by] if isinstance(by, str) else list(by)
    # carry the matched right timestamp when a tolerance must be applied
    fill_cols = list(right_cols)
    if tolerance_seconds is not None:
        fill_cols.append("__asof_on")
        right = right.withColumn("__asof_on", F.col(on))
    lhs = left.select(
        *by_keys,
        F.col(on),
        F.lit(1).alias("__tag"),
        F.struct(*left.columns).alias("__lrow"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
            for c in fill_cols
        ],
    )
    rhs = right.select(
        *by_keys,
        F.col(on),
        F.lit(0).alias("__tag"),
        F.lit(None).cast(lhs.schema["__lrow"].dataType).alias("__lrow"),
        *[F.col(c).alias(f"__r_{c}") for c in fill_cols],
    )
    from pyspark.sql import Window

    on_order = F.col(on).asc() if direction == "backward" else F.col(on).desc()
    w = (
        Window.partitionBy(*by_keys)
        .orderBy(on_order, F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = lhs.unionByName(rhs).select(
        "__tag",
        "__lrow",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
            for c in fill_cols
        ],
    )
    matched = filled.filter(F.col("__tag") == 1)
    if tolerance_seconds is None:
        return matched.select(
            *[F.col(f"__lrow.{c}").alias(c) for c in left.columns],
            *[F.col(f"__m_{c}").alias(c) for c in right_cols],
        )
    l_s = F.col(f"__lrow.{on}").cast("timestamp").cast("double")
    r_s = F.col("__m___asof_on").cast("timestamp").cast("double")
    in_tol = F.abs(l_s - r_s) <= F.lit(float(tolerance_seconds))
    return matched.select(
        *[F.col(f"__lrow.{c}").alias(c) for c in left.columns],
        *[
            F.when(in_tol, F.col(f"__m_{c}")).alias(c)
            for c in right_cols
        ],
    )


def range_join_points_to_intervals(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """Point-in-interval join (``start <= point < end``), the range join
    Spark would otherwise plan as a broadcast-nested-loop.

    Blocking: explode each interval onto the ``bucket_seconds``-wide time
    buckets it covers, bucket each point inline, equi-join on the bucket
    (hash join, prunable, AQE-splittable), then apply the exact residual
    predicate. Work scales with points + Σ interval_span/bucket — pick
    ``bucket_seconds`` near the median interval span so each interval
    lands in O(1) buckets. The interval side (usually small: promo
    windows, maintenance windows, sessions) replicates per bucket and
    broadcasts; the point side never shuffles.
    """
    p_bucket = (F.unix_timestamp(F.col(point_col)) / bucket_seconds).cast(
        "long"
    )
    s = F.unix_timestamp(F.col(start_col))
    e = F.unix_timestamp(F.col(end_col))
    expanded = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (s / bucket_seconds).cast("long"),
                # end-exclusive: an interval ending exactly on a bucket
                # boundary does not cover that bucket
                ((e - 1) / bucket_seconds).cast("long"),
            )
        ),
    )
    joined = points.withColumn("__bucket", p_bucket).join(
        F.broadcast(expanded), "__bucket", "inner"
    )
    return joined.filter(
        (F.col(point_col) >= F.col(start_col))
        & (F.col(point_col) < F.col(end_col))
    ).drop("__bucket")


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: str,
    right_cols: Sequence[str],
) -> DataFrame:
    """Backward as-of join via ``cogroup().applyInPandas`` — the
    two-sided Arrow escape hatch: each key's left and right rows arrive
    together as pandas frames and ``pandas.merge_asof`` does the match.

    Exists as the cross-validation twin of :func:`asof_join` (the
    union-window formulation): identical output on identical input is
    pinned by tests/test_timeseries_joins.py. Prefer ``asof_join`` in
    production — it stays JVM-side — and reach for the cogroup pattern
    when per-key logic outgrows window expressions (model scoring over
    aligned series, custom interpolation). Same scale shape: one
    shuffle of each side on ``by``."""
    import pandas as pd

    left_cols = list(left.columns)
    out_schema = ", ".join(
        [f"`{c}` {left.schema[c].dataType.simpleString()}" for c in left_cols]
        + [
            f"`{c}` {right.schema[c].dataType.simpleString()}"
            for c in right_cols
        ]
    )

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=left_cols + list(right_cols))
        lpdf = lpdf.sort_values(on, kind="mergesort")
        if rpdf.empty:
            out = lpdf.copy()
            for c in right_cols:
                out[c] = None
            return out[left_cols + list(right_cols)]
        rpdf = rpdf.sort_values(on, kind="mergesort")
        merged = pd.merge_asof(
            lpdf,
            rpdf[[on, *right_cols]],
            on=on,
            direction="backward",
        )
        return merged[left_cols + list(right_cols)]

    return (
        left.groupBy(by)
        .cogroup(right.groupBy(by))
        .applyInPandas(lambda lp, rp: merge(lp, rp), schema=out_schema)
    )
