"""Scalable exact global ranks: percentile-threshold two-phase
row_number / ntile / percent_rank without a full-data single-partition
sort.

``Window.orderBy(...)`` with no partition keys plans
``Exchange SinglePartition`` — the entire relation funnels through one
task, which is an OOM at 100 TB no matter how correct the answer is.
This module is the documented scale path for the global-rank family
(quantile transform, ntile segmentation, equi-depth histograms, Gini /
Zipf rank prefixes, ring shuffles):

1. **Percentile thresholds, frozen driver-side.** ``approxQuantile``
   computes ~B cut points of a numeric *bucket key* that is monotone
   non-decreasing in the rank order; they are embedded as literals, so
   the bucket id is a pure deterministic function of the row — stable
   across branches, re-executions, and AQE re-planning. (The obvious
   alternative — ``repartitionByRange`` + ``spark_partition_id()`` —
   is NOT safe: AQE may coalesce the shuffle differently in the
   row-number branch and the bucket-size branch, silently mislabeling
   partitions and corrupting offsets.) Cut accuracy only affects bucket
   BALANCE, never correctness: any monotone bucketing yields identical
   final ranks.
2. A per-bucket ``row_number`` over the full order — a parallel hash
   exchange on the bucket id.
3. Per-bucket row counts → prefix-sum offsets. This relation has at
   most B rows (B = a config constant, NOT a function of data size),
   so its cumulative window is a bounded single-partition exchange —
   the same reviewed category as the 1-row global-aggregate broadcasts
   in the BNLJ whitelist.
4. Broadcast-join the ≤B-row offset table back; the global row number
   is ``offset + local row number``. Exact, deterministic, and
   identical to the naive global window when the total order is unique
   (callers pass a unique tie-break key, per the fleet float rules).

``ntile`` and ``percent_rank`` derive arithmetically from
(row_number, total count) with SQL-standard semantics (first ``N mod b``
ntile buckets take the extra row; percent_rank = (rn−1)/(N−1)), so both
engines compute bit-identical doubles from exact integers.

Contract: the first order column (or the explicit ``bucket_key``) must
be numeric, null-free, and ascending; for a descending numeric order
pass ``bucket_key=-col``, for a fixed-length lowercase-hex string order
pass ``bucket_key=conv(substring(h, 1, 13), 16, 10)`` (13 hex digits =
52 bits, exact in a double, lexicographic ≡ numeric for fixed-length
hex).

Reference parity: extends A16's percentile contract
(performance_monitor.hpp:239-255) from per-metric percentiles to
global/grouped rank statistics at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.functions.scalars import sql_double

_BKT = "__rank_bkt"
_KEY = "__rank_key"
_LRN = "__rank_lrn"
_OFF = "__rank_off"
_CNT = "__rank_cnt"


def _as_cols(order_by) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def _bucket_cuts(
    df: DataFrame,
    bucket_key: Column,
    n_buckets: int,
    cuts: list[float] | None = None,
) -> list[float]:
    """Driver-frozen quantile cut points for the bucket id (sampled here
    unless the caller precomputed them with one multi-column
    approxQuantile), NaN-dropped and deduped."""
    if cuts is None:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = df.select(
            bucket_key.cast("double").alias("__k")
        ).approxQuantile("__k", probs, 1.0 / (4.0 * n_buckets))
    return sorted({c for c in cuts if c == c})  # drop NaN, dedup


def _bucket_sql(key_col: str, uniq: list[float]) -> Column:
    """Deterministic bucket id (0..B−1): count of cut points strictly
    below the key — the sum-of-CASEs chain over an already-stamped
    double key column. Monotone non-decreasing in the key, so bucket
    boundaries respect the rank order; equal keys always share a
    bucket.

    Built as ONE SQL string (r17): the previous
    ``reduce(add, [F.when(...)])`` construction paid a py4j round trip
    per cut per reference — at the configured B−1 cuts (31 locally,
    thousands on a real cluster where shuffle.partitions is sized for
    the data) the Column-by-Column build dominates DRIVER time the same
    way pq_encode's chains did. The parsed tree is the same codegen
    CASE chain, left-associative, exact double literals
    (``sql_double``, which also writes a ±inf cut from an infinite key)
    — bit-identical bucket ids (and any monotone bucketing yields
    identical final ranks regardless — rank.py module docstring)."""
    if not uniq:
        return F.lit(0)
    chain = " + ".join(
        f"(CASE WHEN `{key_col}` > {sql_double(c)} THEN 1 ELSE 0 END)"
        for c in uniq
    )
    return F.expr(chain)


def _ranked_with_total(
    df: DataFrame,
    order_by,
    out_col: str,
    total_col: str | None,
    bucket_key: Column | None,
    num_buckets: int | None,
    cuts: list[float] | None = None,
) -> DataFrame:
    """Shared two-phase core: appends the global row number as
    ``out_col`` and (when ``total_col`` is set) the total row count —
    read off the same ≤B-row offsets relation, so deriving N costs no
    extra pass over the input."""
    cols = _as_cols(order_by)
    if bucket_key is None:
        bucket_key = cols[0]
    if num_buckets is None:
        num_buckets = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    # Two INDEPENDENT branches, deliberately: r16's optimization pass
    # tried hanging both phases off one shared repartition(_BKT) (both
    # a pinned-width and an AQE-adaptive variant) so the stamped input
    # computes once — and measured it NET-SLOWER at bench scale
    # (a_histogram_equidepth +40% on 4-alternation interleaved minima;
    # rfm −9% to −32%, family total ≈ noise). The duplicate input
    # compute below is a column-pruned scan + codegen CASE chain, and
    # the sizes branch partial-aggregates MAP-SIDE so its exchange
    # carries ≤B rows per task — cheaper than forcing the full relation
    # through a shared shuffle barrier before the count (guide §1.1:
    # the "ideal" single-pass plan lost to the empirical one).
    stamped = (
        df.withColumn(_KEY, bucket_key.cast("double"))
        .withColumn(_BKT, _bucket_sql(_KEY, _bucket_cuts(df, bucket_key, num_buckets, cuts)))
        .drop(_KEY)
    )
    local = stamped.withColumn(
        _LRN, F.row_number().over(Window.partitionBy(_BKT).orderBy(*cols))
    )
    # ≤ num_buckets rows: the cumulative window below is the bounded
    # single-partition exchange documented in the module docstring. The
    # running offset and the grand total share one window sort.
    sizes = stamped.groupBy(_BKT).agg(F.count(F.lit(1)).alias(_CNT))
    w_cum = Window.orderBy(_BKT).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(_BKT).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [
        F.col(_BKT),
        F.coalesce(F.sum(_CNT).over(w_cum), F.lit(0)).alias(_OFF),
    ]
    if total_col is not None:
        off_cols.append(F.sum(_CNT).over(w_all).alias(total_col))
    offsets = sizes.select(*off_cols)
    return (
        local.join(F.broadcast(offsets), _BKT)
        # long, not int: this module is the 100 TB path — a 32-bit rank
        # silently overflows past 2^31-1 rows (ntile/percent_rank
        # re-derive from the long, so only this cast guards the family)
        .withColumn(out_col, (F.col(_OFF) + F.col(_LRN)).cast("long"))
        .drop(_BKT, _LRN, _OFF)
    )


def global_row_number(
    df: DataFrame,
    order_by,
    *,
    out_col: str,
    bucket_key: Column | None = None,
    num_buckets: int | None = None,
) -> DataFrame:
    """Exact global ROW_NUMBER over ``order_by`` (columns or Column
    expressions, ``.desc()`` supported in non-leading positions) via
    the percentile-threshold two-phase plan above. The order must be
    total (include a unique tie-break) for the result to be
    engine-deterministic — same contract as the window it replaces.
    ``bucket_key`` defaults to the first order column and must be
    numeric, null-free, and monotone in the order (see module
    docstring). Appends ``out_col``; preserves all input columns."""
    return _ranked_with_total(
        df, order_by, out_col, None, bucket_key, num_buckets
    )


def global_ntile(
    df: DataFrame,
    order_by,
    n_buckets: int,
    *,
    out_col: str,
) -> DataFrame:
    """Exact global NTILE(``n_buckets``) over ``order_by``: SQL-standard
    bucket sizing (first ``N mod b`` buckets take ⌈N/b⌉ rows, the rest
    ⌊N/b⌋) computed arithmetically from the two-phase row number and
    the total count carried on the offsets relation — integer-exact,
    bit-identical to the window ntile on both engines, no extra pass
    over the input for N."""
    rn_col = f"{out_col}__rn"
    n_col = f"{out_col}__n"
    ranked = _ranked_with_total(df, order_by, rn_col, n_col, None, None)
    return ranked.withColumn(
        out_col, _ntile_bucket(rn_col, n_col, n_buckets)
    ).drop(rn_col, n_col)


def _ntile_bucket(rn_col: str, n_col: str, n_buckets: int) -> Column:
    """SQL-standard NTILE bucket from (row_number, total): first
    ``N mod b`` buckets take ⌈N/b⌉ rows, the rest ⌊N/b⌋ — the exact
    integer arithmetic global_ntile uses, factored so the multi-dim
    chain below computes bit-identical buckets."""
    n = F.col(n_col)
    rn = F.col(rn_col).cast("long")
    q = F.floor(n / n_buckets)  # small-bucket size
    r = n % n_buckets  # number of (q+1)-sized buckets
    big_span = (q + 1) * r  # rows covered by the big buckets
    return (
        F.when(rn <= big_span, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rn - big_span - 1) / q) + 1)
        .cast("int")
    )


def global_ntile_multi(
    df: DataFrame,
    dims: list[tuple[str, list, Column, list[float]]],
    n_buckets: int,
    *,
    num_buckets: int | None = None,
) -> DataFrame:
    """Exact global NTILE over SEVERAL dimensions of ONE relation in a
    single chained pass: ``dims`` is [(out_col, order_by, bucket_key,
    cuts)] with driver-frozen ``cuts`` per dimension (one multi-column
    approxQuantile upstream). Appends every ``out_col``; preserves all
    input columns.

    Physical shape (r17, the rfm_segments rework): every dimension's
    rank STILL needs its own bucket-partitioned window exchange (the
    orders differ, so the exchanges are irreducible), but the old
    per-dimension ``global_ntile`` + equi-join-back spent, on top of
    those, one bucket-size pass AND a key-hash join exchange per
    dimension to reattach the scores. Here all bucket ids are stamped
    up front (pure codegen CASE chains — recompute from the caller's
    cached input is the cheap currency, the measured r16 lesson that
    killed the shared-repartition variant), the spine chains the three
    windows directly, and each dimension's ≤B-row offsets relation
    broadcast-joins onto its bucket id: the key-join exchanges are gone
    and no shared shuffle barrier is introduced. Per-dimension buckets
    are bit-identical to ``global_ntile`` (same cuts, same window
    order, same integer arithmetic)."""
    if num_buckets is None:
        num_buckets = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    stamped = df
    for out_col, order_by, bucket_key, cuts in dims:
        key = f"{_KEY}__{out_col}"
        stamped = (
            stamped.withColumn(key, bucket_key.cast("double"))
            .withColumn(
                f"{_BKT}__{out_col}",
                _bucket_sql(key, _bucket_cuts(df, bucket_key, num_buckets, cuts)),
            )
            .drop(key)
        )
    out = stamped
    for out_col, order_by, bucket_key, cuts in dims:
        bkt = f"{_BKT}__{out_col}"
        rn_col, n_col = f"{out_col}__rn", f"{out_col}__n"
        sizes = stamped.groupBy(bkt).agg(F.count(F.lit(1)).alias(_CNT))
        w_cum = Window.orderBy(bkt).rowsBetween(
            Window.unboundedPreceding, -1
        )
        w_all = Window.orderBy(bkt).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offsets = sizes.select(
            F.col(bkt),
            F.coalesce(F.sum(_CNT).over(w_cum), F.lit(0)).alias(_OFF),
            F.sum(_CNT).over(w_all).alias(n_col),
        )
        lrn = F.row_number().over(
            Window.partitionBy(bkt).orderBy(*_as_cols(order_by))
        )
        out = (
            out.withColumn(_LRN, lrn)
            .join(F.broadcast(offsets), bkt)
            .withColumn(rn_col, (F.col(_OFF) + F.col(_LRN)).cast("long"))
            .withColumn(out_col, _ntile_bucket(rn_col, n_col, n_buckets))
            .drop(_LRN, _OFF, rn_col, n_col, bkt)
        )
    return out


def global_percent_rank(
    df: DataFrame,
    order_by,
    *,
    out_col: str,
    num_buckets: int | None = None,
    cuts: list[float] | None = None,
) -> DataFrame:
    """Exact global PERCENT_RANK over a total order (unique tie-break
    required, making rank ≡ row_number): (rn−1)/(N−1), 0.0 for a
    single-row relation — the SQL definition evaluated from exact
    integers, so doubles are bit-identical across engines. N rides the
    offsets relation: no extra pass over the input."""
    rn_col = f"{out_col}__rn"
    n_col = f"{out_col}__n"
    ranked = _ranked_with_total(
        df, order_by, rn_col, n_col, None, num_buckets, cuts
    )
    n = F.col(n_col)
    pr = F.when(n > 1, (F.col(rn_col) - 1).cast("double") / (n - 1)).otherwise(
        F.lit(0.0)
    )
    return ranked.withColumn(out_col, pr).drop(rn_col, n_col)
