"""Event-log / customer analytics operators: Markov path transitions,
n-gram path mining, RFM segmentation, robust (median/MAD) anomaly
detection, per-group heavy hitters, and mergeable partial aggregates.

These extend the reference's metrics rollups (job_monitoring_models.cpp
A1-A17) with the standard OLAP analytics a monitoring/event store grows
next: "what do users do after X", "which accounts are my best", "which
day's volume is abnormal". All pure DataFrame/Catalyst — no UDFs, no
driver loops.

Scale posture per operator is documented on the function; the common
theme is ONE fact-table shuffle on the entity key, with every later
reduction either re-using that clustering (window over the same key, or
a groupBy whose keys are a superset of the partitioning) or operating on
the already-tiny aggregate relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rclabsapi_spark.layout import spread_by

from rclabsapi_spark.functions.scalars import grid_sum, round_half_up
from rclabsapi_spark.operators.rank import (
    global_ntile,
    global_ntile_multi,
    global_row_number,
)


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transitions between consecutive events per key:
    (from_type, to_type, n, p) where p is the row-conditional probability
    n / Σ_to n.

    One fact shuffle (the per-key lead window); the transition counts are
    a |types|² relation, so the probability-normalizing window over
    from_type is driver-trivial. p divides exact integer counts — bit-
    identical across engines, no rounding needed."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_from).cast("double"))
        .alias("p"),
    )


def path_trigrams(events: DataFrame, *, k: int = 10) -> DataFrame:
    """Top-k length-3 event paths (t1→t2→t3 within one key's timeline):
    the "common journeys" miner. Two stacked leads over ONE per-key
    window ordering (one shuffle, one sort), counts partial-combine, and
    the top-k is TakeOrdered with a full lexicographic tie-break so the
    boundary is deterministic."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        seq.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(k)
    )


def rfm_scores(
    orders: DataFrame,
    *,
    now: str,
    materialize: bool = True,
) -> DataFrame:
    """Classic RFM scoring: per customer recency (days since last order,
    vs a frozen ``now``), frequency (order count), monetary (total
    spend), each quartiled with ``ntile``.

    Determinism: ntile is order-sensitive, so every ORDER BY carries the
    customer key as tie-break, and monetary sums the per-order amounts
    on the 6dp integer grid (order-independent — a raw float sum
    rounded at 6dp can flip one ulp at a boundary, and here the rounded
    value is RANKED, so a flip would cascade into every quartile
    boundary), so both engines rank the same values. One fact shuffle (the per-customer
    aggregate); the three quartile ranks run as percentile-threshold
    two-phase global ntiles (operators/rank.py) — parallel bucketed
    exchanges over the customer relation, never a single-partition
    sort, so the segmentation survives ≫10⁸ customers. The per-customer
    aggregate is cached (seven consumers: three cut-point passes, three
    rank branches, the output spine); ``materialize=True`` eagerly
    checkpoints the result and releases that cache — the
    triangle_count/pagerank hygiene pattern — while
    ``materialize=False`` leaves the plan inspectable for pins and the
    plan audit."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(now).cast("date"), F.max("o_orderdate").cast("date"))
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        (
            F.sum(
                F.floor(
                    F.col("o_totalprice") * 1000000.0 + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).cast("double")
            / 1000000.0
        ).alias("monetary"),
    )
    # ONE chained pass ranks all three dimensions (r17,
    # rank.global_ntile_multi): each dimension keeps its own
    # bucket-partitioned window exchange (the orders differ — those
    # three exchanges are the irreducible core), but the old
    # three-branch + equi-join-back shape additionally paid a key-hash
    # join exchange per dimension to reattach the scores; the chain
    # stamps the bucket ids once on the cached aggregate and
    # broadcast-joins each dimension's ≤B-row offsets, so those join
    # exchanges are gone. (The r16 shared-repartition variant lost by
    # +40% because it forced a shuffle BARRIER before the size
    # aggregates — here the sizes still partial-aggregate map-side off
    # the cache, no barrier.) ONE multi-column approxQuantile samples
    # all three dimensions' cut points in a single pass over the cached
    # aggregate (a descending order's cuts are the negated ascending
    # cuts — any monotone thresholds are valid, only balance depends on
    # them).
    per_cust = per_cust.cache()
    n_buckets = int(
        per_cust.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    q_r, q_f, q_m = per_cust.approxQuantile(
        ["recency_days", "frequency", "monetary"],
        probs,
        1.0 / (4.0 * n_buckets),
    )
    dims = [
        (
            "r_score",
            [F.col("recency_days"), F.col("o_custkey")],
            F.col("recency_days"),
            q_r,
        ),
        (
            "f_score",
            [F.col("frequency").desc(), F.col("o_custkey")],
            -F.col("frequency"),  # desc order → negated bucket key
            [-q for q in q_f],
        ),
        (
            "m_score",
            [F.col("monetary").desc(), F.col("o_custkey")],
            -F.col("monetary"),
            [-q for q in q_m],
        ),
    ]
    out = global_ntile_multi(per_cust, dims, 4, num_buckets=n_buckets)
    out = out.select(
        F.col("o_custkey"),
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    )
    # |customers|-sized result: materialize eagerly so the aggregate
    # cache can be released without recomputation (pagerank pattern).
    if materialize:
        out = out.localCheckpoint(eager=True)
        per_cust.unpersist()
    return out


def mad_anomalies(
    counted: DataFrame,
    *,
    group_cols: tuple[str, ...],
    value_col: str,
) -> DataFrame:
    """Robust outlier flagging: |x − median| > 3·MAD per group,
    the median/MAD analog of the reference's threshold alerts (ST6,
    system_metrics.hpp:43-54) that needs no hand-tuned absolute limit.

    ``counted`` is an already-aggregated relation (e.g. daily counts) and
    is cached here — three consumers (group median, the deviation join,
    the MAD median) read it, and without the cache each would re-run the
    upstream fact aggregate. Both median passes run over the tiny cached
    relation; the group medians broadcast back. Exact medians keep oracle
    parity (counts are integers; the even-cardinality midpoint average is
    exact in doubles); the GK-sketch swap applies when groups are huge
    (see operators/approx.py)."""
    counted = counted.cache()
    gcols = list(group_cols)
    v = F.col(value_col).cast("double")
    med = counted.groupBy(*gcols).agg(F.median(v).alias("med"))
    with_med = counted.join(F.broadcast(med), gcols)
    dev = F.abs(v - F.col("med"))
    mad = with_med.groupBy(*gcols).agg(F.median(dev).alias("mad"))
    return (
        with_med.join(F.broadcast(mad), gcols)
        .withColumn("is_anomaly", dev > F.lit(3.0) * F.col("mad"))
    )


def heavy_hitters(
    df: DataFrame,
    *,
    group_col: str,
    item_col: str,
    k: int = 2,
) -> DataFrame:
    """Top-k most frequent items per group (rank by count desc, item asc
    — fully deterministic). ONE shuffle: an explicit repartition on the
    group key lets both the (group, item) count and the ranking window
    reuse the same clustering (hashpartitioning(group) satisfies the
    aggregate's (group, item) distribution)."""
    counts = (
        spread_by(df, group_col)
        .groupBy(group_col, item_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("n").desc(), item_col)
    return counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def merge_partial_aggs(
    df: DataFrame,
    *,
    part_col: Column,
    group_cols: tuple[str, ...],
    value_col: str,
) -> DataFrame:
    """Incremental-aggregate maintenance: compute mergeable partial
    state (count, sum, min, max) per (partition, group), then MERGE the
    partials into the final per-group aggregate — the algebra that lets
    a 100 TB rollup absorb a new day's partition without rescanning
    history (count/sum add, min/max fold, avg derives as sum/count;
    the same decomposition Spark itself uses for map-side combine).

    Returns the merged per-group relation; correctness contract is
    merge(partials) ≡ full recompute, which the registry oracle checks
    by computing the full aggregate directly. The value sum rides the
    9dp DECIMAL(38,0) grid END TO END — gridded integers are what makes
    partials exactly mergeable: sum(partial integer sums) ≡ full
    integer sum in any order, which a double sum only approximates."""
    gcols = list(group_cols)
    v = F.col(value_col)
    v_g = F.floor(v * 1000000000.0 + F.lit(0.5)).cast("decimal(38,0)")
    partials = df.groupBy(part_col.alias("__part"), *gcols).agg(
        F.count(F.lit(1)).alias("p_cnt"),
        F.sum(v_g).alias("p_sum_g"),
        F.min(v).alias("p_min"),
        F.max(v).alias("p_max"),
    )
    merged = partials.groupBy(*gcols).agg(
        F.sum("p_cnt").alias("n"),
        F.sum("p_sum_g").alias("sum_g"),
        F.min("p_min").alias("min_v"),
        F.max("p_max").alias("max_v"),
    )
    return merged.select(
        *gcols,
        "n",
        round_half_up(
            F.col("sum_g").cast("double") / 1000000000.0, 6
        ).alias("sum_v"),
        "min_v",
        "max_v",
        round_half_up(
            F.col("sum_g").cast("double") / (F.col("n") * 1000000000.0), 6
        ).alias("avg_v"),
    )


def seasonal_naive_backtest(
    series: DataFrame,
    *,
    group_cols: tuple[str, ...],
    idx_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Backtest the seasonal-naive forecast (ŷ_t = y_{t−season}) over a
    per-group series keyed by an integer period index: per group, the
    evaluated-period count, MAE, and SMAPE.

    This is the reference's baseline-comparison indicator (A14,
    job_monitoring_models.cpp:226-258) turned into a proper forecast
    skill measure: a model is only useful if it beats seasonal-naive.

    The forecast is a self-join of the (already tiny) aggregated series
    on ``idx − season`` — equi-join, broadcast-eligible, and robust to
    calendar gaps (a missing period yields no forecast row rather than a
    silently shifted ``lag``). Float posture: MAE averages exact
    integer-valued doubles (counts), so its sum is exact in any
    accumulation order — a documented raw-AVG exemption; the SMAPE
    terms are genuine doubles, so they sum on the 9dp integer grid
    as DECIMAL(38,0) ≡ HUGEINT (a BIGINT accumulator of ~2e9-max terms
    wraps around ~5e9 rows/group) before the final half-up round."""

    gcols = list(group_cols)
    cur = series.select(
        *gcols, F.col(idx_col).alias("idx"), F.col(value_col).alias("actual")
    )
    past = series.select(
        *gcols,
        (F.col(idx_col) + season).alias("idx"),
        F.col(value_col).alias("forecast"),
    )
    j = cur.join(past, [*gcols, "idx"])
    err = F.abs(F.col("actual") - F.col("forecast"))
    denom = F.abs(F.col("actual")) + F.abs(F.col("forecast"))
    smape_term = F.when(denom > 0, 2.0 * err / denom).otherwise(F.lit(0.0))
    smape_nano = F.floor(smape_term * 1000000000.0 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    return j.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_eval"),
        round_half_up(F.avg(err)).alias("mae"),
        round_half_up(
            F.sum(smape_nano).cast("double")
            / (F.count(F.lit(1)) * 1000000000.0)
        ).alias("smape"),
    )


def psi_drift(
    df: DataFrame,
    *,
    group_cols: tuple[str, ...],
    value_col: str,
    period_col: Column,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    period, per group: equal-width bins over the GLOBAL value range,
    PSI = Σ_bins (q−p)·ln(q/p) with ε-floored shares.

    Distribution drift is the monitoring question underneath the
    reference's baseline deviation alerts (A14/ST6) — "did the metric's
    whole shape move", not just its mean. ``period_col`` must evaluate to
    'ref' or 'cur'.

    Scale: one pass computes the global min/max (scalar, broadcast
    back), a second pass bins and counts — output is |groups|·n_bins
    rows before the final per-group fold. Bin ids are exact integer
    arithmetic on both engines (floor of identical double expressions);
    shares divide exact counts; the per-bin (q−p)·ln(q/p) terms are
    per-row-identical doubles, so they sum on the 9dp integer grid —
    order-independent, no pinned fold needed."""

    gcols = list(group_cols)
    v = F.col(value_col).cast("double")
    bounds = df.agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi")
    )
    binned = df.crossJoin(F.broadcast(bounds)).select(
        *gcols,
        period_col.alias("period"),
        F.least(
            F.greatest(
                F.floor(
                    (v - F.col("__lo"))
                    / ((F.col("__hi") - F.col("__lo")) / float(n_bins))
                ),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy(*gcols, "bin").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    w_g = Window.partitionBy(*gcols)
    shares = counts.select(
        *gcols,
        "bin",
        "n_ref",
        "n_cur",
        (F.col("n_ref").cast("double") / F.sum("n_ref").over(w_g)).alias("p"),
        (F.col("n_cur").cast("double") / F.sum("n_cur").over(w_g)).alias("q"),
    )
    q_f = F.greatest(F.col("q"), F.lit(1e-6))
    p_f = F.greatest(F.col("p"), F.lit(1e-6))
    return shares.groupBy(*gcols).agg(
        F.sum("n_ref").alias("n_ref"),
        F.sum("n_cur").alias("n_cur"),
        grid_sum((q_f - p_f) * F.log(q_f / p_f), 6).alias("psi"),
    )


def mean_shift_changepoint(
    series: DataFrame,
    *,
    group_cols: tuple[str, ...],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Single most-likely changepoint per group via the CUSUM statistic:
    the split k maximizing |S_k|, S_k = Σ_{i≤k}(x_i − x̄). Returns the
    changepoint position, the CUSUM score, and the before/after means.

    The "when did this metric's behavior change" follow-up to MAD
    anomaly flags. All window arithmetic: one ordered prefix sum per
    group (same order in both engines ⇒ bit-identical doubles), the
    argmax is a row_number with |S| desc + position asc tie-break.
    Operates on an already-aggregated series relation; the windows
    cluster on the group key (one exchange)."""
    from rclabsapi_spark.functions.scalars import round_half_up

    gcols = list(group_cols)
    x = F.col(value_col).cast("double")
    w_g = Window.partitionBy(*gcols)
    w_run = (
        Window.partitionBy(*gcols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stats = series.select(
        *gcols,
        F.col(order_col).alias("pos"),
        x.alias("x"),
        F.sum(x).over(w_run).alias("cum"),
        F.row_number().over(Window.partitionBy(*gcols).orderBy(order_col)).alias("k"),
        F.sum(x).over(w_g).alias("total"),
        F.count(F.lit(1)).over(w_g).alias("n"),
    )
    s_k = F.col("cum") - F.col("k") * (F.col("total") / F.col("n"))
    scored = stats.filter(F.col("k") < F.col("n")).select(
        *gcols,
        "pos",
        "cum",
        "k",
        "total",
        "n",
        F.abs(s_k).alias("score"),
    )
    w_pick = Window.partitionBy(*gcols).orderBy(
        F.col("score").desc(), F.col("pos")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            *gcols,
            F.col("pos").alias("changepoint_at"),
            round_half_up(F.col("score")).alias("cusum_score"),
            round_half_up(F.col("cum") / F.col("k")).alias("mean_before"),
            round_half_up(
                (F.col("total") - F.col("cum")) / (F.col("n") - F.col("k"))
            ).alias("mean_after"),
        )
    )


def last_touch_attribution(
    events: DataFrame,
    *,
    conversion_type: str,
) -> DataFrame:
    """Last-touch conversion attribution: each conversion event is
    credited to the most recent PRECEDING non-conversion event type
    ("channel") in the same key's timeline; returns per-channel
    conversion counts, attributed value, and share.

    The marketing-analytics question behind the reference's
    status-transition log (st11): which activity immediately precedes
    the outcome. One fact shuffle (the per-key ordered window); the
    channel rollup is |types|-sized. Conversions with no preceding
    touch attribute to the NULL channel (reported, not dropped —
    silently losing them would overstate every other channel's share).
    Share divides exact integer counts; attributed value sums on the
    9dp integer grid (order-independent)."""

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != conversion_type, F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    conv = events.withColumn("channel", touch).filter(
        F.col("event_type") == conversion_type
    )
    counts = conv.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        grid_sum(F.col("value"), 6).alias("attributed_value"),
    )
    w_all = Window.partitionBy()
    return counts.select(
        "channel",
        "n_conversions",
        "attributed_value",
        (
            F.col("n_conversions").cast("double")
            / F.sum("n_conversions").over(w_all).cast("double")
        ).alias("share"),
    )


def equidepth_histogram(
    df: DataFrame,
    *,
    value_col: str,
    key_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Equal-frequency histogram: NTILE buckets over (value, key) — the
    key tie-break makes bucket boundaries deterministic — with per-bucket
    count and [lo, hi] bounds. The equi-DEPTH complement of psi_drift's
    equi-width bins: depth buckets adapt to skew, which is what a query
    optimizer's statistics or a feature binner wants.

    The bucket assignment is a two-phase global ntile
    (operators/rank.py): a parallel range exchange plus a
    partition-count-bounded offset join — no single-partition sort —
    and per-bucket bounds are exact min/max."""
    bucketed = global_ntile(
        df.select(F.col(value_col).alias("v"), F.col(key_col).alias("k")),
        ["v", "k"],
        n_buckets,
        out_col="bucket",
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )


def entropy_by_group(
    df: DataFrame,
    *,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Shannon entropy of a categorical distribution per group:
    H = −Σ p·ln p over category shares, plus the category count — the
    diversity audit (is one source dominating this language's corpus?).
    One (group, cat) aggregate, entropy folds over the tiny share
    relation; shares divide exact counts, the ln terms are per-row
    deterministic, and the −p·ln p terms sum on the 9dp integer grid
    (order-independent) before the final half-up round."""
    counts = df.groupBy(
        F.col(group_col).alias("grp"), F.col(cat_col).alias("cat")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_g = Window.partitionBy("grp")
    shares = counts.select(
        "grp",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_g)).alias("p"),
    )
    return (
        shares.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_categories"),
            grid_sum(-(F.col("p") * F.log("p")), 6).alias("entropy"),
        )
    )


def chi_square_independence(
    df: DataFrame,
    *,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson χ² test statistic for independence of two categoricals:
    Σ (observed − expected)²/expected over the contingency cells, with
    degrees of freedom (r−1)(c−1). The statistical upgrade of the
    status × priority pivot: "are these two dimensions related at all".
    One fact aggregate to the contingency table; margins broadcast back;
    the cell fold runs over the |r·c| relation. The (o−e)²/e terms are
    per-row-identical doubles (margins are exact integer sums), so they
    sum on the 9dp integer grid — order-independent across engines."""
    obs = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).alias("o"))
    w_r = Window.partitionBy("r")
    w_c = Window.partitionBy("c")
    w_all = Window.partitionBy()
    cells = obs.select(
        "r",
        "c",
        "o",
        (
            F.sum("o").over(w_r).cast("double")
            * F.sum("o").over(w_c).cast("double")
            / F.sum("o").over(w_all).cast("double")
        ).alias("e"),
    )
    term = (F.col("o").cast("double") - F.col("e")) ** 2 / F.col("e")
    # χ² cell terms are unbounded statistics; the floor→LONG grid form
    # is the MAXIMAL-parity-domain choice, exact-identical to the
    # HUGEINT oracle for terms up to 2^63/1e9 ≈ 9.2e9 (a double→
    # DECIMAL cast would look wider but goes through the shortest
    # string repr on Spark and diverges from DuckDB's exact binary
    # conversion already at ~1e17 nanos — measured, see
    # tests/test_properties.py::test_floor_grid_term_parity_domain).
    # A cell past that bound means (o−e)²/e > 9.2e9 from integer
    # counts — a contingency table so degenerate the 9dp grid itself
    # is beyond double precision there (ulp(term·1e9) > 1 past 9e15).
    return cells.agg(
        grid_sum(term, 6).alias("chi2"),
        (
            (F.countDistinct("r") - 1) * (F.countDistinct("c") - 1)
        ).cast("long").alias("dof"),
        F.sum("o").alias("n_rows"),
    )


def skew_report(
    df: DataFrame,
    *,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Join/shuffle-skew diagnostics for a prospective partitioning key:
    one row with the key cardinality, the heaviest key's row share, the
    top-k keys' combined share, and the Gini coefficient of the key
    distribution — the numbers that decide between a plain hash join,
    salting, and an AQE skew-join hint before the job ever runs at
    scale.

    One (key) aggregate; the share/Gini math runs on the per-key count
    relation (Gini = (2·Σ i·cᵢ/(n·Σc)) − (n+1)/n over counts sorted
    ascending, with the rank i from the two-phase global row number —
    operators/rank.py — and the totals from a 1-row broadcast
    aggregate, so no single-partition window touches the count
    relation)."""
    counts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    ranked = global_row_number(counts, ["c", "k"], out_col="i")
    totals = counts.agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_c"),
    )
    top_share = (
        counts.orderBy(F.col("c").desc(), "k")
        .limit(top_k)
        .agg(F.sum("c").alias("top_c"))
    )
    from rclabsapi_spark.functions.scalars import round_half_up

    sic = ranked.agg(
        F.sum(F.col("i").cast("long") * F.col("c")).alias("s")
    )
    gini = (
        2.0 * F.col("s").cast("double")
        / (F.col("n_keys") * F.col("total")).cast("double")
    ) - (F.col("n_keys") + 1).cast("double") / F.col("n_keys").cast("double")
    return (
        totals.crossJoin(F.broadcast(sic))
        .crossJoin(F.broadcast(top_share))
        .select(
            "n_keys",
            F.col("total").alias("n_rows"),
            round_half_up(
                F.col("max_c").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("top1_share"),
            round_half_up(
                F.col("top_c").cast("double") / F.col("total").cast("double"),
                6,
            ).alias(f"top{top_k}_share"),
            round_half_up(gini, 6).alias("gini"),
        )
    )
