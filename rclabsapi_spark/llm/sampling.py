"""Deterministic content-addressed sampling for training-data mixes.

Random sampling (``df.sample``) is nondeterministic across runs,
partitionings, and engines. Training-data pipelines need the opposite:
a row's membership must be a pure function of its KEY, so a resumed or
re-run pipeline samples the identical subset, adding data never flips
membership of old rows, and the DuckDB oracle reproduces the sample
bit-for-bit.

Mechanism: compare the first 4 hex digits of ``md5(salt || key)``
against a threshold — a uniform 16-bit bucket per key, granularity
1/65536. Hex strings are fixed-width lowercase, so the string compare
IS the numeric compare in every engine. Pure Column expressions,
trivially parallel, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.functions.scalars import grid_term


def hash_bucket(key: Column, *, salt: str = "") -> Column:
    """4-hex-digit (16-bit) deterministic bucket of a key."""
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 4)


def pct_threshold(pct: float) -> str:
    """Hex threshold below which a bucket is in-sample for ``pct``%."""
    return format(int(65536 * pct / 100), "04x")


def hash_sample(df: DataFrame, *, key_col: str, pct: float) -> DataFrame:
    """Keep ~pct% of rows, membership a pure function of the key."""
    return df.filter(hash_bucket(F.col(key_col)) < F.lit(pct_threshold(pct)))


def stratified_hash_sample(
    df: DataFrame,
    *,
    key_col: str,
    strat_col: str,
    fractions: dict[str, float],
    default_pct: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling rates (the training-mix primitive: e.g.
    keep 50% of en, 25% of de, 5% of everything else). The per-stratum
    threshold compiles to a CASE chain — whole-stage codegen, no join
    against a rates table, no shuffle."""
    thr: Column = F.lit(pct_threshold(default_pct))
    for value, pct in sorted(fractions.items(), reverse=True):
        thr = F.when(
            F.col(strat_col) == value, F.lit(pct_threshold(pct))
        ).otherwise(thr)
    return df.filter(hash_bucket(F.col(key_col)) < thr)


def split_assign(
    df: DataFrame,
    *,
    key_col: str,
    val_pct: float,
    test_pct: float,
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test assignment: the 16-bit key bucket is
    cut at [0, val) → 'val', [val, val+test) → 'test', rest → 'train'.
    Membership is a pure function of (salt, key): resuming, re-running,
    repartitioning, or growing the corpus never moves an existing row
    across splits — the property random assignment can't give and
    train/eval hygiene depends on. Adds a ``split`` column; pure Project,
    no shuffle."""
    b = hash_bucket(F.col(key_col), salt=salt)
    t_val = pct_threshold(val_pct)
    t_test = pct_threshold(val_pct + test_pct)
    split = (
        F.when(b < F.lit(t_val), F.lit("val"))
        .when(b < F.lit(t_test), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def mixture_sample(
    df: DataFrame,
    *,
    key_col: str,
    strat_col: str,
    weights: dict[str, float],
    default_weight: float = 0.0,
    target_total: float,
    salt: str = "",
) -> DataFrame:
    """Domain-mixture sampling: hit a TARGET mixture, not fixed rates.

    Given target mixture ``weights`` per stratum and a desired corpus
    size ``target_total`` (rows), the per-stratum keep rate is
    ``min(1, target_total * weight / n_stratum)`` — downsampling
    over-represented domains toward the target and keeping everything
    from under-represented ones (rate capped at 1; no upsampling).
    Membership stays a pure function of the key (same md5-bucket
    mechanism as ``hash_sample``), so the realized mix is reproducible
    across runs, partitionings, and engines.

    Physical plan: one small per-stratum count aggregate, broadcast back
    onto the corpus scan, then a codegen'd filter — the corpus itself
    never shuffles. The per-row threshold string is
    ``format('%04x', floor(65536 * rate))``; rate ≥ 1 keeps the row
    outright (the 16-bit bucket can't express 65536).
    """
    wexpr: Column = F.lit(default_weight)
    for value, w in sorted(weights.items(), reverse=True):
        wexpr = F.when(F.col(strat_col) == value, F.lit(w)).otherwise(wexpr)
    rates = (
        df.groupBy(strat_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            strat_col,
            F.least(
                F.lit(1.0), F.lit(float(target_total)) * wexpr / F.col("_n")
            ).alias("_rate"),
        )
    )
    joined = df.join(F.broadcast(rates), strat_col)
    thr = F.format_string(
        "%04x", F.floor(F.lit(65536.0) * F.col("_rate")).cast("long")
    )
    keep = (F.col("_rate") >= 1.0) | (
        hash_bucket(F.col(key_col), salt=salt) < thr
    )
    return joined.filter(keep).drop("_rate")


def sample_k_per_group(
    df: DataFrame,
    *,
    group_col: str,
    key_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Uniform k-per-group sample without replacement — the distributed
    equivalent of per-group reservoir sampling, made deterministic the
    same way as :func:`hash_sample`: rank rows inside each group by
    ``md5(salt || key)`` (key as tie-break) and keep rank ≤ k. Every
    engine, run, and partitioning picks the identical subset; adding a
    new group never perturbs another group's sample.

    One shuffle (the per-group ranking window); no global sort. For
    groups far larger than k at extreme scale, pre-filtering with a
    coarse hash threshold (keep ~4k/|group| by bucket, then rank) bounds
    the sort input — the rank step is unchanged."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), key_col
    )
    return df.withColumn("sample_rank", F.row_number().over(w)).filter(
        F.col("sample_rank") <= k
    )


def weighted_sample_k(
    df: DataFrame,
    *,
    key_col: str,
    weight_col: str,
    k: int,
    group_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Weighted sampling without replacement (k items, inclusion
    probability ∝ weight) via the Efraimidis–Spirakis exponential race:
    each row draws u ∈ (0,1] as a pure function of its key (first 8 hex
    of md5, so every engine and partitioning draws the same u), scores
    −ln(u)/w — an Exp(w) variate — and the k SMALLEST scores win.

    The deterministic upgrade of ``df.sample``'s weighted cousin for
    training-mix construction: re-runs, engines, and partitionings pick
    the identical subset. Grouped use is one per-group ranking window;
    UNGROUPED use routes through the percentile-threshold two-phase
    rank (operators/rank.py) with the Exp score as its own bucket key —
    a parallel bucketed window, never a single-partition sort of the
    corpus; everything else is per-row codegen arithmetic."""
    u_int = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("double")
    u = (u_int + 1.0) / float(16**8)
    score = -F.log(u) / F.col(weight_col).cast("double")
    if group_col:
        w = Window.partitionBy(group_col).orderBy(
            score.asc(), F.col(key_col)
        )
        ranked = df.withColumn(
            # long, matching the two-phase path's overflow-safe rank
            "sample_rank", F.row_number().over(w).cast("long")
        )
    else:
        from rclabsapi_spark.operators.rank import global_row_number

        ranked = global_row_number(
            df, [score, F.col(key_col)], out_col="sample_rank",
            bucket_key=score,
        )
    return ranked.filter(F.col("sample_rank") <= k)


def temperature_rates(
    counts: DataFrame,
    *,
    strat_col: str,
    tau: float,
    target_total: float,
) -> DataFrame:
    """(stratum, _rate) keep rates from a per-stratum count relation
    (columns ``strat_col``, ``_n`` double): rate = min(1, target·p_s/n_s)
    with p_s = n_s^τ / Σ_t n_t^τ. Shared by the batch sampler and the
    streaming re-weighting sink (the live mixture-rebalancing layer,
    job_monitor_service.cpp:876-897): as a growing corpus's counts
    drift, re-deriving rates from the cumulative counts converges to
    the batch rates once the replay completes.

    The normalizer Σ n_s^τ sums per-stratum n^τ terms on the 9dp
    integer grid (DECIMAL(38,0) ≙ HUGEINT) — order-independent in ANY
    accumulation order, so the double Z is bit-identical across engines
    without pinning a fold order, and no task ever holds the whole
    |strata| relation in one array row (the crawl_budget_allocation
    pattern, which replaced this function's original
    array_sort(collect_list) fold in r13 — a last-ulp difference in Z
    could flip floor(65536·rate) at a boundary and change membership).
    Domain: each n^τ grid term must stay below 2^63 nanos (n^τ <
    ~9.2e9 — multi-billion-count strata at τ=1); :func:`grid_term`
    raises loudly past that ceiling rather than silently saturating
    or losing oracle bit-identity (ADVICE r13, see grid_term)."""
    term = F.pow(F.col("_n"), F.lit(float(tau)))
    term_g = grid_term(term)
    z = counts.agg(F.sum(term_g).alias("_z_g"))
    z_d = F.col("_z_g").cast("double") / 1000000000.0
    return counts.crossJoin(F.broadcast(z)).select(
        strat_col,
        F.least(
            F.lit(1.0),
            F.lit(float(target_total)) * term / z_d / F.col("_n"),
        ).alias("_rate"),
    )


def temperature_sample(
    df: DataFrame,
    *,
    key_col: str,
    strat_col: str,
    tau: float,
    target_total: float,
    salt: str = "",
) -> DataFrame:
    """Temperature-flattened mixture sampling (the multilingual corpus
    rebalancing of mT5/XLM-R, public literature): target share of
    stratum s ∝ n_s^τ — τ=1 keeps natural proportions, τ→0 approaches
    uniform across strata, so low-resource domains/languages are
    upweighted RELATIVE to their raw frequency without hand-written
    per-stratum weights. Keep rate = min(1, target·p_s/n_s) with
    p_s = n_s^τ / Σ_t n_t^τ; membership is the same pure-function-of-key
    md5 bucket as every sampler here (reproducible across runs, engines,
    partitionings).

    Physical plan: one per-stratum count, one 1-row normalizer, both
    broadcast back onto the corpus scan, then a codegen'd filter — the
    corpus never shuffles. The |strata| counts relation is CACHED
    before it fans out to temperature_rates' two consumers (the 1-row
    Z aggregate and the rates select) — the crawl_budget_allocation
    pattern; without it each consumer re-runs the corpus count. The
    cache lives here, in the batch caller, NOT inside
    temperature_rates: the streaming re-weighting sink calls
    temperature_rates per micro-batch, and an in-callee cache would
    accumulate storage across batches. Cache lifetime (ADVICE r13):
    the cache is owned by the returned plan; a long-lived session
    invoking this repeatedly should unpersist between invocations
    (``spark.catalog.clearCache()``) — superseded entries linger
    until LRU eviction otherwise, a storage-pressure footgun, never
    a correctness one."""
    counts = (
        df.groupBy(strat_col)
        .agg(F.count(F.lit(1)).cast("double").alias("_n"))
        .cache()
    )
    rates = temperature_rates(
        counts, strat_col=strat_col, tau=tau, target_total=target_total
    )
    joined = df.join(F.broadcast(rates), strat_col)
    thr = F.format_string(
        "%04x", F.floor(F.lit(65536.0) * F.col("_rate")).cast("long")
    )
    keep = (F.col("_rate") >= 1.0) | (
        hash_bucket(F.col(key_col), salt=salt) < thr
    )
    return joined.filter(keep).drop("_rate")


def dsir_logweights(docs: DataFrame, *, is_target: Column) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    public literature): score every document by how target-like its
    hashed-unigram distribution is — the standard way to tilt a raw
    web corpus toward a quality/domain target without training a
    classifier. log w(d) = Σ_tokens [ln p̂_target(b(tok)) −
    ln p̂_raw(b(tok))] over md5-hashed token buckets with add-α
    smoothing; resample the raw corpus ∝ w.

    Physical shape: one token posting (doc-key partitioned), ONE
    grouped count producing both sides' bucket histograms (conditional
    sums — the corpus is scanned once, not once per side), a 1024-row
    log-ratio table broadcast back, and a per-doc fold. The fold runs
    over the position-sorted token list (collect_list → array_sort →
    aggregate), not SUM, so the per-doc double is bit-identical across
    engines — the registry float rule for order-sensitive
    accumulations.

    Returns (key, n_tokens, dsir_logweight) for EVERY doc (target docs
    score high by construction — callers filter ``is_target`` rows out
    before resampling; emitting both sides makes the score itself
    auditable)."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.layout import spread_by

    # spread by key before exploding: the fixture parquet is one file =
    # one task, so the explode/md5 work would run serially (simhash
    # pattern); the histogram and the fold are two passes over the
    # posting, and ReuseExchange computes the spread once for both.
    # The per-doc fold's groupBy(key) also reuses the key partitioning.
    toks = spread_by(
        docs.select(F.col("doc_id"), is_target.alias("t"), F.col("text")),
        "doc_id",
    ).select(
        F.col("doc_id"),
        F.col("t"),
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
        % 1024
    )
    counts = toks.groupBy(bucket.alias("b")).agg(
        F.sum(F.when(F.col("t"), 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("t"), 0).otherwise(1)).alias("nr"),
    )
    totals = counts.agg(
        F.sum("nt").alias("tot_t"), F.sum("nr").alias("tot_r")
    )
    a = 0.5
    lr = (
        F.log((F.col("nt") + a) / (F.col("tot_t") + a * 1024))
        - F.log((F.col("nr") + a) / (F.col("tot_r") + a * 1024))
    )
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "b", lr.alias("lr")
    )
    scored = toks.withColumn("b", bucket).join(F.broadcast(ratios), "b")
    folded = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("pos").alias("p"), F.col("lr").alias("v"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        ).alias("w_raw"),
    )
    return folded.select(
        F.col("doc_id"),
        "n_tokens",
        round_half_up(F.col("w_raw"), 6).alias("dsir_logweight"),
    )


def epoch_mixture_schedule(
    token_counts: DataFrame,
    *,
    strat_col: str,
    tokens_col: str = "n_tokens",
    tau: float = 0.5,
    budget_multiplier: float = 2.0,
) -> DataFrame:
    """Epoch-mixture schedule audit: given per-stratum available token
    counts, how many tokens (and therefore EPOCHS over each stratum)
    a temperature-flattened training mix consumes at a total budget of
    ``budget_multiplier × Σ tokens`` — the 'how many times will we
    repeat the low-resource sources' check run before committing a
    multi-epoch data budget (public literature: mT5/XLM-R temperature
    mixing; repeated-epoch scaling analyses à la Muennighoff et al.).

    Per stratum s: w_s = n_s^τ / Σ_t n_t^τ (τ=1 natural, τ→0 uniform),
    target_tokens_s = ⌊budget · w_s⌋, epochs_s = target/n_s — epochs>1
    means the stratum repeats, the quantity the audit exists to bound.

    Cross-engine determinism: the normalizer Σ n^τ sums on the 9dp
    integer grid (DECIMAL(38,0) ≙ HUGEINT — order-independent, the
    crawl_budget_allocation / temperature_rates pattern, replacing the
    r11 stratum-sorted array fold); with τ=0.5 pow is IEEE sqrt
    (correctly rounded everywhere), the budget and targets derive by
    floor from bit-identical doubles, and the reported ratios are
    integer-derived then round_half_up(6). The input relation is
    stratum-sized (≤ thousands of rows) but no task ever holds it in
    one array row, so the shape survives arbitrary |strata|. Domain:
    each n^τ grid term must stay below 2^63 nanos; :func:`grid_term`
    raises loudly past that ceiling (ADVICE r13, see grid_term)."""
    from rclabsapi_spark.functions.scalars import round_half_up

    n = F.col(tokens_col).cast("double")
    term = F.pow(n, F.lit(float(tau)))
    term_g = grid_term(term)
    z = token_counts.agg(
        F.sum(term_g).alias("_z_g"),
        F.sum(F.col(tokens_col)).alias("_total"),
    )
    z_d = F.col("_z_g").cast("double") / 1000000000.0
    w = term / z_d
    budget = F.lit(float(budget_multiplier)) * F.col("_total").cast("double")
    target = F.floor(budget * w).cast("long")
    return token_counts.crossJoin(F.broadcast(z)).select(
        strat_col,
        F.col(tokens_col).cast("long").alias("n_tokens"),
        round_half_up(
            n / F.col("_total").cast("double"), 6
        ).alias("token_share"),
        round_half_up(w, 6).alias("w_temp"),
        target.alias("target_tokens"),
        round_half_up(
            target.cast("double") / n, 6
        ).alias("epochs"),
    )


def crawl_budget_allocation(
    domain_stats: DataFrame,
    *,
    strat_col: str,
    size_col: str = "n_docs",
    priority_col: str = "priority",
    tau: float = 0.5,
    budget_multiplier: float = 1.0,
) -> DataFrame:
    """Priority-weighted crawl/sampling budget per stratum (domain):
    w_s = n_s^τ · priority_s / Σ_t n_t^τ · priority_t, target_s =
    ⌊budget · w_s⌋ with budget = multiplier · Σ n_t — the allocation a
    web-curation pipeline derives from its per-domain quality prior
    (Common-Crawl-style crawl budgeting: quality raises a domain's
    share, the τ<1 flattening keeps megadomains from eating the whole
    budget). A target above the domain's availability caps at n_s and
    sets the ``capped`` bit — the signal to crawl that domain MORE, not
    to oversample what's already there.

    Physical/determinism contract mirrors :func:`epoch_mixture_schedule`:
    the input is the |domains| relation (corpus already aggregated), the
    normalizer Z sums per-domain n^τ·p terms on the 9dp integer grid
    (DECIMAL(38,0) ≙ HUGEINT — order-independent in any accumulation
    order, no pinned fold needed), τ=0.5 makes pow an IEEE sqrt,
    priorities arrive 6dp-rounded (exact), and targets derive by floor
    from bit-identical doubles. The |domains| relation is CACHED before
    it fans out to its two consumers (the stats side and the 1-row
    (Z, total) aggregate broadcast back): the caller's corpus pipeline
    materializes it exactly once even when upstream map-literal
    operators (the PSL rule table) defeat plan canonicalization and
    exchange reuse — and, unlike the r11 sorted-array fold this
    replaces, no task ever holds the whole |domains| relation in one
    row (at real crawl cardinality, O(10⁷-10⁸) registrable domains,
    that single-task array is exactly the Exchange-SinglePartition OOM
    class). The degenerate Z=0 corpus (every priority zero) allocates
    nothing: weights and targets clamp to 0 instead of dividing to
    NULL/NaN. Domain: each n^τ·p grid term must stay below 2^63
    nanos; :func:`grid_term` raises loudly past that ceiling
    (ADVICE r13, see grid_term)."""
    from rclabsapi_spark.functions.scalars import round_half_up

    stats = domain_stats.select(
        F.col(strat_col).alias("_s"),
        F.col(size_col).cast("long").alias("_n_long"),
        F.col(priority_col).alias("_p_orig"),
    ).cache()
    term = (
        F.pow(F.col("_n_long").cast("double"), F.lit(float(tau)))
        * F.col("_p_orig").cast("double")
    )
    term_g = grid_term(term)
    z = stats.agg(
        F.sum(term_g).alias("_z_g"),
        F.sum("_n_long").alias("_total"),
    )
    joined = stats.join(F.broadcast(z))
    z_d = F.col("_z_g").cast("double") / 1000000000.0
    w = F.when(F.col("_z_g") > 0, term / z_d).otherwise(F.lit(0.0))
    budget = F.lit(float(budget_multiplier)) * F.col("_total").cast("double")
    target = F.floor(budget * w).cast("long")
    size_long = F.col("_n_long")
    return joined.select(
        F.col("_s").alias(strat_col),
        size_long.alias("n_docs"),
        F.col("_p_orig").alias("priority"),
        round_half_up(w, 6).alias("w_temp"),
        target.alias("target_docs"),
        F.least(target, size_long).alias("effective_docs"),
        (target > size_long).alias("capped"),
    )
