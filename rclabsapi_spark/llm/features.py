"""Feature-engineering transforms for model-ready tables: column
standardization (z-score and robust median/MAD), explicit-vocabulary
one-hot encoding, the feature-hashing trick, and rank/quantile
normalization.

These are the last-mile transforms between the engine's analytics
output and a trainer's input matrix. All are one-aggregate-then-
broadcast or pure-Column shapes:

- ``standardize`` / ``robust_scale``: ONE global aggregate produces the
  per-column location/scale scalars (mean/stddev or median/MAD); the
  transform itself is per-row codegen arithmetic after a 1-row
  broadcast. No per-column passes.
- ``one_hot``: explicit vocabulary ⇒ a CASE column per value — no
  distinct-values job, no pivot shuffle, stable column order for the
  trainer.
- ``hash_feature``: md5-derived bucket index (the hashing trick) — the
  unbounded-vocabulary escape: memoryless, deterministic across engines
  and runs, collisions bounded by dims.
- ``quantile_transform``: maps values to their empirical CDF position
  via the two-phase global rank (operators/rank.py) — a parallel range
  exchange plus a partition-count-bounded offset join, never a
  full-data single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.layout import spread_by
from rclabsapi_spark.operators.rank import (
    global_percent_rank,
    global_row_number,
)


def standardize(
    df: DataFrame, cols: list[str], *, suffix: str = "_z"
) -> DataFrame:
    """z-score columns: (x − mean)/stddev, NULL when stddev is 0.

    Mean and sample stddev derive from EXACT integer sufficient
    statistics on the 6dp grid — Σm and Σm² as DECIMAL(38,0) (the
    HUGEINT-parity type, retr_score_agreement precedent), with
    var = (n·Σm² − (Σm)²) / (n·(n−1)): raw F.avg/F.stddev_samp over
    doubles are accumulation-ordered across partitions, and one ulp in
    either statistic shifts EVERY output row's z. The 6dp grid on the
    inputs is the documented engine-parity contract, not a loss: per
    row the grid error is ≤5e-7 of the value scale."""
    stats = df.agg(
        *[F.count(F.col(c)).alias(f"__n_{c}") for c in cols],
        *[
            F.sum(
                F.floor(F.col(c) * 1000000.0 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).alias(f"__s1_{c}")
            for c in cols
        ],
        *[
            F.sum(
                F.floor(F.col(c) * 1000000.0 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
                * F.floor(F.col(c) * 1000000.0 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).alias(f"__s2_{c}")
            for c in cols
        ],
    )
    out = df.crossJoin(F.broadcast(stats))
    drop: list[str] = []
    for c in cols:
        n = F.col(f"__n_{c}")
        s1 = F.col(f"__s1_{c}")
        s2 = F.col(f"__s2_{c}")
        mu = s1.cast("double") / (n * 1000000.0)
        var_num = (s2 * n - s1 * s1).cast("double")  # exact in decimal
        sd = (
            F.sqrt(var_num / (n * (n - 1)).cast("double")) / 1000000.0
        )
        z = F.when(sd > 0, (F.col(c) - mu) / sd)
        out = out.withColumn(c + suffix, z)
        drop += [f"__n_{c}", f"__s1_{c}", f"__s2_{c}"]
    return out.drop(*drop)


def robust_scale(
    df: DataFrame, cols: list[str], *, suffix: str = "_r"
) -> DataFrame:
    """Median/MAD scaling: (x − median)/MAD — outlier-insensitive (the
    scaling twin of mad_anomalies); NULL when MAD is 0."""
    med = df.agg(
        *[F.median(F.col(c)).alias(f"__med_{c}") for c in cols]
    )
    with_med = df.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        *[
            F.median(F.abs(F.col(c) - F.col(f"__med_{c}"))).alias(
                f"__mad_{c}"
            )
            for c in cols
        ]
    )
    out = with_med.crossJoin(F.broadcast(mad))
    for c in cols:
        r = F.when(
            F.col(f"__mad_{c}") > 0,
            (F.col(c) - F.col(f"__med_{c}")) / F.col(f"__mad_{c}"),
        )
        out = out.withColumn(c + suffix, r)
    return out.drop(
        *[f"__med_{c}" for c in cols], *[f"__mad_{c}" for c in cols]
    )


def one_hot(
    df: DataFrame, col: str, values: list[str], *, other: bool = True
) -> DataFrame:
    """Explicit-vocabulary one-hot: one 0/1 int column per value plus an
    optional catch-all — no distinct pass, deterministic column order."""
    out = df
    for v in values:
        out = out.withColumn(
            f"{col}__{v}", (F.col(col) == v).cast("int")
        )
    if other:
        out = out.withColumn(
            f"{col}__other",
            (~F.col(col).isin(*values)).cast("int"),
        )
    return out


def hash_feature(col, *, dims: int = 1024, salt: str = ""):
    """Hashing-trick feature index: first 8 md5 hex chars mod dims —
    deterministic across engines/runs, memoryless, unbounded vocab."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % dims
    )


def quantile_transform(
    df: DataFrame, cols: list[str], *, key_col: str, suffix: str = "_q"
) -> DataFrame:
    """Empirical-CDF normalization: each value maps to its percent rank
    (0..1) — the distribution-free feature scaling. One two-phase
    global rank per column over the (value, key) order (deterministic
    ties; exact percent_rank = (rn−1)/(N−1) from integer row numbers),
    so no column ever plans a single-partition sort.

    NOTE: plan construction is EAGER — ONE multi-column approxQuantile
    pass samples every column's bucket cuts up front (the rfm_scores
    pattern; previously each column fired its own sampling job inside
    global_percent_rank). Cut accuracy only affects bucket balance,
    never the ranks."""
    n_buckets = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    all_cuts = df.approxQuantile(list(cols), probs, 1.0 / (4.0 * n_buckets))
    out = df
    for c, cuts in zip(cols, all_cuts):
        out = global_percent_rank(
            out,
            [F.col(c), F.col(key_col)],
            out_col=c + suffix,
            num_buckets=n_buckets,
            cuts=cuts,
        )
    return out


def target_encode(
    df: DataFrame,
    *,
    cat_col: str,
    target_col: str,
    key_col: str,
    n_folds: int = 5,
    salt: str = "te:",
    prior_weight: float = 10.0,
) -> DataFrame:
    """Leakage-safe (out-of-fold) target encoding: each row's category
    is encoded with the target mean computed from the OTHER hash-folds,
    smoothed toward the global mean — the standard high-cardinality
    categorical encoder, with the subtlety that makes it safe: a row
    never contributes to its own encoding, so the feature can't memorize
    its own label.

    Folds are deterministic md5 buckets of the key (same fold on every
    engine/run — composes with split_assign's guarantees). One
    (category, fold) aggregate; per-row encoding is
    (Σ_cat − Σ_fold + prior·μ) / (n_cat − n_fold + prior), pure
    arithmetic after a broadcast join of the fold-stats relation.
    Unseen-at-encode categories fall back to the smoothed prior."""
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_folds
    )
    with_fold = df.withColumn("__fold", fold)
    per_fold = with_fold.groupBy(
        F.col(cat_col).alias("__cat"), F.col("__fold").alias("__f")
    ).agg(
        F.sum(F.col(target_col)).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    w_cat = Window.partitionBy("__cat")
    fold_stats = per_fold.select(
        "__cat",
        "__f",
        (F.sum("__s").over(w_cat) - F.col("__s")).alias("__s_oof"),
        (F.sum("__n").over(w_cat) - F.col("__n")).alias("__n_oof"),
    )
    glob = df.agg(F.avg(F.col(target_col)).alias("__mu"))
    enc = (
        F.col("__s_oof") + F.lit(prior_weight) * F.col("__mu")
    ) / (F.col("__n_oof") + F.lit(prior_weight))
    return (
        with_fold.join(
            F.broadcast(fold_stats),
            (F.col(cat_col) == F.col("__cat"))
            & (F.col("__fold") == F.col("__f")),
            "left",
        )
        .crossJoin(F.broadcast(glob))
        .withColumn(
            f"{cat_col}__te",
            F.coalesce(
                enc,
                F.col("__mu"),  # category entirely inside own fold
            ),
        )
        .drop("__cat", "__f", "__s_oof", "__n_oof", "__mu", "__fold")
    )


def sample_negatives(
    df: DataFrame,
    *,
    key_col: str,
    label_col: str,
    k: int = 4,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each anchor row, up to ``k`` negatives with a DIFFERENT label, drawn
    from a hash-shuffled ring of the corpus — anchor i takes the rows at
    ring positions i+1 … i+2k (mod N) and keeps the first k whose label
    differs.

    The ring makes it linear: no per-anchor corpus scan, no cross join —
    one two-phase global hash rank (a parallel range shuffle, not a
    single-partition sort), 2k equi-joins by ring offset, then the
    label filter. Deterministic in the keys (md5 salted "neg:"), so resumed
    runs pair identically. With 2k candidates the only shortfall case is
    a run of ≥k same-label neighbors on the ring — vanishingly rare for
    mixed corpora and surfaced by the per-anchor ``n_negatives`` count
    rather than silently padded. When 2k candidates wrap the ring
    (N ≤ 2k) the same neighbor can land at two offsets; candidates
    dedupe on (anchor, negative) before the rank filter.

    The 2k candidate positions come from ONE explode(sequence(1, 2k))
    branch — a per-offset union would re-scan and re-sort the ranked
    relation once per offset (ReusedExchange does not collapse the
    union branches), turning 3 corpus scans into 2k+1."""
    h = F.md5(F.concat(F.lit("neg:"), F.col("k_").cast("string")))
    # md5 is fixed-length lowercase hex: lexicographic ≡ numeric, so a
    # 13-hex-digit (52-bit, double-exact) prefix is a monotone bucket key
    ranked = global_row_number(
        df.select(F.col(key_col).alias("k_"), F.col(label_col).alias("l_")),
        [h, F.col("k_")],
        out_col="pos",
        bucket_key=F.conv(F.substring(h, 1, 13), 16, 10).cast("long"),
    # TWO consumers read the ranked ring (the anchor side and the
    # negative side of the ring join); without lineage truncation each
    # re-runs the whole two-phase rank — the checkpoint materializes the
    # |corpus|-narrow relation once and both sides read it
    ).localCheckpoint(eager=False)
    n_rows = ranked.agg(F.max("pos").alias("n"))
    anchors = ranked.select(
        F.col("k_").alias("anchor"),
        F.col("l_").alias("anchor_label"),
        F.col("pos"),
    ).crossJoin(F.broadcast(n_rows))
    cand = anchors.select(
        "anchor",
        "anchor_label",
        F.explode(F.sequence(F.lit(1), F.lit(2 * k))).alias("offset"),
        "pos",
        "n",
    ).select(
        "anchor",
        "anchor_label",
        ((F.col("pos") - 1 + F.col("offset")) % F.col("n") + 1).alias("cpos"),
        "offset",
    )
    joined = cand.join(
        ranked.select(
            F.col("pos").alias("cpos"),
            F.col("k_").alias("negative"),
            F.col("l_").alias("neg_label"),
        ),
        "cpos",
    ).filter(F.col("neg_label") != F.col("anchor_label"))
    # ONE anchor-keyed exchange serves the whole tail: the explicit
    # spread clusters by anchor; the (anchor, negative) ring-wrap dedup
    # is a partial-aggregating groupBy (hashpartitioning(anchor)
    # satisfies the superset clustering — labels are constant per key,
    # so min_by offset ≡ the old first-occurrence window row), and both
    # anchor windows (rank, count) reuse the same partitioning — the
    # previous window-dedup shape paid a second full exchange on
    # (anchor, negative) before the anchor windows could run.
    picked = (
        spread_by(joined, "anchor")
        .groupBy("anchor", "negative")
        .agg(
            F.min("offset").alias("offset"),
            F.first("anchor_label").alias("anchor_label"),
            F.first("neg_label").alias("neg_label"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("anchor").orderBy("offset")
            ),
        )
        .filter(F.col("rk") <= k)
        .withColumn(
            "n_negatives",
            F.count(F.lit(1)).over(Window.partitionBy("anchor")),
        )
        .select(
            "anchor", "anchor_label", "negative", "neg_label", "n_negatives"
        )
    )
    return picked
