"""Live distribution-drift monitoring: per-event-time-window equal-width
histogram counts, folded into a PSI score against a frozen reference
distribution.

The streaming upgrade of the batch PSI audit (operators/analytics.py::
psi_drift): instead of comparing two halves of a static table, every
tumbling window's value histogram scores against a reference histogram
captured from a known-good period — the distributional version of the
reference's threshold alerts (ST6, system_metrics.hpp:43-54), which
only watch point values.

Scale/streaming shape: the binning is a per-row codegen expression with
FROZEN bounds (no global min/max pass — a stream cannot see its future;
bounds come from the reference period), so the windowed count is an
ordinary watermarked groupBy — bounded state, one row per (window, bin).
The PSI fold runs over the n_bins rows per window, engine-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def equal_width_bin(
    value, *, lo: float, hi: float, n_bins: int = 10
):
    """Clamped equal-width bin id over frozen [lo, hi] bounds — identical
    to the batch PSI binning, but with constants instead of a global
    aggregate (streams can't min/max their future)."""
    width = (hi - lo) / float(n_bins)
    return F.least(
        F.greatest(
            F.floor((value.cast("double") - F.lit(lo)) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )


def binned_window_counts(
    events: DataFrame,
    *,
    value_col: str = "value",
    ts_col: str = "ts",
    lo: float,
    hi: float,
    n_bins: int = 10,
    window: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """Per-(event-time window, bin) value counts. Identical semantics on
    batch and streaming input; streaming adds the watermark so window
    state finalizes and expires."""
    src = events
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.select(
            F.window(F.col(ts_col), window).alias("w"),
            equal_width_bin(
                F.col(value_col), lo=lo, hi=hi, n_bins=n_bins
            ).alias("bin"),
        )
        .groupBy("w", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "bin",
            "n",
        )
    )


def psi_vs_reference(
    counts: DataFrame,
    ref_shares: dict[int, float],
) -> DataFrame:
    """Fold per-window bin counts into a PSI score against a frozen
    reference share table: PSI_w = Σ_bins (q−p)·ln(q/p) with ε floors.
    ``ref_shares`` maps bin id → reference share (from the known-good
    period); missing bins floor to ε on either side. Output: one row per
    window (window_start, n_rows, psi)."""
    ref_col = F.create_map(
        *[x for b, s in sorted(ref_shares.items()) for x in (F.lit(b), F.lit(s))]
    )
    w_tot = F.sum("n").over(Window.partitionBy("window_start"))
    shares = counts.select(
        "window_start",
        "bin",
        "n",
        (F.col("n").cast("double") / w_tot).alias("q"),
        F.coalesce(ref_col[F.col("bin")], F.lit(0.0)).alias("p"),
    )
    q = F.greatest(F.col("q"), F.lit(1e-6))
    p = F.greatest(F.col("p"), F.lit(1e-6))
    # same 9dp-grid sum as the batch operator (operators/analytics.py::
    # psi_drift), so the replay-parity twin stays bit-identical
    from rclabsapi_spark.functions.scalars import grid_sum

    return (
        shares.groupBy("window_start")
        .agg(
            F.sum("n").alias("n_rows"),
            grid_sum((q - p) * F.log(q / p), 6).alias("psi"),
        )
    )


# ---------------------------------------------------------------------------
# Live per-label embedding-centroid drift — the streaming input to the
# batch retrain gate (suites/llm.py::q_drift_retrain_gate, r13)
# ---------------------------------------------------------------------------


def centroid_delta_sink(delta_dir: str):
    """``foreachBatch`` handler maintaining per-label centroid state as
    the embedding stream ingests: each micro-batch writes its
    per-(label, pos) component sums on the 9dp integer grid
    (DECIMAL(38,0)) plus counts, partitioned by ``batch_id`` with
    dynamic-partition OVERWRITE — the ``streaming.accounting`` deltas
    construction, so a replayed batch (at-least-once foreachBatch)
    overwrites its own partitions instead of double-counting.

    The grid is what makes the twin EXACT, not just close: integer
    delta sums commute, so folding any batch partitioning of the
    corpus reproduces the batch computation's centroid components
    bit-for-bit (the replay-parity test asserts full equality, no
    tolerance). Per batch this is one explode + one (label, pos)
    aggregate — map-side combining keeps shuffle bytes centroid-sized,
    never batch-sized; state on disk is |labels|·|dim| rows per batch.

    Reference: the live metric recording of ST6 threshold monitoring
    (system_metrics.hpp:43-54) lifted to embedding subpopulations —
    the input a retrain gate watches between index rebuilds."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        from rclabsapi_spark.streaming.compaction import accept_batch

        if not accept_batch(int(batch_id), delta_dir):
            return  # replay of a compacted batch: already folded
        comp = batch.select(
            F.col("label").alias("label"),
            F.posexplode("embedding").alias("pos", "x"),
        ).withColumn("x", F.col("x").cast("double"))
        x_nano = F.floor(F.col("x") * 1000000000.0 + F.lit(0.5)).cast(
            "decimal(38,0)"
        )
        deltas = comp.groupBy("label", "pos").agg(
            F.sum(x_nano).alias("sum_nano"),
            F.count(F.lit(1)).alias("n"),
        )
        (
            deltas.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(delta_dir)
        )

    return handle


def centroid_drift_report(
    spark, delta_dir: str, baseline: DataFrame
) -> DataFrame:
    """Fold the per-batch centroid deltas into the running per-label
    report against a FROZEN baseline: (label, n_vecs, cos_to_baseline).

    ``baseline`` is a (label, pos, c) relation of 6dp-rounded baseline
    centroid components (e.g. the base-index centroids the batch
    retrain gate froze). The fold sums integer deltas (order-
    independent), rounds the mean to the same 6dp grid as the batch
    construction (suites/llm.py centroid conventions), and takes the
    micro-int cosine per label — so the report equals the batch
    computation over the same rows exactly. The |labels|·|dim| baseline
    broadcasts onto the folded components.

    The delta store is read with an EXPLICIT schema via the accounting
    module's ``_read_or_empty``: an absent or partition-file-free store
    (no batch yet, or only empty batches under dynamic overwrite) folds
    to an empty relation — the report returns zero rows rather than
    raising on schema inference (ADVICE r13)."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.streaming.accounting import _read_or_empty

    label_type = dict(baseline.dtypes)["label"]
    deltas = _read_or_empty(
        spark,
        delta_dir,
        f"label {label_type}, pos int, sum_nano decimal(38,0),"
        " n long, batch_id long",
    )
    folded = deltas.groupBy("label", "pos").agg(
        F.sum("sum_nano").alias("s"),
        F.sum("n").alias("n"),
    )
    mean_c = round_half_up(
        F.col("s").cast("double") / (F.col("n") * 1000000000.0), 6
    )
    j = folded.join(
        F.broadcast(baseline.select("label", "pos", "c")), ["label", "pos"]
    ).select(
        "label",
        "n",
        F.round(mean_c * 1000000.0, 0).cast("long").alias("lm"),
        F.round(F.col("c") * 1000000.0, 0).cast("long").alias("bm"),
    )
    lb = F.sum(F.col("lm") * F.col("bm")).cast("double")
    ll = F.sum(F.col("lm") * F.col("lm")).cast("double")
    bb = F.sum(F.col("bm") * F.col("bm")).cast("double")
    return j.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        round_half_up(lb / (F.sqrt(ll) * F.sqrt(bb)), 6).alias(
            "cos_to_baseline"
        ),
    )
