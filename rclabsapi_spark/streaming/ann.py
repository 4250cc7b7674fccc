"""Live ANN index maintenance: per-centroid assignment-churn accounting
maintained incrementally as embedding micro-batches ingest — the
streaming twin of the batch churn table (suites/llm.py::
q_ivf_incremental_churn), and the second live input (alongside
streaming.drift's per-label centroid drift) to the batch retrain gate
(``sim_drift_retrain_gate``).

Construction: the ``streaming.accounting`` deltas pattern — each
micro-batch assigns its vectors to the FROZEN base-index centroids
(``ivf_assign``, K-row broadcast + one scan) and writes its
per-centroid arrival counts partitioned by ``batch_id`` with
dynamic-partition OVERWRITE, so a replayed batch (at-least-once
foreachBatch) overwrites its own partitions instead of double-counting.
Counts are integers, so the folded report equals the batch computation
over the same rows exactly — the parity test asserts row-for-row
equality with the REGISTERED churn query, no tolerance.

Reference: the per-job ``recordsProcessed`` counters of the reference's
job monitoring (job_monitoring_models.hpp:34) composed with the frozen-
centroid incremental-index scenario introduced in r12 — the live view
of "which inverted lists are growing" an index owner watches between
rebuild decisions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rclabsapi_spark.llm.similarity import ivf_assign


def churn_delta_sink(
    delta_dir: str,
    centroids: DataFrame,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` handler: assign the micro-batch to the frozen
    ``centroids`` (columns ``centroid_id``, ``cvec``) and write its
    per-centroid arrival counts as batch-id-partitioned deltas. Per
    batch this is one K-row broadcast + one argmax-cosine scan + a
    |centroids|-sized aggregate; state on disk is ≤K rows per batch."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        from rclabsapi_spark.streaming.compaction import accept_batch

        if not accept_batch(int(batch_id), delta_dir):
            return  # replay of a compacted batch: already folded
        assigned = ivf_assign(batch, centroids=centroids)
        deltas = assigned.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("n_new")
        )
        (
            deltas.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(delta_dir)
        )

    return handle


def churn_report(
    spark: SparkSession, delta_dir: str, base_sizes: DataFrame
) -> DataFrame:
    """Fold the per-batch arrival deltas into the running churn table —
    the same columns as the batch ``sim_ivf_incremental_churn`` query
    (centroid_id, n_base, n_new, n_total, new_share), so the two are
    directly comparable. ``base_sizes`` is the frozen index's
    (centroid_id, n_base) list-size relation; centroids with no
    arrivals report n_new = 0. new_share divides exact integer
    counts.

    The delta store is read with an EXPLICIT schema via the accounting
    module's ``_read_or_empty``: before any non-empty batch lands — or
    when every batch so far assigned zero vectors, so the dynamic
    overwrite created the directory but no partition files — the store
    folds to an empty relation and the report correctly returns
    ``base_sizes`` with n_new = 0 instead of raising on schema
    inference (ADVICE r13)."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.streaming.accounting import _read_or_empty

    id_type = dict(base_sizes.dtypes)["centroid_id"]
    arrivals = (
        _read_or_empty(
            spark,
            delta_dir,
            f"centroid_id {id_type}, n_new long, batch_id long",
        )
        .groupBy("centroid_id")
        .agg(F.sum("n_new").cast("long").alias("n_new"))
    )
    merged = (
        base_sizes.select("centroid_id", F.col("n_base").cast("long").alias("n_base"))
        .join(arrivals, "centroid_id", "left")
        .select(
            "centroid_id",
            "n_base",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
    )
    total = F.col("n_base") + F.col("n_new")
    return merged.select(
        "centroid_id",
        "n_base",
        "n_new",
        total.alias("n_total"),
        F.when(
            total > 0,
            round_half_up(F.col("n_new") / total.cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("new_share"),
    )
