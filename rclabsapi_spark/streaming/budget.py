"""Live crawl-budget re-allocation: per-domain arrival counts maintained
incrementally as document micro-batches ingest, re-derived into the
temperature-flattened crawl allocation between batch prior runs — the
streaming twin of the registered ``clean_crawl_budget`` table (the view
a crawl scheduler watches to decide which domains to fetch next).

Construction: the ``streaming.accounting`` deltas pattern — each
micro-batch writes its per-domain document counts partitioned by
``batch_id`` with dynamic-partition OVERWRITE, so a replayed batch
(at-least-once foreachBatch) overwrites its own partitions instead of
double-counting. The report folds the cumulative counts and feeds them,
with the FROZEN per-domain priority relation pinned at the last batch
quality-prior run, through the same ``crawl_budget_allocation``
operator the registered query uses.

Parity class — the strongest of the streaming twins here: per-domain
COUNTS are pure integer deltas that commute in ANY ingestion order and
ANY batch partitioning, so when the frozen priors come from the same
corpus the fold has ingested, the report equals the registered batch
allocation EXACTLY with no ordering precondition at all (the
keeper-based accounting twins need key-ordered ingestion for their
first-seen == min-key parity; this one does not). Asserted row-for-row,
no tolerance, under a deliberately non-key-ordered split.

Reference: the scheduling side of the reference's job monitoring
(job_monitor_service.cpp's per-job progress feeding re-scheduling)
lifted to crawl curation — counts arrive live, policy (priors, τ,
multiplier) re-derives on demand.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def domain_count_sink(
    delta_dir: str,
    *,
    domain_col: Column | str = "domain",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` handler: write the micro-batch's per-domain
    document counts as batch-id-partitioned deltas. ``domain_col`` may
    be a column NAME or a full expression (e.g. the PSL registrable-
    domain derivation over a URL column), evaluated inside the batch
    scan. Per batch this is one |domains|-sized partial-combining
    aggregate; state on disk is ≤|domains| rows per batch — bodies and
    URLs never land in the store."""
    dcol = F.col(domain_col) if isinstance(domain_col, str) else domain_col

    def handle(batch: DataFrame, batch_id: int) -> None:
        from rclabsapi_spark.streaming.compaction import accept_batch

        if not accept_batch(int(batch_id), delta_dir):
            return  # replay of a compacted batch: already folded
        deltas = (
            batch.select(dcol.alias("domain"))
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_new"))
        )
        (
            deltas.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(delta_dir)
        )

    return handle


def crawl_budget_report(
    spark: SparkSession,
    delta_dir: str,
    frozen_priors: DataFrame,
    *,
    tau: float = 0.5,
    budget_multiplier: float = 1.25,
) -> DataFrame:
    """Fold the cumulative per-domain counts and re-derive the crawl
    allocation — the same columns as the registered
    ``clean_crawl_budget`` (domain, n_docs, priority, w_temp,
    target_docs, effective_docs, capped), produced by the same
    ``crawl_budget_allocation`` operator on (folded counts × frozen
    priors).

    ``frozen_priors`` is the (domain, priority) relation pinned at the
    last batch quality-prior run (suites/cleaning quality prior) — the
    priority itself depends on cumulative content quality, which is
    NOT delta-additive; counts are, which is exactly the split this
    twin rides. A domain arriving live with no frozen prior gets
    priority 0.0 (zero weight and a zero target until
    the next prior run — the allocator's documented Z-degenerate
    handling makes that an explicit "needs a prior first" signal, not
    a NULL). The delta store is read with an EXPLICIT schema via the
    accounting module's ``_read_or_empty``: an absent or
    partition-file-free store folds to a zero-row report instead of
    raising on schema inference."""
    from rclabsapi_spark.llm.sampling import crawl_budget_allocation
    from rclabsapi_spark.streaming.accounting import _read_or_empty

    folded = (
        _read_or_empty(
            spark, delta_dir, "domain string, n_new long, batch_id long"
        )
        .groupBy("domain")
        .agg(F.sum("n_new").cast("long").alias("n_docs"))
    )
    stats = folded.join(
        F.broadcast(
            frozen_priors.select(
                "domain", F.col("priority").alias("_prior")
            )
        ),
        "domain",
        "left",
    ).select(
        "domain",
        "n_docs",
        F.coalesce("_prior", F.lit(0.0)).alias(
            "priority"
        ),
    )
    return crawl_budget_allocation(
        stats,
        strat_col="domain",
        size_col="n_docs",
        priority_col="priority",
        tau=tau,
        budget_multiplier=budget_multiplier,
    )
