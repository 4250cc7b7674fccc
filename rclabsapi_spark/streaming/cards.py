"""Live incremental dataset card: the per-source snapshot-delta
datasheet maintained as the NEW corpus snapshot ingests micro-batch by
micro-batch against the FROZEN previous snapshot — the streaming twin of
the registered ``train_incremental_card`` (the corpus-drift view a
dataset owner watches between promoted card runs, instead of waiting for
the next full two-snapshot diff).

Construction — the ``streaming.accounting`` / ``streaming.budget``
frozen-base + integer-delta split:

- FROZEN side: the previous snapshot's per-source card sums
  (n_docs, n_tokens, q_micro) and its (doc_id, source, fp) fingerprint
  relation, both pinned when that snapshot was promoted. Digests, never
  bodies.
- LIVE side: each micro-batch of new-snapshot rows classifies its docs
  against the frozen fingerprints (changed / added vs unchanged) and
  writes ONE |sources|-sized delta row set — doc/token/quality-micro
  sums plus moved/overlap counts — partitioned by ``batch_id`` with
  dynamic-partition OVERWRITE, so an at-least-once replay overwrites
  its own partitions instead of double-counting. A parallel ``seen``
  store keeps only the 8-byte doc_ids, for the report-time
  removed-docs anti-join.

Parity class — order-free, the ``streaming.budget`` tier: every per-doc
classification depends only on (the doc, the frozen snapshot), never on
other live docs, and every delta is an integer sum, so when the full new
snapshot has been ingested — in ANY order and ANY batch partitioning —
the report equals the registered batch card row-for-row with no
tolerance (asserted under a deliberately non-key-ordered split). The
registered card's churn denominator decomposes exactly: a full-outer
diff row is either an arrived doc (attributed to its NEW source — the
live n_docs delta) or a removed old doc (attributed to its OLD source —
the anti-join count), and its moved flag is live for arrivals, always 1
for removals.

Reference: the reference publishes per-job progress snapshots while a
batch runs (job_monitor_service.cpp); this is that pattern lifted to
dataset-card curation.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rclabsapi_spark.functions.scalars import round_half_up
from rclabsapi_spark.llm.text import bpe_ish_count, quality_features
from rclabsapi_spark.streaming.accounting import (
    _read_or_empty,
    deterministic_survivor,
)

_CARD_DELTA_SCHEMA = (
    "source string, n_docs long, n_tokens long, q_micro long,"
    " n_moved long, batch_id long"
)
_SEEN_SCHEMA = "doc_id long, batch_id long"


def snapshot_ingest_sink(
    frozen_old_fps: DataFrame,
    delta_dir: str,
    seen_dir: str,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` handler ingesting the new snapshot. Per batch:
    one quality/token scan (the registered card's exact per-row terms:
    ``bpe_ish_count`` tokens, ``round(quality_score·1e6)`` micro ints),
    one doc_id-keyed left join against the frozen fingerprints to flag
    moved (fp changed or doc newly added), then a |sources|-sized delta
    aggregate. Contract: ``doc_id`` unique across the stream (it's a
    snapshot); within-batch duplicates are collapsed by the shared
    total-ordering survivor so replays stay byte-identical."""

    old = frozen_old_fps.select(
        F.col("doc_id"),
        F.col("fp").alias("_fp_old"),
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        from rclabsapi_spark.streaming.compaction import accept_batch

        n = int(batch_id)
        if not accept_batch(n, delta_dir, seen_dir):
            return  # replay of a compacted batch: already folded
        batch = deterministic_survivor(
            batch, key_col="doc_id", text_col="text", source_col="source"
        )
        per_doc = quality_features(
            batch,
            carry=(
                F.col("source").alias("source"),
                bpe_ish_count(F.col("text")).alias("n_tok"),
                F.md5(F.col("text")).alias("_fp"),
            ),
        )
        # moved mirrors the registered card's diffrow predicate exactly:
        # o.fp IS NULL OR n.fp IS NULL OR o.fp <> n.fp. The isNull arms
        # conflate absent-row with NULL-text on purpose (so does the
        # oracle's full-outer fp), and the explicit _fp.isNull() arm
        # keeps a NULL-text arrival counted as moved — a bare `!=`
        # would yield NULL there and silently drop it from the SUM
        # (the grid_term NULL class, caught in self-review r15).
        flagged = per_doc.join(old, "doc_id", "left").withColumn(
            "_moved",
            (
                F.col("_fp_old").isNull()
                | F.col("_fp").isNull()
                | (F.col("_fp_old") != F.col("_fp"))
            ).cast("int"),
        )
        deltas = flagged.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(
                F.round(F.col("quality_score") * 1000000, 0).cast("long")
            ).alias("q_micro"),
            F.sum("_moved").cast("long").alias("n_moved"),
        )
        for df, out in (
            (deltas, delta_dir),
            (batch.select("doc_id"), seen_dir),
        ):
            (
                df.withColumn("batch_id", F.lit(n))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out)
            )

    return handle


def incremental_card_report(
    spark: SparkSession,
    delta_dir: str,
    seen_dir: str,
    frozen_old_card: DataFrame,
    frozen_old_fps: DataFrame,
) -> DataFrame:
    """Fold the ingest deltas into the live incremental card — the
    registered ``train_incremental_card`` columns exactly (source,
    n_docs_old/new, delta_docs, delta_tokens, mean_quality_old/new,
    delta_mean_quality, churn_rate).

    ``frozen_old_card`` is (source, n_docs, n_tokens, q_micro) pinned at
    the previous snapshot's promotion; ``frozen_old_fps`` its
    (doc_id, source, fp) relation. Removed docs are the frozen doc_ids
    never seen live — ONE anti-join shuffling 8-byte ids, the only
    corpus-sized motion at report time; everything else is
    |sources|-sized. Both delta stores read with explicit schemas via
    ``_read_or_empty``, so before any batch lands the report degrades
    to zero rows (sources appear once their first delta arrives — the
    card is an inner join on source by the registered contract)."""
    folded = (
        _read_or_empty(spark, delta_dir, _CARD_DELTA_SCHEMA)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("q_micro").cast("long").alias("q_micro"),
            F.sum("n_moved").cast("long").alias("n_moved"),
        )
    )
    seen = _read_or_empty(spark, seen_dir, _SEEN_SCHEMA).select("doc_id")
    removed = (
        frozen_old_fps.join(seen, "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_removed"))
    )
    j = (
        frozen_old_card.alias("o")
        .join(folded.alias("n"), "source")
        .join(removed.alias("r"), "source", "left")
        .withColumn(
            "n_removed", F.coalesce("r.n_removed", F.lit(0).cast("long"))
        )
    )
    mq_old = round_half_up(
        F.col("o.q_micro").cast("double") / (F.col("o.n_docs") * 1000000.0),
        6,
    )
    mq_new = round_half_up(
        F.col("n.q_micro").cast("double") / (F.col("n.n_docs") * 1000000.0),
        6,
    )
    out = j.select(
        "source",
        F.col("o.n_docs").alias("n_docs_old"),
        F.col("n.n_docs").alias("n_docs_new"),
        (F.col("n.n_docs") - F.col("o.n_docs")).alias("delta_docs"),
        (F.col("n.n_tokens") - F.col("o.n_tokens")).alias("delta_tokens"),
        mq_old.alias("mean_quality_old"),
        mq_new.alias("mean_quality_new"),
        round_half_up(
            (F.col("n.n_moved") + F.col("n_removed")).cast("double")
            / (F.col("n.n_docs") + F.col("n_removed")).cast("double"),
            6,
        ).alias("churn_rate"),
    )
    return out.select(
        "source",
        "n_docs_old",
        "n_docs_new",
        "delta_docs",
        "delta_tokens",
        "mean_quality_old",
        "mean_quality_new",
        round_half_up(
            F.col("mean_quality_new") - F.col("mean_quality_old"), 6
        ).alias("delta_mean_quality"),
        "churn_rate",
    )
