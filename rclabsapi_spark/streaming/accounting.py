"""Streaming twin of the batch token-budget savings report
(``dedup_token_savings``): per-source dedup accounting maintained
incrementally as micro-batches ingest, instead of recomputed over the
full corpus.

Shape: a ``foreachBatch`` sink that runs ``llm.dedup.incremental_dedup``
against the append-only fingerprint store (32 B/doc — the daily-merge
pattern; a full re-dedup per micro-batch is a non-starter at 100 TB),
then writes the batch's per-source token deltas. Both outputs are
partitioned by ``batch_id`` with dynamic-partition OVERWRITE, so a
replayed batch (Structured Streaming's at-least-once foreachBatch
contract) overwrites its own partitions instead of double-counting —
the same exactly-once construction as
``streaming.sources.idempotent_parquet_sink``. Replay determinism also
needs the dedup verdicts themselves to be stable: each batch dedups
against strictly EARLIER batches' fingerprints (``batch_id < n``), so a
replay after its own fingerprints landed cannot see itself and flip its
``kept`` rows to ``seen_before``.

Keeper rule parity: ``incremental_dedup`` keeps the min-key doc per
hash within a batch and first-seen across batches, so when batches
arrive in key order the kept set is exactly the batch query's
min-doc_id-per-md5 keepers — the replay-parity test asserts the final
totals equal ``dedup_token_savings`` row-for-row.

Reference: the hash-digest dedup gate on log archiving
(log_file_manager.hpp:195-197) plus the per-job ``recordsProcessed``
counters its job monitoring tracks (job_monitoring_models.hpp:34,
etl_job_models.hpp:31), composed as live per-source accounting.
"""

from __future__ import annotations

from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rclabsapi_spark.catalog import local_df
from rclabsapi_spark.functions.scalars import round_half_up
from rclabsapi_spark.llm.dedup import incremental_dedup
from rclabsapi_spark.llm.text import token_count

_DELTA_COLS = (
    "n_docs",
    "n_dup_docs",
    "tokens_total",
    "tokens_dropped",
    "tokens_kept",
)


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Empty store ONLY when the path genuinely doesn't exist yet (first
    batch). Any other read failure — corrupt footer, transient FS or
    permission error — must fail the batch: swallowing it would treat
    every previously-seen duplicate as 'kept', silently inflating
    tokens_kept and seeding duplicate fingerprints (ADVICE r12).
    Compaction-aware (r15): when the store carries a compaction
    manifest, the view is live-partitions-after-the-compaction-point ∪
    the compacted file set (streaming/compaction.py) — every twin
    reader resolves it through here without change."""
    from rclabsapi_spark.streaming.compaction import read_store

    try:
        return read_store(
            spark, spark.read.schema(schema).parquet(path), path, schema
        )
    except AnalysisException as exc:
        # getCondition is the Spark 4 name; getErrorClass was removed on
        # some builds, so resolve the fallback lazily — an eager
        # ``getattr(exc, ..., exc.getErrorClass)`` would raise
        # AttributeError before the legit first-batch PATH_NOT_FOUND
        # check ever runs (ADVICE r13).
        if hasattr(exc, "getCondition"):
            cond = exc.getCondition()
        else:
            cond = getattr(exc, "getErrorClass", lambda: None)()
        if "PATH_NOT_FOUND" in str(cond or "") or "PATH_NOT_FOUND" in str(
            exc
        ):
            return local_df(spark, [], schema)
        raise


def deterministic_survivor(
    batch: DataFrame,
    *,
    key_col: str,
    text_col: str,
    source_col: str,
) -> DataFrame:
    """One row per ``key_col``, chosen by a TOTAL ordering so a replay
    of the same micro-batch picks the SAME survivor even when the key
    arrived with conflicting rows (ADVICE r13/r14): min_by on
    (md5(text), source, then every remaining column cast to string).
    Each ordering field is a (is_null, string value) pair — a bare
    ``coalesce(col, '')`` would give a NULL and an empty-string value
    the SAME ordering key, letting min_by pick arbitrarily between rows
    whose values genuinely differ (and NULL/'' land in different
    groupBy('source') buckets downstream, so a replay could write
    different per-source deltas — ADVICE r15). With the discriminator,
    non-NULL sorts before NULL and the string compare only ever ties
    for identical values. Shared by the accounting and snapshot-card
    sinks — the unique-key defensive gate both contracts require
    before their per-key joins."""

    def ordkey(col, name: str):
        return F.struct(
            col.isNull().cast("int").alias(f"{name}_n"),
            F.coalesce(col.cast("string"), F.lit("")).alias(f"{name}_v"),
        ).alias(name)

    others = [c for c in batch.columns if c != key_col]
    tie = [
        ordkey(F.col(c), f"t{i}")
        for i, c in enumerate(
            c for c in others if c not in (text_col, source_col)
        )
    ]
    return (
        batch.groupBy(key_col)
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in others]),
                F.struct(
                    ordkey(F.md5(F.col(text_col).cast("binary")), "h"),
                    ordkey(F.col(source_col), "s"),
                    *tie,
                ),
            ).alias("_surv")
        )
        .select(key_col, "_surv.*")
    )


def token_savings_sink(
    fp_dir: str,
    delta_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` handler. Per micro-batch: ONE shuffle
    on the 32-byte hash (in-batch keeper window + store anti-lookup
    cluster on it, bodies never move past the batch scan), then a
    |sources|-sized delta aggregate. Writes per-batch DELTAS, not
    running totals — totals are an idempotent sum over deltas
    (``token_savings_totals``), so no read-modify-write race and no
    state to corrupt on replay.

    Contract: ``doc_id`` must be unique within a micro-batch — the
    statuses⋈batch join below is on that key, so a duplicated key would
    fan out and inflate n_docs/token totals. Enforced defensively on
    entry (ADVICE r12) with a DETERMINISTIC survivor — min_by on a
    TOTAL ordering, not ``dropDuplicates`` whose arbitrary pick
    could make a replay of the same batch_id write different deltas
    than the original run when the same doc_id arrives with different
    text/source in one batch (ADVICE r13). The ordering key is
    (md5(text), source) then every remaining column cast to string
    (ADVICE r14): two rows identical in text+source but differing in,
    say, a timestamp no longer tie into an arbitrary pick, and each
    field carries an is-null discriminator so NULL and '' order
    differently (ADVICE r15). A source that replays the
    same doc_id within one batch loses the extra copies, which is the
    correct dedup-accounting answer anyway."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        from rclabsapi_spark.streaming.compaction import accept_batch

        spark = batch.sparkSession
        n = int(batch_id)
        if not accept_batch(n, fp_dir, delta_dir):
            return  # replay of a compacted batch: already folded
        batch = deterministic_survivor(
            batch, key_col="doc_id", text_col="text", source_col="source"
        )
        store = _read_or_empty(
            spark, fp_dir, "text_hash string, batch_id long"
        ).filter(F.col("batch_id") < n)
        statuses = incremental_dedup(batch, store)
        flagged = statuses.join(
            batch.select(
                "doc_id",
                F.col("source").alias("source"),
                token_count(F.col("text")).alias("n_tok"),
            ),
            "doc_id",
        )
        dup = F.col("status") != "kept"
        deltas = flagged.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup.cast("int")).cast("long").alias("n_dup_docs"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.when(dup, F.col("n_tok")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_dropped"),
            F.sum(F.when(dup, F.lit(0)).otherwise(F.col("n_tok")))
            .cast("long")
            .alias("tokens_kept"),
        )
        for df, out in (
            (deltas, delta_dir),
            (
                statuses.filter(~dup).select("text_hash"),
                fp_dir,
            ),
        ):
            (
                df.withColumn("batch_id", F.lit(n))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out)
            )

    return handle


_DELTA_SCHEMA = "source string, " + ", ".join(
    f"{c} long" for c in _DELTA_COLS
) + ", batch_id long"


def _fold_deltas(spark: SparkSession, delta_dir: str) -> DataFrame:
    """Per-source integer totals over the delta store. Explicit schema
    via ``_read_or_empty``: an absent or partition-file-free store
    folds to zero rows instead of raising on schema inference (the
    ADVICE r13 class fixed in streaming/ann.py and streaming/drift.py
    — applied here for the same first-batch window)."""
    return (
        _read_or_empty(spark, delta_dir, _DELTA_SCHEMA)
        .groupBy("source")
        .agg(*[F.sum(c).cast("long").alias(c) for c in _DELTA_COLS])
    )


def token_savings_totals(spark: SparkSession, delta_dir: str) -> DataFrame:
    """Fold the per-batch deltas into the running report — the same
    columns (and the same exact-integer-ratio rate) as the batch
    ``dedup_token_savings`` query, so the two are directly comparable."""
    return _fold_deltas(spark, delta_dir).select(
        "source",
        *_DELTA_COLS,
        round_half_up(
            F.col("tokens_dropped") / F.col("tokens_total").cast("double"), 6
        ).alias("savings_rate"),
    )


def policy_savings_report(
    spark: SparkSession, delta_dir: str, frozen_extras: DataFrame
) -> DataFrame:
    """Live dedup-POLICY savings card — the streaming view of the
    registered ``dedup_policy_savings`` table (the card a curation
    owner watches between policy re-runs).

    Frozen-base + live-deltas construction (the streaming/ann churn and
    streaming/drift pattern): the EXACT tier accumulates live from the
    ``token_savings_sink`` batch-id deltas (integer token sums commute,
    exactly-once via dynamic partition overwrite), while the near-dup
    and quality tiers ride ``frozen_extras`` — a (source, extra_minid,
    extra_quality) relation pinned at the last batch policy run (the
    registered card's tier-2/tier-3 EXTRA token savings over the exact
    tier; cluster membership and keeper choice are global decisions
    that are NOT delta-additive, which is exactly why the batch card
    re-runs on a cadence and this view folds live exact savings onto
    its frozen extras in between). Columns and the integer-ratio rates
    are the registered card's, so the two are row-for-row comparable:
    when the frozen extras come from the same corpus the fold has
    ingested (in key order, the ``dedup_token_savings`` parity regime),
    the report EQUALS the registered batch card exactly — asserted
    with no tolerance by the parity test. The |sources|-sized extras
    relation broadcasts onto the folded totals; nothing corpus-sized
    moves at report time."""
    totals = _fold_deltas(spark, delta_dir)
    extras = frozen_extras.select(
        "source",
        F.col("extra_minid").cast("long").alias("extra_minid"),
        F.col("extra_quality").cast("long").alias("extra_quality"),
    )
    j = totals.join(F.broadcast(extras), "source", "left")
    saved_exact = F.col("tokens_dropped")
    neardup = saved_exact + F.coalesce("extra_minid", F.lit(0))
    qual = saved_exact + F.coalesce("extra_quality", F.lit(0))
    tot = F.col("tokens_total").cast("double")
    return j.select(
        "source",
        "n_docs",
        "tokens_total",
        saved_exact.alias("tokens_saved_exact"),
        neardup.cast("long").alias("tokens_saved_neardup"),
        qual.cast("long").alias("tokens_saved_quality"),
        round_half_up(saved_exact / tot, 6).alias("rate_exact"),
        round_half_up(neardup / tot, 6).alias("rate_neardup"),
        round_half_up(qual / tot, 6).alias("rate_quality"),
    )
