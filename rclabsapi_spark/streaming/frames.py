"""Live perceptual frame near-dup: the streaming twin of the batch
``mm_frame_phash_neardup`` query — re-encoded/retouched frames caught
AS THEY INGEST, against everything already in the index, without ever
re-hashing (or re-shuffling) the history.

Construction — the ``dedup_incremental_lsh`` scale shape fused with the
``streaming.accounting`` deltas pattern:

- Each micro-batch of frames is decoded and average-hashed ONCE
  (``llm.multimodal.average_hash_bands`` — the real pixel path), and
  its (keys, band ints) signatures are appended to a batch-id-
  partitioned HASH STORE. Payloads die at the decode scan; only
  (doc_id, frame_idx, 4 ints) persist — ~24 B/frame, append-only.
- The batch's near-dup pairs are discovered incrementally: in-batch
  pairs via the same pigeonhole band-blocking the registered query
  uses, plus NEW × STORE band joins against the signatures of STRICTLY
  EARLIER batches — never store × store (the history was already
  paired when it ingested). Every pair within ``max_hamming`` shares
  at least one exact band (pigeonhole: ``n_bands > max_hamming``), and
  each qualifying pair has a unique later-arriving side, so the union
  of per-batch pair deltas is EXACTLY the batch query's pair set —
  found once, verified by exact Hamming, canonically ordered by
  (doc_id, frame_idx).
- Pair deltas land batch-id-partitioned with dynamic-partition
  OVERWRITE. A replayed batch recomputes against the same prior set —
  the store side is filtered to ``batch_id < this batch`` — so the
  at-least-once replay rewrites byte-identical content over its own
  partition instead of double-counting, even when later batches have
  already landed.
- Both stores are compaction-aware: reads resolve through the shared
  ``accounting._read_or_empty`` (compacted rows carry ``batch_id =
  upto``, which stays strictly below any live batch id, so the
  prior-set filter keeps working unchanged), and ``accept_batch``
  guards BOTH stores so a batch folded into either is refused for
  both. Compact the pair with one ``maintenance.compact_twin_stores``
  run (two row-store ``TwinStoreSpec``s, no sum columns).

Contract: (doc_id, frame_idx) is unique across the stream — the same
contract the exact-digest incremental dedup store carries. Re-ingesting
a unit under the same key is a replay (overwrite-safe), not an update.

At 100 TB: per batch this costs one decode+hash scan of the batch, one
band-key shuffle of batch-sized signatures, and a pruned read of the
store's signature relation — the corpus' payload bytes never cross an
exchange, and the report fold is a pair-store read, zero recompute.

Reference: the frame-digest lifecycle gate (log_file_manager.hpp
digest dedup before archive) upgraded to perceptual equality and run
continuously at ingest rather than at rotation time.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_KEYS = ("doc_id", "frame_idx")
_KEY_TYPES = {"doc_id": "long", "frame_idx": "int"}


def hash_store_schema(
    n_bands: int = 4, *, key_cols: tuple[str, ...] = _KEYS
) -> str:
    keys = ", ".join(f"{k} {_KEY_TYPES[k]}" for k in key_cols)
    bands = ", ".join(f"b{b} int" for b in range(n_bands))
    return f"{keys}, {bands}, batch_id long"


def pair_store_schema(key_cols: tuple[str, ...] = _KEYS) -> str:
    sides = ", ".join(
        f"{k}_{s} {_KEY_TYPES[k]}" for s in ("a", "b") for k in key_cols
    )
    return f"{sides}, hamming int, batch_id long"


PAIR_SCHEMA = pair_store_schema()


def _band_exploded(
    hashed: DataFrame,
    n_bands: int,
    alias: str,
    key_cols: tuple[str, ...] = _KEYS,
) -> DataFrame:
    """(member struct, band_id, band_key) — the blocking relation. The
    member struct carries keys + all band ints so Hamming verification
    needs no join-back."""
    member = F.struct(*[F.col(c) for c in key_cols],
                      *[F.col(f"b{b}") for b in range(n_bands)])
    return hashed.select(
        member.alias(alias),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.col(f"b{b}").alias("band_key"),
                )
                for b in range(n_bands)
            ])
        ).alias("band"),
    ).select(alias, "band.band_id", "band.band_key")


def _cross_pairs(
    new_hashed: DataFrame,
    store_hashed: DataFrame,
    *,
    n_bands: int,
    max_hamming: int,
    key_cols: tuple[str, ...] = _KEYS,
) -> DataFrame:
    """NEW × STORE near-dup pairs: band-key equi-join (never
    store × store), exact Hamming verified BEFORE the cross-band
    dedup so the final exchange is output-sized (the
    phash_near_dup_pairs lesson), output canonically ordered by the
    key tuple — the order the batch query's sorted-members pair
    generation produces, so twin ∪ batch rows compare exactly."""
    na = _band_exploded(new_hashed, n_bands, "mn", key_cols)
    sa = _band_exploded(store_hashed, n_bands, "ms", key_cols)
    cand = na.join(sa, ["band_id", "band_key"]).select("mn", "ms")
    hamming = None
    for b in range(n_bands):
        term = F.bit_count(
            F.col(f"mn.b{b}").bitwiseXOR(F.col(f"ms.b{b}"))
        )
        hamming = term if hamming is None else hamming + term
    # unit keys are unique across the stream, so lexicographic struct
    # comparison on the key prefix is a total order
    swap = F.struct(
        *[F.col(f"mn.{k}") for k in key_cols]
    ) > F.struct(*[F.col(f"ms.{k}") for k in key_cols])
    ua = F.when(swap, F.col("ms")).otherwise(F.col("mn"))
    ub = F.when(swap, F.col("mn")).otherwise(F.col("ms"))
    side_cols = [
        ua[k].alias(f"{k}_a") for k in key_cols
    ] + [ub[k].alias(f"{k}_b") for k in key_cols]
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(*side_cols, "hamming")
        .dropDuplicates(
            [f"{k}_{s}" for s in ("a", "b") for k in key_cols]
        )
    )


def frame_phash_sink(
    hash_dir: str,
    pair_dir: str,
    *,
    max_hamming: int = 3,
    key_cols: tuple[str, ...] = _KEYS,
    hash_fn: Callable[..., DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` handler for a (keys..., payload) media stream:
    hash the batch once, append its signatures to the hash store, and
    write the pairs IT discovers (in-batch + batch × earlier-store) as
    a batch-id-partitioned pair delta. Exactly-once under
    at-least-once replays via dynamic overwrite + the deterministic
    ``batch_id <`` prior-set filter; compaction-guarded on BOTH
    stores.

    ``hash_fn`` is any perceptual hasher with the b0..b{n-1} band
    contract — image frames by default (``average_hash_bands``); pass
    ``wav_energy_hash_bands`` with ``key_cols=("doc_id",)`` for the
    audio column (the gain-invariant energy-envelope hash): the
    blocking, exactly-once, and compaction semantics are hash-
    agnostic."""
    if max_hamming >= 4:
        raise ValueError("pigeonhole needs max_hamming < n_bands (4)")

    def handle(batch: DataFrame, batch_id: int) -> None:
        from rclabsapi_spark.llm.multimodal import (
            average_hash_bands,
            phash_near_dup_pairs,
        )
        from rclabsapi_spark.streaming.accounting import _read_or_empty
        from rclabsapi_spark.streaming.compaction import accept_batch

        if not accept_batch(int(batch_id), hash_dir, pair_dir):
            return  # replay of a compacted batch: already folded
        spark = batch.sparkSession
        hasher = hash_fn or (
            lambda df: average_hash_bands(df, key_cols=key_cols)
        )
        # one decode+hash pass, three consumers below
        hashed = hasher(batch).cache()
        store = (
            _read_or_empty(
                spark,
                hash_dir,
                hash_store_schema(4, key_cols=key_cols),
            )
            .filter(F.col("batch_id") < int(batch_id))
            .drop("batch_id")
        )
        in_batch = phash_near_dup_pairs(
            hashed,
            max_hamming=max_hamming,
            key_cols=key_cols,
        )
        cross = _cross_pairs(
            hashed,
            store,
            n_bands=4,
            max_hamming=max_hamming,
            key_cols=key_cols,
        )
        # disjoint by construction: in-batch pairs have both sides in
        # this batch, cross pairs exactly one
        pairs = in_batch.unionByName(cross)
        (
            pairs.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(pair_dir)
        )
        (
            hashed.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(hash_dir)
        )
        hashed.unpersist()

    return handle


def phash_pairs_report(
    spark: SparkSession,
    pair_dir: str,
    *,
    key_cols: tuple[str, ...] = _KEYS,
) -> DataFrame:
    """The accumulated near-dup pair set — row-for-row EXACTLY the
    batch pair query over the media ingested so far (no tolerance:
    integer hashes, integer Hamming, each pair discovered exactly once
    when its later side arrived). A pair-store read, zero recompute;
    compaction-aware via ``_read_or_empty``."""
    from rclabsapi_spark.streaming.accounting import _read_or_empty

    return _read_or_empty(
        spark, pair_dir, pair_store_schema(key_cols)
    ).drop("batch_id")
