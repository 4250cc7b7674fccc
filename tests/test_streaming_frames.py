"""Live perceptual frame near-dup twin (streaming/frames.py): exact
parity with the registered ``mm_frame_phash_neardup`` batch query, in
any ingestion order, under at-least-once replays, and across delta-
store compaction — the no-tolerance twin contract every other family
carries, on image content."""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
N_FRAMES = 2


def _frames(spark, docs=None):
    from rclabsapi_spark.llm.multimodal import attach_token_heatmap_frames

    docs = docs if docs is not None else spark.read.parquet(
        f"{SF}/documents.parquet"
    )
    return attach_token_heatmap_frames(docs, n_frames=N_FRAMES)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch_pairs(spark, frames_df):
    from rclabsapi_spark.llm.multimodal import (
        average_hash_bands,
        phash_near_dup_pairs,
    )

    return phash_near_dup_pairs(average_hash_bands(frames_df))


def test_phash_twin_exact_parity_and_replay(spark, tmp_path):
    """Three non-key-ordered micro-batches through a REAL stream; the
    folded pair report equals the registered batch query row-for-row
    (integer hashes, no tolerance); cross-batch pairs are genuinely
    exercised; a verbatim replay of a live batch changes nothing."""
    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.streaming.frames import (
        frame_phash_sink,
        phash_pairs_report,
    )

    frames = _frames(spark).cache()
    in_dir = str(tmp_path / "frames_in")
    os.makedirs(in_dir)
    for cls in range(3):
        frames.filter(F.col("doc_id") % 3 == cls).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    hash_dir = str(tmp_path / "hashes")
    pair_dir = str(tmp_path / "pairs")
    sink = frame_phash_sink(hash_dir, pair_dir)
    q = (
        spark.readStream.format("parquet")
        .schema(frames.schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    want = _rows(
        registered()["mm_frame_phash_neardup"].fn(spark, SF)
    )
    got = _rows(phash_pairs_report(spark, pair_dir))
    assert got == want and len(got) > 0

    # the split is non-key-ordered across batches, so pairs whose sides
    # sit in different mod-3 classes were necessarily found by the
    # NEW × STORE path — assert that path actually fired
    cross = [
        r for r in got if r[0] % 3 != r[2] % 3
    ]  # (doc_id_a, frame_idx_a, doc_id_b, frame_idx_b, hamming)
    assert len(cross) > 0

    # verbatim at-least-once replay of one live batch: the prior-set
    # filter (batch_id <) makes the recompute deterministic and the
    # dynamic overwrite rewrites identical content
    hashes = spark.read.parquet(hash_dir)
    some_doc = hashes.select("doc_id").first()[0]
    bid = (
        hashes.filter(F.col("doc_id") == some_doc)
        .select("batch_id")
        .first()[0]
    )
    replay_cls = int(some_doc) % 3
    sink(frames.filter(F.col("doc_id") % 3 == replay_cls), int(bid))
    assert _rows(phash_pairs_report(spark, pair_dir)) == want
    frames.unpersist()


def test_phash_twin_order_independent(spark, tmp_path):
    """The same corpus ingested under a different batch assignment
    (reversed classes, direct handler calls) folds to the same pair
    set — discovery order moves between in-batch and cross paths, the
    answer does not."""
    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.streaming.frames import (
        frame_phash_sink,
        phash_pairs_report,
    )

    frames = _frames(spark).cache()
    hash_dir = str(tmp_path / "hashes")
    pair_dir = str(tmp_path / "pairs")
    sink = frame_phash_sink(hash_dir, pair_dir)
    for bid, cls in enumerate([2, 0, 1]):
        sink(frames.filter(F.col("doc_id") % 3 == cls), bid)

    want = _rows(registered()["mm_frame_phash_neardup"].fn(spark, SF))
    assert _rows(phash_pairs_report(spark, pair_dir)) == want
    frames.unpersist()


def test_phash_twin_compaction_and_post_compaction_cross(spark, tmp_path):
    """Compact BOTH stores (row stores, rewritten verbatim): the
    report is unchanged, a replay of a folded batch is refused, and a
    batch arriving AFTER compaction still pairs against the compacted
    signature history — including a planted re-render of an existing
    doc, which must land at hamming 0 against every one of its
    original's frames."""
    from rclabsapi_spark.maintenance import (
        TwinStoreSpec,
        compact_twin_stores,
    )
    from rclabsapi_spark.streaming.frames import (
        PAIR_SCHEMA,
        frame_phash_sink,
        hash_store_schema,
        phash_pairs_report,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    frames = _frames(spark, docs).cache()
    hash_dir = str(tmp_path / "hashes")
    pair_dir = str(tmp_path / "pairs")
    sink = frame_phash_sink(hash_dir, pair_dir)
    for bid in range(3):
        sink(frames.filter(F.col("doc_id") % 3 == bid), bid)

    before = _rows(phash_pairs_report(spark, pair_dir))
    upto = compact_twin_stores(
        spark,
        [
            TwinStoreSpec(hash_dir, hash_store_schema()),
            TwinStoreSpec(pair_dir, PAIR_SCHEMA),
        ],
    )
    assert upto == {hash_dir: 2, pair_dir: 2}
    assert _rows(phash_pairs_report(spark, pair_dir)) == before

    # replay of a folded batch: refused for BOTH stores
    sink(frames.filter(F.col("doc_id") % 3 == 0), 0)
    assert _rows(phash_pairs_report(spark, pair_dir)) == before

    # a re-render of an existing doc under a fresh key: same text →
    # identical pixel histograms → hamming 0 against the original's
    # frames, found by NEW × compacted-STORE alone
    src = docs.orderBy("doc_id").limit(1)
    orig_id = src.first()["doc_id"]
    clone_id = docs.agg(F.max("doc_id")).first()[0] + 1
    clone_frames = _frames(
        spark, src.withColumn("doc_id", F.lit(clone_id).cast("long"))
    )
    sink(clone_frames, 3)

    after = _rows(phash_pairs_report(spark, pair_dir))
    zero_vs_orig = [
        r
        for r in after
        if r[4] == 0
        and ((r[0] == orig_id and r[2] == clone_id))
    ]
    assert len(zero_vs_orig) >= N_FRAMES  # each frame pairs its twin

    # full-corpus batch recompute over base ∪ clone: still exact
    want = _rows(
        _batch_pairs(spark, frames.unionByName(clone_frames))
    )
    assert after == want
    frames.unpersist()


def test_audio_twin_rides_the_same_sink(spark, tmp_path):
    """The sink's blocking/exactly-once/compaction semantics are
    hash-agnostic: the gain-invariant audio energy-envelope hash rides
    the SAME sink with ``key_cols=("doc_id",)`` — three direct batches
    fold to exactly the batch pair set over the full audio corpus, and
    a replay changes nothing."""
    from rclabsapi_spark.llm.multimodal import (
        attach_token_envelope_wav,
        phash_near_dup_pairs,
        wav_energy_hash_bands,
    )
    from rclabsapi_spark.streaming.frames import (
        frame_phash_sink,
        phash_pairs_report,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wavs = attach_token_envelope_wav(docs).cache()
    hash_dir = str(tmp_path / "ahashes")
    pair_dir = str(tmp_path / "apairs")
    sink = frame_phash_sink(
        hash_dir,
        pair_dir,
        key_cols=("doc_id",),
        hash_fn=lambda df: wav_energy_hash_bands(
            df, key_cols=("doc_id",)
        ),
    )
    for bid in range(3):
        sink(wavs.filter(F.col("doc_id") % 3 == bid), bid)

    want = _rows(
        phash_near_dup_pairs(
            wav_energy_hash_bands(wavs, key_cols=("doc_id",)),
            key_cols=("doc_id",),
        )
    )
    got = _rows(phash_pairs_report(spark, pair_dir, key_cols=("doc_id",)))
    assert got == want and len(got) > 0

    sink(wavs.filter(F.col("doc_id") % 3 == 1), 1)  # replay
    assert (
        _rows(phash_pairs_report(spark, pair_dir, key_cols=("doc_id",)))
        == want
    )
    wavs.unpersist()


def test_phash_twin_through_hadoop_scheme_paths(spark, tmp_path):
    """The twin's stores addressed as ``file://`` URIs: the data plane
    (Spark parquet) and the control plane (accept_batch/compaction via
    storefs.HadoopStoreFS) resolve the SAME filesystem — ingest,
    compact, refused replay, and parity all hold through the scheme
    path, mirroring test_compaction's lifecycle on the new twin."""
    from rclabsapi_spark.maintenance import (
        TwinStoreSpec,
        compact_twin_stores,
    )
    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.streaming.frames import (
        PAIR_SCHEMA,
        frame_phash_sink,
        hash_store_schema,
        phash_pairs_report,
    )

    frames = _frames(spark).cache()
    hash_dir = f"file://{tmp_path}/hashes"
    pair_dir = f"file://{tmp_path}/pairs"
    sink = frame_phash_sink(hash_dir, pair_dir)
    for bid in range(2):
        sink(frames.filter(F.col("doc_id") % 2 == bid), bid)

    want = _rows(registered()["mm_frame_phash_neardup"].fn(spark, SF))
    assert _rows(phash_pairs_report(spark, pair_dir)) == want

    compact_twin_stores(
        spark,
        [
            TwinStoreSpec(hash_dir, hash_store_schema()),
            TwinStoreSpec(pair_dir, PAIR_SCHEMA),
        ],
    )
    sink(frames.filter(F.col("doc_id") % 2 == 0), 0)  # folded: refused
    assert _rows(phash_pairs_report(spark, pair_dir)) == want
    frames.unpersist()


def test_phash_twin_half_compacted_pair_still_refuses_replay(spark, tmp_path):
    """A maintenance run that compacted only ONE of the sink's two
    stores (crashed between them, or misconfigured) must not break
    exactly-once: ``accept_batch`` refuses a batch folded into ANY of
    the stores, so the replay is a no-op for BOTH and the report is
    unchanged — the half-compacted pair converges on the next full
    maintenance run instead of double-counting now."""
    from rclabsapi_spark.streaming.compaction import compact_store
    from rclabsapi_spark.streaming.frames import (
        frame_phash_sink,
        hash_store_schema,
        phash_pairs_report,
    )

    frames = _frames(spark).cache()
    hash_dir = str(tmp_path / "hashes")
    pair_dir = str(tmp_path / "pairs")
    sink = frame_phash_sink(hash_dir, pair_dir)
    for bid in range(2):
        sink(frames.filter(F.col("doc_id") % 2 == bid), bid)
    before = _rows(phash_pairs_report(spark, pair_dir))

    # compact ONLY the hash store; the pair store keeps live partitions
    compact_store(spark, hash_dir, hash_store_schema())

    sink(frames.filter(F.col("doc_id") % 2 == 1), 1)  # replay: refused
    assert _rows(phash_pairs_report(spark, pair_dir)) == before
    # the pair store's live partitions are untouched (no double-count,
    # no deletion)
    import os as _os

    parts = [
        d
        for d in _os.listdir(pair_dir)
        if d.startswith("batch_id=")
    ]
    assert sorted(parts) == ["batch_id=0", "batch_id=1"]
    frames.unpersist()
