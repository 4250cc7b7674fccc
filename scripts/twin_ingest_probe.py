#!/usr/bin/env python
"""Frames-twin ingest probe: does per-batch cost stay flat as the
signature store grows?

The twin's 100 TB claim is that each arriving window pays hash(batch) +
a signature-relation read — NOT the full-corpus re-pair the batch query
pays per run. This probe ingests the sf0.1 frame corpus through
``frame_phash_sink`` in K batches, timing each handler call and the
store row count it joined against, then times the registered batch
query (the per-window cost an owner would pay WITHOUT the twin) and
asserts the folded pair report equals it row-for-row at sf0.1.

    python scripts/twin_ingest_probe.py          # K=8 at sf0.1
    SPARK_GRAFT_PROBE_BATCHES=4 python scripts/twin_ingest_probe.py
    SPARK_GRAFT_PROBE_MODE=audio python scripts/twin_ingest_probe.py
        # the audio energy-envelope hash through the SAME sink
        # (key=(doc_id,), no batch-query baseline timing — the audio
        # near-dup is the r17 registration candidate); parity target
        # is the module-level batch pair set over the full corpus
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from rclabsapi_spark.llm.multimodal import (
        attach_token_envelope_wav,
        attach_token_heatmap_frames,
        average_hash_bands,
        phash_near_dup_pairs,
        wav_energy_hash_bands,
    )
    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.session import get_spark
    from rclabsapi_spark.streaming.frames import (
        frame_phash_sink,
        hash_store_schema,
        phash_pairs_report,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    k = int(os.environ.get("SPARK_GRAFT_PROBE_BATCHES", "8"))
    audio = os.environ.get("SPARK_GRAFT_PROBE_MODE") == "audio"
    spark = get_spark("twin-ingest-probe")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    if audio:
        key_cols = ("doc_id",)

        def media_of(d):
            return attach_token_envelope_wav(d)

        def hash_fn(df):
            return wav_energy_hash_bands(df, key_cols=key_cols)

    else:
        key_cols = ("doc_id", "frame_idx")

        def media_of(d):
            return attach_token_heatmap_frames(d, n_frames=2)

        hash_fn = None  # sink default: average_hash_bands

    with tempfile.TemporaryDirectory() as td:
        hash_dir, pair_dir = f"{td}/hashes", f"{td}/pairs"
        sink = frame_phash_sink(
            hash_dir, pair_dir, key_cols=key_cols, hash_fn=hash_fn
        )
        mode = "audio" if audio else "frames"
        print(f"src={sf_dir}  docs={docs.count()}  batches={k}  mode={mode}")
        print("| batch | store rows joined | batch wall |")
        print("|---|---|---|")
        for i in range(k):
            try:
                store_rows = (
                    spark.read.schema(
                        hash_store_schema(key_cols=key_cols)
                    )
                    .parquet(hash_dir)
                    .count()
                )
            except Exception:
                store_rows = 0
            media_i = media_of(docs.filter(F.col("doc_id") % k == i))
            t0 = time.monotonic()
            sink(media_i, i)
            print(
                f"| {i} | {store_rows} | "
                f"{time.monotonic() - t0:.2f} s |"
            )

        t0 = time.monotonic()
        got = sorted(
            tuple(r)
            for r in phash_pairs_report(
                spark, pair_dir, key_cols=key_cols
            ).collect()
        )
        fold_wall = time.monotonic() - t0

        t0 = time.monotonic()
        if audio:
            batch_pairs = phash_near_dup_pairs(
                wav_energy_hash_bands(
                    attach_token_envelope_wav(docs), key_cols=key_cols
                ),
                key_cols=key_cols,
            )
        else:
            batch_pairs = registered()["mm_frame_phash_neardup"].fn(
                spark, sf_dir
            )
        want = sorted(tuple(r) for r in batch_pairs.collect())
        batch_wall = time.monotonic() - t0

        assert got == want, (
            f"twin/batch mismatch at {sf_dir}: {len(got)} vs {len(want)}"
        )
        print(
            f"report fold {fold_wall:.2f} s over {len(got)} pairs; "
            f"batch re-run (the no-twin per-window cost) "
            f"{batch_wall:.2f} s; parity EXACT"
        )


if __name__ == "__main__":
    main()
