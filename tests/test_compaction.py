"""Delta-store compaction (streaming/compaction.py): report parity
through a compaction point, refused replays of compacted batches,
idempotent re-compaction, file-count GC, and type preservation for the
DECIMAL(38,0) grid stores."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rclabsapi_spark.streaming.compaction import (
    accept_batch,
    compact_store,
    compaction_state,
)

SF = "/root/testdata/sf0.001"


def _batch_dirs(path: str) -> list[str]:
    return sorted(
        n for n in os.listdir(path) if n.startswith("batch_id=")
    )


def test_token_savings_parity_through_compaction(spark, tmp_path):
    """Ingest three key-ordered batches, compact BOTH stores, ingest a
    fourth: totals must equal the registered batch report on the full
    fixture (the post-compaction batch's store anti-lookup reads the
    compacted fingerprints), the folded partitions must be gone, a
    replay of a compacted batch must be refused, and a replay of a
    live batch stays idempotent."""
    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.streaming.accounting import (
        _DELTA_COLS,
        token_savings_sink,
        token_savings_totals,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hi = docs.agg({"doc_id": "max"}).first()[0] + 1
    cuts = [0, hi // 4, hi // 2, 3 * hi // 4, hi]
    parts = [
        docs.filter((docs.doc_id >= lo) & (docs.doc_id < up))
        for lo, up in zip(cuts, cuts[1:])
    ]
    fp_dir = str(tmp_path / "fp")
    delta_dir = str(tmp_path / "deltas")
    sink = token_savings_sink(fp_dir, delta_dir)

    for bid in range(3):
        sink(parts[bid], bid)
    before = {
        r["source"]: r.asDict()
        for r in token_savings_totals(spark, delta_dir).collect()
    }

    schema = (
        "source string, "
        + ", ".join(f"{c} long" for c in _DELTA_COLS)
        + ", batch_id long"
    )
    assert compact_store(
        spark, delta_dir, schema,
        group_cols=("source",), sum_cols=_DELTA_COLS,
    ) == 2
    assert compact_store(
        spark, fp_dir, "text_hash string, batch_id long"
    ) == 2

    # folded partitions GC'd; the fold is unchanged by compaction
    assert _batch_dirs(delta_dir) == [] and _batch_dirs(fp_dir) == []
    assert {
        r["source"]: r.asDict()
        for r in token_savings_totals(spark, delta_dir).collect()
    } == before

    # a compacted batch is refused (its partition is gone; a rewrite
    # would double-count); a future batch is accepted
    assert not accept_batch(2, fp_dir, delta_dir)
    sink(parts[1], 1)
    assert {
        r["source"]: r.asDict()
        for r in token_savings_totals(spark, delta_dir).collect()
    } == before
    assert accept_batch(3, fp_dir, delta_dir)

    # post-compaction ingest: anti-lookup must see the COMPACTED
    # fingerprints, so full-corpus totals equal the batch report
    sink(parts[3], 3)
    want = {
        r["source"]: r.asDict()
        for r in registered()["dedup_token_savings"].fn(spark, SF).collect()
    }
    got = {
        r["source"]: r.asDict()
        for r in token_savings_totals(spark, delta_dir).collect()
    }
    assert got == want

    # live-batch replay keeps the existing overwrite idempotence
    sink(parts[3], 3)
    assert {
        r["source"]: r.asDict()
        for r in token_savings_totals(spark, delta_dir).collect()
    } == want


def test_recompaction_is_idempotent_and_gc_supersedes(spark, tmp_path):
    """Compacting twice in a row changes nothing (the second fold sees
    the reader-visible view the first produced), upto stays, and the
    superseded compacted file set is garbage-collected."""
    from rclabsapi_spark.streaming.budget import (
        crawl_budget_report,
        domain_count_sink,
    )

    delta_dir = str(tmp_path / "deltas")
    sink = domain_count_sink(delta_dir, domain_col=F.lit("d.example"))
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    sink(docs, 0)
    sink(docs.limit(10), 1)

    schema = "domain string, n_new long, batch_id long"
    priors = spark.createDataFrame(
        [("d.example", 0.5)], "domain string, priority double"
    )

    def snap():
        return {
            r["domain"]: r.asDict()
            for r in crawl_budget_report(
                spark, delta_dir, priors
            ).collect()
        }

    before = snap()
    assert before["d.example"]["n_docs"] == 40
    u1 = compact_store(
        spark, delta_dir, schema, group_cols=("domain",), sum_cols=("n_new",)
    )
    first_file = compaction_state(delta_dir)[1]
    u2 = compact_store(
        spark, delta_dir, schema, group_cols=("domain",), sum_cols=("n_new",)
    )
    assert u1 == u2 == 1
    assert snap() == before
    # superseded compact dir GC'd, exactly one remains
    cdir = os.path.join(delta_dir, "_compacted")
    assert len(os.listdir(cdir)) == 1
    assert compaction_state(delta_dir)[1] != first_file

    # compaction of an EMPTY store is a no-op returning the sentinel
    empty = str(tmp_path / "never_written")
    assert compact_store(spark, empty, schema, group_cols=("domain",),
                         sum_cols=("n_new",)) == -1


def test_compaction_preserves_decimal_grid_store(spark, tmp_path):
    """The centroid-drift store mixes DECIMAL(38,0) grid sums with
    BIGINT counts; compaction must re-aggregate each at ITS OWN type
    (a long cast would truncate the grid's 38-digit headroom) and the
    report must stay bit-identical."""
    from rclabsapi_spark.streaming.drift import (
        centroid_delta_sink,
        centroid_drift_report,
    )

    delta_dir = str(tmp_path / "deltas")
    sink = centroid_delta_sink(delta_dir)
    b1 = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("a", [0.0, 1.0]), ("b", [0.5, 0.5])],
        "label string, embedding array<double>",
    )
    b2 = spark.createDataFrame(
        [("a", [1.0, 1.0]), ("b", [0.25, 0.75])],
        "label string, embedding array<double>",
    )
    sink(b1, 0)
    sink(b2, 1)
    baseline = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 0.0), ("b", 0, 0.5), ("b", 1, 0.5)],
        "label string, pos int, c double",
    )
    before = {
        r["label"]: r.asDict()
        for r in centroid_drift_report(spark, delta_dir, baseline).collect()
    }
    schema = (
        "label string, pos int, sum_nano decimal(38,0),"
        " n long, batch_id long"
    )
    compact_store(
        spark, delta_dir, schema,
        group_cols=("label", "pos"), sum_cols=("sum_nano", "n"),
    )
    # schema (incl. the decimal type) survives the fold
    folded = spark.read.schema(schema).parquet(
        compaction_state(delta_dir)[1]
    )
    assert dict(folded.dtypes)["sum_nano"] == "decimal(38,0)"
    assert {
        r["label"]: r.asDict()
        for r in centroid_drift_report(spark, delta_dir, baseline).collect()
    } == before


def test_gc_verify_detects_mid_fold_landing(tmp_path):
    """_gc_and_verify deletes exactly the partitions the fold read; a
    partition at/below upto that the fold did NOT read (a writer raced
    compaction) survives the delete and raises loudly instead of being
    silently dropped."""
    import pytest

    from rclabsapi_spark.streaming.compaction import _gc_and_verify

    store = tmp_path / "store"
    for k in (0, 1, 2):
        (store / f"batch_id={k}").mkdir(parents=True)
    # fold saw 0 and 2; partition 1 landed mid-fold
    with pytest.raises(RuntimeError, match=r"\[1\] landed during"):
        _gc_and_verify(str(store), 2, {0, 2})
    # the read partitions are gone, the racing one is preserved
    assert sorted(os.listdir(store)) == ["batch_id=1"]


def test_compaction_cleans_crash_orphans_at_entry(spark, tmp_path):
    """A partition at/below the CURRENT compaction point (a crash
    leftover from an interrupted GC, or a guarded-late replay whose
    content the fold already holds) is cleaned at the next
    compact_store entry without changing the report."""
    from rclabsapi_spark.streaming.budget import (
        crawl_budget_report,
        domain_count_sink,
    )

    delta_dir = str(tmp_path / "deltas")
    sink = domain_count_sink(delta_dir, domain_col=F.lit("d.example"))
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    sink(docs, 0)
    sink(docs, 1)
    schema = "domain string, n_new long, batch_id long"
    priors = spark.createDataFrame(
        [("d.example", 0.5)], "domain string, priority double"
    )

    def snap():
        return {
            r["domain"]: r.asDict()
            for r in crawl_budget_report(
                spark, delta_dir, priors
            ).collect()
        }

    compact_store(
        spark, delta_dir, schema, group_cols=("domain",), sum_cols=("n_new",)
    )
    before = snap()
    assert before["d.example"]["n_docs"] == 40

    # simulate the crash leftover: re-materialize batch 0's partition
    # (identical content — the only thing a guarded replay can write)
    spark.createDataFrame(
        [("d.example", 20)], "domain string, n_new long"
    ).write.mode("overwrite").parquet(
        os.path.join(delta_dir, "batch_id=0")
    )
    # invisible to readers (batch_id=0 <= upto=1)
    assert snap() == before
    # next compaction cleans it at entry and re-folds identically
    compact_store(
        spark, delta_dir, schema, group_cols=("domain",), sum_cols=("n_new",)
    )
    assert _batch_dirs(delta_dir) == []
    assert snap() == before


# ---------------------------------------------------------------------------
# r16: filesystem shim (storefs) — Hadoop control plane, corrupt-manifest
# failure mode, delete-failure vs writer-race distinction, public reader
# ---------------------------------------------------------------------------


def test_resolve_fs_picks_shim_by_scheme(spark):
    """Plain paths get the local fast path; scheme-qualified paths get
    the Hadoop control plane (the r15 gap: local APIs on a remote
    store silently reported 'never compacted')."""
    from rclabsapi_spark.streaming.storefs import (
        HadoopStoreFS,
        LocalStoreFS,
        resolve_fs,
    )

    assert isinstance(resolve_fs("/tmp/store"), LocalStoreFS)
    assert isinstance(resolve_fs("relative/store"), LocalStoreFS)
    for p in ("file:///tmp/store", "hdfs://nn:8020/store", "s3a://b/store"):
        assert isinstance(resolve_fs(p, spark), HadoopStoreFS)


def test_storefs_contract_parity_local_vs_hadoop(spark, tmp_path):
    """Both shims honor the same contract: list_dir/read_text raise
    FileNotFoundError on a missing path, write_text_atomic replaces,
    remove_tree deletes recursively (and is a no-op on absent paths
    only for Hadoop's exists-guard — local raises, callers guard)."""
    from rclabsapi_spark.streaming.storefs import HadoopStoreFS, LocalStoreFS

    import pytest

    for fs, base in (
        (LocalStoreFS(), str(tmp_path / "loc")),
        (HadoopStoreFS(spark), f"file://{tmp_path}/had"),
    ):
        # write + read + atomic replace
        fs.write_text_atomic(os.path.join(base, "m.json"), "one")
        assert fs.read_text(os.path.join(base, "m.json")) == "one"
        fs.write_text_atomic(os.path.join(base, "m.json"), "two")
        assert fs.read_text(os.path.join(base, "m.json")) == "two"
        # no leftover .tmp, listing sees the file
        names = fs.list_dir(base)
        assert "m.json" in names and "m.json.tmp" not in names
        # missing paths raise FileNotFoundError
        with pytest.raises(FileNotFoundError):
            fs.read_text(os.path.join(base, "absent.json"))
        with pytest.raises(FileNotFoundError):
            fs.list_dir(os.path.join(base, "absent_dir"))
        # recursive remove
        sub = os.path.join(base, "batch_id=0")
        fs.write_text_atomic(os.path.join(sub, "part.txt"), "x")
        assert fs.is_dir(sub)
        fs.remove_tree(sub)
        assert not fs.is_dir(sub)


def test_compaction_end_to_end_on_hadoop_fs_path(spark, tmp_path):
    """The full compaction lifecycle on a scheme-qualified (file://)
    store path: the data plane (Spark parquet) and control plane
    (Hadoop FileSystem manifest/GC) address the same store, the fold
    is report-invariant, replays of compacted batches are refused,
    and the on-disk layout matches the local-path run."""
    from rclabsapi_spark.streaming.budget import (
        crawl_budget_report,
        domain_count_sink,
    )

    local_root = tmp_path / "deltas"
    delta_dir = f"file://{local_root}"
    sink = domain_count_sink(delta_dir, domain_col=F.lit("d.example"))
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    sink(docs, 0)
    sink(docs.limit(10), 1)

    schema = "domain string, n_new long, batch_id long"
    priors = spark.createDataFrame(
        [("d.example", 0.5)], "domain string, priority double"
    )

    def snap():
        return {
            r["domain"]: r.asDict()
            for r in crawl_budget_report(spark, delta_dir, priors).collect()
        }

    before = snap()
    assert before["d.example"]["n_docs"] == 40
    assert compact_store(
        spark, delta_dir, schema, group_cols=("domain",), sum_cols=("n_new",)
    ) == 1
    # control plane really ran against the store: manifest + GC visible
    # on the underlying local dir the file:// URI addresses
    assert (local_root / "_compaction.json").exists()
    assert sorted(
        n for n in os.listdir(local_root) if n.startswith("batch_id=")
    ) == []
    assert snap() == before
    # replay of a folded batch refused; future batch accepted
    assert not accept_batch(1, delta_dir)
    assert accept_batch(2, delta_dir)
    sink(docs.limit(5), 2)
    after = snap()
    assert after["d.example"]["n_docs"] == 45


def test_corrupt_manifest_raises_not_truncates(spark, tmp_path):
    """A torn/hand-mangled manifest must RAISE, in compaction_state and
    through the reader path — silently returning (-1, None) would
    present only live partitions while the folded history sits
    invisible under _compacted/ (data-loss-shaped; VERDICT r15)."""
    import json as _json

    import pytest

    from rclabsapi_spark.streaming.accounting import _read_or_empty
    from rclabsapi_spark.streaming.budget import domain_count_sink

    delta_dir = str(tmp_path / "deltas")
    sink = domain_count_sink(delta_dir, domain_col=F.lit("d.example"))
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    sink(docs, 0)
    schema = "domain string, n_new long, batch_id long"
    compact_store(
        spark, delta_dir, schema, group_cols=("domain",), sum_cols=("n_new",)
    )

    manifest = os.path.join(delta_dir, "_compaction.json")
    with open(manifest, "w") as fh:
        fh.write("{ torn json")
    with pytest.raises(_json.JSONDecodeError):
        compaction_state(delta_dir)
    with pytest.raises(_json.JSONDecodeError):
        _read_or_empty(spark, delta_dir, schema)

    # valid JSON missing the contract keys is just as corrupt
    with open(manifest, "w") as fh:
        fh.write('{"wrong": 1}')
    with pytest.raises(KeyError):
        compaction_state(delta_dir)


def test_gc_distinguishes_delete_failure_from_writer_race(tmp_path):
    """A partition that FAILS to delete (I/O error) must be reported as
    a delete failure — not misdiagnosed as 'a writer raced compaction'
    (ADVICE r15): the two errors steer the operator at different
    causes (fix the filesystem vs stop the writer)."""
    import pytest

    from rclabsapi_spark.streaming.compaction import _gc_and_verify
    from rclabsapi_spark.streaming.storefs import LocalStoreFS

    store = tmp_path / "store"
    for k in (0, 1):
        (store / f"batch_id={k}").mkdir(parents=True)

    class FailingFS(LocalStoreFS):
        def remove_tree(self, path):
            if path.endswith("batch_id=1"):
                raise OSError(f"EPERM: {path}")
            super().remove_tree(path)

    with pytest.raises(RuntimeError, match="failed to DELETE"):
        _gc_and_verify(str(store), 1, {0, 1}, fs=FailingFS())
    # the deletable partition went; the failed one survives intact
    assert sorted(os.listdir(store)) == ["batch_id=1"]


def test_idempotent_sink_public_reader_resolves_compaction(spark, tmp_path):
    """ADVICE r15 (medium): idempotent_parquet_sink outputs must stay
    fully readable after compact_store. A plain spark.read.parquet
    loses the folded history (Spark hides _compacted/); the public
    read_compacted_parquet returns it — with a pinned schema and with
    schema inference, including when EVERY batch has been folded."""
    from rclabsapi_spark.streaming.compaction import read_compacted_parquet
    from rclabsapi_spark.streaming.sources import idempotent_parquet_sink

    out = str(tmp_path / "rows")
    sink = idempotent_parquet_sink(out)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    sink(b0, 0)
    sink(b1, 1)
    schema = "id long, v string, batch_id long"

    def rows(df):
        return sorted((r["id"], r["v"], r["batch_id"]) for r in df.collect())

    full = [(1, "a", 0), (2, "b", 0), (3, "c", 1)]
    assert rows(read_compacted_parquet(spark, out, schema)) == full
    assert rows(read_compacted_parquet(spark, out)) == full

    compact_store(spark, out, schema)
    # the hazard the contract documents: plain reads lose everything
    # (zero visible live files → inference fails; nothing to read)
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        spark.read.parquet(out).collect()
    # the public reader still returns the full history (batch_id is
    # remapped to the fold point by the row-store compaction contract)
    folded = [(1, "a", 1), (2, "b", 1), (3, "c", 1)]
    assert rows(read_compacted_parquet(spark, out, schema)) == folded
    assert rows(read_compacted_parquet(spark, out)) == folded

    # post-compaction batches land live and are unioned with the fold
    sink(spark.createDataFrame([(4, "d")], "id long, v string"), 2)
    assert rows(read_compacted_parquet(spark, out)) == folded + [(4, "d", 2)]


def test_maintenance_compacts_paired_twin_stores(spark, tmp_path):
    """The maintenance-path entry point (compact_twin_stores) folds a
    sink's paired stores in one run — fingerprints verbatim, deltas
    re-aggregated — leaving the report unchanged and replays of folded
    batches refused across the pair."""
    from rclabsapi_spark.maintenance import TwinStoreSpec, compact_twin_stores
    from rclabsapi_spark.streaming.accounting import (
        _DELTA_COLS,
        token_savings_sink,
        token_savings_totals,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    fp_dir = str(tmp_path / "fp")
    delta_dir = str(tmp_path / "deltas")
    sink = token_savings_sink(fp_dir, delta_dir)
    sink(docs.filter(docs.doc_id % 2 == 0), 0)
    sink(docs.filter(docs.doc_id % 2 == 1), 1)
    before = {
        r["source"]: r.asDict()
        for r in token_savings_totals(spark, delta_dir).collect()
    }

    delta_schema = (
        "source string, "
        + ", ".join(f"{c} long" for c in _DELTA_COLS)
        + ", batch_id long"
    )
    got = compact_twin_stores(
        spark,
        [
            TwinStoreSpec(fp_dir, "text_hash string, batch_id long"),
            TwinStoreSpec(
                delta_dir, delta_schema,
                group_cols=("source",), sum_cols=_DELTA_COLS,
            ),
            TwinStoreSpec(str(tmp_path / "never_written"), delta_schema),
        ],
    )
    assert got[fp_dir] == 1 and got[delta_dir] == 1
    assert got[str(tmp_path / "never_written")] == -1  # empty: no-op
    assert _batch_dirs(fp_dir) == [] and _batch_dirs(delta_dir) == []
    assert {
        r["source"]: r.asDict()
        for r in token_savings_totals(spark, delta_dir).collect()
    } == before
    assert not accept_batch(1, fp_dir, delta_dir)
    assert accept_batch(2, fp_dir, delta_dir)
