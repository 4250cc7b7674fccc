"""Table lifecycle maintenance (SURVEY §4: rotation/compression analog).

The reference rotates + compresses + age-archives log files
(log_file_manager.hpp:78-203). For a parquet-table engine the analogs:

- **Compaction** — streaming/micro-batch sinks accumulate small files;
  reading 10⁶ tiny files costs more in scheduling than IO. Rewrite a
  table (or partition) into ~target-sized files. At 100 TB this runs
  per-partition (never a global rewrite): pass the partition's path.
- **Partition expiry** — age-based retention for date-partitioned tables
  (`index_date=yyyy.MM.dd` from streaming.sources.with_index_partition):
  drop directories older than the cutoff. Deleting a partition directory
  is O(1) metadata relative to the data — the point of date layout.

Both use the same staged-commit pattern as the ETL load: never leave a
half-written table visible.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CompactionStats:
    files_before: int
    files_after: int
    bytes_total: int


def _data_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_cols: list[str] | None = None,
) -> CompactionStats:
    """Rewrite ``path`` into ceil(total/target) files via staged commit.

    Default is ``coalesce`` (no shuffle — compaction is IO-bound
    repacking, the rows don't need redistribution). With ``zorder_cols``
    the rewrite instead lays the files out along the Morton curve of
    those columns (layout.write_zordered) — compaction is exactly when
    re-clustering is free-ish, since the data is being rewritten anyway
    (the OPTIMIZE ... ZORDER BY pattern)."""
    before = _data_files(path)
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    staging = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    try:
        if zorder_cols:
            from rclabsapi_spark.layout import write_zordered

            write_zordered(
                df, staging, zorder_cols=zorder_cols, num_files=n_out
            )
        else:
            df.coalesce(n_out).write.mode("overwrite").parquet(staging)
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old)
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return CompactionStats(
        files_before=len(before),
        files_after=len(_data_files(path)),
        bytes_total=total,
    )


def expire_partitions(path: str, *, keep_from: str) -> list[str]:
    """Drop partition directories with values < ``keep_from``
    (lexicographic — yyyy.MM.dd order IS time order). Returns dropped
    partition values."""
    dropped = []
    prefix = "index_date="
    for name in sorted(os.listdir(path)):
        if not name.startswith(prefix):
            continue
        value = name[len(prefix) :]
        if value < keep_from:
            shutil.rmtree(os.path.join(path, name))
            dropped.append(value)
    return dropped


def merge_upsert(
    spark,
    target_path: str,
    updates: DataFrame,
    *,
    key_cols: list[str],
    partition_col: str,
    delete_col: str | None = None,
    changes_dir: str | None = None,
) -> dict:
    """Partition-selective MERGE (upsert) into a partitioned parquet
    table — the engine-side analog of the reference's ON CONFLICT
    upserts (database_manager.cpp's unique-constraint writes), done the
    way a 100 TB table must: only partitions that contain touched keys
    are read, merged, and dynamically overwritten; every other
    partition's files are left byte-for-byte untouched.

    Semantics per key within affected partitions: update row fields if
    the key exists, insert if not, and (with ``delete_col``) drop rows
    whose update carries a true tombstone. ``updates`` must carry the
    partition column (merge keys may not move partitions — enforce
    upstream or run a delete+insert pair).

    With ``changes_dir``, a change-data feed is written BEFORE the
    overwrite (afterwards the pre-images are gone): one row per touched
    key with op ∈ {insert, update, delete} and pre/post value structs —
    what a downstream incremental consumer tails instead of re-scanning
    the table.

    Returns {"partitions": touched, "upserted": n, "deleted": n}."""
    touched = [
        r["p"]
        for r in updates.select(
            F.col(partition_col).alias("p")
        ).distinct().collect()
    ]
    tgt = (
        spark.read.parquet(target_path)
        .filter(F.col(partition_col).isin(touched))
    )
    upd = updates
    tombstones = None
    if delete_col is not None:
        tombstones = upd.filter(F.col(delete_col)).select(*key_cols)
        upd = upd.filter(~F.col(delete_col)).drop(delete_col)
    if changes_dir is not None:
        val_cols = [c for c in tgt.columns if c not in key_cols]
        t = tgt.select(
            *key_cols, F.struct(*val_cols).alias("pre")
        ).alias("t")
        u_side = upd.select(
            *key_cols, F.struct(*val_cols).alias("post")
        )
        if tombstones is not None:
            u_side = u_side.unionByName(
                tombstones.join(
                    tgt.select(*key_cols).distinct(), key_cols
                ).select(
                    *key_cols,
                    F.lit(None)
                    .cast(u_side.schema["post"].dataType)
                    .alias("post"),
                )
            )
        u = u_side.alias("u")
        feed = t.join(u, key_cols, "full_outer").filter(
            F.col("post").isNotNull() | F.col("pre").isNotNull()
        )
        feed = feed.join(
            u_side.select(*key_cols).distinct(), key_cols, "semi"
        ).select(
            *key_cols,
            F.when(F.col("pre").isNull(), F.lit("insert"))
            .when(F.col("post").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("op"),
            "pre",
            "post",
        )
        feed.write.mode("overwrite").parquet(changes_dir)
    merged = tgt.join(upd.select(*key_cols), key_cols, "left_anti").unionByName(
        upd
    )
    n_deleted = 0
    if tombstones is not None:
        before = merged.count()
        merged = merged.join(tombstones, key_cols, "left_anti")
        n_deleted = before - merged.count()
    n_upserted = upd.count()
    # Staged commit (the compact_parquet pattern): the merge plan lazily
    # reads the target's parquet files, so writing over them in place
    # would race the read — and a dynamic-overwrite commit that dies
    # between delete-matched-partitions and rename loses the only copy.
    # Instead: write the merged partitions to a sibling .staging dir,
    # then swap each touched partition dir in, keeping every pre-image
    # until the whole swap succeeds (rollback restores them on failure).
    import uuid as _uuid

    suffix = _uuid.uuid4().hex[:8]
    staging = f"{target_path}.staging-{suffix}"
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(
            staging
        )
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    swapped: list[tuple[str | None, str]] = []
    try:
        for v in sorted(touched, key=str):
            name = f"{partition_col}={v}"
            tdir = os.path.join(target_path, name)
            sdir = os.path.join(staging, name)
            odir = f"{tdir}.old-{suffix}" if os.path.exists(tdir) else None
            if odir is not None:
                os.rename(tdir, odir)
            swapped.append((odir, tdir))
            # absent staged dir = every row of the partition was deleted
            if os.path.exists(sdir):
                os.rename(sdir, tdir)
    except Exception:
        for odir, tdir in reversed(swapped):
            shutil.rmtree(tdir, ignore_errors=True)
            if odir is not None and os.path.exists(odir):
                os.rename(odir, tdir)
        shutil.rmtree(staging, ignore_errors=True)
        raise
    for odir, _ in swapped:
        if odir is not None:
            shutil.rmtree(odir, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    return {
        "partitions": sorted(touched),
        "upserted": n_upserted,
        "deleted": n_deleted,
    }


def dataset_manifest(df: DataFrame) -> dict:
    """Content-addressed dataset manifest: row count, per-column
    null/distinct profile, and an ORDER-INSENSITIVE content digest —
    the reproducibility record a training run pins so "the same
    dataset" is a checkable claim, not a path name.

    The digest sums per-row 64-bit hashes of all the columns
    (xxhash64 over the concatenated canonical string) in a single
    aggregate: commutative, so any partitioning/ordering of identical
    rows yields the identical digest, and any changed/added/dropped row
    changes it. Computed in ONE pass alongside the profile aggregates."""
    cols = df.columns
    canon = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    row_hash = F.xxhash64(canon)
    # decimal accumulation: ANSI mode rejects overflowing long sums,
    # and the digest must survive any row count
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("content_sum"),
        F.sum((F.abs(row_hash) % 1000003).cast("decimal(38,0)")).alias(
            "content_check"
        ),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_null_{c}")
            for c in cols
        ],
    ).collect()[0]
    return {
        "n_rows": agg["n_rows"],
        "columns": cols,
        "content_digest": f"{int(agg['content_sum'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
        f"-{int(agg['content_check'] or 0) % 1000003:06d}",
        "null_counts": {c: agg[f"n_null_{c}"] for c in cols},
    }


def missing_partitions(
    spark: SparkSession,
    path: str,
    *,
    partition_col: str,
    expected: list[str],
) -> dict:
    """Backfill planner: which expected partition values are absent from
    a partitioned table's directory layout (O(1) metadata listing — the
    data is never read), plus unexpected extras. Feeds run_dag: each
    missing partition becomes a backfill job."""
    present = {
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith(f"{partition_col}=")
    }
    exp = set(expected)
    return {
        "missing": sorted(exp - present),
        "present": sorted(present & exp),
        "unexpected": sorted(present - exp),
    }


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the day-over-day ingest audit
    run before promoting a new corpus snapshot: per group, old/new row
    counts and the added / removed / changed / unchanged breakdown with
    a churn rate (extends the reference's rotation/archival accounting,
    log_file_manager.hpp:78-203, from files to row-level content).

    Inputs are (key, group, fingerprint) relations — fingerprints are
    computed at the scan, so document BODIES never reach the join; the
    FULL OUTER equi-join on the key shuffles 32 B digests. Counts are
    one partial-combining aggregate over the |keys| join output;
    churn = (added+removed+changed) / (n_old+n_added) — the union key
    count, which is ≥1 for every emitted group (a group whose docs were
    ALL removed has n_new = 0, so a new-snapshot denominator divides by
    zero — caught by the hypothesis identity test) — an integer ratio,
    bit-identical across engines.

    Assumes a key's group is stable between snapshots: a surviving key
    is attributed to coalesce(new group, old group), so a key that
    MIGRATES groups counts entirely toward the new group — the old
    group's n_old/n_changed undercount by the migration. Document keys
    here are content-addressed per source, so migration cannot occur in
    this pipeline; treat a mutable group column as out of contract (or
    pre-split migrations into removed-from-old + added-to-new rows)."""
    from rclabsapi_spark.functions.scalars import round_half_up

    o = old.select(
        F.col("doc_id"),
        F.col("source").alias("_g_old"),
        F.col("fp").alias("_fp_old"),
    )
    n = new.select(
        F.col("doc_id"),
        F.col("source").alias("_g_new"),
        F.col("fp").alias("_fp_new"),
    )
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    lab = j.select(
        F.coalesce("_g_new", "_g_old").alias("source"),
        status.alias("status"),
        F.col("_fp_old").isNotNull().cast("int").alias("in_old"),
        F.col("_fp_new").isNotNull().cast("int").alias("in_new"),
    )
    agg = lab.groupBy("source").agg(
        F.sum("in_old").cast("long").alias("n_old"),
        F.sum("in_new").cast("long").alias("n_new"),
        F.sum((F.col("status") == "added").cast("int"))
        .cast("long")
        .alias("n_added"),
        F.sum((F.col("status") == "removed").cast("int"))
        .cast("long")
        .alias("n_removed"),
        F.sum((F.col("status") == "changed").cast("int"))
        .cast("long")
        .alias("n_changed"),
        F.sum((F.col("status") == "unchanged").cast("int"))
        .cast("long")
        .alias("n_unchanged"),
    )
    return agg.select(
        "source",
        "n_old",
        "n_new",
        "n_added",
        "n_removed",
        "n_changed",
        "n_unchanged",
        round_half_up(
            (
                F.col("n_added") + F.col("n_removed") + F.col("n_changed")
            ).cast("double")
            / (F.col("n_old") + F.col("n_added")).cast("double"),
            6,
        ).alias("churn_rate"),
    )


@dataclass(frozen=True)
class TwinStoreSpec:
    """One streaming-twin store to compact on the maintenance cadence:
    ``group_cols``/``sum_cols`` set → delta store (integer deltas
    re-aggregate); unset → row store (fingerprints/rows rewritten
    verbatim). Mirrors streaming.compaction.compact_store's contract."""

    path: str
    schema: str
    group_cols: tuple[str, ...] = ()
    sum_cols: tuple[str, ...] = ()


def compact_twin_stores(
    spark: SparkSession, stores: "list[TwinStoreSpec]"
) -> dict[str, int]:
    """Operational entry point for delta-store compaction — the
    maintenance-path home the compaction contract names (run on the
    rotation cadence, NEVER concurrently with a foreachBatch writer on
    the same store; the GC detects a raced writer and raises rather
    than dropping data). Compacts each store in order and returns
    ``{path: new upto}`` (-1 for a store that was empty). A failure on
    one store stops the run loudly — the remaining stores are simply
    compacted on the next cadence; every store is individually
    crash-safe (manifest swaps only after a complete fold).

    Sinks that write MULTIPLE stores (e.g. token_savings_sink's
    fingerprint + delta pair) should compact both in one maintenance
    run: ``accept_batch`` refuses a replayed batch when it is folded
    into ANY of the sink's stores, so a half-compacted pair is safe —
    but keeping the compaction points aligned keeps the refusal
    boundary easy to reason about.

    Reference: the rotate+compress+archive maintenance loop
    (log_file_manager.hpp:78-203) applied to the twins' stores."""
    from rclabsapi_spark.streaming.compaction import compact_store

    out: dict[str, int] = {}
    for s in stores:
        out[s.path] = compact_store(
            spark,
            s.path,
            s.schema,
            group_cols=s.group_cols,
            sum_cols=s.sum_cols,
        )
    return out
