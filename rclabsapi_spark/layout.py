"""Physical table layout for scale: bucketing, sorted writes, Z-order.

The reference relies on PostgreSQL B-tree indexes (scripts/init.sql:89-98)
for its hot predicates. A Spark-native engine gets the same effect from
table LAYOUT at rest:

- **Bucketing** (`write_bucketed`): pre-shuffle a table into N buckets by
  its join/group key at write time. Every later join or aggregation on
  that key skips its exchange — the 100 TB fact⋈fact join becomes a
  zipper over co-located buckets. This is the "pay the shuffle once"
  contract AQE can't give you at runtime.
- **Sorted-within-partition writes** (`write_sorted`): parquet row-group
  min/max stats become range indexes; a predicate on the sort column
  skips whole row groups (the B-tree-index analog for scans).
- **Z-order writes** (`write_zordered`): a single-column sort prunes one
  dimension and leaves every other predicate scanning all files. Laying
  the table out along a Morton (bit-interleaved) curve gives every
  z-ordered column locality, so a box predicate (user × time, the
  composite-index shape the reference builds) prunes on ALL of them —
  the multi-column CREATE INDEX analog, same idea as Delta's
  OPTIMIZE ZORDER BY. The curve key is pure codegen bit math.

All are write-time decisions, exactly like the reference's CREATE INDEX
statements — schema-design artifacts, not per-query code.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def spread_by(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Hash-repartition by ``cols`` with the session's configured
    shuffle parallelism as an EXPLICIT partition count — the spread
    primitive for CPU-heavy per-row stages (tokenize/md5/decode work
    whose cost per BYTE is enormous).

    Why not plain ``repartition(col)``: a count-less repartition is an
    AQE coalescing target, and AQE sizes partitions by BYTES. A small
    text relation that fans out into expensive per-row work (the
    shingle/simhash/perceptual-hash inputs) looks tiny to AQE, so the
    exchange collapses — measured at sf0.1: ONE post-shuffle partition,
    i.e. the stage the repartition exists to parallelize runs serially
    in a single task. The explicit count pins the spread; it comes from
    ``spark.sql.shuffle.partitions`` (config-scaled, never a local
    core-count constant), so at cluster scale the same code spreads to
    the configured width. Rows with equal keys stay co-located, so
    every downstream groupBy on a superset of ``cols`` still reuses
    this exchange."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(
        n, *[F.col(c) if isinstance(c, str) else c for c in cols]
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Joins/aggregations between tables bucketed the same way on the same
    key run exchange-free (verified by tests/test_layout.py asserting the
    join plan has no Exchange)."""
    writer = df.write.format("parquet").mode("overwrite").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_sorted(df: DataFrame, path: str, *, sort_cols: list[str]) -> None:
    """Sort-within-partitions then write: row-group min/max stats on
    ``sort_cols`` let predicate scans skip row groups."""
    df.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


_Z_BITS = 12


def zorder_key(
    cols: list[Column], bounds: list[tuple[float, float]]
) -> Column:
    """Morton curve key: each column is min/max-normalized to a
    ``_Z_BITS``-bit integer rank, and bit j of column i lands at
    interleaved position j·k+i. Pure Column bit math (whole-stage
    codegen); k·_Z_BITS must fit a signed long (k·_Z_BITS ≤ 62).

    ``bounds`` are the per-column (min, max) used for normalization —
    computed once by the caller (a tiny driver-side aggregate, the same
    pattern as IVF's centroid pull). Values outside the bounds clamp;
    NULLs rank at the range minimum (a NULL would otherwise poison the
    whole interleaved key and strand the row in one unclustered
    partition)."""
    k = len(cols)
    if k * _Z_BITS > 62:
        raise ValueError("k*bits must be <= 62")
    z = F.lit(0).cast("long")
    max_rank = (1 << _Z_BITS) - 1
    for i, (c, (lo, hi)) in enumerate(zip(cols, bounds)):
        span = float(hi - lo) if hi > lo else 1.0
        rank = F.floor(
            (F.coalesce(c.cast("double"), F.lit(float(lo))) - float(lo))
            / span
            * float(max_rank)
        ).cast("long")
        rank = F.greatest(F.lit(0), F.least(F.lit(max_rank), rank))
        for j in range(_Z_BITS):
            bit = F.shiftright(rank, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * k + i))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    zorder_cols: list[str],
    num_files: int = 16,
) -> None:
    """Write ``df`` laid out along the Morton curve of ``zorder_cols``
    (numeric/timestamp): range-partition by the curve key into
    ``num_files`` files, sort within each, drop the key. File and
    row-group min/max stats then bound a small curve segment per file,
    so predicates on ANY z-ordered column skip most files — verified in
    tests/test_layout.py by reading parquet footer stats: a
    single-dimension predicate prunes z-ordered files where a
    one-column-sorted layout scans everything."""
    cols = [F.col(c) for c in zorder_cols]
    aggs = []
    for c in zorder_cols:
        aggs += [F.min(F.col(c).cast("double")), F.max(F.col(c).cast("double"))]
    row = df.agg(*aggs).collect()[0]
    bounds = [(row[2 * i], row[2 * i + 1]) for i in range(len(zorder_cols))]
    if any(lo is None or hi is None for lo, hi in bounds):
        # Empty input (or an all-NULL z column) has no curve to lay out —
        # degrade to a plain identity write instead of a TypeError.
        df.coalesce(num_files).write.mode("overwrite").parquet(path)
        return
    keyed = df.withColumn("__z", zorder_key(cols, bounds))
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
