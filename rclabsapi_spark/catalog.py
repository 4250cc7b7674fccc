"""Catalog over the driver's parquet fixture tables.

The reference persists six PostgreSQL tables (SURVEY §1.1); the driver's
correctness fixtures are a TPC-H-ish star schema plus ``events`` (stream
analog), ``documents`` and ``embeddings`` (training-data-pipeline tables).
FIXTURES.md §9 maps reference entities onto these:

- ``etl_jobs``   → ``orders``   (status/type/created_at/metric columns)
- ``job_logs``   → ``events``   (level/component/message/ts)
- ``users``      → ``customer``
- ``sessions``   → ``orders``→``customer`` FK shape
- stream input   → ``events``

At 100 TB these would be partitioned tables (date-partitioned facts,
broadcast-sized dims); here they are single parquet files per SF dir.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects
        # outright. Read nanos as long (legacy conf) and truncate to a
        # microsecond timestamp — the same ns→µs truncation DuckDB applies,
        # so oracle comparisons see identical values.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _naive_utc(v: dt.datetime | None) -> dt.datetime | None:
    if v is None or v.tzinfo is None:
        return v
    return v.astimezone(dt.timezone.utc).replace(tzinfo=None)


def local_df(
    spark: SparkSession, rows: Iterable[Sequence[Any]], schema: StructType | str
) -> DataFrame:
    """A DataFrame over rows the driver holds (tuples in the field order
    of ``schema``, a ``StructType`` or a DDL string), built from an Arrow
    table so it plans as a ``LocalTableScan``: no RDD, no Python worker,
    no Spark job to read it. ``createDataFrame`` over a Python list
    would instead ship pickled rows through Python workers on every
    action.

    Timestamps go through ``timestamp[us, tz=UTC]``, so a naive
    ``datetime`` is read as UTC wall-clock time (the engine's naive-UTC
    convention, see ``session``) whatever the process time zone is. An
    aware one in a top-level timestamp field is converted to UTC first:
    pyarrow would keep its wall-clock time and drop the offset."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    cols = [
        [_naive_utc(v) for v in c] if isinstance(f.dataType, TimestampType) else c
        for c, f in zip(cols, schema.fields)
    ]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def load_catalog(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql use)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
