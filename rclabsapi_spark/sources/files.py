"""File-based log sources (SURVEY §2.1 S3, §2.6 O5).

The reference iterates a log directory reading line-by-line
(log_file_manager.cpp:692-715) and lists files sorted by
name/size/date/type (log_file_manager.hpp:957-959, cpp:216-267).

Spark-first: ``spark.read.text`` is the distributed line scan (each file
splits into partitions; the directory IS the table), with
``input_file_name()`` preserving per-file identity. File listing is
driver-side metadata (tiny) loaded into a DataFrame so the same sort/limit
operators apply.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rclabsapi_spark.catalog import local_df

#: `%Y-%m-%d %H:%M:%S LEVEL component message...` — the reference's line
#: format (F15 timestamp + level + component).
_LINE_RE = r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (\w+) (\S+) (.*)$"


def read_log_lines(
    spark: SparkSession, path: str, *, parse: bool = False
) -> DataFrame:
    """S3 — distributed line scan of a log directory. ``parse=True`` adds
    the structured columns (ts, level, component, message) via one regex
    projection (no Python in the loop)."""
    df = spark.read.text(f"{path}/*.log").withColumn(
        "src_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    if not parse:
        return df
    line = F.col("value")
    # try_to_timestamp: malformed lines (regexp miss → '') must yield a
    # NULL ts, not an ANSI cast error — bad log lines are data, not bugs.
    return df.select(
        "src_file",
        F.try_to_timestamp(F.regexp_extract(line, _LINE_RE, 1)).alias("ts"),
        F.regexp_extract(line, _LINE_RE, 2).alias("level"),
        F.regexp_extract(line, _LINE_RE, 3).alias("component"),
        F.regexp_extract(line, _LINE_RE, 4).alias("message"),
    )


_SORT_COLS = {
    "name": "name",
    "size": "size_bytes",
    "date": "modified_at",
    "type": "extension",
}


def list_log_files(
    spark: SparkSession,
    path: str,
    *,
    sort_by: str = "name",
    ascending: bool = True,
) -> DataFrame:
    """O5 — listLogFiles(sortBy ∈ {name, size, date, type}). File metadata
    is driver-side (a directory listing is small by definition); the
    result is a DataFrame so downstream filter/limit compose."""
    if sort_by not in _SORT_COLS:
        raise ValueError(
            f"sort_by must be one of {sorted(_SORT_COLS)}, got {sort_by!r}"
        )
    rows = []
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if not os.path.isfile(full):
            continue
        stat = os.stat(full)
        rows.append(
            (
                name,
                stat.st_size,
                dt.datetime.fromtimestamp(stat.st_mtime, dt.timezone.utc),
                os.path.splitext(name)[1].lstrip("."),
            )
        )
    df = local_df(
        spark, rows, "name string, size_bytes long, modified_at timestamp, extension string"
    )
    col = F.col(_SORT_COLS[sort_by])
    return df.orderBy(col.asc() if ascending else col.desc(), F.col("name"))


def write_jsonl(df, path: str, *, num_files: int | None = None) -> None:
    """JSONL export — the training-data interchange format (one JSON
    object per line; every dataset-exchange tool reads it). Spark's json
    sink IS JSONL (one object per line per file part). ``num_files``
    coalesces for handoff-sized files; omit to keep the write fully
    parallel."""
    out = df.coalesce(num_files) if num_files else df
    out.write.mode("overwrite").json(path)


def read_jsonl(spark, path: str, schema=None):
    """JSONL ingest. Pass an explicit ``schema`` at scale — schema
    inference is a full extra pass over the data; with a schema the read
    is single-pass and malformed lines land in Spark's permissive-mode
    ``_corrupt_record`` handling instead of failing the job."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
