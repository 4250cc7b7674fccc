"""Streaming sources/sinks (SURVEY §2.1 S3-S7, §2.9 ST4/ST10).

The reference tails log directories, buffers writes with rotation, and
ships batches to external destinations with retries. Spark-first:

- S4 tail        → ``readStream`` file source (parquet/json/text)
- S5 rotation    → partitioned streaming parquet sink (date partitions ≙
                   rotated files; lifecycle = partition expiry)
- S6/ST4 ship    → ``foreachBatch`` with bounded retry
- S7 index name  → ``date_format(ts, 'yyyy.MM.dd')`` partition column
- ST10 buffering → micro-batch trigger (processingTime)
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events_dir(spark: SparkSession, path: str, schema) -> DataFrame:
    """S4 — micro-batch tail of a growing directory
    (log_file_manager.cpp:649-670)."""
    return spark.readStream.format("parquet").schema(schema).load(path)


def with_index_partition(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """S7 — `logs-%Y.%m.%d` index pattern (log_aggregator.hpp:45) as a
    partition column; downstream writers partition by it so time-range
    queries prune."""
    return df.withColumn("index_date", F.date_format(F.col(ts_col), "yyyy.MM.dd"))


def write_partitioned_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
):
    """S5/ST10 — buffered, partitioned parquet sink; rotation ≙ date
    partitions (log_file_manager.cpp:180-214)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("index_date")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ship_foreach_batch(
    df: DataFrame,
    checkpoint: str,
    ship: Callable[[DataFrame, int], None],
    *,
    max_retries: int = 3,
    retry_delay_s: float = 0.1,
    allowed_levels: list[str] | None = None,
):
    """S6/ST4 — batched shipping with per-destination level filter and
    bounded retry (log_aggregator.hpp:54-57, 230-256)."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        if allowed_levels:
            batch = batch.filter(F.col("level").isin(allowed_levels))
        attempt = 0
        while True:
            try:
                ship(batch, batch_id)
                return
            except Exception:
                attempt += 1
                if attempt > max_retries:
                    raise
                time.sleep(retry_delay_s * attempt)

    return (
        df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


@dataclass(frozen=True)
class HttpDestination:
    """S6 — one Elasticsearch-shaped shipping destination
    (LogDestinationConfig, log_aggregator.hpp:33-64: endpoint, auth token,
    headers, index pattern, allowed levels/components, batch size,
    retries)."""

    name: str
    endpoint: str  # e.g. http://host:9200/_bulk
    # Java DateTimeFormatter pattern; literal text in quotes — the
    # reference's `logs-%Y.%m.%d` (log_aggregator.hpp:45)
    index_pattern: str = "'logs-'yyyy.MM.dd"
    headers: Mapping[str, str] = field(default_factory=dict)
    auth_token: str | None = None
    allowed_levels: tuple[str, ...] | None = None
    allowed_components: tuple[str, ...] | None = None
    batch_size: int = 100  # docs per bulk POST
    max_retries: int = 3
    retry_delay_s: float = 0.1


def _http_post(url: str, body: str, headers: Mapping[str, str]) -> None:
    req = urllib.request.Request(
        url, data=body.encode("utf-8"), headers=dict(headers), method="POST"
    )
    with urllib.request.urlopen(req, timeout=10) as resp:  # noqa: S310
        if resp.status >= 300:
            raise IOError(f"ship failed: HTTP {resp.status}")


def ship_http_destination(
    df: DataFrame,
    checkpoint: str,
    dest: HttpDestination,
    *,
    ts_col: str = "ts",
):
    """S6 concrete destination: ES bulk-API shipping over HTTP behind the
    ``ship_foreach_batch`` retry/filter harness (log_aggregator.hpp:24-64,
    230-256 — shipToElasticsearch/shipToHttpEndpoint).

    Division of labor, Spark-first: the index name (S7 date pattern) and
    the document JSON are computed JVM-side as Column expressions; the
    executor-side Python does only chunking + socket I/O via
    ``foreachPartition`` — each partition ships its own rows in
    ``batch_size`` bulk POSTs, so shipping scales with the cluster
    instead of funneling through the driver. A failed POST raises,
    which fails the micro-batch and re-enters the harness's bounded
    retry; checkpointing makes redelivery at-least-once, matching the
    reference's retry contract."""
    prepared = df
    if dest.allowed_components:
        prepared = prepared.filter(
            F.col("component").isin(list(dest.allowed_components))
        )
    doc_cols = [c for c in prepared.columns]
    prepared = prepared.select(
        F.col("level"),
        F.date_format(F.col(ts_col), dest.index_pattern).alias("_index"),
        F.to_json(F.struct(*doc_cols)).alias("_doc"),
    )
    headers = {"Content-Type": "application/x-ndjson", **dict(dest.headers)}
    if dest.auth_token:
        headers["Authorization"] = f"Bearer {dest.auth_token}"
    endpoint, bs = dest.endpoint, dest.batch_size

    def ship(batch: DataFrame, batch_id: int) -> None:
        def send_partition(rows) -> None:
            lines: list[str] = []
            for row in rows:
                lines.append(
                    json.dumps(
                        {"index": {"_index": row["_index"]}},
                        separators=(",", ":"),
                    )
                )
                lines.append(row["_doc"])
                if len(lines) >= 2 * bs:
                    _http_post(endpoint, "\n".join(lines) + "\n", headers)
                    lines = []
            if lines:
                _http_post(endpoint, "\n".join(lines) + "\n", headers)

        batch.foreachPartition(send_partition)

    return ship_foreach_batch(
        prepared,
        checkpoint,
        ship,
        max_retries=dest.max_retries,
        retry_delay_s=dest.retry_delay_s,
        allowed_levels=(
            list(dest.allowed_levels) if dest.allowed_levels else None
        ),
    )


def idempotent_parquet_sink(
    out_dir: str,
) -> "Callable[[DataFrame, int], None]":
    """Exactly-once-per-batch parquet sink for ``foreachBatch``: each
    micro-batch writes to ``batch_id=<n>/`` with dynamic partition
    OVERWRITE, so a batch replayed after a failure (Structured
    Streaming's at-least-once foreachBatch contract) overwrites its own
    partition instead of appending duplicates — the streaming analog of
    the ETL runner's staged-commit load. Readers see exactly-once data;
    the batch_id partition column doubles as write provenance.

    Compaction-aware (r15): if the store's history has been folded by
    ``streaming.compaction.compact_store`` (row-store mode — verbatim
    rewrite), a replay of a folded batch is refused — its partition
    was garbage-collected, and re-writing it would duplicate rows that
    now live in the compacted file set.

    READ CONTRACT (ADVICE r15): a plain ``spark.read.parquet(out_dir)``
    is only correct while the store has never been compacted. After
    ``compact_store``, the folded history lives under the
    underscore-prefixed ``_compacted/`` directory, which Spark hides
    from normal directory reads — consumers MUST read through
    ``streaming.compaction.read_compacted_parquet`` (the public
    manifest-aware reader; safe on never-compacted stores too, it
    degrades to the plain read)."""

    def write(df: DataFrame, batch_id: int) -> None:
        from rclabsapi_spark.streaming.compaction import accept_batch

        if not accept_batch(int(batch_id), out_dir):
            return  # replay of a compacted batch: already folded
        (
            df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return write
