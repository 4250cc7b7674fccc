"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration is what we would ship to a 1000-executor cluster — AQE owns
runtime re-planning (partition coalescing, skew-join splitting, dynamic
broadcast), and shuffle partitioning is sized by config rather than
hard-coded per operator.

Time convention: the session time zone is UTC, and a naive ``datetime``
anywhere in the engine is UTC wall-clock time (the job manager's clock,
job rows, API ``now``/range arguments). Driver rows become DataFrames
through ``catalog.local_df`` and datetime literals through
``functions.scalars.ts_lit``, which both read naive values as UTC, so no
result depends on the driver process's ``TZ``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for scale, not for the toy fixtures:
# - AQE on: runtime shuffle-partition coalescing + skew-join handling means
#   the same plan works at sf0.001 and at 100 TB.
# - shuffle.partitions is only the *initial* number; AQE coalesces down.
# - autoBroadcastJoinThreshold 64 MB: every dim table in the star schema
#   (region/nation/supplier/part/customer at small SF) broadcasts; at 100 TB
#   the fact-fact joins fall back to sort-merge automatically.
# - UTC session timezone: the reference formats/parses all timestamps as UTC
#   (SURVEY F15/F16); keeping the session in UTC makes date_format/
#   to_timestamp deterministic across environments.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let the planner pick shuffled-hash over sort-merge when one side's
    # per-partition build fits (it skips both sorts), and let AQE rewrite
    # a planned sort-merge to shuffled-hash at runtime when every
    # post-shuffle partition is small — the same 64 MB bound as the
    # broadcast threshold. Fact⋈fact joins whose partitions exceed the
    # bound still sort-merge (the spill-safe path at 100 TB).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
        64 * 1024 * 1024
    ),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Read parquet TIMESTAMPs as session-tz TIMESTAMP (LTZ), not NTZ:
    # watermarks, unix_millis, and cast-to-long all require TIMESTAMP, and
    # with the session pinned to UTC the two types are value-identical.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
}


def get_spark(
    app_name: str = "rclabsapi-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (default 32). Shuffle
    partitions are the core count — at real cluster scale this is
    instead sized to keep post-shuffle partitions under executor memory,
    and AQE coalesces the tail.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = cpus
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
