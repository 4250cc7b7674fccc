"""The /api/monitor/jobs pipeline — the reference's flagship read query.

Reference flow (request_handler.cpp:1197-1317, SURVEY §3.1): fetch all
jobs → status filter → type filter → inclusive created_at range → limit →
per-row computed columns (execution_time_ms F17, processing_rate F19) →
JSON projection. The C++ runs it as sequential vector passes; here it is
one declarative plan — Catalyst collapses the filters into the scan and
the whole pipeline is a single whole-stage-codegen span over a pruned
parquet read.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rclabsapi_spark.functions.scalars import ts_lit


def monitor_jobs(
    jobs: DataFrame,
    *,
    status: str | None = None,
    job_type: str | None = None,
    from_ts: dt.datetime | str | None = None,
    to_ts: dt.datetime | str | None = None,
    limit: int | None = None,
    status_col: str = "status",
    type_col: str = "job_type",
    created_col: str = "created_at",
    key_col: str = "job_id",
    records_col: str = "records_processed",
    completed_col: str = "completed_at",
    now: dt.datetime | str | None = None,
) -> DataFrame:
    """Compose the monitor/jobs pipeline over any jobs-shaped DataFrame.

    Missing params mean "no filter" (request_handler.cpp:1226-1249 treats
    absent bounds as ±∞). The limit is made deterministic by sorting on
    (created DESC, key) — newest-N semantics (O1+O2). A naive
    ``datetime`` bound or ``now`` is UTC; a string is cast in the session
    time zone (UTC).
    """
    out = jobs
    if status is not None:
        out = out.filter(F.col(status_col) == status)
    if job_type is not None:
        out = out.filter(F.col(type_col) == job_type)
    if from_ts is not None:
        out = out.filter(F.col(created_col) >= ts_lit(from_ts))
    if to_ts is not None:
        out = out.filter(F.col(created_col) <= ts_lit(to_ts))
    if limit is not None:
        out = out.orderBy(F.col(created_col).desc(), F.col(key_col)).limit(limit)

    # F17: execution time vs a frozen "now" (RUNNING jobs have no
    # completed_at; the fixture analog uses `now` for all rows when no
    # completed column exists).
    now_lit = ts_lit(now).cast("timestamp") if now is not None else None
    if completed_col in jobs.columns:
        end = F.col(completed_col) if now_lit is None else F.coalesce(F.col(completed_col), now_lit)
    else:
        end = now_lit
    # cast("timestamp") handles TIMESTAMP_NTZ parquet columns; the session-tz
    # shift cancels in the difference.
    out = out.withColumn(
        "execution_time_ms",
        (
            F.unix_millis(end.cast("timestamp"))
            - F.unix_millis(F.col(created_col).cast("timestamp"))
        ).cast("long"),
    )
    # F19: processingRate = records / seconds, guarded.
    sec = F.col("execution_time_ms") / 1000.0
    out = out.withColumn(
        "processing_rate",
        F.when(sec > 0, F.col(records_col) / sec).otherwise(F.lit(0.0)),
    )
    return out
