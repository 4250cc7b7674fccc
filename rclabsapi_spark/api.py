"""API façade — the reference's REST surface as a programmatic engine API
(SURVEY §7.2 phase 7; endpoint inventory request_handler.cpp:417-509).

The reference's HTTP layer does: parse+validate query params (P15), rate
limit (ST5), route, run the hand-coded pipeline, serialize JSON. Here each
endpoint is a method that validates its params the same way, runs the
DataFrame pipeline, and returns JSON strings via ``to_json`` (F22) — the
engine stays declarative; the façade is control plane.

``monitor_jobs``, ``get_job``, ``health`` and ``metrics`` read the job
manager's rows as an Arrow-backed local relation (``jobs_df``): a
``LocalTableScan`` that starts no Python worker, so a request's cost is
planning, job launch and collect, not a Python round trip per partition.
Timestamps in and out are UTC (naive ``now`` values included).

``list_queries`` and ``run_query`` resolve names with a plain registry
lookup (``registry.registered``); neither pays for the driver's
verification order, which hashes the sources of every query.

HTTP/WebSocket/JWT plumbing is out of scope (SURVEY §7.4): this class is
what such a server would call.
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rclabsapi_spark.cache import TTLCache
from rclabsapi_spark.etl.runner import ETLJobManager
from rclabsapi_spark.functions.scalars import ts_lit
from rclabsapi_spark.functions.validation import clamp_limit
from rclabsapi_spark.plans.log_query import LogQueryParams, search_logs
from rclabsapi_spark.plans.monitor_jobs import monitor_jobs

VALID_STATUSES = {"PENDING", "RUNNING", "COMPLETED", "FAILED", "CANCELLED"}
VALID_JOB_TYPES = {"EXTRACT", "TRANSFORM", "LOAD", "FULL_ETL"}
#: metrics endpoint whitelists (input_validator.cpp:320-391)
VALID_METRIC_TYPES = {"performance", "errors", "system", "jobs"}
TIME_RANGES = {
    "1h": dt.timedelta(hours=1),
    "24h": dt.timedelta(hours=24),
    "7d": dt.timedelta(days=7),
    "30d": dt.timedelta(days=30),
}


class ValidationError(ValueError):
    """Maps to HTTP 400 in a server wrapper (ExceptionMapper analog)."""


class EngineAPI:
    """Programmatic endpoint surface over a jobs table + logs table +
    the ETL job manager."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        manager: ETLJobManager | None = None,
        logs_df: DataFrame | None = None,
        cache: TTLCache | None = None,
    ) -> None:
        self.spark = spark
        self.manager = manager or ETLJobManager(spark)
        self._logs = logs_df
        self.cache = cache or TTLCache()

    # -- GET /api/monitor/jobs (§3.1) -------------------------------------

    def monitor_jobs(
        self,
        *,
        status: str | None = None,
        job_type: str | None = None,
        from_ts: str | None = None,
        to_ts: str | None = None,
        limit: int = 100,
        now: str | None = None,
    ) -> list[str]:
        """Validated P15 params → the §3.1 pipeline → JSON rows (F22)."""
        if status is not None:
            status = status.upper()  # case-insensitive (input_validator:323)
            if status not in VALID_STATUSES:
                raise ValidationError(f"invalid status {status!r}")
        if job_type is not None and job_type.upper() not in VALID_JOB_TYPES:
            raise ValidationError(f"invalid job type {job_type!r}")
        limit = clamp_limit(limit)
        df = monitor_jobs(
            self.manager.jobs_df(),
            status=status,
            job_type=job_type and job_type.upper(),
            from_ts=from_ts,
            to_ts=to_ts,
            limit=limit,
            now=now,
        )
        return _to_json_rows(df)

    # -- GET /api/jobs/{id} · POST /api/jobs ------------------------------

    def get_job(self, job_id: str) -> str:
        df = self.manager.jobs_df().filter(F.col("job_id") == job_id)
        rows = _to_json_rows(df)
        if not rows:
            raise KeyError(job_id)  # → HTTP 404
        return rows[0]

    def create_job(self, config) -> str:
        if config.job_type.value not in VALID_JOB_TYPES:
            raise ValidationError(f"invalid job type {config.job_type}")
        job_id = self.manager.schedule_job(config)
        self.cache.invalidate_tag("jobs")  # health/status payloads are stale
        return job_id

    # -- GET /api/health (A1) ---------------------------------------------

    def health(self) -> str:
        """totalJobs + per-status counts in ONE pass
        (request_handler.cpp:1526-1548 runs four scans). Cached 30s
        (cache_manager.hpp:73) under the "jobs" tag — job mutations
        invalidate it."""
        cached = self.cache.get("health")
        if cached is not None:
            return cached
        counts = {
            r["status"]: r["cnt"]
            for r in self.manager.jobs_df()
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        payload = {
            "status": "ok",
            "totalJobs": sum(counts.values()),
            "runningJobs": counts.get("RUNNING", 0),
            "completedJobs": counts.get("COMPLETED", 0),
            "failedJobs": counts.get("FAILED", 0),
        }
        import json

        out = json.dumps(payload)
        self.cache.put("health", out, category="health", tags=("jobs",))
        return out

    # -- POST /api/logs/search (P11) --------------------------------------

    def search_logs(self, params: LogQueryParams, **col_map: str) -> list[str]:
        if self._logs is None:
            raise ValidationError("no logs table configured")
        if params.max_results > 1000 or params.max_results < 1:
            raise ValidationError("maxResults must be in [1, 1000]")
        return _to_json_rows(search_logs(self._logs, params, **col_map))

    # -- GET /api/metrics (A3 family) -------------------------------------

    def metrics(
        self, metric_type: str, time_range: str, *, now: str | None = None
    ) -> str:
        if metric_type not in VALID_METRIC_TYPES:
            raise ValidationError(f"invalid metric_type {metric_type!r}")
        if time_range not in TIME_RANGES:
            raise ValidationError(f"invalid time_range {time_range!r}")
        now_ts = (
            dt.datetime.fromisoformat(now)
            if now
            else dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        )
        cutoff = now_ts - TIME_RANGES[time_range]
        jobs = self.manager.jobs_df().filter(F.col("created_at") >= ts_lit(cutoff))
        if metric_type == "jobs":
            agg = jobs.groupBy("status").agg(F.count(F.lit(1)).alias("cnt"))
            return "[" + ",".join(_to_json_rows(agg)) + "]"
        if metric_type == "errors":
            agg = jobs.agg(
                F.sum("records_failed").alias("total_failed"),
                F.avg(
                    F.when(
                        F.col("records_processed") > 0,
                        100.0
                        * F.col("records_failed")
                        / F.col("records_processed"),
                    )
                ).alias("avg_error_rate"),
            )
        else:  # performance / system
            agg = jobs.agg(
                F.sum("records_processed").alias("total_records"),
                F.avg(
                    F.when(F.col("processing_rate") > 0, F.col("processing_rate"))
                ).alias("avg_rate_positive"),
                F.sum("total_bytes_written").alias("total_bytes_written"),
            )
        return _to_json_rows(agg)[0]


    # -- analytics catalog (the registry as a REST-able surface) ----------

    def list_queries(self) -> list[str]:
        """Names of every registered analytics query — the catalog
        endpoint a UI populates its query picker from."""
        from rclabsapi_spark.registry import registered

        return sorted(registered())

    def run_query(
        self, name: str, *, sf_dir: str, limit: int = 100
    ) -> list[str]:
        """Run a registry query by name and return JSON rows — the same
        whitelist-then-execute shape as the metrics endpoints: the name
        is looked up in the registry (``registered()``, a dict access,
        not the driver's verification order), unknown names are a
        ValidationError (maps to HTTP 400), never an arbitrary-code
        path, and the result is limit-clamped before serialization
        (O6)."""
        from rclabsapi_spark.registry import registered

        spec = registered().get(name)
        if spec is None:
            raise ValidationError(f"unknown query {name!r}")
        df = spec.fn(self.spark, sf_dir)
        return _to_json_rows(df.limit(clamp_limit(limit)))


def _to_json_rows(df: DataFrame) -> list[str]:
    """F22 — JSON construction via ``to_json(struct(*))``, executed on the
    executors; the driver only collects the final strings."""
    out = df.select(F.to_json(F.struct(*df.columns)).alias("j"))
    return [r["j"] for r in out.collect()]
