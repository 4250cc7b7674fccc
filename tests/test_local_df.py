"""Driver-held rows as Arrow-backed local relations (``catalog.local_df``)
and the naive-UTC reading of the jobs path."""

from __future__ import annotations

import ast
import datetime as dt
import json
import time
from pathlib import Path

import pytest

import rclabsapi_spark
from rclabsapi_spark.api import EngineAPI
from rclabsapi_spark.catalog import load_table
from rclabsapi_spark.etl import ETLJobConfig, ETLJobManager, JobType
from rclabsapi_spark.etl.models import ETL_JOBS_SCHEMA
from rclabsapi_spark.plans.monitor_jobs import monitor_jobs

from .conftest import SF_SMOKE

T0 = dt.datetime(2024, 6, 1, 12, 30, 15, 123000)  # naive UTC


def _assert_local(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


@pytest.fixture()
def process_tz(monkeypatch):
    """Set the driver process's time zone (``TZ`` + ``time.tzset``) and
    restore it afterwards."""

    def set_tz(name: str) -> None:
        monkeypatch.setenv("TZ", name)
        time.tzset()

    yield set_tz
    monkeypatch.undo()
    time.tzset()


def _manager(spark, jobs) -> ETLJobManager:
    """A manager holding ``jobs``: (job_id, status, created_at, fields)."""
    mgr = ETLJobManager(spark, clock=lambda: T0)
    for job_id, status, created, fields in jobs:
        mgr.schedule_job(
            ETLJobConfig(job_id, JobType.FULL_ETL, {"path": "/in/ü"})
        )
        job = mgr.get_job(job_id)
        job.status = status
        job.created_at = created
        for k, v in fields.items():
            setattr(job, k, v)
    return mgr


# -- the helper's plans ------------------------------------------------------


def test_driver_rows_plan_as_local_table_scans(spark, monkeypatch, tmp_path):
    from rclabsapi_spark.llm import similarity
    from rclabsapi_spark.sources.files import list_log_files
    from rclabsapi_spark.streaming.accounting import _read_or_empty
    from rclabsapi_spark.streaming.routing import subscriptions_df

    mgr = _manager(spark, [("j1", "COMPLETED", T0, {})])
    _assert_local(mgr.jobs_df())
    _assert_local(ETLJobManager(spark).jobs_df())
    _assert_local(subscriptions_df(spark))
    (tmp_path / "a.log").write_text("x\n")
    _assert_local(list_log_files(spark, str(tmp_path)))
    _assert_local(
        _read_or_empty(spark, str(tmp_path / "absent"), "h string, b long")
    )

    # every per-iteration centroid table, not only the returned one
    frames = []
    real = similarity.local_df

    def recording(*args):
        frames.append(real(*args))
        return frames[-1]

    monkeypatch.setattr(similarity, "local_df", recording)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=4, iters=2)
    assert len(frames) == 3 and cents is frames[-1]
    for f in frames:
        _assert_local(f)


def test_create_dataframe_only_in_local_df():
    """Every DataFrame over driver rows goes through ``local_df``: a
    ``createDataFrame`` call anywhere else in the package would bring
    back the Python-worker scan."""
    root = Path(rclabsapi_spark.__file__).parent
    calls = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        fns = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                continue
            owner = min(
                (f for f in fns if f.lineno <= node.lineno <= f.end_lineno),
                key=lambda f: f.end_lineno - f.lineno,
                default=None,
            )
            calls.append(
                f"{path.relative_to(root)}:{owner.name if owner else '<module>'}"
            )
    assert calls == ["catalog.py:local_df"]


def test_local_df_reads_naive_datetimes_as_utc(spark, process_tz):
    from pyspark.sql.types import StructField, StructType, TimestampType

    from rclabsapi_spark.catalog import local_df

    process_tz("America/New_York")
    assert time.localtime(0).tm_gmtoff != 0  # the zone took effect
    schema = StructType([StructField("t", TimestampType())])
    aware = T0.replace(tzinfo=dt.timezone(dt.timedelta(hours=2)))
    rows = local_df(spark, [(T0,), (aware,), (None,)], schema).collect()
    got = [r["t"] and r["t"].astimezone(dt.timezone.utc) for r in rows]
    assert got == [
        T0.replace(tzinfo=dt.timezone.utc),
        aware.astimezone(dt.timezone.utc),
        None,
    ]


# -- the jobs path in UTC ----------------------------------------------------


def test_jobs_path_reads_naive_timestamps_as_utc(spark, process_tz):
    """Under a non-UTC process zone, stored naive-UTC job times are served
    as UTC, the metrics window starts exactly ``range`` before ``now``,
    and a RUNNING job's execution time runs to ``now``."""
    process_tz("America/New_York")
    assert time.localtime(0).tm_gmtoff != 0
    ms = dt.timedelta(milliseconds=1)
    mgr = _manager(
        spark,
        [
            ("j_edge", "COMPLETED", T0, {"records_processed": 10}),
            ("j_old", "COMPLETED", T0 - ms, {"records_processed": 1000}),
            ("j_run", "RUNNING", T0, {"started_at": T0}),
        ],
    )
    api = EngineAPI(spark, manager=mgr)

    row = json.loads(api.get_job("j_edge"))
    assert row["created_at"] == "2024-06-01T12:30:15.123Z"

    # the cutoff is now - 24h == T0: j_edge is in, j_old (1 ms older) out
    now = (T0 + dt.timedelta(hours=24)).isoformat()
    perf = json.loads(api.metrics("performance", "24h", now=now))
    assert perf["total_records"] == 10

    want_ms = 29 * 60 * 1000 + 44877  # 13:00:00 - 12:30:15.123
    running = api.monitor_jobs(status="RUNNING", now="2024-06-01T13:00:00")
    assert [json.loads(r)["execution_time_ms"] for r in running] == [want_ms]
    # the same through naive datetime literals (bounds and now)
    df = monitor_jobs(
        mgr.jobs_df(),
        status="RUNNING",
        from_ts=T0,
        to_ts=T0,
        now=dt.datetime(2024, 6, 1, 13),
    )
    assert [r["execution_time_ms"] for r in df.collect()] == [want_ms]


class _RowListManager(ETLJobManager):
    """The jobs table built the way it was before ``local_df``: a Python
    row list through ``createDataFrame`` (a Python-worker scan)."""

    def jobs_df(self):
        from dataclasses import asdict

        rows = [tuple(asdict(j).values()) for j in self._jobs.values()]
        return self.spark.createDataFrame(rows, ETL_JOBS_SCHEMA)


def _served(spark, mgr) -> tuple:
    api = EngineAPI(spark, manager=mgr)
    gets = []
    for job_id in sorted(mgr._jobs):
        gets.append(api.get_job(job_id))
    with pytest.raises(KeyError):
        api.get_job("absent")
    return (
        api.monitor_jobs(limit=100),
        api.monitor_jobs(status="FAILED"),
        api.monitor_jobs(now="2024-06-01T13:00:00", from_ts="2024-06-01"),
        gets,
    )


def test_jobs_json_matches_row_list_table(spark, process_tz):
    process_tz("UTC")
    empty = ETLJobManager(spark)
    parent = _RowListManager(spark)
    assert _served(spark, empty) == _served(spark, parent) == ([], [], [], [])

    mgr = _manager(
        spark,
        [
            ("j_pending", "PENDING", None, {}),
            (
                "j_done",
                "COMPLETED",
                T0,
                {
                    "started_at": T0 + dt.timedelta(seconds=1),
                    "completed_at": T0 + dt.timedelta(seconds=3, microseconds=7),
                    "records_processed": 5,
                    "processing_rate": float("inf"),
                    "execution_time_ms": 2000,
                    "total_bytes_written": 2**40,
                },
            ),
            (
                "j_ü_失敗",
                "FAILED",
                T0 + dt.timedelta(minutes=1),
                {"error_message": "échec — 失敗 ✓ \"quoted\"\n", "records_failed": 3},
            ),
            ("j_run", "RUNNING", T0, {"started_at": T0}),
        ],
    )
    parent._jobs = mgr._jobs
    got, want = _served(spark, mgr), _served(spark, parent)
    assert got == want
    done = json.loads(got[3][0])
    assert done["job_id"] == "j_done" and done["processing_rate"] == "Infinity"
    pending = json.loads(got[3][1])
    assert "error_message" not in done and "started_at" not in pending
