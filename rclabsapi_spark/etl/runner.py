"""ETL job runner — the reference's job pipeline, Spark-first (SURVEY §3.2).

Reference flow (etl_job_manager.cpp:540-654): a worker thread dequeues a
job, transitions PENDING→RUNNING, executes EXTRACT (batched reads) →
TRANSFORM (DataTransformer over DataRecords) → LOAD (transaction + batched
INSERTs, rollback on failure), publishes progress milestones 10/50/80/100,
collects metrics, and lands in COMPLETED/FAILED.

Spark mapping:
- extract        → ``spark.read.<format>`` (batching ≙ partitions/tasks)
- transform      → the TransformationRule compiler (one fused projection)
- load           → staged-commit parquet write: write to a staging dir,
                   atomic rename on success, delete on failure — the
                   rollback semantics of the reference's transaction
                   (etl_job_manager.cpp:467-519) without Delta
- progress (ST7) → milestone callbacks, throttled to ≥``threshold`` deltas
                   (job_monitor_service.hpp:167-168)
- metrics        → record counts from the run itself; bytes from the
                   committed files; rate/error-rate with the A11 guards

Single-driver orchestration is intentional: Spark owns the distributed
part (the reads/transforms/writes); the manager is control plane only —
no data ever flows through it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import uuid
from collections.abc import Callable, Iterator
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rclabsapi_spark.catalog import local_df
from rclabsapi_spark.etl.models import (
    ETL_JOBS_SCHEMA,
    ETLJob,
    ETLJobConfig,
    InvalidTransition,
    JobStatus,
    JobType,
    VALID_TRANSITIONS,
)
from rclabsapi_spark.functions.transformer import (
    apply_rules,
    required_field_flag,
    rules_from_dicts,
)

Clock = Callable[[], dt.datetime]
ProgressCallback = Callable[[str, int], None]

# etl_job_manager.cpp:575-589 — FULL_ETL milestone percentages.
MILESTONES = {"extracted": 10, "transformed": 50, "loading": 80, "done": 100}


class ETLJobManager:
    """Control-plane job registry + executor (etl_job_manager.hpp analog).

    ``progress_threshold`` reproduces ST7: progress events under the
    threshold delta are swallowed (job_monitor_service.hpp:167-168).
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        clock: Clock | None = None,
        progress_threshold: int = 5,
    ) -> None:
        self.spark = spark
        # naive-UTC clock (same shape the fixtures/tests pass in)
        self.clock: Clock = clock or (
            lambda: dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        )
        self.progress_threshold = progress_threshold
        self._jobs: dict[str, ETLJob] = {}
        self._configs: dict[str, ETLJobConfig] = {}
        self._queue: list[str] = []
        self._listeners: list[ProgressCallback] = []
        self._last_progress: dict[str, int] = {}
        # guards job-row/state mutation — run_pending runs jobs on a
        # thread pool, and listeners/dicts are shared across those threads
        self._lock = threading.RLock()

    # -- registry / repository surface (S2, P3-P6 over the jobs table) ----

    def schedule_job(self, config: ETLJobConfig) -> str:
        """Persist a PENDING row and enqueue (etl_job_manager.cpp:39-67)."""
        job = ETLJob(
            job_id=config.job_id,
            job_type=config.job_type.value,
            status=JobStatus.PENDING.value,
            source_config=json.dumps(dict(config.source_config)),
            target_config=json.dumps(dict(config.target_config)),
            created_at=self.clock(),
        )
        with self._lock:
            self._jobs[config.job_id] = job
            self._configs[config.job_id] = config
            self._queue.append(config.job_id)
        return config.job_id

    def get_job(self, job_id: str) -> ETLJob:
        return self._jobs[job_id]

    def jobs_df(self) -> DataFrame:
        """The etl_jobs fact table as a DataFrame — every repository query
        (S2/P3-P6/A1…) and the monitor pipeline run against this.

        A snapshot of the rows the driver holds, built as an Arrow-backed
        ``LocalTableScan`` (``catalog.local_df``): reading it starts no
        Python worker, and the naive-UTC timestamps are read as UTC."""
        with self._lock:
            rows = [tuple(asdict(j).values()) for j in self._jobs.values()]
        return local_df(self.spark, rows, ETL_JOBS_SCHEMA)

    def add_progress_listener(self, cb: ProgressCallback) -> None:
        self._listeners.append(cb)

    # -- state machine (ST11) ---------------------------------------------

    def _transition(self, job: ETLJob, new: JobStatus) -> None:
        with self._lock:
            cur = JobStatus(job.status)
            if new not in VALID_TRANSITIONS[cur]:
                raise InvalidTransition(
                    f"{job.job_id}: {cur.value} → {new.value}"
                )
            job.status = new.value
            now = self.clock()
            if new is JobStatus.RUNNING:
                job.started_at = now
            elif new in (
                JobStatus.COMPLETED,
                JobStatus.FAILED,
                JobStatus.CANCELLED,
            ):
                job.completed_at = now

    def cancel_job(self, job_id: str) -> None:
        self._transition(self._jobs[job_id], JobStatus.CANCELLED)

    def _progress(self, job: ETLJob, pct: int) -> None:
        """ST7 — emit only on ≥threshold delta (or terminal 100)."""
        with self._lock:
            last = self._last_progress.get(job.job_id, -100)
            if pct - last < self.progress_threshold and pct != 100:
                return
            self._last_progress[job.job_id] = pct
            job.progress_percent = pct
            listeners = list(self._listeners)
        for cb in listeners:
            cb(job.job_id, pct)

    # -- execution (§3.2 steps 2-4) ---------------------------------------

    def run_next(self) -> str | None:
        """Dequeue-and-run (the worker loop, etl_job_manager.cpp:275-300;
        sequential here — Spark's scheduler owns intra-job parallelism).
        Same error contract as ``run_pending``: a failed job lands in its
        row (status FAILED + error_message) instead of raising; call
        ``run_job`` directly for the raising variant."""
        with self._lock:
            if not self._queue:
                return None
            job_id = self._queue.pop(0)
        try:
            self.run_job(job_id)
        except Exception:  # noqa: BLE001 — status captured on the row
            pass
        return job_id

    def run_pending(self, max_concurrent: int = 5) -> dict[str, str]:
        """Drain the queue with up to ``max_concurrent`` jobs in flight
        (etl.max_concurrent_jobs=5, config.json:20 — declared but
        single-worker in the reference; real here).

        Each job runs on its own driver thread; Spark schedules their
        stages concurrently over the shared executors (FAIR-pool friendly
        — set spark.scheduler.mode=FAIR to stop a long job starving short
        ones). Returns {job_id: final_status}; a failed job doesn't stop
        the drain."""
        from concurrent.futures import ThreadPoolExecutor

        with self._lock:
            batch, self._queue = self._queue, []
        results: dict[str, str] = {}

        def one(job_id: str) -> None:
            try:
                self.run_job(job_id)
            except Exception:  # noqa: BLE001 — status captured on the row
                pass
            results[job_id] = self._jobs[job_id].status

        with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
            list(pool.map(one, batch))
        return results

    def run_job(self, job_id: str) -> ETLJob:
        job = self._jobs[job_id]
        config = self._configs[job_id]
        self._transition(job, JobStatus.RUNNING)
        t0 = self.clock()
        try:
            self._execute(job, config)
            self._transition(job, JobStatus.COMPLETED)
            self._progress(job, 100)
        except Exception as exc:  # noqa: BLE001 — job errors land in the row
            job.error_message = f"{type(exc).__name__}: {exc}"
            self._transition(job, JobStatus.FAILED)
            raise
        finally:
            elapsed = self.clock() - t0
            job.execution_time_ms = int(elapsed.total_seconds() * 1000)
            # A11 guards (job_monitoring_models.cpp:160-209)
            sec = job.execution_time_ms / 1000.0
            job.processing_rate = (
                job.records_processed / sec if sec > 0 else 0.0
            )
        return job

    def _execute(self, job: ETLJob, config: ETLJobConfig) -> None:
        kind = JobType(config.job_type)
        df = self._extract(config)
        if kind is JobType.EXTRACT:
            job.records_processed = job.records_successful = df.count()
            self._progress(job, 100)
            return
        self._progress(job, MILESTONES["extracted"])

        obs = None
        if kind in (JobType.TRANSFORM, JobType.FULL_ETL):
            df, obs = self._transform(df, config)
            self._progress(job, MILESTONES["transformed"])
            if kind is JobType.TRANSFORM:
                df.count()  # the single materializing action
                self._record_observed(job, obs)
                self._progress(job, 100)
                return

        self._progress(job, MILESTONES["loading"])
        written, n_files = self._load(df, config)
        if obs is not None:
            self._record_observed(job, obs)  # metrics rode the write
        if kind is JobType.LOAD:
            job.records_processed = job.records_successful = df.count()
        job.total_bytes_written = written
        job.total_batches = n_files

    def _record_observed(self, job: ETLJob, obs) -> None:
        got = obs.get
        n_total = got["n_total"] or 0
        n_err = got["n_err"] or 0
        job.records_processed = n_total
        job.records_successful = n_total - n_err
        job.records_failed = n_err

    def _extract(self, config: ETLJobConfig) -> DataFrame:
        """S1 — any Spark reader: path-based (parquet/csv/json…) or
        connector-based (jdbc: url/dbtable/driver ride in ``options``,
        no path — database_manager.hpp:33-35's Postgres scan maps here)."""
        src = config.source_config
        reader = self.spark.read.format(src.get("format", "parquet"))
        for k, v in src.get("options", {}).items():
            reader = reader.option(k, v)
        if "schema" in src:
            reader = reader.schema(src["schema"])
        path = src.get("path")
        return reader.load(path) if path is not None else reader.load()

    def _transform(
        self, df: DataFrame, config: ETLJobConfig
    ) -> tuple[DataFrame, "Observation"]:
        """Single-pass validation accounting: the required-field flag is
        summed by an ``Observation`` attached BEFORE the error filter, so
        the one action that materializes the output (the load's write,
        or one count for transform-only jobs) also yields
        (rows_in, rows_failed) — previously two extra full scans
        (errors.count + out.count) ran before the write ever started."""
        from pyspark.sql import Observation

        rules = rules_from_dicts(config.transformation_rules)
        bad = required_field_flag(df, rules)
        obs = Observation()
        base = df.observe(
            obs,
            F.count(F.lit(1)).alias("n_total"),
            F.sum(bad.cast("long")).alias("n_err"),
        )
        out = apply_rules(base.filter(~required_field_flag(base, rules)), rules)
        return out, obs

    def _load(self, df: DataFrame, config: ETLJobConfig) -> tuple[int, int]:
        """Staged-commit write: parquet into ``<path>.staging``, then swap —
        the live table is renamed aside, staging renamed into place, and
        the old data deleted only after the swap succeeds. A failure
        before the swap leaves the live table untouched; a failure
        mid-swap renames the old dir back. (The reference's transaction
        rollback, etl_job_manager.cpp:467-519; same pattern as
        ``upsert_parquet`` / ``maintenance.compact_parquet``.) The swap is
        not concurrent-reader safe — a reader racing the two renames can
        see a missing table for an instant."""
        tgt = config.target_config
        if "path" not in tgt:
            # connector sink (e.g. jdbc) — the connector owns atomicity
            # (JDBC writes run in per-partition transactions; the
            # reference's INSERT batching, etl_job_repository.cpp:99-120);
            # bytes/files are unknowable for a remote table.
            writer = df.write.format(tgt.get("format", "parquet")).mode(
                tgt.get("mode", "append")
            )
            for k, v in tgt.get("options", {}).items():
                writer = writer.option(k, v)
            writer.save()
            return 0, 0
        path = tgt["path"]
        staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
        try:
            writer = df.write.format(tgt.get("format", "parquet")).mode(
                "overwrite"
            )
            if tgt.get("partition_by"):
                writer = writer.partitionBy(*tgt["partition_by"])
            writer.save(staging)
            _swap_into_place(staging, path)
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return _dir_bytes(path), _n_data_files(path)


def _swap_into_place(staging: str, path: str) -> None:
    """Rename ``staging`` over ``path``: move the existing dir aside,
    rename staging in, delete the old dir last; restore the old dir if the
    swap rename fails."""
    old = None
    if os.path.exists(path):
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
    try:
        os.rename(staging, path)
    except Exception:
        if old is not None:
            os.rename(old, path)
        raise
    if old is not None:
        shutil.rmtree(old)


def _walk_files(path: str) -> Iterator[str]:
    for root, _, files in os.walk(path):
        for f in files:
            yield os.path.join(root, f)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _walk_files(path))


def _n_data_files(path: str) -> int:
    return sum(1 for p in _walk_files(path) if p.endswith(".parquet"))


def run_dag(
    manager: "ETLJobManager",
    dependencies: dict[str, list[str]],
    *,
    max_concurrent: int = 5,
) -> dict[str, str]:
    """Dependency-aware drain: run the queued jobs in topological waves —
    a job starts only after every job it depends on COMPLETED; jobs in
    the same ready wave run concurrently (bounded by ``max_concurrent``).
    A failed job marks its transitive dependents SKIPPED rather than
    running them against missing inputs — the standard DAG-runner
    contract the reference's linear queue (etl_job_manager.cpp) lacks
    once loads feed transforms feed loads.

    ``dependencies`` maps job_id → prerequisite job_ids (absent ⇒ no
    prerequisites). Raises on dependency cycles. Returns
    {job_id: final_status} with 'SKIPPED' for suppressed dependents."""
    from concurrent.futures import ThreadPoolExecutor

    with manager._lock:
        batch, manager._queue = list(manager._queue), []
    pending = set(batch)
    done: dict[str, str] = {}

    # A prerequisite must be either in this batch or already completed
    # in a previous run; anything else is a typo'd/unsubmitted job id
    # that would otherwise be silently treated as satisfied.
    satisfied_outside = {
        jid
        for jid, job in manager._jobs.items()
        if job.status == JobStatus.COMPLETED.value
    }
    unknown = {
        j: missing
        for j in batch
        if (
            missing := [
                d
                for d in dependencies.get(j, [])
                if d not in pending and d not in satisfied_outside
            ]
        )
    }
    if unknown:
        raise ValueError(f"unknown prerequisite(s): {unknown}")

    def runnable(j: str) -> bool:
        return all(
            done.get(d) == JobStatus.COMPLETED.value
            for d in dependencies.get(j, [])
            if d in batch
        )

    def blocked_forever(j: str) -> bool:
        return any(
            d in batch
            and done.get(d) is not None
            and done[d] != JobStatus.COMPLETED.value
            for d in dependencies.get(j, [])
        )

    while pending:
        wave = [j for j in pending if runnable(j)]
        skips = [j for j in pending if blocked_forever(j)]
        for j in skips:
            done[j] = "SKIPPED"
            pending.discard(j)
        wave = [j for j in wave if j in pending]
        if not wave:
            if pending:
                raise ValueError(
                    f"dependency cycle or unknown prerequisite among {sorted(pending)}"
                )
            break

        def one(job_id: str) -> None:
            try:
                manager.run_job(job_id)
            except Exception:  # noqa: BLE001 — status captured on the row
                pass
            done[job_id] = manager._jobs[job_id].status

        with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
            list(pool.map(one, wave))
        pending -= set(wave)
    return done
