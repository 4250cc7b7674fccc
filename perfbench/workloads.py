"""The benchmark's workloads: schedules of operations against the engine.

Each workload is a set of op types. One *pass* runs every op type once,
in an order drawn from the seed; a run measures passes in a closed loop
(one client thread, the next op only after the previous one returns).
Every op starts with an empty Spark cache. Only the op's call into the
engine is timed; its output is then digested and checked against its own
warm-up digest or against an independent recomputation.

- ``api_mixed``: reads through ``EngineAPI`` and writes through the ETL
  runner and ``maintenance`` on sf0.01 inputs, so per-request fixed cost
  (py4j, Catalyst planning, job launch, JSON collect) is the latency.
- ``dedup``: a connected-components (CC) dedup query, whose construction
  launches about 25 Spark jobs (CC rounds, checkpoints, collects), and a
  near-dup tier, which builds in one job and then spends its time in
  bucket -> array -> pair shuffles.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import json
import math
import os
import random
import time
from dataclasses import dataclass, field
from typing import Callable

import datagen

CPUS = max(1, min(4, os.cpu_count() or 1))
SCALE = 0.01
# seconds per pass of each workload on a quiet 4-vCPU box. A run measures
# ceil(seconds / PASS_S) passes, so every run of a workload does the same
# work however fast the box is that day
PASS_S = {"api_mixed": 10.5, "dedup": 7.2}

# construction-bound: a connected-components (CC) consumer
DEDUP_ITERATIVE = ("dedup_cluster_audit",)
# execution-bound: a blocked-pair near-dup tier
DEDUP_BLOCKED = ("dedup_minhash_lsh",)
# a relational and a window query served through EngineAPI.run_query (the
# event-log pipeline is served by search_logs); each returns well under
# 100 rows (return-flag/line-status groups; cohort week x week offset), so
# limit=100 keeps every row and the digest is defined by the query itself
API_QUERIES = ("tpch_q1_pricing_summary", "w_cohort_retention")


# -- digests ---------------------------------------------------------------


def _canon(v):
    """Canonical form for an order-insensitive digest: floats to nine
    significant digits, so accumulation order cannot flip a digest."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in sorted(v.items())}
    return v


def rows_digest(rows) -> str:
    """Digest of a multiset of rows (dicts, tuples or JSON strings)."""
    lines = sorted(
        json.dumps(_canon(json.loads(r) if isinstance(r, str) else r),
                   sort_keys=True, default=str)
        for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def observed_digest_cols(df):
    """Aggregates for ``DataFrame.observe`` that digest the rows an action
    produces: row count plus an order-insensitive sum of row hashes, with
    doubles rounded to six decimals first."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (DoubleType, FloatType)):
            c = F.round(c, 6)
        elif isinstance(t, ArrayType) and isinstance(
            t.elementType, (DoubleType, FloatType)
        ):
            c = F.transform(c, lambda x: F.round(x, 6))
        cols.append(c)
    h = F.pmod(F.xxhash64(*cols), F.lit(2147483647))
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")]


# -- ops -------------------------------------------------------------------


@dataclass
class Op:
    """One op type. Only ``run`` is timed: ``prepare`` readies its input
    before the timer starts, and after it stops ``check`` turns what
    ``run`` returned into the output digest and ``expect`` returns the
    digest that must equal, or None to compare against the warm-up."""

    name: str
    kind: str  # "read" | "write"
    run: Callable[[], object]
    expect: Callable[[], str | None] = lambda: None
    prepare: Callable[[], None] = lambda: None
    check: Callable[[object], str] = lambda out: out


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    run_dir: str
    seed: int
    tracer: object
    registry: dict
    trace: bool
    sf: float
    # noop-sink phase of each query op, in ms: a dedup op's write latency
    sink_ms: list = field(default_factory=list)


def query_op(ctx: Ctx, name: str) -> Op:
    """A registry query built and then run through the noop sink, as
    ``bench.py`` runs it, with the output digested by an observation."""
    from pyspark.sql import Observation

    spec = ctx.registry[name]
    tr = ctx.tracer

    def run() -> Observation:
        with tr.span("registry.build_ms", f"{name}:build"), tr.span(
            f"{name}.build_ms"
        ):
            df = spec.fn(ctx.spark, ctx.sf_dir)
        obs = Observation()
        df = df.observe(obs, *observed_digest_cols(df))
        if tr.enabled:
            with tr.span("registry.plan_ms", f"{name}:plan"):
                df._jdf.queryExecution().executedPlan()
        t0 = time.perf_counter()
        with tr.span("registry.exec_ms", f"{name}:exec"), tr.span(
            f"{name}.exec_ms"
        ):
            df.write.format("noop").mode("overwrite").save()
        ctx.sink_ms.append((time.perf_counter() - t0) * 1000.0)
        return obs

    def check(obs) -> str:
        got = obs.get
        return f"{got['n']}:{got['h']}"

    return Op(name, "read", run, check=check)


class Dedup:
    """A fixed list of registry queries, each through the noop sink."""

    def __init__(self, ctx: Ctx, names) -> None:
        self.ops = [query_op(ctx, n) for n in names]

    def warm_ops(self) -> list[Op]:
        return list(self.ops)

    def pass_ops(self, rng: random.Random) -> list[Op]:
        return rng.sample(self.ops, len(self.ops))

    def layer_stats(self) -> dict:
        return {}


# -- api_mixed ---------------------------------------------------------------

ETL_RULES = (
    {"sourceField": "event_type", "targetField": "event_type_u",
     "transformationType": "uppercase"},
    {"sourceField": "value", "targetField": "value_scaled",
     "transformationType": "multiply"},
    {"sourceField": "props", "targetField": "props",
     "transformationType": "trim", "parameters": {"required": "true"}},
    {"sourceField": "value", "targetField": "value_p1",
     "transformationType": "add", "parameters": {"addend": "1"}},
)
UPDATE_ROWS = 200  # rows per merge_upsert batch, a tenth of them inserts
NOW = dt.datetime(2024, 6, 1)


class ApiMixed:
    """Reads through ``EngineAPI``; writes through the ETL runner and
    ``maintenance`` into a month-partitioned copy of ``orders``.

    A pass is every read type once (``health`` twice in a row, as a
    polling client calls it: a cache miss, then a hit) plus three
    writes, in this order among the reads: one FULL_ETL job, one
    ``merge_upsert`` batch, and one ``compact_parquet`` of the partitions
    that merge touched (so every third write is a compaction). Every write
    is replayed into a DuckDB twin of the table, which the table is
    checked against after each write."""

    def __init__(self, ctx: Ctx) -> None:
        import duckdb
        from rclabsapi_spark.api import EngineAPI
        from rclabsapi_spark.cache import TTLCache
        from rclabsapi_spark.catalog import load_table
        from rclabsapi_spark.etl import ETLJobManager

        self.ctx = ctx
        spark = ctx.spark
        self.table = os.path.join(ctx.run_dir, "orders_by_month")
        self.batch_dir = os.path.join(ctx.run_dir, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)
        ticks = iter(range(10**9))

        def clock() -> dt.datetime:  # deterministic job timestamps
            return NOW - dt.timedelta(days=7) + dt.timedelta(seconds=next(ticks))

        self.cache = TTLCache()
        self.manager = ETLJobManager(spark, clock=clock)
        self.api = EngineAPI(
            spark,
            manager=self.manager,
            logs_df=load_table(spark, ctx.sf_dir, "events"),
            cache=self.cache,
        )
        self.n_events = datagen.row_counts(ctx.sf)["events"]
        self.n_etl = self.n_merge = self.n_jobs = 0
        self.dirty: set[int] = set()
        self.search_params = self._search_params()
        # the upsert target is written from its DuckDB twin, which every
        # write is then replayed into for the output check
        self.duck = duckdb.connect()
        self.duck.execute(
            "CREATE TABLE expect AS SELECT *, "
            "CAST(strftime(o_orderdate, '%Y%m') AS INTEGER) AS o_month "
            f"FROM read_parquet('{ctx.sf_dir}/orders.parquet')"
        )
        self.duck.execute(
            f"COPY expect TO '{self.table}' (FORMAT PARQUET, PARTITION_BY (o_month))"
        )
        self.recent = [
            r[0]
            for r in self.duck.execute(
                "SELECT DISTINCT o_month FROM expect ORDER BY 1 DESC"
            ).fetchall()
        ]
        self.next_key = self.duck.execute(
            "SELECT max(o_orderkey) + 1 FROM expect"
        ).fetchone()[0]
        if ctx.trace:
            self._trace_registry()
        self.ops = self._ops()

    def _trace_registry(self) -> None:
        """Swap each served query's registry entry for one that times its
        construction and forces its planning, so ``run_query`` splits
        into build, plan and the rest."""
        from rclabsapi_spark import registry

        tr = self.ctx.tracer
        for name in API_QUERIES:
            spec = registry._REGISTRY[name]

            def fn(spark, sf_dir, _name=name, _fn=spec.fn):
                with tr.span("registry.build_ms", f"{_name}:build"):
                    df = _fn(spark, sf_dir)
                if tr.enabled:
                    with tr.span("registry.plan_ms", f"{_name}:plan"):
                        df._jdf.queryExecution().executedPlan()
                return df

            registry._REGISTRY[name] = dataclasses.replace(spec, fn=fn)

    # -- reads ---------------------------------------------------------------

    def _search_params(self):
        from rclabsapi_spark.plans.log_query import LogQueryParams

        r = random.Random(self.ctx.seed + 1)
        day = r.randint(2, 20)
        return LogQueryParams(
            start_time=f"2024-01-{day:02d} 00:00:00",
            end_time=f"2024-01-{day + 7:02d} 00:00:00",
            component=r.choice(["click", "view", "purchase"]),
            search_text=str(r.randint(1, 9)),
            max_results=100,
            sort_by="timestamp",
        )

    def _registry_read(self, name: str) -> Op:
        tr = self.ctx.tracer

        def run() -> list:
            if not tr.enabled:
                return self.api.run_query(name, sf_dir=self.ctx.sf_dir, limit=100)
            inner = ("registry.build_ms", "registry.plan_ms")
            before = {k: len(tr.spans[k]) for k in inner}
            t0 = time.perf_counter()
            with tr.span("api.run_query_ms", f"{name}:exec"):
                rows = self.api.run_query(name, sf_dir=self.ctx.sf_dir, limit=100)
            # what run_query spent outside construction and forced planning
            nested = sum(sum(tr.spans[k][n:]) for k, n in before.items())
            tr.record(
                "registry.exec_ms", (time.perf_counter() - t0) * 1000.0 - nested
            )
            return rows

        return Op(name, "read", run, check=rows_digest)

    def _search_logs(self) -> list:
        with self.ctx.tracer.span("api.search_logs_ms", "search_logs:exec"):
            return self.api.search_logs(
                self.search_params,
                ts_col="ts",
                component_col="event_type",
                job_col="__absent__",
                thread_col="__absent__",
                message_col="props",
                level_col="event_type",
                key_col="event_id",
            )

    def _completed(self) -> int:
        return sum(j.status == "COMPLETED" for j in self.manager._jobs.values())

    def _monitor(self) -> list:
        with self.ctx.tracer.span("api.monitor_jobs_ms", "monitor_jobs:exec"):
            return self.api.monitor_jobs(status="COMPLETED", limit=100)

    @staticmethod
    def _monitor_check(rows) -> str:
        ok = all(json.loads(r)["status"] == "COMPLETED" for r in rows)
        return f"{ok}:{len(rows)}"

    def _monitor_expect(self) -> str:
        return f"True:{min(100, self._completed())}"

    def _metrics(self) -> str:
        with self.ctx.tracer.span("api.metrics_ms", "metrics:exec"):
            return self.api.metrics("performance", "30d", now=NOW.isoformat())

    @staticmethod
    def _metrics_check(out) -> str:
        # to_json drops a null sum, which is what no jobs at all gives
        return str(json.loads(out).get("total_records") or 0)

    def _metrics_expect(self) -> str:
        return str(sum(j.records_processed for j in self.manager._jobs.values()))

    def _health(self) -> str:
        with self.ctx.tracer.span("api.health_ms", "health:exec"):
            return self.api.health()

    @staticmethod
    def _health_check(out) -> str:
        # health is cached for 30 s by design, so the completed count may
        # lag; the job total is exact because creating a job invalidates it
        out = json.loads(out)
        return f"{out['totalJobs']}:{out['completedJobs'] <= out['totalJobs']}"

    def _health_expect(self) -> str:
        return f"{self.n_jobs}:True"

    _AGG_SQL = (
        "SELECT o_month, count(*) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM expect WHERE o_month >= 200101 GROUP BY o_month"
    )

    def _table_agg(self) -> list:
        from pyspark.sql import functions as F

        with self.ctx.tracer.span("table.agg_ms", "table_agg:exec"):
            return (
                self.ctx.spark.read.parquet(self.table)
                .filter(F.col("o_month") >= 200101)
                .groupBy("o_month")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("o_totalprice"), 2).alias("total"),
                )
                .collect()
            )

    @staticmethod
    def _table_agg_check(rows) -> str:
        return rows_digest([r.asDict() for r in rows])

    def _table_agg_expect(self) -> str:
        cur = self.duck.execute(self._AGG_SQL)
        cols = [d[0] for d in cur.description]
        return rows_digest([dict(zip(cols, r)) for r in cur.fetchall()])

    # -- writes --------------------------------------------------------------

    def _etl(self):
        """Create and run one FULL_ETL job (events -> seeded rules ->
        staged parquet load into one of four targets)."""
        from rclabsapi_spark.etl import ETLJobConfig, JobType

        i = self.n_etl
        self.n_etl += 1
        r = random.Random(self.ctx.seed * 7919 + i)
        # every rule, in seeded order, with a seeded multiply factor
        rules = [
            {**x, "parameters": {"factor": str(r.randint(2, 100))}}
            if x["transformationType"] == "multiply" else x
            for x in r.sample(ETL_RULES, len(ETL_RULES))
        ]
        cfg = ETLJobConfig(
            job_id=f"job_{self.ctx.seed}_{1000 + i}",
            job_type=JobType.FULL_ETL,
            source_config={
                "format": "parquet",
                "path": f"{self.ctx.sf_dir}/events.parquet",
            },
            target_config={
                "format": "parquet",
                "path": os.path.join(self.ctx.run_dir, "etl", f"t{r.randrange(4)}"),
            },
            transformation_rules=rules,
        )
        tr = self.ctx.tracer
        with tr.span("etl.run_job_ms", "etl:exec"):
            self.api.create_job(cfg)
            self.n_jobs += 1
            return self.manager.run_job(cfg.job_id)

    def _etl_check(self, job) -> str:
        self.ctx.tracer.record("etl.bytes_written", job.total_bytes_written)
        self.ctx.tracer.record("etl.files_written", job.total_batches)
        return f"{job.status}:{job.records_processed}:{job.total_bytes_written > 0}"

    def _etl_expect(self) -> str:
        return f"COMPLETED:{self.n_events}:True"

    def _recent_month(self, r: random.Random) -> int:
        """A month drawn with geometrically falling weight from the newest."""
        return self.recent[min(int(r.expovariate(2.0)), len(self.recent) - 1)]

    def _update_batch(self, i: int) -> str:
        """Write update batch ``i`` to parquet: UPDATE_ROWS rows, nine tenths
        updates of existing keys in recent months, one tenth new keys."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        r = random.Random(self.ctx.seed * 104729 + i)
        n_ins = UPDATE_ROWS // 10
        per_month: dict[int, int] = {}
        for _ in range(UPDATE_ROWS - n_ins):
            m = self._recent_month(r)
            per_month[m] = per_month.get(m, 0) + 1
        rows = []
        for month, cnt in sorted(per_month.items()):
            rows += self.duck.execute(
                "SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority, "
                f"o_month FROM expect WHERE o_month = {month} "
                f"ORDER BY hash(o_orderkey + {i}) LIMIT {cnt}"
            ).fetchall()
        for _ in range(n_ins):
            month = self._recent_month(r)
            day = dt.datetime(month // 100, month % 100, r.randint(1, 28))
            rows.append((self.next_key, r.randrange(1000), day, "3-MEDIUM", month))
            self.next_key += 1
        cols = list(zip(*rows))
        table = pa.table(
            {
                "o_orderkey": pa.array(cols[0], pa.int64()),
                "o_custkey": pa.array(cols[1], pa.int64()),
                "o_orderstatus": pa.array([r.choice("FOP") for _ in rows]),
                "o_totalprice": pa.array(
                    [round(r.uniform(1000, 500000), 2) for _ in rows]
                ),
                "o_orderdate": pa.array(cols[2], pa.timestamp("us")),
                "o_orderpriority": pa.array(cols[3], pa.string()),
                "o_month": pa.array(cols[4], pa.int32()),
            }
        )
        path = os.path.join(self.batch_dir, f"b{i}.parquet")
        pq.write_table(table, path)
        return path

    def _merge_prepare(self) -> None:
        self.batch = self._update_batch(self.n_merge)
        self.n_merge += 1

    def _merge(self) -> dict:
        from rclabsapi_spark.maintenance import merge_upsert

        with self.ctx.tracer.span("maintenance.merge_upsert_ms", "merge_upsert:exec"):
            return merge_upsert(
                self.ctx.spark,
                self.table,
                self.ctx.spark.read.parquet(self.batch),
                key_cols=["o_orderkey"],
                partition_col="o_month",
            )

    def _merge_check(self, res) -> str:
        from rclabsapi_spark.etl.runner import _dir_bytes

        touched = [int(p) for p in res["partitions"]]
        self.dirty.update(touched)
        tr = self.ctx.tracer
        if tr.enabled:
            tr.record("maintenance.partitions_touched", len(touched))
            rewritten = sum(
                _dir_bytes(os.path.join(self.table, f"o_month={p}")) for p in touched
            )
            tr.record(
                "maintenance.rewrite_bytes_per_update_byte",
                rewritten / os.path.getsize(self.batch),
            )
        return self._table_digest()

    def _merge_expect(self) -> str:
        """Replay the batch into the DuckDB twin."""
        src = f"read_parquet('{self.batch}')"
        self.duck.execute(
            f"DELETE FROM expect WHERE o_orderkey IN (SELECT o_orderkey FROM {src})"
        )
        self.duck.execute(f"INSERT INTO expect BY NAME SELECT * FROM {src}")
        return self._expect_digest()

    def _compact(self) -> None:
        from rclabsapi_spark.maintenance import compact_parquet

        hot = sorted(self.dirty)
        self.dirty.clear()
        with self.ctx.tracer.span("maintenance.compact_ms", "compact:exec"):
            for p in hot:
                compact_parquet(self.ctx.spark, os.path.join(self.table, f"o_month={p}"))

    _CHECKSUM_SQL = (
        "SELECT count(*), sum(hash(o_orderkey, o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate, o_orderpriority, o_month)) FROM {src}"
    )

    def _table_digest(self) -> str:
        src = f"read_parquet('{self.table}/*/*.parquet', hive_partitioning = true)"
        n, h = self.duck.execute(self._CHECKSUM_SQL.format(src=src)).fetchone()
        return f"{n}:{h}"

    def _expect_digest(self) -> str:
        n, h = self.duck.execute(self._CHECKSUM_SQL.format(src="expect")).fetchone()
        return f"{n}:{h}"

    # -- schedule ------------------------------------------------------------

    def _ops(self) -> tuple[list[list[Op]], list[Op]]:
        """Read units (each run back to back) and the writes, in order."""
        # a polling client's pair of health calls: the first finds the API
        # cache empty, the second hits it, whatever the timing of the pass
        health = [
            Op("health", "read", self._health, self._health_expect,
               prepare=lambda: self.cache.invalidate_tag("jobs"),
               check=self._health_check),
            Op("health", "read", self._health, self._health_expect,
               check=self._health_check),
        ]
        reads = [[self._registry_read(n)] for n in API_QUERIES] + [
            [Op("search_logs", "read", self._search_logs, check=rows_digest)],
            [Op("monitor_jobs", "read", self._monitor, self._monitor_expect,
                check=self._monitor_check)],
            [Op("metrics", "read", self._metrics, self._metrics_expect,
                check=self._metrics_check)],
            health,
            [Op("table_agg", "read", self._table_agg, self._table_agg_expect,
                check=self._table_agg_check)],
        ]
        writes = [
            Op("etl", "write", self._etl, self._etl_expect, check=self._etl_check),
            Op("merge_upsert", "write", self._merge, self._merge_expect,
               prepare=self._merge_prepare, check=self._merge_check),
            Op("compact", "write", self._compact, self._expect_digest,
               check=lambda _: self._table_digest()),
        ]
        return reads, writes

    def warm_ops(self) -> list[Op]:
        reads, writes = self.ops
        return [op for unit in reads for op in unit] + writes

    def pass_ops(self, rng: random.Random) -> list[Op]:
        """The read units in seeded order, with the writes at seeded
        positions between them, still in etl, merge, compact order."""
        reads, writes = self.ops
        units = rng.sample(reads, len(reads))
        slots = sorted(rng.sample(range(len(units) + 1), len(writes)))
        for k, (slot, w) in enumerate(zip(slots, writes)):
            units.insert(slot + k, [w])
        return [op for unit in units for op in unit]

    def layer_stats(self) -> dict:
        from rclabsapi_spark.maintenance import _data_files

        total = self.cache.hits + self.cache.misses
        return {
            "cache.hit_ratio": self.cache.hits / total if total else 0.0,
            "table.files": len(_data_files(self.table)),
        }


def make_workload(name: str, ctx: Ctx):
    if name == "api_mixed":
        return ApiMixed(ctx)
    return Dedup(ctx, DEDUP_ITERATIVE + DEDUP_BLOCKED)


def make_inputs(run_dir: str, seed: int, sf: float) -> str:
    sf_dir = os.path.join(run_dir, "inputs")
    datagen.write_tables(sf_dir, sf, seed)
    return sf_dir
