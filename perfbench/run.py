#!/usr/bin/env python3
"""The repository benchmark: one seeded workload in one process.

    python3 perfbench/run.py --workload api_mixed --seed 1 --seconds 14 --trace 0

Run it from the repository root. It generates the workload's inputs from
``--seed`` into a fresh directory under ``perfbench/out/``, starts the
engine's Spark session on ``local[k]`` (k = min(4, cores)), warms every
op type once, then runs whole passes of the workload in a closed loop
(one client thread), checking every op's output. ``--seconds`` sets the
number of passes: as many as it takes to fill that time on a quiet
4-vCPU box (``workloads.PASS_S``).

The last line of standard output is one JSON object,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1``. The traced run repeats the same loop with
job groups, forced planning and a Spark event log. The line before it
is the run's record: seed, ``local[k]``, box context (``bench.py``'s
cpu_score before and after the timed phase, steal %, driver memory),
per-op latencies and, in a traced run, every per-layer number by name.
The record is also written to ``record.json`` in the run's directory.
``perfbench/README.md`` defines every metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("api_mixed", "dedup")

# the end-to-end metrics an untraced run reports, on every workload
E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "read_geomean_ms": "ms",
}
# the per-layer metrics a traced run reports on every workload; the
# workload-specific ones are in the record
PER_LAYER = {
    "session.start_s": "s",
    "registry.build_ms": "ms",
    "registry.build_jobs": "count",
    "registry.plan_ms": "ms",
    "registry.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "traced.pass_s": "s",
    "traced.read_geomean_ms": "ms",
}
EVENT_LOG_TOTALS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


def _bootstrap(run_dir: str) -> None:
    """Make the engine importable here and in Spark's Python workers
    (they inherit PYTHONPATH), and keep temporary files in ``run_dir``."""
    sys.path[:0] = [ROOT, HERE]
    old = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + old)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _read_geomean(pass_reads: list[dict[str, float]]) -> float:
    """Geometric mean, over the read op types, of each type's median
    per-pass latency. Every type weighs the same, whatever its cost, so
    the figure means the same thing in every run."""
    by_type: dict[str, list[float]] = {}
    for reads in pass_reads:
        for name, ms in reads.items():
            by_type.setdefault(name, []).append(ms)
    medians = [statistics.median(xs) for xs in by_type.values()]
    return statistics.geometric_mean(medians) if medians else float("nan")


class Timed:
    """What the timed phase saw."""

    def __init__(self) -> None:
        self.reads: list[float] = []
        self.writes: list[float] = []
        self.passes: list[float] = []
        self.cpu: list[float] = []
        # per pass: each read op type's latency, summed over its calls
        self.pass_reads: list[dict[str, float]] = []
        self.op_ms: dict[str, list[float]] = {}
        self.attempted = self.failed = self.wrong = 0
        self.errors: list[str] = []
        self.measured_s = 0.0


def _attempt(spark, op) -> tuple[float, float, str, str | None]:
    """One op with an empty cache: its wall ms and process-tree CPU
    seconds (``run`` only), its output digest and the expected digest."""
    import harness

    spark.catalog.clearCache()
    op.prepare()
    c0 = harness.tree_cpu_s()
    t0 = time.perf_counter()
    out = op.run()
    ms = (time.perf_counter() - t0) * 1000.0
    cpu = harness.tree_cpu_s() - c0
    return ms, cpu, op.check(out), op.expect()


def _warm(spark, ops) -> tuple[dict, list, dict]:
    """Run every op type once; return its digests, the ops that failed
    or gave a wrong answer, and each op's cold latency."""
    digests, bad, cold_ms = {}, [], {}
    for op in ops:
        try:
            ms, _, digest, expect = _attempt(spark, op)
        except Exception:  # noqa: BLE001 — reported, and the run goes on
            traceback.print_exc(file=sys.stderr)
            bad.append(op.name)
            continue
        cold_ms[op.name] = round(ms, 1)
        if expect is not None and digest != expect:
            bad.append(op.name)
        digests[op.name] = digest
    return digests, bad, cold_ms


def _timed(spark, work, warm: dict, n_passes: int, rng) -> Timed:
    """``n_passes`` whole passes in a closed loop. A pass's time and CPU
    are the sums over its ops' ``run`` calls. An op that raises or whose
    digest differs from what is expected counts as failed and adds no
    sample."""
    t = Timed()
    t_start = time.perf_counter()
    for _ in range(n_passes):
        wall_s = cpu_s = 0.0
        reads: dict[str, float] = {}
        for op in work.pass_ops(rng):
            t.attempted += 1
            try:
                ms, cpu, digest, expect = _attempt(spark, op)
            except Exception as exc:  # noqa: BLE001 — counted as failed
                t.failed += 1
                t.errors.append(f"{op.name}: {type(exc).__name__}: {exc}"[:300])
                continue
            if expect is None:
                expect = warm.get(op.name)
            if digest != expect:
                t.failed += 1
                t.wrong += 1
                t.errors.append(f"{op.name}: digest {digest} != {expect}")
                continue
            wall_s += ms / 1000.0
            cpu_s += cpu
            if op.kind == "read":
                t.reads.append(ms)
                reads[op.name] = reads.get(op.name, 0.0) + ms
            else:
                t.writes.append(ms)
            t.op_ms.setdefault(op.name, []).append(round(ms, 1))
        t.passes.append(wall_s)
        t.cpu.append(cpu_s)
        t.pass_reads.append(reads)
    t.measured_s = time.perf_counter() - t_start
    return t


def _end_to_end(t: Timed, setup_s: float) -> dict:
    values = {
        "setup_s": setup_s,
        "pass_s": _median(t.passes),
        "pass_cpu_s": _median(t.cpu),
        "read_geomean_ms": _read_geomean(t.pass_reads),
    }
    return {k: (values[k], u) for k, u in E2E.items()}


def _span_layers(tracer, work, session_s: float) -> dict:
    """Per-layer numbers from the spans: the mean per call of each timed
    span, jobs launched inside query construction (from the status
    tracker, by job group), and the workload's own counters."""
    out = {"session.start_s": session_s}
    for name, xs in tracer.spans.items():
        out[name] = statistics.fmean(xs)
    calls = jobs = 0
    for g in sorted(tracer.groups):
        q, phase = g.split(":")[1:]
        if phase != "build":
            continue
        n_jobs = tracer.jobs_in_group(f"{q}:build")
        n_calls = tracer.calls[g]
        out[f"{q}.build_jobs"] = n_jobs / n_calls
        calls += n_calls
        jobs += n_jobs
    out["registry.build_jobs"] = jobs / max(1, calls)
    out.update(work.layer_stats())
    return out


def _log_layers(folded: dict, workload: str, n_passes: int) -> dict:
    """Per-pass totals of the timed phase's job groups from the event
    log, plus shuffle bytes written per pass by each query's execution."""
    out = {f"spark.{k}": 0.0 for k in EVENT_LOG_TOTALS}
    for g, acc in folded.items():
        parts = g.split(":")
        if parts[0] != workload:
            continue
        for k in EVENT_LOG_TOTALS:
            out[f"spark.{k}"] += acc.get(k, 0.0) / n_passes
        if parts[2] == "exec" and f"{parts[0]}:{parts[1]}:build" in folded:
            out[f"{parts[1]}.shuffle_write_bytes"] = (
                acc.get("shuffle_write_bytes", 0.0) / n_passes
            )
    return out


def run(
    workload: str,
    seed: int,
    seconds: int,
    trace: bool,
    *,
    sf: float | None = None,
    started: float | None = None,
) -> dict:
    """One run. ``sf`` overrides the workload's scale factor (the
    self-test runs at sf0.001); set-up time counts from ``started``
    (a ``time.perf_counter()`` value), by default from this call."""
    t_entry = time.perf_counter() if started is None else started
    run_dir = os.path.join(
        HERE, "out", f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    _bootstrap(run_dir)
    import harness
    import workloads as wl

    sf = wl.SCALE if sf is None else sf

    # -- set-up: session, inputs, every op type warmed once --------------------
    t0 = time.perf_counter()
    spark = harness.start_session(run_dir, wl.CPUS, trace)
    session_s = time.perf_counter() - t0
    try:
        from rclabsapi_spark.registry import get_registry

        # spans and job groups cover the timed phase only
        tracer = harness.Tracer(spark, workload, enabled=False)
        t1 = time.perf_counter()
        sf_dir = wl.make_inputs(run_dir, seed, sf)
        ctx = wl.Ctx(spark, sf_dir, run_dir, seed, tracer, get_registry(), trace, sf)
        t2 = time.perf_counter()
        work = wl.make_workload(workload, ctx)
        t3 = time.perf_counter()
        warm, warm_bad, cold_ms = _warm(spark, work.warm_ops())
        t4 = time.perf_counter()
        setup_s = t4 - t_entry
        setup_phases = {
            "before_session_s": t0 - t_entry,
            "session_s": session_s,
            "inputs_and_registry_s": t2 - t1,
            "workload_init_s": t3 - t2,
            "warm_s": t4 - t3,
        }

        # -- timed phase -------------------------------------------------------
        ctx.sink_ms.clear()
        tracer.enabled = trace
        score_before = harness.cpu_score()
        stat0 = harness.cpu_times()
        n_passes = math.ceil(seconds / wl.PASS_S[workload])
        t = _timed(spark, work, warm, n_passes, random.Random(seed))
        stat1 = harness.cpu_times()
        score_after = harness.cpu_score()

        e2e = _end_to_end(t, setup_s)
        record = {
            "workload": workload,
            "seed": seed,
            "trace": int(trace),
            "local_k": wl.CPUS,
            "scale_factor": sf,
            "cpu_score_before": score_before,
            "cpu_score_after": score_after,
            "steal_pct": round(harness.steal_pct(stat0, stat1), 3),
            "setup_phases_s": {k: round(v, 3) for k, v in setup_phases.items()},
            **harness.driver_memory(spark),
            "n_passes": len(t.passes),
            "passes_s": [round(x, 3) for x in t.passes],
            "passes_cpu_s": [round(x, 2) for x in t.cpu],
            "n_reads": len(t.reads),
            "n_writes": len(t.writes),
            # recorded, not reported: too few samples per run to gate on,
            # or (ops_per_s) the pass time again. A dedup op writes only
            # to the noop sink, so that phase stands in for its write
            # latency.
            "ops_per_s": (len(t.reads) + len(t.writes)) / (sum(t.passes) or math.inf),
            "read_p50_ms": _median(t.reads),
            "read_p90_ms": _p90(t.reads),
            "write_p50_ms": _median(t.writes or ctx.sink_ms),
            "measured_s": round(t.measured_s, 3),
            "warm_failures": warm_bad,
            "errors": t.errors[:20],
            "cold_ms": cold_ms,
            "op_ms": t.op_ms,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
        }
        if trace:
            layers = _span_layers(tracer, work, session_s)
    finally:
        harness.stop_session(spark)

    if trace:
        folded = harness.fold_event_log(os.path.join(run_dir, "eventlog"))
        layers.update(_log_layers(folded, workload, len(t.passes)))
        layers["traced.pass_s"] = e2e["pass_s"][0]
        layers["traced.read_geomean_ms"] = e2e["read_geomean_ms"][0]
        record["per_layer"] = dict(sorted(layers.items()))
        record["per_group"] = folded
        metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
    else:
        metrics = e2e
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    # inputs and tables are re-made from the seed, and the event log is
    # folded into the record: keep only the record
    for sub in ("inputs", "tmp", "spark-local", "warehouse", "eventlog",
                "orders_by_month", "batches", "etl"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(json.dumps({k: v for k, v in record.items() if k != "per_group"}))
    return {
        "correct": t.wrong == 0 and not warm_bad,
        "attempted": t.attempted,
        "failed": t.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rclabsapi_spark")):
        print("perfbench: no rclabsapi_spark package next to perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    import harness

    # set-up time counts from process start
    started = time.perf_counter() - harness.process_start_age_s()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), started=started)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
