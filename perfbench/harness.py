"""Run plumbing shared by every workload: the Spark session's lifetime,
box context, process-tree CPU, and the traced run's job groups and
event-log fold.

Nothing here knows about a workload; ``workloads.py`` drives it.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- process tree and box context ----------------------------------------


def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and every live descendant
    (Python driver, JVM, Python workers), counting children they have
    already reaped."""
    root = root or os.getpid()
    children: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        st = _proc_stat(pid)
        if st is None:
            continue
        stats[int(pid)] = st
        children[int(st[1])].append(int(pid))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is not None:
            # utime stime cutime cstime: fields 14-17, i.e. st[11:15]
            total += sum(int(x) for x in st[11:15])
        todo += children.get(pid, ())
    return total / CLK_TCK


def process_start_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_proc_stat("self")[19])
    return uptime - start_ticks / CLK_TCK


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples.
    guest/guest_nice are already counted in user/nice, so only the first
    eight fields make up the total."""
    d = [a - b for a, b in zip(after[:8], before[:8])]
    total = sum(d)
    return 100.0 * d[7] / total if total else 0.0


def cpu_score() -> int:
    """``bench.py``'s single-thread box fingerprint (0.5 s spin,
    normalized to its 2 s unit)."""
    from bench import _cpu_score

    return _cpu_score(0.5)


# -- session -------------------------------------------------------------


def start_session(run_dir: str, cpus: int, trace: bool):
    """Start the engine's session with its own scratch space under
    ``run_dir``. In a traced run the Spark event log is written to
    ``run_dir/eventlog`` (uncompressed, not rolling) and every job is
    retained, so job groups can be counted after the fact."""
    from rclabsapi_spark.session import get_spark

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    extra = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    spark = get_spark("perfbench", cpus=cpus, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def driver_memory(spark) -> dict:
    """The configured ``spark.driver.memory`` and the JVM's actual max
    heap."""
    conf = spark.sparkContext.getConf().get("spark.driver.memory", "")
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return {"spark.driver.memory": conf, "jvm_max_heap_bytes": rt.maxMemory()}


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- traced run ----------------------------------------------------------


class Tracer:
    """Spans recorded from the benchmark's own files around calls into
    the engine's layers, plus job-group tags for the event-log fold.
    A disabled tracer records nothing and tags nothing."""

    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.groups: set[str] = set()
        self.calls: dict[str, int] = defaultdict(int)  # spans per job group

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time the block as ``name`` (ms); with ``group``, tag the Spark
        jobs it launches ``<workload>:<group>`` until it ends, then restore
        the enclosing span's tag."""
        if not self.enabled:
            yield
            return
        outer = None
        if group is not None:
            g = f"{self.workload}:{group}"
            self.groups.add(g)
            self.calls[g] += 1
            outer = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(g, g)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append((time.perf_counter() - t0) * 1000.0)
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", outer)
                self.sc.setLocalProperty("spark.job.description", outer)

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.spans[name].append(value)

    def jobs_in_group(self, group: str) -> int:
        """Jobs tagged ``<workload>:<group>`` so far, via the status
        tracker."""
        ids = self.sc.statusTracker().getJobIdsForGroup(
            f"{self.workload}:{group}"
        )
        return len(ids)


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Fold a finished event log into task-metric totals per job group:
    jobs, stages, tasks, executor run/CPU ms, GC ms, shuffle bytes read
    and written, and bytes spilled."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stages_seen: dict[str, set] = defaultdict(set)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "(untagged)"
                    out[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "(untagged)")
                    stages_seen[g].add((ev["Stage ID"], ev["Stage Attempt ID"]))
                    m = ev.get("Task Metrics") or {}
                    acc = out[g]
                    acc["tasks"] += 1
                    acc["executor_run_ms"] += m.get("Executor Run Time", 0)
                    acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    for g, s in stages_seen.items():
        out[g]["stages"] = len(s)
    return {g: dict(v) for g, v in out.items()}
