"""Round-16 optimization probe: per-query wall timing + formatted-plan
capture, isolated from the full bench so one query can be iterated on
quickly (guide §1: measure first, noop sink, labeled jobs).

Usage:
    python scripts/perf_probe.py plans <out_dir> [names...]
        Write .explain("formatted") for each bench query (default: all)
        to <out_dir>/<name>_<suffix>.txt  (suffix via $PROBE_SUFFIX,
        default "before").
    python scripts/perf_probe.py time <runs> [names...]
        Warm once, then time <runs> noop-sink executions per query and
        print min/median.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rclabsapi_spark.registry import get_registry
from rclabsapi_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    mode = sys.argv[1]
    spark = get_spark("perf-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = get_registry()

    if mode == "plans":
        out_dir = sys.argv[2]
        names = sys.argv[3:] or [
            n for n, s in sorted(registry.items()) if s.bench
        ]
        suffix = os.environ.get("PROBE_SUFFIX", "before")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = registry[name].fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"{out_dir}/{name}_{suffix}.txt", "w") as f:
                f.write(plan)
            print(f"wrote {name}_{suffix}.txt", flush=True)
        return

    if mode == "time":
        runs = int(sys.argv[2])
        names = sys.argv[3:] or [
            n for n, s in sorted(registry.items()) if s.bench
        ]

        def run(name):
            spark.sparkContext.setJobDescription(f"probe: {name}")
            registry[name].fn(spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            spark.sparkContext.setJobDescription(None)

        for name in names:
            run(name)  # warm
            ts = []
            for _ in range(runs):
                t0 = time.perf_counter()
                run(name)
                ts.append(time.perf_counter() - t0)
            print(
                f"{name}: min={min(ts):.3f} med={statistics.median(ts):.3f}"
                f" all={[round(t, 3) for t in ts]}",
                flush=True,
            )
        return

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
