#!/usr/bin/env python3
"""Targeted bench: time named registered queries with bench.py's own
timing loop (``bench._time_all``: warm once, min of N timed noop-sink
runs, cache cleared before every run) without running the full set.

    python scripts/perf_single.py q1 q2 ...          # sf0.1, 2 runs
    SPARK_GRAFT_SF_DIR=... RUNS=3 python scripts/perf_single.py q1
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _time_all
from rclabsapi_spark.registry import registered
from rclabsapi_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("RUNS", "2"))
    spark = get_spark("rclabsapi-perf-single")
    spark.sparkContext.setLogLevel("ERROR")
    registry = registered()
    specs = {name: registry[name] for name in sys.argv[1:]}
    timings, samples, _ = _time_all(spark, specs, sf_dir, runs=runs)
    for name in specs:
        print(json.dumps({name: {"min": timings[name], "samples": samples[name]}}))
    print(json.dumps({"all": timings}))


if __name__ == "__main__":
    main()
