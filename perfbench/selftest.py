#!/usr/bin/env python3
"""Self-test of the benchmark, at sf0.001:

1. the metrics ``run.py`` reports match ``BENCHMARK.json``;
2. every registry query the workloads run is compared with its DuckDB
   oracle on freshly generated inputs (row count, column names and the
   order-insensitive value hash of ``scripts/drive_contract.py``);
3. every workload runs briefly, untraced and traced, and must report
   every metric with no failed op and a correct output check.

    python3 perfbench/selftest.py [--seed N]

Exits 0 when everything passes.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import sys

import run as bench

SF = 0.001


def _drive_contract():
    """``scripts/drive_contract.py``'s compare helpers."""
    path = os.path.join(bench.ROOT, "scripts", "drive_contract.py")
    spec = importlib.util.spec_from_file_location("drive_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_oracles(seed: int) -> list[str]:
    """Run each benchmarked registry query in Spark and its oracle in
    DuckDB over the same generated sf0.001 inputs; return the mismatches."""
    run_dir = os.path.join(bench.HERE, "out", f"selftest-oracle-{os.getpid()}")
    os.makedirs(run_dir)
    bench._bootstrap(run_dir)
    import duckdb
    import harness
    import workloads as wl
    from rclabsapi_spark.catalog import TABLES
    from rclabsapi_spark.registry import get_registry

    dc = _drive_contract()
    sf_dir = wl.make_inputs(run_dir, seed, SF)
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    reg = get_registry()
    names = wl.DEDUP_ITERATIVE + wl.DEDUP_BLOCKED + wl.API_QUERIES
    bad = []
    spark = harness.start_session(run_dir, wl.CPUS, trace=False)
    try:
        for name in names:
            sdf = reg[name].fn(spark, sf_dir)
            scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
            rel = duck.execute(reg[name].oracle)
            ocols, orows = [d[0] for d in rel.description], rel.fetchall()
            ok = (
                len(srows) == len(orows)
                and sorted(scols) == sorted(ocols)
                and dc.value_hash(scols, srows) == dc.value_hash(ocols, orows)
            )
            print(f"{'ok  ' if ok else 'FAIL'} oracle {name}: {len(srows)} rows", flush=True)
            if not ok:
                bad.append(f"oracle {name}")
    finally:
        harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return bad


def check_spec() -> list[str]:
    """The metrics ``run.py`` prints are the ones ``BENCHMARK.json`` names,
    with the same units."""
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for key, have in (("end_to_end", bench.E2E), ("per_layer", bench.PER_LAYER)):
        want = {m["name"]: m["unit"] for m in spec[key]}
        if want != have:
            bad.append(f"{key} differs from BENCHMARK.json")
    return bad


def check_runs(seed: int) -> list[str]:
    """Each workload briefly, untraced then traced."""
    bad = []
    for workload in bench.WORKLOADS:
        for trace in (False, True):
            res = bench.run(workload, seed, 1, trace, sf=SF)
            want = bench.PER_LAYER if trace else bench.E2E
            metrics = res["metrics"]
            ok = (
                res["correct"]
                and res["failed"] == 0
                and res["attempted"] >= 1
                and set(metrics) == set(want)
                and all(math.isfinite(m["value"]) for m in metrics.values())
            )
            label = f"run {workload} trace={int(trace)}"
            print(f"{'ok  ' if ok else 'FAIL'} {label}: {res}", flush=True)
            if not ok:
                bad.append(label)
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description="Self-test the benchmark at sf0.001.")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    bad = check_spec() + check_oracles(args.seed) + check_runs(args.seed)
    print(f"selftest: {len(bad)} failing" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
