#!/usr/bin/env python3
"""Compare the benchmark's generated inputs with a directory of fixture
tables, on the properties that set the workloads' cost:

- row count per table;
- documents: words per document, distinct texts, vocabulary size;
- the MinHash LSH blocking of ``dedup_minhash_lsh`` (DuckDB, from the
  query's registry oracle): bucket sizes, buckets dropped as hot (> 50),
  candidate pairs, pairs at Jaccard >= 0.5 and near-dup clusters;
- each benchmarked dedup query in Spark: output rows and the jobs
  launched while building it and while running it to the noop sink.

    python3 perfbench/compare_inputs.py --fixture DIR [--seed N] [--sf 0.01]

Prints one JSON object per side (``fixture`` and ``generated``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics

import run as bench


def _duck_stats(sf_dir: str, tables) -> dict:
    import duckdb
    from rclabsapi_spark.registry import get_registry
    from rclabsapi_spark.suites.llm import _BANDS_SQL, _MINHASH_SQL

    duck = duckdb.connect()
    for t in tables:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    def one(sql: str) -> tuple:
        return duck.execute(sql).fetchone()

    out = {"rows": {t: one(f"SELECT count(*) FROM {t}")[0] for t in tables}}
    words = [
        r[0]
        for r in duck.execute(
            "SELECT len(string_split(text, ' ')) FROM documents"
        ).fetchall()
    ]
    q = statistics.quantiles(words, n=10)
    out["doc_words_p10_p50_p90"] = [q[0], statistics.median(words), q[8]]
    out["doc_distinct_texts"] = one("SELECT count(DISTINCT text) FROM documents")[0]
    out["doc_vocabulary"] = one(
        "SELECT count(DISTINCT w) FROM "
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
    )[0]
    sizes = duck.execute(
        f"WITH sigs AS ({_MINHASH_SQL}), banded AS ({_BANDS_SQL}) "
        "SELECT count(*) AS s FROM banded GROUP BY band_id, band_key"
    ).fetchall()
    sizes = sorted(s for (s,) in sizes)
    out["lsh_buckets"] = len(sizes)
    out["lsh_buckets_size_gt1"] = sum(s > 1 for s in sizes)
    out["lsh_buckets_hot_gt50"] = sum(s > 50 for s in sizes)
    out["lsh_bucket_size_max"] = sizes[-1] if sizes else 0
    reg = get_registry()
    pairs = f"({reg['dedup_minhash_lsh'].oracle})"
    out["lsh_candidate_pairs"] = one(f"SELECT count(*) FROM {pairs}")[0]
    out["lsh_pairs_jaccard_ge_0.5"] = one(
        f"SELECT count(*) FROM {pairs} WHERE jaccard >= 0.5"
    )[0]
    audit = f"({reg['dedup_cluster_audit'].oracle})"
    out["clusters"] = one(
        f"SELECT count(*) FROM {audit} WHERE cluster_id IS NOT NULL"
    )[0]
    return out


def _spark_stats(spark, sf_dir: str, run_dir: str, seed: int) -> dict:
    import harness
    import workloads as wl
    from rclabsapi_spark.registry import get_registry

    tracer = harness.Tracer(spark, os.path.basename(sf_dir), enabled=True)
    ctx = wl.Ctx(spark, sf_dir, run_dir, seed, tracer, get_registry(), True, 0.0)
    out = {}
    for name in wl.DEDUP_ITERATIVE + wl.DEDUP_BLOCKED:
        op = wl.query_op(ctx, name)
        n_rows = op.check(op.run()).split(":")[0]
        out[name] = {
            "rows": int(n_rows),
            "build_jobs": tracer.jobs_in_group(f"{name}:build"),
            "exec_jobs": tracer.jobs_in_group(f"{name}:exec")
            + tracer.jobs_in_group(f"{name}:plan"),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--fixture", required=True, help="directory of fixture tables")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    run_dir = os.path.join(bench.HERE, "out", f"compare-{os.getpid()}")
    os.makedirs(run_dir)
    bench._bootstrap(run_dir)
    import harness
    import workloads as wl
    from rclabsapi_spark.catalog import TABLES

    sides = {
        "fixture": os.path.abspath(args.fixture),
        "generated": wl.make_inputs(run_dir, args.seed, args.sf),
    }
    spark = harness.start_session(run_dir, wl.CPUS, trace=False)
    try:
        for side, sf_dir in sides.items():
            stats = _duck_stats(sf_dir, TABLES)
            stats["spark"] = _spark_stats(spark, sf_dir, run_dir, args.seed)
            print(json.dumps({"side": side, **stats}), flush=True)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
