"""Brute-force cross-checks for the statistics operators: recompute KS,
chi-square, entropy, and the equi-depth histogram in plain Python over
the smoke fixture and compare. Plus degenerate-input behavior."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

import pytest
from pyspark.sql import functions as F

from rclabsapi_spark.catalog import load_table
from rclabsapi_spark.operators.analytics import (
    chi_square_independence,
    entropy_by_group,
    equidepth_histogram,
)
from rclabsapi_spark.registry import registered

SF_DIR = "/root/testdata/sf0.001"


def test_ks_matches_python_bruteforce(spark):
    q = registered()["stat_ks_value_drift"].fn
    got = {r["event_type"]: r for r in q(spark, SF_DIR).collect()}

    rows = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "ts", "value")
        .collect()
    )
    import datetime as dt

    cut = dt.datetime(2024, 1, 16)
    by_type = defaultdict(lambda: ([], []))
    for r in rows:
        side = 0 if r["ts"] < cut else 1
        by_type[r["event_type"]][side].append(r["value"])
    for t, (ref, cur) in by_type.items():
        pts = sorted(set(ref) | set(cur))
        d = max(
            abs(
                sum(1 for v in ref if v <= x) / len(ref)
                - sum(1 for v in cur if v <= x) / len(cur)
            )
            for x in pts
        )
        assert got[t]["n_ref"] == len(ref) and got[t]["n_cur"] == len(cur)
        assert got[t]["ks_d"] == pytest.approx(d, abs=1e-6), t


def test_chi2_matches_python_bruteforce(spark):
    orders = load_table(spark, SF_DIR, "orders")
    got = chi_square_independence(
        orders, row_col="o_orderstatus", col_col="o_orderpriority"
    ).collect()[0]
    rows = orders.select("o_orderstatus", "o_orderpriority").collect()
    obs = Counter((r[0], r[1]) for r in rows)
    rt = Counter(r[0] for r in rows)
    ct = Counter(r[1] for r in rows)
    n = len(rows)
    chi2 = sum(
        (o - rt[r] * ct[c] / n) ** 2 / (rt[r] * ct[c] / n)
        for (r, c), o in obs.items()
    )
    # cells with zero observed still contribute their expected mass
    for r in rt:
        for c in ct:
            if (r, c) not in obs:
                e = rt[r] * ct[c] / n
                chi2 += e
    assert got["chi2"] == pytest.approx(chi2, rel=1e-6)
    assert got["dof"] == (len(rt) - 1) * (len(ct) - 1)


def test_entropy_matches_python_and_degenerate_group(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = {
        r["lang"]: r for r in entropy_by_group(
            docs, group_col="lang", cat_col="source"
        ).collect()
    }
    rows = docs.select("lang", "source").collect()
    by_lang = defaultdict(Counter)
    for r in rows:
        by_lang[r["lang"]][r["source"]] += 1
    for lang, counts in by_lang.items():
        n = sum(counts.values())
        h = -sum((c / n) * math.log(c / n) for c in counts.values())
        assert got[lang]["entropy"] == pytest.approx(h, abs=1e-6)

    # degenerate: one category → entropy exactly 0
    one = spark.createDataFrame([("g", "only")] * 5, "g string, c string")
    r = entropy_by_group(one, group_col="g", cat_col="c").collect()[0]
    assert r["entropy"] == 0.0 and r["n_categories"] == 1


def test_histogram_buckets_partition_everything(spark):
    orders = load_table(spark, SF_DIR, "orders")
    out = equidepth_histogram(
        orders, value_col="o_totalprice", key_col="o_orderkey", n_buckets=10
    ).collect()
    total = orders.count()
    assert sum(r["n"] for r in out) == total
    assert len(out) == 10
    by_bucket = sorted(out, key=lambda r: r["bucket"])
    # equi-depth: bucket sizes within 1 of each other; ranges ordered
    sizes = [r["n"] for r in by_bucket]
    assert max(sizes) - min(sizes) <= 1
    for a, b in zip(by_bucket, by_bucket[1:]):
        assert a["hi"] <= b["lo"]

    # degenerate: constant column still partitions (all bounds equal)
    const = spark.createDataFrame(
        [(i, 5.0) for i in range(20)], "id long, v double"
    )
    out2 = equidepth_histogram(
        const, value_col="v", key_col="id", n_buckets=4
    ).collect()
    assert sum(r["n"] for r in out2) == 20
    assert all(r["lo"] == r["hi"] == 5.0 for r in out2)


def test_concurrency_empty_input(spark):
    from rclabsapi_spark.operators.timeseries import concurrency_peaks

    empty = spark.createDataFrame([], "g string, s long, e long")
    assert concurrency_peaks(
        empty, group_col="g", start_col="s", end_col="e"
    ).count() == 0


def test_skew_report_uniform_vs_hot_key(spark):
    """Gini ≈ 0 and tiny top-1 share on a uniform key; a hot key drives
    both up — the numbers that pick plain hash vs salting."""
    from rclabsapi_spark.operators.analytics import skew_report

    uniform = spark.createDataFrame(
        [(i % 100,) for i in range(5000)], "k long"
    )
    u = skew_report(uniform, key_col="k").collect()[0]
    assert u["n_keys"] == 100 and u["n_rows"] == 5000
    assert u["gini"] == pytest.approx(0.0, abs=1e-6)
    assert u["top1_share"] == pytest.approx(1 / 100, abs=1e-6)

    hot = spark.createDataFrame(
        [(0,)] * 4000 + [(i,) for i in range(1, 101)], "k long"
    )
    h = skew_report(hot, key_col="k").collect()[0]
    assert h["top1_share"] == pytest.approx(4000 / 4100, abs=1e-4)
    assert h["gini"] > 0.9

    # python brute-force Gini parity on a mixed distribution
    mixed = spark.createDataFrame(
        [(i % 7,) for i in range(100)] + [(99,)] * 60, "k long"
    )
    m = skew_report(mixed, key_col="k").collect()[0]
    counts = sorted([100 // 7 + (1 if i < 100 % 7 else 0) for i in range(7)] + [60])
    n = len(counts)
    tot = sum(counts)
    gini = 2 * sum((i + 1) * c for i, c in enumerate(counts)) / (n * tot) - (
        n + 1
    ) / n
    assert m["gini"] == pytest.approx(gini, abs=1e-6)


def test_rolling_correlation_matches_pandas(spark):
    """Windowed co-moment correlation equals pandas' rolling corr on a
    deterministic two-metric series, including the NULL warmup and
    zero-variance guards."""
    import pandas as pd

    from rclabsapi_spark.operators.timeseries import rolling_correlation

    xs = [float((i * 7) % 13) for i in range(40)]
    ys = [x * 0.5 + float((i * 3) % 5) for i, x in enumerate(xs)]
    rows = [("g", i, xs[i], ys[i]) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, t long, x double, y double")
    got = {
        r["t"]: r["rolling_corr"]
        for r in rolling_correlation(
            df,
            group_cols=("g",),
            order_col="t",
            x_col="x",
            y_col="y",
            window_rows=7,
        ).collect()
    }
    expect = (
        pd.Series(xs).rolling(7).corr(pd.Series(ys)).tolist()
    )
    for t in range(40):
        if t < 6:
            assert got[t] is None
        else:
            assert got[t] == pytest.approx(expect[t], abs=1e-6), t

    # constant series → NULL everywhere (zero variance)
    const = spark.createDataFrame(
        [("g", i, 1.0, float(i)) for i in range(10)],
        "g string, t long, x double, y double",
    )
    vals = [
        r["rolling_corr"]
        for r in rolling_correlation(
            const, group_cols=("g",), order_col="t",
            x_col="x", y_col="y", window_rows=3,
        ).collect()
    ]
    assert all(v is None for v in vals)


def test_zipf_fit_matches_numpy_polyfit(spark):
    from rclabsapi_spark.llm.text import zipf_fit

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = zipf_fit(docs).collect()[0]

    words = [
        w
        for r in docs.select("text").collect()
        for w in r["text"].split(" ")
        if w
    ]
    import collections

    counts = sorted(
        collections.Counter(words).items(), key=lambda kv: (-kv[1], kv[0])
    )
    xs = np.log(np.arange(1, len(counts) + 1))
    ys = np.log(np.array([c for _, c in counts], dtype="float64"))
    slope, intercept = np.polyfit(xs, ys, 1)
    assert got["n_types"] == len(counts)
    assert got["zipf_alpha"] == pytest.approx(slope, abs=1e-6)
    assert got["log_c"] == pytest.approx(intercept, abs=1e-6)
    assert got["zipf_alpha"] < 0  # frequency decays with rank


def test_ew_stats_match_python_recursion(spark):
    """EWMA/EWVar fold equals the sequential West-update recursion, per
    key, on the fixture event stream."""
    from collections import defaultdict

    from rclabsapi_spark.operators.windows import ew_stats_per_key

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {
        r["user_id"]: (r["ewma"], r["ewvar"])
        for r in ew_stats_per_key(
            ev, "user_id", "ts", "event_id", "value", alpha=0.1
        ).collect()
    }
    series = defaultdict(list)
    for r in ev.select("user_id", "ts", "event_id", "value").collect():
        series[r["user_id"]].append((r["ts"], r["event_id"], r["value"]))
    for uid, rows in series.items():
        rows.sort()
        mu, var = float(rows[0][2]), 0.0
        for _, _, v in rows[1:]:
            d = float(v) - mu
            mu = mu + 0.1 * d
            var = 0.9 * (var + 0.1 * d * d)
        g = got[uid]
        assert g[0] == pytest.approx(mu, abs=1e-6), uid
        assert g[1] == pytest.approx(var, abs=1e-6), uid
