"""Statistical guarantees for the sketch-backed aggregates
(operators/approx.py): relative-error bounds vs the exact answer, and
partitioning-invariance of the HLL merge (the property that makes the
sketch safe to partial-aggregate map-side at 100 TB)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rclabsapi_spark.catalog import load_table
from rclabsapi_spark.operators.approx import approx_distinct, approx_quantiles

SF_DIR = "/root/testdata/sf0.01"


def test_approx_distinct_within_3_rsd(spark):
    events = load_table(spark, SF_DIR, "events")
    approx = {
        r["event_type"]: r["approx_distinct_user_id"]
        for r in approx_distinct(
            events, ["event_type"], "user_id", rsd=0.05
        ).collect()
    }
    exact = {
        r["event_type"]: r["exact"]
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k, e in exact.items():
        assert abs(approx[k] - e) / e <= 0.15, (k, approx[k], e)


def test_approx_distinct_invariant_under_partitioning(spark):
    """HLL merge is associative+commutative: the estimate must not depend
    on how rows are split across partitions — the property that makes
    map-side partial sketches correct."""
    events = load_table(spark, SF_DIR, "events")
    outs = []
    for shape in (events, events.repartition(3), events.repartition(64)):
        outs.append(
            {
                r["event_type"]: r["approx_distinct_user_id"]
                for r in approx_distinct(
                    shape, ["event_type"], "user_id"
                ).collect()
            }
        )
    assert outs[0] == outs[1] == outs[2]


@pytest.mark.parametrize("accuracy,eps", [(100, 0.02), (10_000, 0.002)])
def test_approx_quantile_rank_error(spark, accuracy, eps):
    """percentile_approx rank guarantee: the empirical CDF at the returned
    element is within ~1/accuracy of the target rank."""
    events = load_table(spark, SF_DIR, "events")
    approx = approx_quantiles(
        events,
        ["event_type"],
        "value",
        probs=(0.5, 0.95),
        accuracy=accuracy,
    ).withColumnRenamed("p50", "a50").withColumnRenamed("p95", "a95")
    ranks = (
        events.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
            F.avg((F.col("value") <= F.col("a50")).cast("double")).alias(
                "r50"
            ),
            F.avg((F.col("value") <= F.col("a95")).cast("double")).alias(
                "r95"
            ),
        )
    )
    for r in ranks.collect():
        assert abs(r["r50"] - 0.5) <= eps + 1e-3, r
        assert abs(r["r95"] - 0.95) <= eps + 1e-3, r


def test_registered_bound_queries_all_true(spark):
    """The registry's within_bound / rank_ok flags must be uniformly true
    at every fixture SF the driver might use (the oracle asserts literal
    true, so a false anywhere is a parity break, not just a loose bound)."""
    from rclabsapi_spark.registry import registered

    reg = registered()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"/root/testdata/{sf}"
        d = reg["approx_distinct_bound"].fn(spark, sf_dir)
        assert all(r["within_bound"] for r in d.collect()), sf
        q = reg["approx_quantile_bound"].fn(spark, sf_dir)
        assert all(r["rank_ok"] for r in q.collect()), sf


def _exact_counts(df, col):
    return {
        r[col]: r["n"]
        for r in df.groupBy(col).agg(F.count(F.lit(1)).alias("n")).collect()
    }


def test_mg_topk_error_bound_any_partitioning(spark):
    """Misra–Gries merged-summary guarantee: est ≤ true ≤ est + n/(m+1)
    for every surviving candidate, under adversarial repartitionings
    (the estimate may move; the bound may not)."""
    from rclabsapi_spark.operators.approx import mg_topk

    ev = load_table(spark, SF_DIR, "events")
    exact = _exact_counts(ev.select(F.col("user_id").cast("string").alias("u")), "u")
    n = sum(exact.values())
    m = 16
    for parts in (1, 7, 13):
        rows = mg_topk(
            ev.repartition(parts), "user_id", summary_size=m, k=10
        ).collect()
        # near-uniform user counts → few/no guaranteed hitters; whatever
        # candidates survive must still satisfy the bound
        assert 1 <= len(rows) <= 10
        for r in rows:
            true = exact[r.item]
            assert r.est <= true <= r.est + n / (m + 1), (parts, r)
            assert r.n_total == n


def test_mg_topk_exact_when_domain_fits(spark):
    """Domain ≤ summary_size ⇒ no decrements ever fire ⇒ estimates are
    exact and the top-k IS the true top-k."""
    from rclabsapi_spark.operators.approx import mg_topk

    ev = load_table(spark, SF_DIR, "events")
    exact = _exact_counts(ev.select(F.col("event_type").alias("t")), "t")
    rows = mg_topk(ev, "event_type", summary_size=64, k=5).collect()
    assert {r.item: r.est for r in rows} == exact


def test_mg_topk_hot_item_survives_skew(spark):
    """Any item with true count > n/(m+1) must be present in the merged
    candidate set — the heavy-hitter promise, on a worst-case stream of
    one hot key drowned in singletons."""
    from rclabsapi_spark.operators.approx import mg_topk

    data = [("hot",)] * 1000 + [(f"u{i}",) for i in range(2000)]
    df = spark.createDataFrame(data, ["item_col"]).repartition(8)
    m = 16
    rows = mg_topk(df, "item_col", summary_size=m, k=5).collect()
    by_item = {r.item: r for r in rows}
    n = 3000
    assert "hot" in by_item
    r = by_item["hot"]
    assert r.est <= 1000 <= r.est + n / (m + 1)


def test_cms_overestimates_within_epsilon_all_users(spark):
    """CMS contract for EVERY key, not just the top-10 the registry query
    checks: exact ≤ est ≤ exact + (2/width)·n."""
    from rclabsapi_spark.operators.approx import cms_estimate

    events = load_table(spark, SF_DIR, "events")
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = {
        r["user_id"]: r["cms_est"]
        for r in cms_estimate(events, exact, item_col="user_id").collect()
    }
    n_total = events.count()
    bound = 2.0 * n_total / 256.0
    for r in exact.collect():
        e = est[r["user_id"]]
        assert r["exact_n"] <= e <= r["exact_n"] + bound, (
            r["user_id"], r["exact_n"], e, bound,
        )


def test_cms_invariant_under_partitioning(spark):
    """The sketch build is one commutative groupBy — estimates must be
    identical for every input partitioning (map-side merge safety)."""
    from rclabsapi_spark.operators.approx import cms_estimate

    events = load_table(spark, SF_DIR, "events")
    items = events.select("user_id").distinct()
    outs = []
    for shape in (events, events.repartition(3), events.repartition(64)):
        outs.append(
            sorted(
                (r["user_id"], r["cms_est"])
                for r in cms_estimate(shape, items, item_col="user_id").collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]
