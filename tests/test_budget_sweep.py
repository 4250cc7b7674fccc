"""Known-answer semantics for the round-10 allocation/audit operators:
crawl-budget allocation (hand-checkable targets, cap bit, share sum),
the cosine threshold sweep (monotone tiers, full spine), and the
scorer-agreement statistics (perfect self-correlation bound)."""

from __future__ import annotations

import math

from rclabsapi_spark.llm.sampling import crawl_budget_allocation

SF = "/root/testdata/sf0.01"


def _stats(spark):
    # priorities pre-rounded to 6dp (the operator contract: they arrive
    # exact from the quality-prior aggregate)
    rows = [
        ("a.com", 100, 0.5),
        ("b.org", 4, 0.9),
        ("c.net", 1, 0.8),
    ]
    return spark.createDataFrame(
        rows, "domain string, n_docs long, priority double"
    )


def test_crawl_budget_known_answer(spark):
    out = {
        r["domain"]: r
        for r in crawl_budget_allocation(
            _stats(spark),
            strat_col="domain",
            tau=0.5,
            budget_multiplier=1.0,
        ).collect()
    }
    z = math.sqrt(100) * 0.5 + math.sqrt(4) * 0.9 + math.sqrt(1) * 0.8
    total = 105.0
    for dom, n, p in (("a.com", 100, 0.5), ("b.org", 4, 0.9), ("c.net", 1, 0.8)):
        w = math.sqrt(n) * p / z
        assert out[dom]["target_docs"] == math.floor((1.0 * total) * w), dom
    # √n flattening: the megadomain's target drops below availability,
    # the small high-priority domains cap at theirs
    assert out["a.com"]["target_docs"] < 100 and not out["a.com"]["capped"]
    assert out["b.org"]["capped"] and out["b.org"]["effective_docs"] == 4
    assert out["c.net"]["capped"] and out["c.net"]["effective_docs"] == 1
    # effective never exceeds availability; weights sum to ~1
    assert all(r["effective_docs"] <= r["n_docs"] for r in out.values())
    assert abs(sum(r["w_temp"] for r in out.values()) - 1.0) < 1e-5


def test_threshold_sweep_monotone_full_spine(spark):
    from rclabsapi_spark.registry import registered

    rows = (
        registered()["dedup_cosine_threshold_sweep"]
        .fn(spark, SF)
        .orderBy("threshold")
        .collect()
    )
    assert len(rows) == 7  # every tier survives, even empty ones
    pairs = [r["n_pairs"] for r in rows]
    vecs = [r["n_vecs"] for r in rows]
    assert pairs == sorted(pairs, reverse=True)
    assert vecs == sorted(vecs, reverse=True)
    assert pairs[0] > 0  # the floor tier is non-trivial on the fixture
    for r in rows:
        assert r["n_vecs"] <= 2 * r["n_pairs"]
        if r["n_pairs"] > 0:
            assert r["threshold"] <= r["mean_cosine"] <= 1.0


def test_score_agreement_bounds(spark):
    from rclabsapi_spark.registry import registered

    row = registered()["retr_score_agreement"].fn(spark, SF).collect()[0]
    assert -1.0 <= row["pearson_r"] <= 1.0
    assert 0 <= row["top15_overlap"] <= 15
    assert row["n_docs"] > 15


def test_snapshot_diff_known_answer(spark):
    from rclabsapi_spark.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "s", "a"), (2, "s", "b"), (3, "s", "c")],
        "doc_id long, source string, fp string",
    )
    new = spark.createDataFrame(
        [(2, "s", "b"), (3, "s", "C2"), (4, "s", "d")],
        "doc_id long, source string, fp string",
    )
    r = snapshot_diff(old, new).collect()[0]
    assert (r["n_old"], r["n_new"]) == (3, 3)
    assert (r["n_added"], r["n_removed"], r["n_changed"], r["n_unchanged"]) \
        == (1, 1, 1, 1)
    assert r["churn_rate"] == 0.75  # (1+1+1) / (3 old + 1 added)
