"""Connected components (llm/dedup.py::dedup_clusters, large-star/
small-star alternation): union-find labels on the shallow graphs LSH
produces and on the long chains, permuted paths and stars where label
propagation would need O(diameter) rounds; a logarithmic round count;
and a raise, never a silent mislabel, at the round cap."""

from __future__ import annotations

import math
import random

import pytest

from rclabsapi_spark.llm.dedup import dedup_clusters


def _labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _path(order):
    return [(order[i], order[i + 1]) for i in range(len(order) - 1)]


def test_star_labels_shallow_graphs(spark):
    # two near-dup families (a star and a triangle) + one isolated pair —
    # the shape LSH candidate graphs actually have
    edges = [
        (1, 2), (1, 3), (1, 4),          # star rooted at 1
        (10, 11), (11, 12), (10, 12),    # triangle
        (20, 21),                        # pair
        (2, 2),                          # self-pair adds no edge
    ]
    got = _labels(dedup_clusters(_pairs(spark, edges)))
    # node 2 is still labeled via its real edges
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_star_contracts_long_chain_in_log_rounds(spark):
    # path 0-1-…-(n-1): diameter n-1, so one-hop label propagation would
    # need n-1 rounds; star alternation halves the depth per round. The
    # reversed-id chain puts the min at the far end of the insertion
    # order; the permuted path scatters ids along the chain; the star
    # graph bridges two hubs at both ends of the id range leaf to leaf.
    perm = list(range(300))
    random.Random(3).shuffle(perm)
    hubs = [(0, i) for i in range(1, 200)] + [(500, 500 - i) for i in range(1, 200)]
    for edges in (
        _path(list(range(256))),
        _path(list(range(1000))),
        _path(list(range(255, -1, -1))),
        _path(perm),
        hubs + [(199, 301)],
    ):
        stats: dict = {}
        got = _labels(dedup_clusters(_pairs(spark, edges), stats=stats))
        assert got == _union_find(edges)
        assert stats["rounds"] <= math.ceil(math.log2(len(got))) + 2


def test_star_raises_when_rounds_exhausted(spark):
    pairs = _pairs(spark, _path(list(range(64))))
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iters=2)


def test_cluster_quality_audit_flags_weak_links(spark):
    """Synthetic clusters: a tight pair-rich cluster scores high mean
    similarity; a chain glued by one borderline link surfaces it as the
    weakest_link; rejected cross-cluster evidence lands under NULL."""
    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.dedup import cluster_quality_audit

    pairs = spark.createDataFrame(
        [
            # tight cluster A = {1,2,3}: all pairs strong
            (1, 2, 0.95), (1, 3, 0.92), (2, 3, 0.97),
            # chain cluster B = {4,5,6}: 4-5 strong, 5-6 borderline
            (4, 5, 0.90), (5, 6, 0.21),
            # rejected evidence across clusters
            (3, 4, 0.25),
        ],
        "doc_a long, doc_b long, jaccard double",
    )
    clusters = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200), (6, 200)],
        "doc_id long, cluster_id long",
    )
    out = {
        r["cluster_id"]: r
        for r in cluster_quality_audit(pairs, clusters).collect()
    }
    assert out[100]["n_members"] == 3 and out[100]["n_pairs"] == 3
    assert out[100]["mean_sim"] > 0.9
    assert out[200]["weakest_link"] == 0.21  # the chain's glue exposed
    assert out[None]["n_pairs"] == 1  # rejected cross-cluster pair
