"""Graph analytics over relation-derived edge lists: degree-oriented
triangle counting and fixed-iteration weighted PageRank.

These extend connected components (llm/dedup.py's dedup_clusters,
large-star/small-star alternation) with the other two staple distributed graph
kernels. Reference parity: the reference stores entity relationships
relationally (schema.sql FKs) and walks them driver-side; here the
walks are joins.

Scale posture:

- Triangle counting uses the compact-forward / degree-orientation
  trick: every edge is oriented from its lower-(degree, id) endpoint to
  the higher one, so each wedge is generated exactly once at its
  lowest-rank apex and per-vertex out-degree is O(√m) on any graph —
  the Σ deg² blowup of naive wedge-join never materializes. Two
  equi-joins, no cartesian anything.
- PageRank runs a FIXED number of synchronous iterations as a driver
  loop of join+aggregate over the (nodes ∪ edges) relations — the
  MLlib/Pregel pattern with per-iteration cost O(edges). Intended for
  aggregated graphs (type transitions, cluster adjacency); for
  billion-edge graphs swap in localCheckpoint per round exactly as
  dedup_clusters does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rclabsapi_spark.functions.scalars import round_half_up


def triangle_count(
    edges: DataFrame,
    *,
    materialize: bool = True,
    edges_canonical: bool = False,
) -> DataFrame:
    """Exact triangle count of the undirected simple graph induced by
    ``edges`` (self-loops dropped, directions/duplicates collapsed).
    Returns one row: (n_vertices, n_edges, n_triangles).

    Orientation: rank(x) = (degree(x), x); each undirected edge points
    rank-upward, wedges form at the lowest-rank apex from its out-pairs,
    and the closing edge is membership-checked against the oriented set
    — each triangle counted exactly once.

    ``edges_canonical=True`` asserts the CALLER's contract that edges
    already arrive canonical — src < dst, distinct, no self-loops (true
    of any ``groupBy(src, dst)`` output over ordered pairs, e.g. the
    in-basket pair aggregates) — and skips the normalization's
    least/greatest projection and its distinct EXCHANGE. The caller
    owns the claim; a violated contract double-counts edges, so only
    pass it for aggregate-produced pair relations.

    ``materialize=False`` skips the eager localCheckpoint (and the
    intermediate-cache release that depends on it) so plan pins and
    scripts/plan_audit.py can inspect the real join/aggregate plan — a
    checkpointed DataFrame's plan is just ``Scan ExistingRDD``. The
    query path keeps the default: materialize, then free the caches."""
    if edges_canonical:
        e = edges.select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ).cache()  # consumed by degrees, orientation, and the count
    else:
        u = F.least(F.col("src"), F.col("dst")).alias("u")
        v = F.greatest(F.col("src"), F.col("dst")).alias("v")
        e = (
            edges.select(u, v)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .cache()  # consumed by degrees, orientation, and the count
        )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    ranked = e.join(du, "u").join(dv, "v")
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias(
            "dst_deg"
        ),
    ).cache()
    a = oriented.alias("a")
    b = oriented.alias("b")
    wedge_order = (F.col("a.dst_deg") < F.col("b.dst_deg")) | (
        (F.col("a.dst_deg") == F.col("b.dst_deg"))
        & (F.col("a.dst") < F.col("b.dst"))
    )
    wedges = (
        a.join(b, F.col("a.src") == F.col("b.src"))
        .filter(wedge_order)
        .select(F.col("a.dst").alias("src"), F.col("b.dst").alias("dst"))
    )
    closing = oriented.select("src", "dst")
    tri = wedges.join(closing, ["src", "dst"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
    ).crossJoin(deg.agg(F.count(F.lit(1)).alias("n_vertices")))
    out = stats.crossJoin(F.broadcast(tri)).select(
        "n_vertices", "n_edges", "n_triangles"
    )
    # 1-row result: materialize eagerly, then release the intermediate
    # caches so long-lived EngineAPI sessions don't accumulate storage.
    if materialize:
        out = out.localCheckpoint(eager=True)
        e.unpersist()
        oriented.unpersist()
    return out


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 3,
    damping: float = 0.85,
    materialize: bool = True,
) -> DataFrame:
    """Weighted PageRank, ``iters`` synchronous power iterations:
    r(v) ← (1−d)/N + d·Σ_u r(u)·w(u,v), with ``w`` already
    row-normalized per source (a transition matrix). Returns
    (node, pagerank). Dangling mass is not redistributed (documented
    simplification — aggregated input graphs have no sinks).

    Each iteration is one equi-join (edge × current ranks) and one
    per-destination aggregate; node and rank relations stay
    |nodes|-sized throughout.

    ``materialize=False`` skips the eager localCheckpoint + cache
    release so the real iterated-join plan is inspectable (plan pins,
    plan audit); see triangle_count."""
    e = edges.select(
        F.col("src").alias("src"),
        F.col("dst").alias("dst"),
        F.col("w").cast("double").alias("w"),
    ).cache()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("nn")).alias("r")
    )
    for _ in range(iters):
        contrib = (
            e.join(
                F.broadcast(ranks.select(F.col("node").alias("src"), "r")),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") * F.col("w")).alias("s"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n_nodes))
            .join(F.broadcast(contrib), "node", "left")
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("nn")
                    + damping * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    # round_half_up, not F.round: PageRank values land on representable
    # decimal ties often enough that shortest-repr rounding diverges from
    # the oracle's binary rounding (registry.py float rules).
    out = ranks.select("node", round_half_up(F.col("r"), 6).alias("pagerank"))
    # |nodes|-sized result: materialize eagerly so the loop caches can be
    # released without recomputation in service-mode sessions.
    if materialize:
        out = out.localCheckpoint(eager=True)
        e.unpersist()
        nodes.unpersist()
    return out
