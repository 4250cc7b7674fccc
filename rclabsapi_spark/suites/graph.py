"""Graph-kernel queries over relation-derived edge lists: triangle
census of the part co-order graph and PageRank over the event-type
transition graph. Implementations in operators/graph.py.

Oracle notes: the triangle oracle mirrors the degree orientation
exactly (same (degree, id) rank, same wedge order), so intermediate
relations match row-for-row, not just the final count. The PageRank
oracle unrolls the same three synchronous iterations as CTEs; per-node
in-sums are ≤|types| terms and the final ranks round at 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from rclabsapi_spark.catalog import load_table
from rclabsapi_spark.functions.scalars import sql_round_half_up
from rclabsapi_spark.layout import spread_by
from rclabsapi_spark.operators.graph import pagerank, triangle_count
from rclabsapi_spark.operators.linkage import sorted_pairs
from rclabsapi_spark.registry import query

# Baskets with more distinct items than this take the self-join pair
# branch instead of the in-basket array build (mega-basket guard): a
# 256-item basket's pair array is ~32k structs in one row — the upper
# bound of "fine"; anything bigger is corrupt input that must never
# funnel through a single reducer buffer. TPC-H baskets are ≤ 7 items.
_ARRAY_CAP = 256

# ---------------------------------------------------------------------------
# Triangle count over the co-order part graph (support ≥ 2)
# ---------------------------------------------------------------------------

_EDGES_SQL = """
    SELECT item_a AS u, item_b AS v FROM (
        SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n
        FROM (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
              FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
              FROM lineitem) b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
    ) WHERE n >= 2
"""

_TRIANGLE_ORACLE = f"""
WITH e AS ({_EDGES_SQL}),
deg AS (
    SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
    ) GROUP BY 1
),
o AS (
    SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
                THEN u ELSE v END AS src,
           CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
                THEN v ELSE u END AS dst,
           CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
                THEN dv.deg ELSE du.deg END AS dst_deg
    FROM e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
),
wedges AS (
    SELECT a.dst AS src, b.dst AS dst
    FROM o a JOIN o b ON a.src = b.src
    WHERE (a.dst_deg < b.dst_deg)
       OR (a.dst_deg = b.dst_deg AND a.dst < b.dst)
),
tri AS (
    SELECT COUNT(*)::BIGINT AS n_triangles
    FROM wedges w JOIN o ON w.src = o.src AND w.dst = o.dst
)
SELECT (SELECT COUNT(*) FROM deg)::BIGINT AS n_vertices,
       (SELECT COUNT(*) FROM e)::BIGINT AS n_edges,
       n_triangles
FROM tri
"""


@query("graph_triangles_coorder", _TRIANGLE_ORACLE, bench=True)
def q_triangles(spark, sf_dir, *, materialize=True):
    """Triangle census of the part co-order graph (parts linked when
    co-ordered in ≥2 baskets) — the clustering-structure audit for a
    co-occurrence graph. Degree-oriented wedge generation keeps
    per-vertex fan-out O(√m); two equi-joins, no cartesian anything.

    Edge derivation (r16): ONE collect_set per basket + ``sorted_pairs``
    over the sorted item set — the fact's dedup, and
    the pair generation, ride a single exchange on the basket id; the
    previous distinct + basket-keyed self-join spent three exchanges on
    the same 1.2M pairs.

    Mega-basket guard (r17): the r16 shape collect_set'ed EVERY basket
    unbounded — one corrupt mega-basket materializes as ONE
    unsplittable reducer array before any size check can see it. Now a
    raw-row count per basket (partial-combining, rides the same spread
    exchange) routes baskets: at or under ``_ARRAY_CAP`` rows they take
    the array pair-gen fast path (every TPC-H basket: ≤ 7 items), and
    bigger baskets dedup to distinct (basket, item) rows (spill-safe
    aggregation) and route through the classic co-partitioned
    self-join — row-at-a-time pair generation that never builds an
    array and that AQE can skew-split. Routing by ANY deterministic
    per-basket predicate is result-preserving because both branches
    compute the same pair multiset for the baskets they receive.
    The union is the identical pair multiset, so the edge set is
    byte-identical (sorted distinct items, i < j pairs, count ≥ 2) and
    still arrives canonical — src < dst, distinct — so triangle_count
    skips its normalization dedup (``edges_canonical``).
    ``materialize=False`` exposes the pre-checkpoint plan for pins and
    the plan audit. operators/graph.py::triangle_count."""
    li = load_table(spark, sf_dir, "lineitem")
    # raw rides ONE spread exchange; its three consumers (size counts +
    # both pair branches) reference byte-identical subtrees, so
    # ReusedExchange materializes the shuffle once — no cache needed.
    # The routing predicate is a RAW row count per basket (cheap
    # partial-combining aggregate): any deterministic routing is
    # correct here because BOTH branches compute the same pair
    # multiset for whatever baskets they receive — the count only
    # decides which physical shape a basket takes.
    raw = spread_by(
        li.select(
            F.col("l_orderkey").alias("basket"),
            F.col("l_partkey").alias("item"),
        ),
        "basket",
    )
    # Window count, NOT a size aggregate + semi-join: Catalyst pushes a
    # left-semi join below the repartition (PushDownLeftSemiAntiJoin),
    # which de-duplicates the exchange subtrees and re-scans the fact
    # once per branch (measured +35% — see git history); a filter on a
    # window output cannot be pushed below its window, so both branches
    # keep the byte-identical scan→exchange subtree and ReusedExchange
    # materializes the shuffle once.
    sized = raw.withColumn(
        "__sz",
        F.count(F.lit(1)).over(Window.partitionBy("basket")),
    )
    small = sized.filter(F.col("__sz") <= _ARRAY_CAP).drop("__sz")
    baskets = small.groupBy("basket").agg(
        F.array_sort(F.collect_set("item")).alias("its")
    )
    pair_structs = sorted_pairs(
        F.col("its"), lambda x, y: F.struct(x.alias("src"), y.alias("dst"))
    )
    small_pairs = baskets.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.src").alias("src"), F.col("p.dst").alias("dst")
    )
    # mega-baskets: dedup to distinct (basket, item) rows first (spill-
    # safe aggregation, still riding the exchange), then row-at-a-time
    # pair generation via self-join — no array ever materializes, and
    # AQE can skew-split the join. Empty on TPC-H input.
    big = (
        sized.filter(F.col("__sz") > _ARRAY_CAP)
        .drop("__sz")
        .groupBy("basket", "item")
        .agg(F.count(F.lit(1)).alias("__n"))
        .drop("__n")
    )
    big_pairs = (
        big.alias("a")
        .join(big.alias("b"), "basket")
        .filter(F.col("a.item") < F.col("b.item"))
        .select(F.col("a.item").alias("src"), F.col("b.item").alias("dst"))
    )
    edges = (
        small_pairs.unionByName(big_pairs)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    return triangle_count(
        edges, materialize=materialize, edges_canonical=True
    )


# ---------------------------------------------------------------------------
# PageRank over the event-type transition graph
# ---------------------------------------------------------------------------

_SEQ_WINDOW = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"

_PAGERANK_ORACLE = f"""
WITH seq AS (
    SELECT event_type AS from_type,
           LEAD(event_type) {_SEQ_WINDOW} AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, COUNT(*)::BIGINT AS n
    FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
),
p AS (
    SELECT from_type, to_type,
           n::DOUBLE / (SUM(n) OVER (PARTITION BY from_type))::DOUBLE AS w
    FROM counts
),
nodes AS (
    SELECT from_type AS node FROM p
    UNION SELECT to_type AS node FROM p
),
nn AS (SELECT COUNT(*)::DOUBLE AS nn FROM nodes),
r0 AS (SELECT node, 1.0 / nn AS r FROM nodes CROSS JOIN nn),
c1 AS (SELECT to_type AS node, SUM(r * w) AS s
       FROM p JOIN r0 ON p.from_type = r0.node GROUP BY 1),
r1 AS (SELECT nodes.node, 0.15 / nn + 0.85 * COALESCE(s, 0.0) AS r
       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node),
c2 AS (SELECT to_type AS node, SUM(r * w) AS s
       FROM p JOIN r1 ON p.from_type = r1.node GROUP BY 1),
r2 AS (SELECT nodes.node, 0.15 / nn + 0.85 * COALESCE(s, 0.0) AS r
       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node),
c3 AS (SELECT to_type AS node, SUM(r * w) AS s
       FROM p JOIN r2 ON p.from_type = r2.node GROUP BY 1),
r3 AS (SELECT nodes.node, 0.15 / nn + 0.85 * COALESCE(s, 0.0) AS r
       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.node = nodes.node)
SELECT node, {sql_round_half_up("r", 6)} AS pagerank FROM r3
"""


@query("graph_pagerank_transitions", _PAGERANK_ORACLE)
def q_pagerank(spark, sf_dir, *, materialize=True):
    """PageRank over the first-order event-transition graph (weights =
    row-normalized transition probabilities from path_transitions):
    which state attracts the flow. Three synchronous power iterations
    as a driver loop of broadcast join + per-destination aggregate over
    the |types|² relation. operators/graph.py::pagerank."""
    from rclabsapi_spark.operators.analytics import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    edges = transition_matrix(ev).select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.col("p").alias("w"),
    )
    return pagerank(edges, iters=3, damping=0.85, materialize=materialize)
