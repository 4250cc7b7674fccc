"""Record linkage and co-occurrence mining: blocked fuzzy matching
(edit-distance pairs within blocking keys) and market-basket pair
support/lift.

Reference parity: the reference deduplicates and cross-references
entities with exact keys only (user/session lookups,
database_manager.cpp's unique-constraint upserts); fuzzy linkage is the
standard extension once entity names arrive from multiple systems with
typos. Basket mining extends the A-series rollups
(job_monitoring_models.cpp) from "how often does X occur" to "what
co-occurs with X".

Scale posture:

- Fuzzy matching NEVER does the all-pairs cross join. Candidates come
  from equality on a blocking key (shuffle on the key); blocks over the
  ``max_block`` cap are salted into ⌈size/max_block⌉ md5 sub-blocks —
  independently per salt, pairs unioned disjointly across exactly TWO
  salts (r14; the pair arity is part of the contract, checked at
  entry) — so pair work inside an oversized block is ~2·size·max_block
  instead of size² and recall degrades gracefully to
  1−(1−1/n_sub)² (a pair is found iff both rows share a
  sub-block under at least one salt) rather than collapsing to zero
  when a head block ("J. Smith") crosses the cap. Edit distance runs
  JVM-side (``levenshtein``) on candidates only.
- Basket pair-gen and every near-dup tier share one blocked-pair
  primitive (``block_pairs`` / ``sorted_pairs``): group by the block
  key, collect a sorted member array, drop blocks over the cap, and
  emit each in-block pair once from the array, with no self-join.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.functions.scalars import round_half_up
from rclabsapi_spark.layout import spread_by


def blocked_fuzzy_pairs(
    df: DataFrame,
    *,
    key_col: str,
    name_col: str,
    block_col,
    max_dist: int = 1,
    max_block: int = 1000,
    salts: tuple[str, str] = ("sub", "sub2"),
) -> DataFrame:
    """Candidate duplicate pairs by edit distance within blocking keys:
    all (a, b) with ``a.key < b.key``, equal block, equal sub-block
    under at least one salt, and ``levenshtein(a.name, b.name) ≤
    max_dist``.

    Classic blocked record linkage (sorted-neighborhood family): recall
    is bounded by the blocking key — a pair whose names differ outside
    the blocked positions is not generated, which is the documented
    tradeoff that makes the operator linear-ish instead of n².

    Cap semantics (r13, second-salt union r14): a block within
    ``max_block`` keeps a single sub-block 0, so its recall is exact. A
    block of size B > ``max_block`` is salted into n_sub =
    ⌈B/max_block⌉ md5 sub-blocks INDEPENDENTLY under two salts (pure
    functions of the key, mirrored in the oracle), and a pair is
    emitted iff both rows share a sub-block under AT LEAST ONE salt —
    within-block recall 1−(1−1/n_sub)² (~75% at n_sub=2, ~44% at
    n_sub=4, vs 1/n_sub single-salt) for 2·B·max_block pair work
    instead of B² — the head-block regime ("J. Smith") where dup mass
    concentrates degrades gracefully, never to zero, and the second
    salt doubles the (already linear) capped work, never the quadratic
    term.

    Exactly-once per pair WITHOUT an output-side exchange: each pair is
    emitted under its FIRST matching salt — the salt-0 join on
    (block, sub0), then a salt-1 rescue join on (block, sub1) filtered
    to ``a.sub0 != b.sub0`` — two disjoint branches unioned, so no
    distinct/dropDuplicates shuffle on the (potentially tens of
    millions of rows) pair relation. ``sub1`` is NULL for blocks
    within the cap, so the rescue join's input is EMPTY in the common
    no-oversized-block case and the second salt costs nothing there
    (equi-join null keys drop).

    Block sizes come from a partial-combining aggregate joined back
    (NOT a count-over-block window): a window would funnel the whole
    hot block through one task, and window skew is exactly what AQE
    cannot split — the size join and both pair joins stay
    AQE-skew-splittable, and every post-sub join group is ~max_block
    by construction.

    Cache lifetime (ADVICE r13): the subbed relation is cached so both
    pair-join sides reuse one materialization (the basket_pair_support
    multi-consumer pattern) instead of re-scanning the fact twice. The
    cache is owned by the RETURNED PLAN — it cannot be unpersisted
    here because nothing has run yet. Callers that invoke this
    repeatedly with different inputs in one long-lived session should
    unpersist between invocations (``spark.catalog.clearCache()`` or
    hold/unpersist their own cached input); otherwise superseded
    entries linger until LRU eviction — storage pressure only, never
    correctness.

    The union construction is a fixed PAIR of salts (ADVICE r14): the
    emission branches below hardcode a first-salt join plus one rescue
    join, so a 1-tuple would IndexError mid-plan and extra salts would
    be silently ignored while the docstring's recall formula implied
    otherwise — rejected loudly at entry instead."""
    if len(salts) != 2:
        raise ValueError(
            "blocked_fuzzy_pairs unions exactly two salted sub-blockings"
            f" (recall 1-(1-1/n_sub)^2); got {len(salts)} salts"
        )
    named = df.select(
        F.col(key_col).alias("key"),
        F.col(name_col).alias("name"),
        block_col.alias("block"),
    )
    sizes = named.groupBy("block").agg(
        F.count(F.lit(1)).alias("block_n")
    )
    n_sub = F.ceil(F.col("block_n") / F.lit(float(max_block))).cast("long")

    def sub_for(salt: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(salt), F.col("key").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n_sub
        )

    oversized = F.col("block_n") > max_block
    base = (
        named.join(sizes, "block")
        .select(
            "key",
            "name",
            "block",
            F.when(~oversized, F.lit(0).cast("long"))
            .otherwise(sub_for(salts[0]))
            .alias("sub0"),
            # NULL for in-cap blocks: the rescue join's equi-key drops
            # them, so the second salt is free in the common case
            F.when(oversized, sub_for(salts[1])).alias("sub1"),
        )
        .cache()
    )

    def emit(joined):
        # Bounded edit distance (Spark 3.5+ threshold form): the DP is
        # O(len·max_dist) instead of O(len²) and early-exits at -1 when
        # the distance exceeds the bound. This predicate runs once per
        # CANDIDATE (every in-block pair, ~block·cap of them), so its
        # cost multiplies the whole join output; for surviving pairs the
        # returned value equals the unbounded distance, so lev_dist and
        # name_sim are bit-identical. Measured 3.31 → ~1.9 s at sf0.1
        # (750k candidates, 18-char names, max_dist=1).
        dist = F.levenshtein(F.col("a.name"), F.col("b.name"), max_dist)
        name_len = F.greatest(F.length("a.name"), F.length("b.name"))
        return (
            joined.filter(F.col("a.key") < F.col("b.key"))
            .filter(dist >= 0)
            .select(
                F.col("a.key").alias("key_a"),
                F.col("b.key").alias("key_b"),
                dist.cast("long").alias("lev_dist"),
                round_half_up(
                    1.0 - dist.cast("double") / name_len.cast("double")
                ).alias("name_sim"),
            )
        )

    a, b = base.alias("a"), base.alias("b")
    first = emit(a.join(b, ["block", "sub0"]))
    # rescue: pairs the first salt separated — disjoint from `first`
    # by the sub0 inequality, so the union is exactly-once per pair
    second = emit(
        a.join(b, ["block", "sub1"]).filter(
            F.col("a.sub0") != F.col("b.sub0")
        )
    )
    return first.unionByName(second)


def sorted_pairs(
    members: Column,
    pair: Callable[[Column, Column], Column],
    keep: Callable[[Column, Column], Column] | None = None,
) -> Column:
    """``pair(x, y)`` for every element ``x`` of the array ``members``
    and every ``y`` after it: with sorted, distinct members that is each
    unordered pair once, ``x < y``. ``keep(x, y)``, when given, filters
    the later elements inside the comprehension, so a rejected pair is
    never built. The one place the in-block pair comprehension is
    written."""

    def later(x: Column, i: Column) -> Column:
        rest = F.slice(members, i + F.lit(2), F.size(members) - i - F.lit(1))
        return rest if keep is None else F.filter(rest, lambda y: keep(x, y))

    return F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(later(x, i), lambda y: pair(x, y)),
        )
    )


def block_pairs(
    df: DataFrame,
    by: Sequence[str],
    member: Column | str,
    cap: int | None,
    pair: Callable[[Column, Column], Column],
    keep: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """(*by, p): the in-block pairs of ``df`` blocked on ``by``, one row
    per pair, ``p = pair(x, y)`` with ``x < y`` in ``member`` order.

    One exchange on the block key collects each block's sorted member
    array; blocks of one member and blocks over ``cap`` members (when
    ``cap`` is not None) are dropped, and ``sorted_pairs`` emits the
    pairs from the array (no self-join). A B-member block yields B²/2
    pairs, so ``cap`` is the quadratic guard; it is checked on the built
    array, so the largest block is still collected whole once. Equal
    members pair with each other, so callers block unique members (a
    key column, or a struct that leads with one)."""
    blocks = (
        df.groupBy(*by)
        .agg(F.array_sort(F.collect_list(member)).alias("members"))
        .filter(F.size("members") >= 2)
    )
    if cap is not None:
        blocks = blocks.filter(F.size("members") <= cap)
    return blocks.select(
        *by, F.explode(sorted_pairs(F.col("members"), pair, keep)).alias("p")
    )


def basket_pair_support(
    items: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    k: int = 20,
    max_basket: int = 50,
) -> DataFrame:
    """Top-k co-occurring item pairs across baskets with support and
    lift: support_ab = #baskets containing both, lift = support_ab·N /
    (support_a·support_b).

    The Apriori-style first step (frequent 2-itemsets), kept linear:
    baskets are deduped to distinct items via ONE collect_set per
    basket (the dedup, the size cap, and the pair generation all ride
    a single exchange on the basket id — the r16 restructure; the
    previous shape spent a distinct exchange, a size aggregate, a
    semi-join, and a basket-keyed self-join on the same decisions).
    Oversized baskets are dropped against ``max_basket`` BEFORE any
    per-basket array exists (pair work is Σ basket² — the cap is the
    quadratic guard; unlike fuzzy-name head blocks, an oversized basket
    is corrupt data, not concentrated signal, so all-or-nothing is the
    right contract here). The r16 shape filtered ``F.size(its)`` AFTER
    ``collect_set`` — which materializes one corrupt mega-basket as ONE
    unsplittable array in a reducer before the filter can drop it (the
    r13 single-task-funnel lesson applied to the reducer's buffer). Now
    the guard is a distinct-item COUNT stamped by a window (spill-safe
    aggregation rows, never an array; a window filter cannot be pushed
    below its window, unlike a semi-join, which Catalyst pushes below
    the repartition and thereby re-scans the fact per branch), and only
    surviving baskets reach the array build; everything — the
    (basket, item) dedup, the window count, the collect, the pair
    explode — rides ONE spread exchange on the basket id (every
    reduction clusters on a superset of the key). Pairs come from
    ``sorted_pairs`` over the sorted item set (a basket is
    ≤ ``max_basket`` items by construction, so the per-row array is
    bounded). Item supports and N re-derive from the
    cached basket-array relation (three consumers); lift is per-row
    arithmetic on exact counts.
    Deterministic top-k: support desc, then item pair lexicographic."""
    dedup = (
        spread_by(
            items.select(
                F.col(basket_col).alias("basket"),
                F.col(item_col).alias("item"),
            ),
            "basket",
        )
        .groupBy("basket", "item")
        .agg(F.count(F.lit(1)).alias("__n"))
        .drop("__n")
    )
    sized = dedup.withColumn(
        "__sz", F.count(F.lit(1)).over(Window.partitionBy("basket"))
    )
    baskets = (
        sized.filter(F.col("__sz") <= max_basket)
        .groupBy("basket")
        # items are distinct by construction here, so a sorted
        # collect_list ≡ the old array_sort(collect_set) byte-for-byte
        .agg(F.array_sort(F.collect_list("item")).alias("its"))
        .cache()
    )
    pair_structs = sorted_pairs(
        F.col("its"), lambda x, y: F.struct(x.alias("item_a"), y.alias("item_b"))
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("support_ab"))
    )
    supports = baskets.select(F.explode("its").alias("item")).groupBy(
        "item"
    ).agg(F.count(F.lit(1)).alias("support"))
    n_baskets = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    sa = supports.select(
        F.col("item").alias("item_a"), F.col("support").alias("support_a")
    )
    sb = supports.select(
        F.col("item").alias("item_b"), F.col("support").alias("support_b")
    )
    lift = (
        F.col("support_ab").cast("double") * F.col("n_baskets").cast("double")
    ) / (F.col("support_a").cast("double") * F.col("support_b").cast("double"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "support_ab",
            "support_a",
            "support_b",
            round_half_up(lift).alias("lift"),
        )
        .orderBy(F.col("support_ab").desc(), "item_a", "item_b")
        .limit(k)
    )
