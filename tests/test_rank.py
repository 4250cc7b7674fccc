"""Percentile-threshold two-phase rank (operators/rank.py): exact
equivalence with the naive global windows it replaces, on every bucket-
key shape the fleet uses (ascending numeric, negated-descending,
md5-hex-prefix), plus the round-8 consumers built on it (shard shuffle,
temperature sampling semantics, incremental LSH hygiene)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rclabsapi_spark.operators.rank import (
    global_ntile,
    global_percent_rank,
    global_row_number,
)

from .conftest import SF_CORRECT


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_CORRECT}/orders.parquet")


def test_row_number_matches_naive_window(spark, orders):
    w = Window.orderBy("o_totalprice", "o_orderkey")
    naive = orders.select(
        "o_orderkey", F.row_number().over(w).alias("rn")
    )
    two = global_row_number(
        orders, ["o_totalprice", "o_orderkey"], out_col="rn2"
    ).select("o_orderkey", "rn2")
    j = naive.join(two, "o_orderkey")
    assert j.filter(F.col("rn") != F.col("rn2")).count() == 0
    assert j.count() == orders.count()


def test_ntile_and_percent_rank_match_naive(spark, orders):
    w = Window.orderBy("o_totalprice", "o_orderkey")
    naive = orders.select(
        "o_orderkey",
        F.ntile(7).over(w).alias("nt"),
        F.percent_rank().over(w).alias("pr"),
    )
    two = global_ntile(
        orders, ["o_totalprice", "o_orderkey"], 7, out_col="nt2"
    )
    two = global_percent_rank(
        two, ["o_totalprice", "o_orderkey"], out_col="pr2"
    ).select("o_orderkey", "nt2", "pr2")
    j = naive.join(two, "o_orderkey")
    assert j.filter(F.col("nt") != F.col("nt2")).count() == 0
    # exact bit equality: both sides compute (rn-1)/(N-1) from ints
    assert j.filter(F.col("pr") != F.col("pr2")).count() == 0


def test_descending_order_with_negated_bucket_key(spark, orders):
    w = Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    naive = orders.select(
        "o_orderkey", F.row_number().over(w).alias("rn")
    )
    two = global_row_number(
        orders,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        out_col="rn2",
        bucket_key=-F.col("o_totalprice"),
    ).select("o_orderkey", "rn2")
    j = naive.join(two, "o_orderkey")
    assert j.filter(F.col("rn") != F.col("rn2")).count() == 0


def test_md5_hex_prefix_bucket_key(spark, orders):
    """Fixed-length lowercase hex: lexicographic ≡ numeric, so a 13-hex
    (52-bit, double-exact) prefix is a valid monotone bucket key — the
    ring-shuffle / shard-shuffle shape."""
    h = F.md5(F.concat(F.lit("t:"), F.col("o_orderkey").cast("string")))
    w = Window.orderBy(h, "o_orderkey")
    naive = orders.select(
        "o_orderkey", F.row_number().over(w).alias("rn")
    )
    two = global_row_number(
        orders,
        [h, F.col("o_orderkey")],
        out_col="rn2",
        bucket_key=F.conv(F.substring(h, 1, 13), 16, 10).cast("long"),
    ).select("o_orderkey", "rn2")
    j = naive.join(two, "o_orderkey")
    assert j.filter(F.col("rn") != F.col("rn2")).count() == 0


def test_heavy_tie_block_stays_exact(spark):
    """All-equal bucket keys collapse to one bucket (the degenerate
    skew case): ranks must still be exact and unique."""
    df = spark.range(500).select(
        F.lit(1.0).alias("v"), F.col("id").alias("k")
    )
    ranked = global_row_number(df, ["v", "k"], out_col="rn")
    rows = ranked.orderBy("k").select("rn").collect()
    assert [r["rn"] for r in rows] == list(range(1, 501))


def test_infinite_bucket_keys_rank_exactly(spark):
    """A bucket key holding ±inf yields ±inf quantile cuts; each must be
    written as a real double literal (not ``infD``, which parses as a
    column name) and the ranks must equal the naive window's."""
    inf = float("inf")
    vals = [-inf] * 200 + [-2.5, 0.0, 1e-05, 7.0, 1.5e300] * 20 + [inf] * 200
    df = spark.createDataFrame(
        [(v, k) for k, v in enumerate(vals)], "v double, k long"
    )
    naive = df.select(
        "k", F.row_number().over(Window.orderBy("v", "k")).alias("rn")
    )
    two = global_row_number(df, ["v", "k"], out_col="rn2", num_buckets=8)
    j = naive.join(two.select("k", "rn2"), "k")
    assert j.count() == len(vals)
    assert j.filter(F.col("rn") != F.col("rn2")).count() == 0


def test_sql_double_literals_are_exact_and_finite_checked(spark):
    """Every finite double round-trips through its literal; NaN is
    rejected instead of reaching the SQL string."""
    from rclabsapi_spark.functions.scalars import sql_double

    xs = [1e-05, -2.5, 1.5e300, 0.1, -0.0, float("inf"), -float("inf")]
    row = spark.range(1).select(
        *[F.expr(sql_double(x)).alias(f"x{i}") for i, x in enumerate(xs)]
    ).first()
    assert list(row) == xs
    with pytest.raises(ValueError):
        sql_double(float("nan"))


def test_no_full_data_single_partition_sort(spark, orders):
    """The whole point: the full-relation window is partitioned by the
    threshold bucket; the only SinglePartition exchange is the ≤B-row
    offsets relation (tagged __rank_bkt)."""
    df = global_row_number(
        orders, ["o_totalprice", "o_orderkey"], out_col="rn"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "hashpartitioning(__rank_bkt" in plan
    # every SinglePartition line in this plan belongs to the bounded
    # offsets subtree, whose expressions all reference __rank_bkt
    for line in plan.splitlines():
        if "SinglePartition" in line:
            assert "__rank" in plan  # offsets subtree present


def test_shuffle_shards_even_and_deterministic(spark, orders):
    from rclabsapi_spark.llm.training import shuffle_shards

    out = shuffle_shards(orders, key_col="o_orderkey", n_shards=8)
    sizes = out.groupBy("shard").count().collect()
    counts = sorted(r["count"] for r in sizes)
    assert len(sizes) == 8
    assert counts[-1] - counts[0] <= 1  # exactly-even round robin
    # reproducible: a second derivation pairs identically
    again = shuffle_shards(orders, key_col="o_orderkey", n_shards=8)
    diff = (
        out.join(
            again.withColumnRenamed("shard", "s2").withColumnRenamed(
                "pos_in_shard", "p2"
            ),
            "o_orderkey",
        )
        .filter(
            (F.col("shard") != F.col("s2"))
            | (F.col("pos_in_shard") != F.col("p2"))
        )
        .count()
    )
    assert diff == 0


def test_incremental_lsh_finds_planted_near_dup(spark):
    """A re-crawled page (one-token edit) in the new batch must pair
    with its corpus original at high Jaccard; unrelated docs must not.
    Storage hygiene: verification caches nothing, so the only stored
    RDD a call leaves is the eager checkpoint of its result
    (materialize=True default)."""
    from rclabsapi_spark.llm.dedup import incremental_lsh_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words entirely here now "
                        "nothing shared with anything else at all truly")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base.replace("kappa", "kappa2")),
         (11, "another unrelated document about weather patterns and "
              "ocean currents in the southern hemisphere today")],
        "doc_id long, text string",
    )
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    pairs = incremental_lsh_pairs(new, corpus, max_bucket_size=None)
    rows = {(r["new_doc"], r["corpus_doc"]): r["jaccard"]
            for r in pairs.collect()}
    # one token edited out of 20 → 3 of ~21 union shingles differ
    assert (10, 1) in rows and rows[(10, 1)] > 0.6
    assert all(k == (10, 1) for k in rows)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    # only the (pair-sized) eager checkpoint of the held result
    # lingers — the graph-kernel pattern
    assert after - before <= 1, (before, after)


def test_temperature_sample_rates_and_determinism(spark):
    """τ→0 approaches uniform: with two strata 400/100 and τ=0.5, the
    small stratum's keep rate must exceed the large one's by ~2×
    (√400/√100 = 2 in share, ×4 in per-row rate); τ=1 reproduces
    natural proportions (equal rates)."""
    from rclabsapi_spark.llm.sampling import temperature_sample

    rows = [(i, "big") for i in range(400)] + [
        (1000 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = temperature_sample(
        df, key_col="doc_id", strat_col="source", tau=0.5,
        target_total=100.0, salt="t:",
    )
    counts = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    # expected keep rates: big = 100·(20/30)/400 = 1/6,
    # small = 100·(10/30)/100 = 1/3 — md5 buckets land within a few %
    assert 40 <= counts.get("big", 0) <= 95
    assert 20 <= counts.get("small", 0) <= 50
    assert counts["small"] / 100 > counts["big"] / 400  # upweighted
    again = temperature_sample(
        df, key_col="doc_id", strat_col="source", tau=0.5,
        target_total=100.0, salt="t:",
    )
    assert again.select("doc_id").subtract(
        kept.select("doc_id")
    ).count() == 0
    assert kept.count() == again.count()


def test_weighted_sample_ungrouped_uses_two_phase_rank(spark):
    """Ungrouped Efraimidis–Spirakis sampling must match the naive
    global-window result exactly while planning the bucketed rank, not
    a single-partition corpus sort."""
    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.sampling import weighted_sample_k

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7 + 1).cast("double").alias("w"),
    )
    out = weighted_sample_k(
        df, key_col="k", weight_col="w", k=25, salt="ws:"
    )
    got = sorted(r["k"] for r in out.collect())
    # naive reference: same score formula, global window
    u_int = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("k").cast("string"))), 1, 8),
        16, 10,
    ).cast("double")
    score = -F.log((u_int + 1.0) / float(16**8)) / F.col("w")
    naive = (
        df.withColumn("s", score)
        .orderBy(F.col("s").asc(), F.col("k"))
        .limit(25)
    )
    assert got == sorted(r["k"] for r in naive.collect())
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "hashpartitioning(__rank_bkt" in plan
