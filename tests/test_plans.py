"""Physical-plan regression tests: the scan/shuffle/broadcast properties
the engine is designed around must not silently regress. These assert on
the OPTIMIZED PLAN shape, not timings — stable under hardware noise."""

from __future__ import annotations

import inspect
import re
from collections import Counter

import pytest

from rclabsapi_spark.registry import registered

from .conftest import SF_CORRECT, build_query_df

_REG = registered()


def _fn(spark, name: str):
    """Build a registered query's DataFrame for plan inspection —
    session-memoized (conftest.build_query_df): plan reads are
    side-effect-free, and the fleet-wide sweeps each re-built all ~240
    plans before the r17 consolidation. Queries whose production path
    eagerly localCheckpoints (graph kernels, IVF probe) expose a
    ``materialize`` kwarg; the builder passes False so the real
    pre-checkpoint plan is inspected instead of ``Scan ExistingRDD``."""
    return build_query_df(spark, name)


def _plan(spark, name: str) -> str:
    df = _fn(spark, name)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def _scans(plan: str) -> Counter:
    return Counter(re.findall(r"file:[^\],\s]*?(\w+)\.parquet", plan))


def test_monitor_pipeline_single_scan_one_exchange(spark):
    plan = _plan(spark, "monitor_jobs_pipeline")
    assert _scans(plan)["orders"] == 1
    assert plan.count("Exchange") <= 1  # the TakeOrdered/limit only
    assert "PushedFilters" in plan


def test_tpch_q5_broadcasts_dims(spark):
    plan = _plan(spark, "tpch_q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 3  # region/nation/customer chain
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        assert _scans(plan)[t] == 1, t


def test_aggregates_are_single_scan(spark):
    """The A-family rollups must stay one-scan/one-shuffle."""
    for name in (
        "a3_metric_rollup_by_group",
        "a14_baseline_comparison",
        "a12_batch_accounting",
    ):
        plan = _plan(spark, name)
        assert sum(_scans(plan).values()) == 1, name
        assert plan.count("Exchange") <= 2, name


def test_p16_single_scan_flag(spark):
    plan = _plan(spark, "p16_required_field_split")
    assert _scans(plan)["documents"] == 1
    assert plan.count("Exchange") == 0


def test_rate_limit_dual_single_scan(spark):
    plan = _plan(spark, "st5_rate_limit_dual_windows")
    assert _scans(plan)["events"] == 1
    assert "Join" not in plan  # rule match is compiled, hour grain windowed


def test_scan_pruning_reads_needed_columns_only(spark):
    """Column pruning: q1 reads 6 lineitem columns, not all 11.
    (ReadSchema only appears in formatted explain mode.)"""
    df = _REG["tpch_q1_pricing_summary"].fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert set(cols) == {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }


def test_self_join_queries_at_scan_minimum(spark):
    """Self-join shapes may scan their table at most twice."""
    for name, table in (
        ("dedup_ngram_jaccard", "documents"),
        ("setop_except", "events"),
    ):
        plan = _plan(spark, name)
        assert _scans(plan)[table] <= 2, name


def test_minhash_band_shuffle_carries_signatures_only(spark):
    """The LSH band shuffle carries signatures only, and verification
    is two key joins to the documents' text with Jaccard computed in
    the projection: nothing cached, at most two physical document scans
    (the signature pass and the text side both joins read through one
    reused exchange), no shingle-set aggregate, and the only
    collect_list is the band buckets' member-key list — no per-pair
    regroup."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_REG["dedup_minhash_lsh"].fn(spark, SF_CORRECT))
    assert counts["cached"] == 0
    assert scans["documents"] <= 2
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "collect_set" not in plan
    assert set(re.findall(r"collect_list\((\w+)#", plan)) == {"doc_id"}


def test_samplers_are_scan_only(spark):
    """Hash sampling is a pure filter: one scan, zero exchanges."""
    for name in ("sample_hash", "sample_stratified"):
        plan = _plan(spark, name)
        assert _scans(plan)["documents"] == 1, name
        assert plan.count("Exchange") == 0, name


def test_ivf_topk_reads_one_cached_scan(spark):
    """IVF build+probe share one cached (key, vector) scan — every
    consumer (centroids, query row, assignment, probe, scoring) must
    read the InMemory relation, with zero live parquet re-scans."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "sim_ivf_topk"))
    assert scans.get("embeddings", 0) == 0  # all reads go through the cache
    assert counts["cached"] >= 4


def test_tpch_q21_single_orderkey_exchange_family(spark):
    """Q21's three lineitem branches (base, EXISTS, NOT EXISTS) all key on
    l_orderkey; supplier/nation must broadcast onto the reduced rows."""
    plan = _plan(spark, "tpch_q21_waiting_suppliers")
    assert _scans(plan)["lineitem"] == 3
    assert plan.count("BroadcastHashJoin") >= 2  # supplier + nation
    # semi/anti pair on the same key
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_tpch_q17_broadcasts_threshold_relation(spark):
    """Q17's per-part AVG threshold must come back as a broadcast, not a
    shuffled join against the fact."""
    plan = _plan(spark, "tpch_q17_small_qty_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # part dim + threshold rel
    assert _scans(plan)["lineitem"] == 2  # threshold pass + probe pass


def test_tpch_q2_window_not_per_part_rescan(spark):
    """Q2's correlated MIN decorrelates to a window over p_partkey — the
    supply relation is scanned once, not once per part."""
    plan = _plan(spark, "tpch_q2_min_bal_supplier")
    assert _scans(plan)["lineitem"] == 1
    assert "Window" in plan


def test_tpch_q13_two_reductions_only(spark):
    """Q13: histogram = exactly the two aggregations (per-customer count,
    then count-distribution), plus the join shuffle."""
    plan = _plan(spark, "tpch_q13_customer_distribution")
    assert sum(_scans(plan).values()) == 2
    assert plan.count("HashAggregate") <= 5  # 2 logical aggs × partial/final + partial on join key


def test_train_pack_single_shard_shuffle(spark):
    """Sequence packing: one exchange on the shard key feeds both the
    window and the bin group-by (same partitioning)."""
    plan = _plan(spark, "train_pack_sequences")
    assert _scans(plan)["documents"] == 1
    assert "Window" in plan


def test_train_unigram_vocab_broadcasts(spark):
    """Unigram scoring: the trained model joins back by broadcast; the
    word relation is never shuffled by word for the scoring join."""
    plan = _plan(spark, "train_unigram_lm_score")
    assert plan.count("BroadcastHashJoin") >= 1


def test_scd2_single_entity_key_exchange(spark):
    """SCD2: the per-instant dedup, change lag, and validity lead all
    reuse ONE hashpartitioning on the entity key — no second shuffle."""
    plan = _plan(spark, "ts_scd2_intervals")
    assert _scans(plan)["events"] == 1
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(key" in plan


def test_gap_fill_single_scan_single_exchange(spark):
    """Gap-fill: run-emission design — one scan, one key exchange shared
    by the bucket aggregate and both window passes, exactly two Window
    operators (ascending lead+ffill, descending ignore-nulls next-lookup
    — the second is a sort, not a shuffle; the spine-join formulation
    scanned and shuffled twice and its unbounded-following lookup was
    O(rows²) per key)."""
    plan = _plan(spark, "ts_gap_fill_interpolate")
    assert _scans(plan)["events"] == 1
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 2
    assert "unboundedpreceding$(), -1" in plan  # running frame, not UNB FOLLOWING


def test_chunking_and_split_are_scan_only(spark):
    """Sliding-window chunking and split assignment are pure per-row
    codegen (sequence/posexplode/slice, md5-bucket CASE): one scan,
    zero exchanges."""
    for name in ("train_chunk_sliding", "train_split_assign"):
        plan = _plan(spark, name)
        assert _scans(plan)["documents"] == 1, name
        assert plan.count("Exchange") == 0, name


def test_incremental_dedup_hash_clustered(spark):
    """Incremental dedup: each relation shuffles ONCE on the 32-byte
    hash (batch window + store distinct); the join adds no extra
    repartition of either side."""
    plan = _plan(spark, "dedup_incremental")
    assert _scans(plan)["documents"] == 2  # batch + fingerprint store
    assert plan.count("Exchange hashpartitioning") == 2
    assert "hashpartitioning(text_hash" in plan


def test_token_savings_single_scan_no_join(spark):
    """Token-savings report: ONE pruned documents scan (doc_id, text,
    source — ReadSchema only), keeper resolved by a digest-partitioned
    window MIN (no self-join), then the tiny per-source rollup — two
    exchanges total, bodies never shuffle (post-scan rows carry the
    32-byte md5, not text)."""
    plan = _plan(spark, "dedup_token_savings")
    assert _scans(plan)["documents"] == 1
    assert plan.count("Exchange") == 2  # md5-window + source rollup
    assert "hashpartitioning(h" in plan
    assert "Join" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string" in plan


def test_cohort_retention_single_scan_user_clustered(spark):
    """Cohort retention: ONE fact scan, ONE user_id exchange shared by
    the distinct, the min-week window, and the per-user rows feeding the
    final small (cohort, offset) aggregate — no firsts join, no
    count-distinct expand."""
    plan = _plan(spark, "w_cohort_retention")
    assert _scans(plan)["events"] == 1
    assert plan.count("Exchange") == 2  # user_id + tiny final agg
    assert "hashpartitioning(user_id" in plan
    assert "Expand" not in plan


def test_funnel_single_scan_user_clustered(spark):
    """Ordered funnel: ONE fact scan; the two stacked running-min window
    passes and the per-user flag aggregate all reuse one user_id
    exchange; only the 3-row unpivot gathers to a single partition."""
    plan = _plan(spark, "w_funnel_stages")
    assert _scans(plan)["events"] == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(user_id" in plan


def test_heartbeat_gaps_single_scan_single_exchange(spark):
    """Heartbeat audit: lag window, gap aggregate, and tail aggregate
    all cluster on user_id — one scan, one exchange."""
    plan = _plan(spark, "dq_heartbeat_gaps")
    assert _scans(plan)["events"] == 1
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_fk_orphans_broadcasts_dims(spark):
    """FK audit: every dimension side is broadcast (the fact sides are
    never shuffled for the anti joins); each fact table is scanned once
    per FK it participates in, no more."""
    plan = _plan(spark, "dq_fk_orphans")
    assert plan.count("BroadcastHashJoin") >= 5
    assert plan.count("SortMergeJoin") == 0


def test_a16_by_group_single_scan(spark):
    """Per-group exact percentiles: one scan, one group-key exchange."""
    plan = _plan(spark, "a16_percentiles_by_group")
    assert _scans(plan)["orders"] == 1
    assert plan.count("Exchange") == 1


def test_asof_forward_single_exchange_key(spark):
    """Forward as-of: the union-window design shuffles on user_id only
    (both branches), never sort-merges a range join."""
    plan = _plan(spark, "j_asof_forward")
    assert _scans(plan)["events"] == 2  # clicks + purchases branches
    assert "hashpartitioning(user_id" in plan
    assert "SortMergeJoin" not in plan


def test_quality_curriculum_two_scans_no_selfjoin(spark):
    """Curriculum sampling: one tiny quartile-bounds aggregate whose
    single row broadcasts onto the filter pass — the keep decision is a
    per-row expression against the broadcast bounds, never a shuffled
    docs⋈docs join."""
    plan = _plan(spark, "sample_quality_curriculum")
    assert _scans(plan)["documents"] == 2  # bounds agg + filter pass
    assert "SortMergeJoin" not in plan
    assert "IdentityBroadcastMode" in plan  # the 1-row bounds relation


def test_split_contamination_fingerprints_only(spark):
    """Split-contamination audit: in the FINAL adaptive plan every
    cross-split join runs broadcast on md5 fingerprints (AQE converts
    the static sort-merge once it sees the split sizes); document
    bodies are never shuffled."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(
        _REG["train_split_contamination"].fn(spark, SF_CORRECT)
    )
    assert scans["documents"] == 3  # train fingerprints + val + test
    assert counts["bhj"] >= 2
    assert counts["smj"] == 0


def test_incremental_dedup_store_side_fingerprints(spark):
    """Incremental dedup: batch window + store distinct cluster on the
    32-byte hash; the store side projects the fingerprint column only."""
    plan = _plan(spark, "dedup_incremental")
    assert _scans(plan)["documents"] == 2
    assert "hashpartitioning(text_hash" in plan


def test_retrieval_single_cached_corpus_scan(spark):
    """TF-IDF and BM25 materialize the postings index once: every
    statistic (df, dl, avgdl) reads the cache, the only live parquet
    read is the count-only corpus-size scan, and top-k is TakeOrdered
    (no full sort)."""
    from rclabsapi_spark.planaudit import audit

    for name, min_cached in (("retr_tfidf_topk", 2), ("retr_bm25_topk", 4)):
        scans, counts = audit(_REG[name].fn(spark, SF_CORRECT))
        assert scans.get("documents", 0) <= 1, name  # count-only N scan
        assert counts["cached"] >= min_cached, name
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_path_queries_single_scan_user_clustered(spark):
    """Markov transitions and trigram paths: ONE fact scan, the per-user
    sequence window is the only fact-sized exchange; later reductions
    are |types|-sized."""
    p = _plan(spark, "path_transitions")
    assert _scans(p)["events"] == 1
    assert p.count("Exchange") == 3  # user window, pair agg, from_type window
    assert "hashpartitioning(user_id" in p
    p = _plan(spark, "path_top_trigrams")
    assert _scans(p)["events"] == 1
    assert p.count("Exchange") == 2
    assert "TakeOrderedAndProject" in p


def test_rfm_cached_aggregate_threshold_ranks(spark):
    """RFM (r17 chained shape): the per-customer aggregate is cached
    (one fact reduction; the chained spine + three bucket-size branches
    read it) and the three quartiles run as ONE chained pass of
    percentile-threshold two-phase ranks — three bucket-partitioned
    windows plus three broadcast offset joins, never a full-data
    single-partition ntile sort and NO per-dimension key-join exchange
    (the r16 shape equi-joined each ranked branch back on the customer
    key)."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "rfm_segments"))
    assert scans.get("orders", 0) == 0  # all reads go through the cache
    assert counts["cached"] >= 4  # spine + 3 size branches
    assert counts["smj"] == 0
    assert counts["bhj"] >= 3  # one broadcast offsets join per dimension
    p = _plan(spark, "rfm_segments")
    assert "hashpartitioning(__rank_bkt" in p  # bucketed, not global, sort
    # the customer key appears in NO exchange outside the cached
    # aggregate itself — the three rank join-backs are gone
    body = p.split("InMemoryRelation", 1)[0]
    assert "hashpartitioning(o_custkey" not in body


def test_mad_anomaly_cached_daily_broadcast_medians(spark):
    """MAD anomalies: the daily aggregate is cached (3 consumers, one
    fact reduction), both median relations broadcast back — no
    sort-merge join, no repeated fact scan."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_REG["anomaly_mad_daily"].fn(spark, SF_CORRECT))
    assert scans.get("events", 0) <= 1
    assert counts["cached"] >= 2
    assert counts["bhj"] >= 2
    assert counts["smj"] == 0


def test_pivot_single_conditional_aggregate(spark):
    """Explicit pivot values compile to one conditional aggregate over
    one scan — no distinct-values pre-pass."""
    p = _plan(spark, "pivot_status_priority")
    assert _scans(p)["orders"] == 1
    assert p.count("Exchange") <= 2


def test_heavy_hitters_one_exchange(spark):
    """Per-group heavy hitters: the explicit group-key repartition is
    the ONLY exchange — the (group, item) aggregate and the ranking
    window both reuse it."""
    p = _plan(spark, "hh_top_events_per_user")
    assert _scans(p)["events"] == 1
    assert p.count("Exchange") == 1
    assert "hashpartitioning(user_id" in p


def test_inc_agg_partial_then_merge(spark):
    """Incremental-aggregate maintenance: one scan, the partial
    aggregate exchange plus the merge exchange — nothing else."""
    p = _plan(spark, "inc_agg_daily_merge")
    assert _scans(p)["events"] == 1
    assert p.count("Exchange") == 2


def test_concurrency_one_fact_exchange(spark):
    """Sweep line: the +1/−1 point union is netted on the pre-partitioned
    group key — the repartition is the only fact-sized exchange; peak
    extraction broadcasts the tiny per-group maxima back."""
    p = _plan(spark, "ts_concurrency_peak")
    assert _scans(p)["events"] == 2  # start points + end points branches
    assert "hashpartitioning(g" in p
    assert "Join" not in p  # peak is a window over the same clustering
    assert p.count("Exchange") <= 2


def test_seasonal_naive_joins_reduced_series(spark):
    """The week-shift self-join runs on the aggregated daily relation
    (broadcast), never on the fact table."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_REG["forecast_seasonal_naive"].fn(spark, SF_CORRECT))
    assert scans.get("events", 0) <= 2  # both sides reduce before joining
    assert counts["bhj"] >= 1
    assert counts["smj"] == 0


def test_psi_single_bin_aggregate(spark):
    """PSI: global bounds broadcast back (BroadcastNestedLoop on the
    1-row bounds relation), one (group, bin) aggregate over the fact,
    shares/fold on the |groups|·n_bins relation."""
    p = _plan(spark, "drift_psi_value")
    assert _scans(p)["events"] == 2  # bounds pass + binning pass
    assert "SortMergeJoin" not in p


def test_changepoint_windows_cluster_on_group(spark):
    """CUSUM: one fact reduction to the daily series; every window
    (prefix sum, rank, totals) clusters on event_type."""
    p = _plan(spark, "changepoint_mean_shift")
    assert _scans(p)["events"] == 1
    assert "hashpartitioning(event_type" in p
    assert "SortMergeJoin" not in p


def test_fuzzy_linkage_blocked_join_no_cartesian(spark):
    """Blocked fuzzy matching must join on the block key — no cartesian
    product, no all-pairs join. Block sizes are an aggregate joined
    back (AQE-skew-splittable), not a count-over-block window (window
    skew cannot be split), so the size pass adds a pruned scan."""
    from rclabsapi_spark.planaudit import audit

    p = _plan(spark, "link_fuzzy_names")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p  # sizes via aggregate, never window skew
    scans, counts = audit(_fn(spark, "link_fuzzy_names"))
    assert counts["cached"] >= 2  # both pair sides read the cached subs


def test_basket_pairs_basket_keyed_join(spark):
    """Market basket: the pair-gen joins on the basket id (equi-join);
    supports and N broadcast back; top-k is TakeOrdered."""
    p = _plan(spark, "mba_pair_lift")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in p


def test_pmi_single_doc_shuffle(spark):
    """PMI: posexplode + adjacency lead share the doc-key clustering;
    unigram/total relations broadcast back; top-k is TakeOrdered."""
    p = _plan(spark, "text_pmi_collocations")
    assert "hashpartitioning(doc" in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_cms_sketch_fixed_size_broadcasts(spark):
    """Count-Min: the sketch is a depth×width relation joined to the
    queried items via broadcast — the fact table shuffles only (seed,
    bucket) pairs."""
    p = _plan(spark, "approx_cms_bound")
    assert p.count("BroadcastHashJoin") == 2  # sketch lookup + exact join
    assert "SortMergeJoin" not in p


def test_sample_k_per_group_one_exchange(spark):
    """Per-group k-sample: the ranking window's group-key exchange is the
    only shuffle."""
    p = _plan(spark, "sample_k_per_group")
    assert _scans(p)["events"] == 1
    assert p.count("Exchange") == 1
    assert "hashpartitioning(event_type" in p


def test_weighted_sample_one_exchange(spark):
    """A-Res weighted sampling: the per-group ranking window's exchange
    is the only shuffle; scoring is per-row codegen."""
    p = _plan(spark, "sample_weighted_ares")
    assert _scans(p)["orders"] == 1
    assert p.count("Exchange") == 1
    assert "hashpartitioning(o_orderstatus" in p


def test_attribution_user_clustered(spark):
    """Last-touch: one fact exchange (the per-user ordered window); the
    channel rollup and share window run on the |types| relation."""
    p = _plan(spark, "attr_last_touch")
    assert _scans(p)["events"] == 1
    assert "hashpartitioning(user_id" in p
    assert "Join" not in p


def test_profile_single_scan_no_fact_shuffle(spark):
    """Table profile: one scan, one global aggregate (the multi-distinct
    expand), unpivot is driver-trivial."""
    p = _plan(spark, "dq_profile_orders")
    assert _scans(p)["orders"] == 1
    assert "Join" not in p


def test_triangle_count_no_cartesian_cached_orientation(spark):
    """Triangles: wedge-gen and closure are equi-joins over the cached
    oriented edge relation — no cartesian product, no repeated fact
    dedup."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "graph_triangles_coorder"))
    assert counts["cached"] >= 2  # canonical edges + oriented edges
    p = _plan(spark, "graph_triangles_coorder")
    assert "CartesianProduct" not in p


def test_pagerank_broadcast_iterations(spark):
    """PageRank: every per-iteration join broadcasts the |nodes|-sized
    rank relation; no sort-merge join appears."""
    p = _plan(spark, "graph_pagerank_transitions")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3


def test_boilerplate_single_posting_aggregate(spark):
    """Boilerplate mining: explode → one gram aggregate → TakeOrdered."""
    p = _plan(spark, "clean_boilerplate_ngrams")
    assert _scans(p)["documents"] == 1
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p


def test_histogram_threshold_bucketed_rank(spark):
    """Equi-depth histogram: the ntile runs as a percentile-threshold
    two-phase rank — a bucket-partitioned window over a 2-column pruned
    scan plus the ≤B-row broadcast offset join; the value/key pass and
    the bucket-size pass are the only fact reads."""
    p = _plan(spark, "a_histogram_equidepth")
    assert _scans(p)["orders"] <= 2  # rank pass + bucket-size pass
    assert "hashpartitioning(__rank_bkt" in p
    assert "SortMergeJoin" not in p


def test_chi2_contingency_windows_only(spark):
    """χ²: one fact aggregate to the contingency cells; margins are
    windows over that tiny relation — no joins, no second scan."""
    p = _plan(spark, "stat_chi2_status_priority")
    assert _scans(p)["orders"] == 1
    assert "Join" not in p


def test_corr_single_scan_single_aggregate(spark):
    """Correlation matrix: all pairwise co-moment folds in ONE scan and
    one global aggregate — no per-pair passes."""
    p = _plan(spark, "stat_corr_lineitem")
    assert _scans(p)["lineitem"] == 1
    assert p.count("Exchange") == 1  # the single global-agg exchange
    assert "Join" not in p


def test_entropy_single_aggregate(spark):
    p = _plan(spark, "text_source_entropy")
    assert _scans(p)["documents"] == 1
    assert "Join" not in p


def test_quantize_bounds_broadcast(spark):
    """Quantization audit: per-dim bounds broadcast back to the flat
    relation; no sort-merge join on the exploded fact."""
    p = _plan(spark, "emb_quantize_error")
    assert _scans(p)["embeddings"] == 2  # bounds pass + error pass
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_session_native_single_exchange(spark):
    """Native session_window: one fact exchange on the user key; the
    merge happens inside the session-window aggregate."""
    p = _plan(spark, "w_session_native")
    assert _scans(p)["events"] == 1
    assert "Join" not in p


def test_winsorize_bounds_broadcast(spark):
    """Winsorization: exact per-type percentile bounds broadcast back to
    the fact scan; no sort-merge join."""
    p = _plan(spark, "clean_winsorize_value")
    assert _scans(p)["events"] == 2  # bounds pass + clipping pass
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_ks_single_type_clustered_exchange(spark):
    """KS drift: the explicit type repartition serves the (type, value)
    aggregate AND both prefix-sum windows — one fact exchange."""
    p = _plan(spark, "stat_ks_value_drift")
    assert _scans(p)["events"] == 1
    assert p.count("Exchange") == 1
    assert "hashpartitioning(event_type" in p


def test_cube_single_expand_aggregate(spark):
    """CUBE: one scan, the grouping-sets Expand feeds one aggregate."""
    p = _plan(spark, "agg_cube_status_priority")
    assert _scans(p)["orders"] == 1
    assert "Expand" in p
    assert "Join" not in p


def test_no_accidental_cartesian_anywhere(spark):
    """Fleet-wide structural invariant: no registered query's optimized
    plan may contain a CartesianProduct, and every
    BroadcastNestedLoopJoin must be one of the audited 1-row/K-row
    broadcast relations (global bounds, corpus totals, sketch scalars).
    A new query that accidentally cross-joins two fact relations fails
    here before it ever reaches a cluster."""
    # queries whose plans legitimately carry a BNLJ against a ≤K-row
    # broadcast side (global aggregates joined back); reviewed in
    # SCALE.md — additions require the same review
    bnlj_whitelist = {
        # scalar/global-aggregate subquery joined back (TPC-H value
        # threshold shapes)
        "tpch_q11_important_parts",
        "tpch_q22_dormant_customers",
        # corpus totals / N broadcast (1-row)
        "retr_bm25_topk",
        "retr_tfidf_topk",
        "train_unigram_lm_score",
        # 1-row corpus-total broadcast inherited via the unigram-LM
        # composition (same relation as train_unigram_lm_score's)
        "text_quality_vs_lm",
        "text_pmi_collocations",
        "approx_cms_bound",
        "approx_mg_topk_bound",
        "mba_pair_lift",
        # 1-row temperature normalizer Z = Σ n_s^τ broadcast back
        "sample_temperature",
        # 1-row (Z, total-tokens) normalizer broadcast onto the
        # |sources| schedule relation
        "train_epoch_mixture",
        # 1-row gridded (Z, total-docs) normalizer broadcast onto the
        # cached |domains| relation
        "clean_crawl_budget",
        # 1-row macro recall verdict (exact integer hit ratio) broadcast
        # onto the |labels| drift relation — the retrain gate join
        "sim_drift_retrain_gate",
        # per-round 1-row best-pair argmax broadcast onto the vocab
        "train_bpe_merges",
        # 1-row bucket-histogram totals broadcast into the ratio table
        "sample_dsir_weights",
        # per-round 1-row MMR argmax broadcast onto the candidates
        "retr_mmr_rerank",
        # global bounds / quartiles / centroid tables (≤K rows)
        "drift_psi_value",
        "stat_ks_value_drift",
        "sample_quality_curriculum",
        "dedup_semantic",
        "sim_bruteforce_topk",
        "sim_ivf_assignments",
        "sim_ivf_topk",
        "graph_triangles_coorder",
        "graph_pagerank_transitions",
        # r7 feature/audit queries: 1-row location/scale stats
        # (mean+stddev, median+MAD, global target mean), the 1-row ring
        # size N, the 1-row top-k count sum, and the 3-row ANN query
        # relation — all broadcast global aggregates joined back
        "feat_standardize_z",
        "feat_robust_scale",
        "feat_target_encode",
        "feat_negatives",
        "dq_skew_report",
        "sim_ann_recall",
        "sim_ivf_recall",  # same 3-row query relation, IVF tier
        # K-row centroid broadcasts (the ivf_assign shape) + the 3-row
        # query relation, for both incremental-maintenance audits
        "sim_ivf_incremental_churn",
        "sim_ivf_incremental_recall",
        # empty⇒pass-all subscription-rule relation (tiny, by contract)
        "p9_subscription_routing",
        # corpus totals / avgdl 1-row broadcasts (the retr_* pattern)
        # plus the 1-row top-15-overlap count joined onto the 1-row
        # sufficient-statistics aggregate
        "retr_score_agreement",
    }
    offenders = {}
    for name in sorted(_REG):
        plan = _plan(spark, name)
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in bnlj_whitelist:
            offenders[name] = "unreviewed BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_feature_transforms_stay_codegen_scan_shapes(spark):
    """r7 feature queries: pure-Column encoders are scan-only (zero
    exchange, pruned projection); aggregate-parameterized scalers stay
    at their pass minimum (one scan for the stats aggregate + one for
    the transform; median/MAD needs the second sequential pass)."""
    for name in ("feat_one_hot_status", "feat_hash_bucket"):
        plan = _plan(spark, name)
        assert plan.count("Exchange") == 0, name
        assert _scans(plan)["orders"] == 1, name
    plan = _plan(spark, "feat_standardize_z")
    assert _scans(plan)["orders"] == 2  # stats pass + transform pass
    plan = _plan(spark, "feat_quantile_transform")
    assert _scans(plan)["orders"] <= 2  # rank pass + bucket-size pass
    assert "hashpartitioning(__rank_bkt" in plan  # bucketed, not global
    plan = _plan(spark, "feat_robust_scale")
    assert _scans(plan)["orders"] <= 4  # med, MAD (re-reads med), out
    plan = _plan(spark, "feat_target_encode")
    assert _scans(plan)["orders"] <= 3  # rows, fold stats, global mean
    assert "SortMergeJoin" not in plan  # fold stats broadcast back


def test_negatives_single_explode_branch(spark):
    """sample_negatives must generate its 2k candidate offsets from ONE
    explode branch — the per-offset union re-scans and re-sorts the
    ranked relation 2k+1 times (caught in r7: 9 scans for k=2). The
    two-phase rank prints extra pre-reuse branches in the plan string,
    so count EXECUTED scans (ReusedExchange collapses the rank's
    bucket-size pass onto the anchors pass)."""
    from rclabsapi_spark.planaudit import audit

    scans, _counts = audit(_fn(spark, "feat_negatives"))
    assert scans["documents"] <= 3  # anchors, candidates, N


def test_ew_variance_single_scan_single_exchange(spark):
    plan = _plan(spark, "w_ew_variance")
    assert _scans(plan)["events"] == 1
    assert plan.count("Exchange") == 1  # the per-key fold aggregate


def test_rolling_corr_one_fact_exchange_then_window(spark):
    """Daily aggregate + the five co-moment frames: one fact exchange
    for the (type, day) aggregate, one window exchange on type — the
    five rolling sums share a single sort."""
    plan = _plan(spark, "ts_rolling_corr")
    assert _scans(plan)["events"] == 1
    assert plan.count("Exchange") <= 2
    assert plan.count("Window") == 1


def test_zipf_and_langid_eval_reduce_once(spark):
    plan = _plan(spark, "text_zipf_fit")
    # vocab rank pass + bucket-size pass (both over the token aggregate)
    assert _scans(plan)["documents"] <= 2
    assert "hashpartitioning(__rank_bkt" in plan
    plan = _plan(spark, "text_langid_confusion")
    # scoring scan + truth scan joined on the key, one |langs|² aggregate
    assert _scans(plan)["documents"] == 2
    assert plan.count("SortMergeJoin") <= 1


def test_skew_report_reduces_fact_once_per_consumer(spark):
    """Gini/top-share math runs on the per-key count relation; the fact
    appears once per count consumer (ranked prefix, bucket sizes,
    totals, top-k), never per derived statistic — and the Gini rank is
    a bucketed two-phase rank, not a global sort."""
    plan = _plan(spark, "dq_skew_report")
    assert _scans(plan)["events"] <= 4
    assert "hashpartitioning(__rank_bkt" in plan


def test_span_corruption_doc_clustered_no_python(spark):
    """Span corruption is whole-stage codegen over a doc-key clustering:
    no Python runners in the plan, documents scanned once per branch
    (masked input + span stats)."""
    plan = _plan(spark, "train_span_corruption")
    assert "Python" not in plan  # no UDF/mapInPandas in the hot path
    assert _scans(plan)["documents"] <= 2


def test_pq_adc_scan_is_joinless(spark):
    """The whole point of PQ at 100 TB: scoring reads codes + literal
    lookup tables — the scored relation carries NO join of any kind and
    ONE corpus scan."""
    plan = _plan(spark, "sim_pq_adc")
    assert _scans(plan)["embeddings"] == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert j not in plan, j


def test_cluster_audit_no_forced_broadcast(spark):
    """The cluster map join must stay AQE-chosen (equi-join), never a
    forced broadcast — one row per clustered doc is unbounded at corpus
    scale (r6 verdict, What's wrong #2)."""
    from rclabsapi_spark.llm.dedup import cluster_quality_audit

    import inspect

    src = inspect.getsource(cluster_quality_audit)
    assert "F.broadcast" not in src
    plan = _plan(spark, "dedup_cluster_audit")
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Fleet-wide single-partition invariant (the second scale-killer class,
# alongside test_no_accidental_cartesian_anywhere)
# ---------------------------------------------------------------------------

# Queries whose plans legitimately carry a window/sort-fed
# `Exchange SinglePartition` over a CATEGORY-BOUNDED relation — margins
# and shares over aggregates whose row count is a category cardinality
# (event/metric types, channels, sources, contingency cells, cohort
# weeks), not a function of data size. Reviewed in SCALE.md — additions
# require the same review.
SP_WINDOW_WHITELIST = {
    # margins over the per-metric baseline relation (≤|metric types|)
    "a14_baseline_comparison",
    # channel-share window over the |channels| rollup
    "attr_last_touch",
    # margins over the |status|×|priority| contingency cells
    "stat_chi2_status_priority",
    # cumulative budget over the per-source relation (≤|sources|)
    "pipeline_token_budget",
    # cohort-week retention matrix (≤ weeks² cells)
    "w4_retention_caps",
}


def _sp_window_offenders(df) -> list[str]:
    """Walk the (planned, not executed) adaptive physical plan and
    return every `Exchange SinglePartition` that feeds a Window or Sort
    — the full-relation global-sort shape that funnels a 100 TB input
    through one task. The ≤B-row offsets relation of the two-phase rank
    helper (operators/rank.py) is exempt: its exchange subtree is the
    `__rank_bkt` grouped aggregate, bounded by the bucket-count config
    constant."""
    root = df._jdf.queryExecution().executedPlan()
    bad: list[str] = []

    def walk(node, anc):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan(), anc)
            return
        if name.endswith("QueryStage"):
            walk(node.plan(), anc)
            return
        if name == "Exchange":
            sub = node.toString()
            if (
                "SinglePartition" in sub.splitlines()[0]
                and any(
                    a in ("Sort", "Window", "WindowGroupLimit")
                    for a in anc[-2:]
                )
                and "__rank_bkt" not in sub
            ):
                bad.append("<-".join(anc[-2:]))
        children = node.children()
        for i in range(children.length()):
            walk(children.apply(i), anc + [name])

    walk(root, [])
    return bad


def test_no_single_partition_window_anywhere(spark):
    """Fleet-wide structural invariant: no registered query may sort or
    window the full relation on a single partition (`Exchange
    SinglePartition` feeding Sort/Window) outside the reviewed
    category-bounded whitelist. Global ranks must use the
    percentile-threshold two-phase helper (operators/rank.py); 1-row
    global aggregates are fine (their single-partition exchange carries
    per-partition partials, not rows, and feeds an Aggregate node)."""
    offenders = {}
    for name in sorted(_REG):
        if name in SP_WINDOW_WHITELIST:
            continue
        bad = _sp_window_offenders(_fn(spark, name))
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_duplicate_spans_single_scan_fold_aggregate(spark):
    """Duplicate spans: ONE documents scan; word-start spans come from
    a single regex pass with a zero-width word-start anchor (no
    doc-partitioned window — the r8 shape shuffled full text per WORD
    ROW through the window exchange). r16: the posting spreads the
    (doc_id, text) projection by key before the regex stage (the
    shingle_posting precedent — one corpus-bytes exchange, 32-way
    parallel extraction after; the fixture parquet is one unsplittable
    file, so the un-spread regex pass ran serially), so the exchanges
    are that spread plus the span aggregate's two-phase distinct."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_duplicate_spans"))
    assert scans["documents"] == 1
    assert counts["exch"] <= 3  # spread + countDistinct + span agg
    p = _plan(spark, "dedup_duplicate_spans")
    assert "Join" not in p
    assert "Window" not in p  # regex-derived spans, never a window


def test_url_canonicalize_pure_project(spark):
    """URL canonicalization: codegen string expressions over one scan —
    no join, no window, and the ONLY exchange is the explicit narrow
    spread (doc_id/source/lang, tens of bytes per row) that
    parallelizes the regex stage across the cluster (r16: the fixture
    parquet is one unsplittable file, so the un-spread shape ran the
    whole canonicalization in a single scan task). The operator itself
    stays a pure Project over the spread input."""
    p = _plan(spark, "clean_url_canonicalize")
    assert _scans(p)["documents"] == 1
    assert p.count("Exchange") == 1  # the narrow spread, nothing else
    assert "Join" not in p and "Window" not in p


def test_domain_rollup_two_phase_distinct(spark):
    """Domain rollup: one scan, count-distinct expands two-phase (the
    low-cardinality domain key never funnels raw URLs through one
    reducer), no join."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_domain_rollup"))
    assert scans["documents"] == 1
    assert counts["exch"] <= 2
    assert "Join" not in _plan(spark, "dedup_domain_rollup")


def test_epoch_mixture_schedule_small_relations(spark):
    """Epoch-mixture audit: ONE corpus scan reduces to the |sources|
    relation; the 1-row (Z, total) normalizer broadcasts back (the
    reviewed BNLJ category) — everything after the first aggregate is
    stratum-sized."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "train_epoch_mixture"))
    assert scans["documents"] == 1
    assert counts["exch"] <= 3
    assert counts.get("smj", 0) == 0


def test_hard_negative_coverage_composed_joins(spark):
    """Coverage audit: reuses the capped mining plan plus two
    stratum-sized aggregates — broadcast joins only, never a sort-merge
    of the corpus."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "sim_hard_negative_coverage"))
    assert scans["embeddings"] <= 3 and scans["documents"] <= 2
    assert counts.get("smj", 0) == 0


def test_dsir_broadcast_ratio_table(spark):
    """DSIR: the 1024-row log-ratio table must broadcast onto the token
    posting (never shuffle the posting by bucket), and the corpus stays
    at its pass minimum — histogram, scoring, and the totals reuse."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "sample_dsir_weights"))
    assert scans["documents"] <= 3
    assert counts["bhj"] >= 1
    assert counts["smj"] == 0


def test_hard_negatives_bucket_equijoin(spark):
    """Hard-negative mining: the self-join keys on the sign bucket
    (equi-join) with the negative side CAPPED per bucket (md5-ranked
    row_number ≤ C — join work ≤ n·C, linear), and the label relation
    broadcasts — never a cartesian, never a sort-merge of the corpus.
    The cap window breaks exchange reuse, so each side scans once."""
    from rclabsapi_spark.planaudit import audit

    df = _fn(spark, "sim_hard_negatives")
    scans, counts = audit(df)
    assert scans["embeddings"] <= 2 and scans["documents"] <= 2
    assert counts["smj"] == 0
    # the per-bucket candidate cap is in the plan (negative side only)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "hncap:" in plan


def test_mm_frame_dedup_digest_shuffle(spark):
    """Frame dedup: one mapInPandas fan-out, then the aggregate
    shuffles 32-byte digests — the frame bytes never shuffle."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "mm_frame_dedup"))
    assert scans["documents"] == 1
    assert counts["exch"] <= 2
    df = _fn(spark, "mm_frame_dedup")
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"  # simple mode elides the grouping expression
        )
    )
    assert "MapInPandas" in p
    # the digest is the grouping expression, computed map-side before
    # the exchange — the shuffle carries 32-byte keys, not frame bytes
    assert "md5(cast(frame_hex" in p


def test_truncation_audit_single_scan(spark):
    """Truncation audit: ONE embeddings scan feeds one aggregate; the
    per-k rows come from an explode of the single stats row."""
    from rclabsapi_spark.planaudit import audit

    scans, _counts = audit(_fn(spark, "emb_truncation_energy"))
    assert scans["embeddings"] == 1


def test_curation_funnel_one_scan_per_feature_branch(spark):
    """Curation funnel (r16 single-pass shape): all three gate signals
    are per-row functions of the text, so they ride ONE documents scan
    (quality carry + lang argmax + md5) and the exact-dedup keeper
    verdict is a window MIN over the text hash — NO join at all, no
    doc-key re-shuffle of the corpus; the previous shape scanned the
    corpus four times and joined it back three times."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "pipeline_curation_funnel"))
    assert scans["documents"] == 1
    assert counts["smj"] == 0
    p = _plan(spark, "pipeline_curation_funnel")
    assert "Join" not in p


def test_semantic_decontaminate_broadcasts_eval(spark):
    """Semantic decontamination: the bucketed+capped EVAL relation must
    broadcast (eval suites are MBs against a TB corpus), so the corpus
    side never shuffles for the join — the only corpus-sized exchange
    is the top-1 window over the ALREADY-THRESHOLDED pair relation.
    No sort-merge join, no cartesian."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "clean_semantic_decontaminate"))
    assert counts["bhj"] >= 1  # eval side broadcast
    assert counts["smj"] == 0
    p = _plan(spark, "clean_semantic_decontaminate")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    # no exchange hash-partitioned on the train-side bucket (the
    # corpus-shuffling shape a shuffle join would produce)
    assert "SortMergeJoin" not in p


def test_domain_quality_prior_single_scan(spark):
    """Domain quality prior: quality features + domain + canon URL ride
    ONE documents scan via quality_features(carry=...) — a doc-key
    self-join of two corpus derivations would shuffle the corpus twice.
    Two-phase count-distinct on the low-cardinality domain key."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "clean_domain_quality_prior"))
    assert scans["documents"] == 1
    p = _plan(spark, "clean_domain_quality_prior")
    assert "Join" not in p
    assert "Window" not in p


def test_span_exposure_broadcasts_boilerplate(spark):
    """Span exposure: the flagged-boilerplate set must broadcast back
    onto the posting (corpus-duplicated spans are orders smaller than
    the corpus) and ONE per-doc aggregate counts totals and hits in a
    single pass. r16: the span posting is extracted ONCE (lazy local
    checkpoint shared by the detection aggregate and the exposure
    stamp — the un-shared shape ran the whole regex pass twice), so
    the only documents scan left in the plan is the doc-base spine;
    the posting subtree shows as the checkpoint's RDD scan."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_span_exposure"))
    assert scans["documents"] <= 1  # doc base; posting is checkpointed
    assert counts["bhj"] >= 1
    p = _plan(spark, "dedup_span_exposure")
    assert "Window" not in p


def test_cross_source_syndication_broadcasts_pairs(spark):
    """Cross-source matrix: the tiny verified-pair relation broadcasts
    for BOTH endpoint stamps — the corpus streams through the joins,
    never shuffling on a doc key for them."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_cross_source_syndication"))
    assert counts["bhj"] >= 2  # both source stamps


def test_quality_keeper_broadcasts_clusters(spark):
    """Quality keeper: the clustered relation (near-dup docs only) must
    broadcast onto the quality scan — never a corpus shuffle on the doc
    key — and keeper selection is ONE aggregate (max_by), not a
    per-cluster window over the corpus."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_quality_keeper"))
    assert counts["bhj"] >= 1
    assert counts["smj"] == 0
    p = _plan(spark, "dedup_quality_keeper")
    assert "Window" not in p


def test_bigram_model_not_broadcast_by_plan(spark):
    """Bigram LM: the corpus is scanned exactly three times (scoring
    posting + model count + context totals) and nothing rides a window —
    the model join is free to be AQE-chosen, but the SHAPE must stay
    aggregate+join, no per-doc window. (r16: materializing either a
    doc-level tf index or the model aggregate measured SLOWER than the
    three codegen explodes — recompute is the cheap currency here.)"""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "train_bigram_lm_score"))
    assert scans["documents"] == 3
    p = _plan(spark, "train_bigram_lm_score")
    assert "Window" not in p


def test_minhash_calibration_broadcasts_pairs(spark):
    """Calibration: the candidate-pair relation broadcasts for both
    signature stamps (the corpus-sized signature relation streams);
    shingle/signature relations come from the shared cache, so the
    corpus is scanned at most twice."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_minhash_calibration"))
    assert scans["documents"] <= 2
    assert counts["bhj"] >= 2
    assert counts["smj"] == 0


def test_cluster_split_broadcasts_clusters(spark):
    """Cluster-aware split: the clustered relation broadcasts onto the
    corpus id scan; split labels are pure projections (no window, no
    corpus shuffle on a doc key before the 3-row aggregate)."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "train_cluster_split"))
    assert scans["documents"] == 1
    assert counts["bhj"] >= 1
    assert counts["smj"] == 0
    p = _plan(spark, "train_cluster_split")
    assert "Window" not in p


def test_centroid_drift_single_pass_shape(spark):
    """Centroid drift: the n x dim explode feeds BOTH aggregates
    (per-label and global) with map-side partial combine — two scans of
    the embedding table, the dim-row global centroid broadcasts back,
    and no window/sort touches the exploded relation."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "sim_centroid_drift"))
    assert scans["embeddings"] == 2
    assert counts["bhj"] >= 1
    assert counts["smj"] == 0
    p = _plan(spark, "sim_centroid_drift")
    assert "Window" not in p


def test_quality_vs_lm_reduces_before_joins(spark):
    """Quality-vs-LM audit: the corpus reduces to doc-count-sized score
    relations before any doc-key join — quality branch + unigram's
    scoring posting (its vocab model is cached, ≥2 cache reads) +
    bigram's three explodes — no window, no sort-merge of corpus-sized
    text relations."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "text_quality_vs_lm"))
    assert scans["documents"] == 5
    assert counts["cached"] >= 2
    p = _plan(spark, "text_quality_vs_lm")
    assert "Window" not in p


def test_crawl_budget_single_scan_cached_domains(spark):
    """Crawl budget: the |domains| relation is CACHED and fans out to
    its two consumers (stats side + the 1-row gridded (Z, total)
    normalizer broadcast), so the corpus pipeline upstream — whose PSL
    map literal defeats plan canonicalization/exchange reuse —
    materializes exactly once; the returned plan reads the cache twice
    and scans no parquet at all. No whole-relation collect_list (the
    r11 sorted-array fold was a single-task OOM at real |domains|
    cardinality), no window."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "clean_crawl_budget"))
    assert scans.get("documents", 0) == 0
    assert counts["cached"] == 2
    p = _plan(spark, "clean_crawl_budget")
    assert "Window" not in p
    assert "collect_list" not in p


def test_score_agreement_single_row_statistics(spark):
    """Scorer agreement: both score relations re-aggregate shared cached
    (doc, term, tf) indexes — ONE physical documents scan feeds the
    cached explodes — and the correlation reduces to a single 1-row
    aggregate of five exact integer sufficient statistics. No window,
    no corpus sort anywhere. r17: bm25's dl⋈postings join is now
    CO-PARTITIONED (both sides ride the tf index's doc-key spread), so
    the planner may legitimately pick a sort-merge join for it — the
    point of the pin is that no join SHUFFLES a corpus relation, so
    assert the SMJ count stays ≤ this one co-partitioned join rather
    than forbidding the strategy outright."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "retr_score_agreement"))
    assert scans.get("documents", 0) <= 2
    assert counts["smj"] <= 1  # only the co-partitioned dl⋈postings
    p = _plan(spark, "retr_score_agreement")
    assert "Window" not in p


def test_cosine_threshold_sweep_one_candidate_pass(spark):
    """Threshold sweep: the capped 4-bit-bucket candidate-pair relation
    is built once (cached) and every threshold row derives from it by a
    literal-array explode — no join against the pair relation, no
    re-scoring per threshold, no window; the 7-row spine joins are
    broadcast hash joins."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_cosine_threshold_sweep"))
    assert scans.get("embeddings", 0) <= 2  # cached pair relation
    assert counts["smj"] == 0
    assert counts["bhj"] >= 2
    p = _plan(spark, "dedup_cosine_threshold_sweep")
    assert "Window" not in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_snapshot_diff_digest_only_fact_join(spark):
    """Snapshot diff: two fingerprint-projected scans FULL-OUTER join on
    the doc key — a designed fact-to-fact shuffle join (full outer
    cannot broadcast) whose exchange carries 32-B digests, never bodies;
    counts partial-combine, no window."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dq_snapshot_diff"))
    assert scans["documents"] == 2
    p = _plan(spark, "dq_snapshot_diff")
    assert "Window" not in p
    # the join must not carry the text column — digests only
    assert "FullOuter" in p.replace(" ", "")


def test_hamming_sweep_one_candidate_pass(spark):
    """Hamming sweep: the banded candidate-pair relation is built once
    at the widest cutoff (cached) and every tier is a filter over the
    7-literal explode — no per-threshold re-index, no window; the 7-row
    spine joins broadcast."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_simhash_hamming_sweep"))
    assert scans.get("documents", 0) <= 2  # cached pair relation
    assert counts["bhj"] >= 2
    p = _plan(spark, "dedup_simhash_hamming_sweep")
    assert "Window" not in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_dataset_card_two_source_aggregates(spark):
    """Dataset card: fingerprint/tokens/lang ride the quality scan via
    carry (two consumers → two scans, never a doc-key self-join); the
    card joins two source-keyed aggregates on the tiny |sources|
    relation. No window, no corpus-key join."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "train_dataset_card"))
    assert scans["documents"] == 2
    p = _plan(spark, "train_dataset_card")
    assert "Window" not in p


def test_users_by_role_scan_filter_sort(spark):
    """P17 users-by-role: one customer scan, the array-membership
    predicate applied as a codegen Filter before the single range-sort
    exchange, projection pruned to the consumed columns (no c_address
    etc. through the sort)."""
    plan = _plan(spark, "p_users_by_role")
    assert _scans(plan)["customer"] == 1
    assert plan.count("Exchange") <= 1  # the global-sort range exchange
    assert "array_contains" in plan
    assert "Join" not in plan and "Window" not in plan


def test_tier_agreement_one_alignment_join(spark):
    """Dedup-tier agreement: the two sketch families each scan the
    corpus once (shingle/MinHash side, token/SimHash side), their pair
    relations align in ONE full-outer shuffle join on the pair key
    (tiny relations; full-outer cannot broadcast — sort-merge or, with
    preferSortMergeJoin=false, shuffled-hash), and every (tier,
    cutoff) cell derives from a literal-array explode — no per-tier
    re-index, no cartesian, and the 21-row spine joins back as a
    broadcast."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_tier_agreement"))
    # <= 2 live scans: a prior test's cached pair relation may absorb
    # one side's scan when the whole suite shares the session
    assert scans["documents"] <= 2
    assert scans["documents"] + counts.get("cached", 0) >= 2
    # the pair-key full-outer alignment: exactly one non-broadcast join
    assert counts["smj"] + counts.get("shj", 0) == 1
    assert counts["bhj"] >= 1  # the spine join
    p = _plan(spark, "dedup_tier_agreement")
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_incremental_card_reduces_per_snapshot(spark):
    """Incremental card: each pseudo-snapshot feeds two map-side
    derivations (per-source card aggregate + doc-key fingerprint
    relation) — four corpus scans total, zero corpus-key joins beyond
    the diff's designed digest full-outer (one SMJ); the card/churn
    relations join broadcast on the tiny |sources| key. No window."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "train_incremental_card"))
    assert scans["documents"] == 4
    # the fingerprint full-outer diff: one non-broadcast shuffle join
    # (sort-merge, or shuffled-hash under preferSortMergeJoin=false)
    assert counts["smj"] + counts.get("shj", 0) == 1
    assert counts["bhj"] >= 1  # |sources|-keyed card/churn joins
    p = _plan(spark, "train_incremental_card")
    assert "Window" not in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_ivf_incremental_churn_cached_no_rescan(spark):
    """Incremental-churn audit: the (key, vector) relation caches once
    and feeds the centroid seed and both assignment passes — zero live
    parquet re-scans; per-centroid stats join as ≤K-row broadcasts; no
    window (argmax is max_by), no cartesian of fact relations."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "sim_ivf_incremental_churn"))
    assert scans.get("embeddings", 0) == 0
    assert counts["cached"] >= 3
    assert counts["bhj"] >= 2
    p = _plan(spark, "sim_ivf_incremental_churn")
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_ivf_incremental_recall_cached_no_rescan(spark):
    """Incremental-recall gate: ONE cached vector relation feeds both
    tiers' centroids, assignments, probes, and the shared truth — zero
    live parquet re-scans; every window is partitioned by the 3-row
    query key; no cartesian."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "sim_ivf_incremental_recall"))
    assert scans.get("embeddings", 0) == 0
    assert counts["cached"] >= 4
    p = _plan(spark, "sim_ivf_incremental_recall")
    assert "CartesianProduct" not in p


def test_domain_contamination_bounded_scans(spark):
    """Per-domain contamination: ≤5 column-pruned documents scans
    (decontaminate's posting+flag passes, the domain projection, the
    quality prior), flags×domain join on narrow doc-key rows, reduced
    to |domains| before the broadcast join with the prior; the only
    windows are the per-doc shingle leads; no cartesian/BNLJ."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "clean_domain_contamination"))
    assert scans["documents"] <= 5
    assert counts["bhj"] >= 3
    p = _plan(spark, "clean_domain_contamination")
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_policy_savings_bounded_scans_no_smj(spark):
    """Dedup-policy savings card: Catalyst shares the documents scan
    between the keeper/LSH/quality passes (≤3 pruned scans); clusters
    and the cluster-member quality rows broadcast onto the keeper
    relation (never a corpus-vs-corpus sort-merge); the only windows
    are digest- and cluster-partitioned."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "dedup_policy_savings"))
    assert scans["documents"] <= 3
    assert counts["bhj"] >= 3
    assert counts.get("smj", 0) == 0
    p = _plan(spark, "dedup_policy_savings")
    assert "CartesianProduct" not in p


def test_drift_retrain_gate_one_embeddings_pass(spark):
    """Drift-gated retrain trigger: the drift side is one explode pass
    over embeddings; the recall side reuses its own cached vector
    relation (the incremental-recall construction); the 1-row macro
    verdict broadcasts onto the |labels| relation (reviewed BNLJ).
    No sort-merge join, no cartesian of fact relations."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "sim_drift_retrain_gate"))
    assert scans["embeddings"] <= 2
    assert counts["cached"] >= 4
    assert counts.get("smj", 0) == 0
    p = _plan(spark, "sim_drift_retrain_gate")
    assert "CartesianProduct" not in p


def test_ivf_recall_reads_one_cached_scan(spark):
    """IVF recall: every consumer (centroid seed, query rows, assignment,
    truth) reads the ONE cached (key, vector) relation — zero live
    parquet re-scans (the ivf_topk pattern); the probe relation joins
    the assignment table by broadcast; no cartesian."""
    from rclabsapi_spark.planaudit import audit

    scans, counts = audit(_fn(spark, "sim_ivf_recall"))
    assert scans.get("embeddings", 0) == 0
    assert counts["cached"] >= 4
    p = _plan(spark, "sim_ivf_recall")
    assert "CartesianProduct" not in p
