"""Scalar function surface (SURVEY §2.8, F1-F23).

Every function is a Column→Column helper built from pyspark.sql.functions
builtins — JVM-side, whole-stage-codegen friendly. No Python UDFs here:
the reference's scalar surface (string case/trim ops, numeric formatting
and rounding, timestamp literals and durations) maps 1:1 onto Catalyst
expressions.

Reference citations (file:line into /root/reference) are given per function
so parity can be checked.
"""

from __future__ import annotations

import datetime as dt
import math
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Expression-level let-binding: evaluate ``value`` once, hand it to
    ``body`` as a lambda variable (a cheap leaf reference). Catalyst has
    no named subexpressions — reusing a Column object textually copies
    its whole subtree per reference, so a deep tree referenced k times
    in a composed expression grows the plan k-fold (nested composition
    multiplies: the r10 PSL domain chain hit 47 MB task binaries and a
    60 s sf0.01 wall from exactly this). A higher-order-function lambda
    is the one place Spark gives a true variable, at the cost of that
    subtree leaving whole-stage codegen (HOFs are CodegenFallback) —
    worth it when plan size, not per-row eval, dominates. Nests: inner
    ``let`` lambdas may reference outer lambda variables."""
    return F.element_at(F.transform(F.array(value), body), 1)


# --------------------------------------------------------------------------
# String functions (data_transformer.cpp:122-140, string_utils.hpp:46-217,
# input_validator.cpp:577-587)
# --------------------------------------------------------------------------


def uppercase(c: Column) -> Column:
    """F1 — data_transformer.cpp:122-125."""
    return F.upper(c)


def lowercase(c: Column) -> Column:
    """F2 — data_transformer.cpp:126-129."""
    return F.lower(c)


def trim_ws(c: Column) -> Column:
    """F3 — trim " \\t\\n\\r" both ends (data_transformer.cpp:130-140)."""
    return F.trim(F.translate(c, "\t\n\r", "   "))


# --------------------------------------------------------------------------
# Numeric formatting (data_transformer.cpp:9-24): doubles serialized with
# no trailing zeros. We keep doubles typed internally and apply this only
# at the serialization/comparison edge (SURVEY F13).
# --------------------------------------------------------------------------


def fmt_no_trailing_zeros(c: Column, decimals: int = 6) -> Column:
    """F13 — fixed-point format then strip trailing fractional zeros.

    "2.500000" → "2.5", "100.000000" → "100". Matches the reference's
    ostream-based trimming (data_transformer.cpp:9-24) at ``decimals``
    precision.

    Implemented as a vectorized Arrow UDF rather than ``format_string``:
    Java's ``%f`` pads the double's SHORTEST decimal repr with zeros,
    while C/Python/DuckDB expand the exact binary value — they disagree
    wherever ulp(x) > 10^-decimals (|x| ≳ 4×10⁹ at 6 decimals; e.g.
    549755813888.96875 → Java "….9688", C "….96875"; found by the
    hypothesis parity suite). The reference is C++ ostream, so C
    semantics are the spec. This function is the serialization edge, not
    a hot aggregate path — Arrow batching keeps it acceptable there.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _fmt(xs):
        def one(x):
            if x is None:
                return None
            s = f"{x:.{decimals}f}"
            if "." in s:
                s = s.rstrip("0").rstrip(".")
            return s

        return xs.map(one)

    # explicit annotations: this module uses PEP-563 (stringified) hints,
    # which pandas_udf's signature inference can't evaluate.
    _fmt.__annotations__ = {"xs": pd.Series, "return": pd.Series}
    return pandas_udf(_fmt, "string")(c)


def round_half_up(c: Column, decimals: int = 6) -> Column:
    """Engine-portable rounding for bit-identical doubles.

    ``F.round`` rounds the shortest decimal repr (HALF_UP) while DuckDB
    rounds the binary value — they disagree exactly at representable ties
    (e.g. 0.5030625). floor(x·10^d + 0.5)/10^d is pure IEEE arithmetic, so
    two engines given the same double always produce the same result.
    Only valid when the *input* is bit-identical across engines (per-row
    arithmetic, deterministic folds) — not for accumulation-ordered sums.
    """
    scale = float(10**decimals)
    return F.floor(c * scale + F.lit(0.5)) / scale


def sql_round_half_up(expr: str, decimals: int = 6) -> str:
    """DuckDB mirror of :func:`round_half_up`."""
    scale = float(10**decimals)
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}"


def sql_double(x: float) -> str:
    """Exact Spark SQL double literal: ``repr`` round-trips every finite
    double; ±inf, which ``repr`` + ``D`` turns into a column name
    (``infD``), is written ``double('Infinity')``. NaN raises."""
    x = float(x)
    if math.isnan(x):
        raise ValueError("NaN has no SQL double literal here")
    if math.isinf(x):
        return "double('Infinity')" if x > 0 else "double('-Infinity')"
    return f"{x!r}D"


def sql_ident(name: str) -> str:
    """A column name as a Spark SQL identifier: backtick-quoted, any
    backtick inside it doubled, so a name holding a space, a dot or a
    backtick reads as exactly that one column."""
    return "`" + name.replace("`", "``") + "`"


def grid_mean(x: Column, decimals: int = 6, grid: float = 1e9) -> Column:
    """Accumulation-order-independent mean of per-row doubles that are
    bit-identical across engines (same parquet inputs, same per-row
    arithmetic) — an aggregate expression for ``agg(...)``.

    A raw ``AVG(double)`` folds in whatever row order the plan delivers,
    which neither engine pins (partial aggregates, join output order),
    so two engines can disagree by one ulp — enough to flip the last
    digit when the mean is then rounded (the dedup_minhash_calibration
    sf0.1 divergence). Rounding each value to a fixed decimal grid and
    summing integers is exact and order-free; DECIMAL(38,0) holds the
    sum without the BIGINT-overflow asymmetry (DuckDB widens to
    HUGEINT, a raw Spark long would wrap). NULLs drop out exactly as
    they do under AVG (sum and count both skip them). Mirror:
    :func:`sql_grid_mean`."""
    g = F.floor(x * grid + F.lit(0.5)).cast("decimal(38,0)")
    return round_half_up(
        F.sum(g).cast("double") / (F.count(x) * grid), decimals
    )


def sql_grid_mean(expr: str, decimals: int = 6, grid: float = 1e9) -> str:
    """DuckDB mirror of :func:`grid_mean` (HUGEINT ≙ DECIMAL(38,0))."""
    scale = float(10**decimals)
    return (
        f"FLOOR((SUM(CAST(FLOOR(({expr}) * {grid} + 0.5) AS HUGEINT))::DOUBLE"
        f" / (COUNT({expr}) * {grid})) * {scale} + 0.5) / {scale}"
    )


def grid_sum(
    x: Column, decimals: int = 6, grid: float = 1e9, denom: float = 1.0
) -> Column:
    """Accumulation-order-independent SUM of per-row doubles, rounded to
    ``decimals`` — the terminal-output-sum twin of :func:`grid_mean`.

    Each per-row term (bit-identical across engines: same parquet input,
    same per-row arithmetic) is rounded to a fixed ``grid`` (default 9dp),
    summed as DECIMAL(38,0) (≙ DuckDB HUGEINT — a BIGINT sum of ~1e14
    per-row nanos wraps around ~1e4-1e6 rows/group, far under the 100 TB
    design point), divided once by ``grid * denom`` and rounded half-up.
    For fixed-dp money inputs (prices 2dp, disc_price 4dp ⊂ the 9dp grid)
    the result is *exactly* the true sum — identical to the old
    ``ROUND(SUM(x), d)`` value — but now fold-order-free, so it is also
    safe to feed ORDER BY / LIMIT / MAX / threshold comparisons.
    Mirror: :func:`sql_grid_sum`."""
    g = F.floor(x * grid + F.lit(0.5)).cast("decimal(38,0)")
    return round_half_up(F.sum(g).cast("double") / (grid * denom), decimals)


def sql_grid_sum(
    expr: str, decimals: int = 6, grid: float = 1e9, denom: float = 1.0
) -> str:
    """DuckDB mirror of :func:`grid_sum` (single division by the exact
    same ``grid * denom`` double, so the IEEE quotient is bit-identical)."""
    scale = float(10**decimals)
    return (
        f"FLOOR((SUM(CAST(FLOOR(({expr}) * {grid} + 0.5) AS HUGEINT))::DOUBLE"
        f" / {grid * denom}) * {scale} + 0.5) / {scale}"
    )


def grid_ratio(
    num: Column,
    den: Column,
    decimals: int = 6,
    grid: float = 1e9,
    mult: float = 1.0,
) -> Column:
    """Order-independent ratio-of-sums ``mult * SUM(num) / SUM(den)``
    rounded to ``decimals`` (TPC-H Q8 market share, Q14 promo percent).
    Both sums ride the integer grid; the quotient is one IEEE division of
    two exactly-equal doubles on both engines. Evaluation order is pinned
    as ``(mult * num_sum) / den_sum`` in both mirrors.
    Mirror: :func:`sql_grid_ratio`."""
    ng = F.sum(F.floor(num * grid + F.lit(0.5)).cast("decimal(38,0)"))
    dg = F.sum(F.floor(den * grid + F.lit(0.5)).cast("decimal(38,0)"))
    return round_half_up(
        F.lit(mult) * ng.cast("double") / dg.cast("double"), decimals
    )


def sql_grid_ratio(
    num: str,
    den: str,
    decimals: int = 6,
    grid: float = 1e9,
    mult: float = 1.0,
) -> str:
    """DuckDB mirror of :func:`grid_ratio`."""
    scale = float(10**decimals)
    ng = f"SUM(CAST(FLOOR(({num}) * {grid} + 0.5) AS HUGEINT))::DOUBLE"
    dg = f"SUM(CAST(FLOOR(({den}) * {grid} + 0.5) AS HUGEINT))::DOUBLE"
    return f"FLOOR(({mult} * {ng} / {dg}) * {scale} + 0.5) / {scale}"


def grid_term(x: Column, grid: float = 1e9) -> Column:
    """Round ONE potentially-large double onto the integer ``grid`` as
    DECIMAL(38,0), bit-identically to DuckDB's ``CAST(FLOOR(x·grid+0.5)
    AS HUGEINT)`` — for normalizer terms (n^τ, n^τ·priority) whose
    magnitude grows with corpus size, unlike the bounded per-row money/
    metric inputs of :func:`grid_sum` / :func:`grid_mean` (≪ 2^53,
    deliberately unguarded).

    Why this shape and not a decimal cast: Spark's ``floor(double)``
    yields a LONG holding the double's exact integer value for
    |x·grid| < 2^63 — measured bit-identical to DuckDB's
    floor→HUGEINT through the whole (2^53, 2^63) range. Above 2^63
    the long SATURATES silently (ADVICE r13), and the "obvious"
    repair — cast the double to DECIMAL first — is WORSE: Spark's
    double→decimal cast goes through the shortest decimal
    representation (``BigDecimal.valueOf``), which differs from the
    exact binary value DuckDB converts, silently losing bit-identity
    from 2^53 up (measured: 1234567890123456768.0 floors to …768 as
    long but casts to …770 via DECIMAL(38,9)). So the supported
    domain is |x·grid| < 2^63 — n^τ < 9.2e9 grid units ≙ multi-
    billion-count strata at τ=1, rescale τ or pre-normalize above
    that — and crossing it raises a loud per-row error instead of
    silently diverging from the oracle.

    NULL propagates (ADVICE r14): a NULL term floors to NULL and SUM
    skips it — same as the pre-guard behavior and as the oracle's
    ``CAST(FLOOR(NULL) AS HUGEINT)``. The guard passes on NULL
    explicitly (``assert_true`` raises when its condition is NULL, and
    the concat'd message would itself be the literal string 'null'), so
    a NULL priority/token count skips a row instead of hard-failing the
    job with an unreadable error."""
    scaled = x * grid + F.lit(0.5)
    ceiling = float(2**63)
    guard = F.assert_true(
        scaled.isNull()
        | ((scaled < F.lit(ceiling)) & (scaled > F.lit(-ceiling))),
        F.concat(
            F.lit(
                "grid term exceeds the 2^63 grid ceiling"
                " (|x*grid| too large; rescale tau/grid): "
            ),
            F.coalesce(scaled.cast("string"), F.lit("NULL")),
        ),
    )
    return F.when(guard.isNull(), F.floor(scaled)).cast("decimal(38,0)")


# --------------------------------------------------------------------------
# Date/time (request_handler.cpp:1455-1487, rate_limiter.cpp:206-214)
# --------------------------------------------------------------------------

def ts_lit(value: dt.datetime | str) -> Column:
    """A timestamp literal that reads a naive ``datetime`` as UTC, the
    engine's naive-UTC convention (see ``session``). ``F.lit`` alone
    reads a naive ``datetime`` in the process time zone; a string is
    cast in the session time zone, which is UTC, so it passes as is."""
    if isinstance(value, dt.datetime) and value.tzinfo is None:
        value = value.replace(tzinfo=dt.timezone.utc)
    return F.lit(value)


def execution_time_ms(started: Column, completed: Column, now: Column, status: Column) -> Column:
    """F17 — completed−started (or now−started while RUNNING), in ms
    (request_handler.cpp:955-962, 985-988)."""
    end = F.when(status == "RUNNING", now).otherwise(completed)
    return (F.unix_millis(end) - F.unix_millis(started)).cast("long")

