"""Query registry — the driver-facing correctness surface.

Every implemented operator from SURVEY §2 registers here as a named query:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an equivalent DuckDB oracle SQL string over the fixture
views. ``__spark_entry__.py`` re-exports this registry to the driver.

Two readers of the registry:

- ``registered()`` — the live name -> ``QuerySpec`` mapping. Use it for
  every lookup by name (``EngineAPI.run_query`` / ``list_queries``,
  ``entry``, tests, probes): it costs a dict access.
- ``get_registry()`` — the same specs ordered for the driver's
  verification window, which hashes every query's transitive sources
  against ``verified.json``. Use it only where that order matters
  (``queries()`` / ``oracle_sql()``, ``bench.py``, the ledger scripts).

Cross-engine determinism rules used throughout the suites:

- column names are aliased identically on both sides (the driver's compare
  sorts columns by name before hashing).
- per-row arithmetic (IEEE doubles) is bit-identical across engines when
  both evaluate the same expression tree — no rounding needed.
- multi-row float aggregates (SUM/AVG over doubles) can differ in the last
  ulp due to accumulation order, and final-aggregate rounding only hides
  that until a value lands on a rounding boundary (it did: minhash
  calibration, r10). The rule since r10/r11: every multi-row double
  SUM/AVG goes through integer-grid sums — round each per-row term to a
  9dp (or magnitude-appropriate) integer grid, SUM the integers (BIGINT,
  or DECIMAL(38,0)≙HUGEINT when squares/large magnitudes can overflow),
  divide once, round half-up. Documented exemptions, each marked at the
  call site: (a) integral-valued double sums (counts, hits) — exact in
  any order; (b) single-sequence folds and window frames with a pinned
  ORDER BY — both engines accumulate in the same order; (c) per-doc
  aggregates over explode output where one doc's rows stay in one
  partition; (d) feat_target_encode's 2dp price grain (its docstring).
  Coverage state (r12): every multi-row double MEAN and every rounded
  double SUM is gridded or exempt — the r11 terminal-output class
  (TPC-H revenue cells, attribution totals, χ²/PSI/entropy statistics,
  timeseries/cohort sums) closed in r12, so there is no raw
  ROUND(SUM(double)) left anywhere. Accumulator width: grids whose
  GROUP can grow with the corpus sum as DECIMAL(38,0) ≙ HUGEINT;
  bounded-group grids (per-doc LM log-prob micros, BM25 per-(q,doc)
  term weights, |dim|-bounded second-level micro sums) stay BIGINT.
  The BIGINT safety argument is the documented BOUND, not width
  symmetry — on a bound violation DuckDB's SUM(BIGINT) auto-widens
  to HUGEINT while Spark's long sum wraps silently, an asymmetric
  divergence — so every BIGINT grid site's group bound is pinned in
  tests/test_float_rules.py's allowlists. PER-ROW-TERM domain bound
  for the F.floor-based grid forms (grid_sum/grid_mean/grid_ratio and
  the inline nano/micro floors): |x|·grid must stay under 2^63,
  because Spark's floor(double) returns LONG and saturates there
  while the oracle's FLOOR stays double — satisfied by construction
  at every call site (money ≤1e6 → 1e15 nanos; proportions, log
  ratios, similarities ≤1e2 → 1e11; χ²'s unbounded (o−e)²/e is the
  widest term and is safe to 9.2e9, past which the 9dp grid is
  beyond double precision anyway). floor→LONG is the MAXIMAL parity
  domain: a double→DECIMAL cast is not wider — Spark routes it
  through the shortest string repr and diverges from DuckDB's exact
  binary conversion already at ~1e17 (pinned in
  tests/test_properties.py::test_floor_grid_term_parity_domain).
- LIMIT queries sort on a key-unique prefix so the selected set is
  deterministic.
- casts from fractional doubles to integers are avoided (Spark truncates,
  DuckDB rounds); ``floor()`` first when integer semantics are wanted.
- "now" is frozen per domain (orders: 2002-01-01, events: 2024-02-01).
"""

from __future__ import annotations

import hashlib
import inspect
import json
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, None = rows-only check
    bench: bool = False  # include in bench.py headline set


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, bench: bool = False):
    """Register a query. ``oracle=None`` → driver runs a weaker rows-only
    check (reserved for genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, bench=bench)
        return fn

    return deco


_PKG = "rclabsapi_spark"


def _strip_decorators(src: str) -> str:
    """Drop decorator lines: flipping ``bench=True`` changes no semantics
    and must not discard correctness evidence."""
    body_at = src.find("\ndef ")
    return src[body_at + 1:] if body_at >= 0 else src


def _code_names(code) -> set[str]:
    """All names referenced by a code object and its nested code objects
    (comprehensions, lambdas, closures): globals, attribute accesses, and
    the dotted targets of function-local ``import`` statements all appear
    in ``co_names``."""
    names: set[str] = set(code.co_names)
    for const in code.co_consts:
        if hasattr(const, "co_names"):
            names |= _code_names(const)
    return names


def _in_pkg(obj) -> bool:
    mod = getattr(obj, "__module__", None)
    return isinstance(mod, str) and (
        mod == _PKG or mod.startswith(_PKG + ".")
    )


def _walk_deps(fn, seen: dict[str, str]) -> None:
    """Transitively collect the sources of every ``rclabsapi_spark``
    function/class reachable from ``fn``'s code, into ``seen`` keyed by
    ``module:qualname``. Resolution is bytecode-based, so it catches
    module-level imports (via ``fn.__globals__``), attribute calls like
    ``dedup.duplicate_spans(...)``, and function-local
    ``from rclabsapi_spark.x import y`` (the dotted module path and the
    imported name both land in ``co_names``). Over-approximation (a name
    that happens to match an unused module attr) only costs an occasional
    extra invalidation, never a missed one."""
    import importlib

    code = getattr(fn, "__code__", None)
    if code is None:
        return
    names = _code_names(code)
    g = getattr(fn, "__globals__", {})

    candidates = []
    modules = []
    for name in names:
        obj = g.get(name)
        if obj is not None:
            if inspect.ismodule(obj) and _in_pkg_module(obj):
                modules.append(obj)
            elif (inspect.isfunction(obj) or inspect.isclass(obj)) and _in_pkg(obj):
                candidates.append(obj)
        if name.startswith(_PKG):  # function-local `from pkg.x import y`
            try:
                modules.append(importlib.import_module(name))
            except ImportError:
                pass
    for mod in modules:
        for name in names:
            obj = getattr(mod, name, None)
            if obj is not None and (
                inspect.isfunction(obj) or inspect.isclass(obj)
            ) and _in_pkg(obj):
                candidates.append(obj)
    # closures: functions captured in cells
    if fn.__closure__:
        for cell in fn.__closure__:
            try:
                obj = cell.cell_contents
            except ValueError:
                continue
            if (inspect.isfunction(obj) or inspect.isclass(obj)) and _in_pkg(obj):
                candidates.append(obj)

    for obj in candidates:
        key = f"{obj.__module__}:{obj.__qualname__}"
        if key in seen:
            continue
        try:
            seen[key] = _strip_decorators(inspect.getsource(obj))
        except (OSError, TypeError):
            continue
        if inspect.isfunction(obj):
            _walk_deps(obj, seen)
        elif inspect.isclass(obj):
            for meth in vars(obj).values():
                if inspect.isfunction(meth):
                    _walk_deps(meth, seen)


def _in_pkg_module(mod) -> bool:
    name = getattr(mod, "__name__", "")
    return name == _PKG or name.startswith(_PKG + ".")


def spec_deps(spec: QuerySpec) -> dict[str, str]:
    """``module:qualname -> source`` for every in-package function/class
    transitively reachable from the query function. Exposed for the
    static registry tests."""
    seen: dict[str, str] = {}
    _walk_deps(spec.fn, seen)
    seen.pop(f"{spec.fn.__module__}:{spec.fn.__qualname__}", None)
    return seen


def spec_digest(spec: QuerySpec) -> str:
    """Content hash of a query's semantics: the query function's source,
    its (fully resolved) oracle SQL, and — since round 10 — the sources
    of every in-package operator function/class the query transitively
    calls (``spec_deps``). Recorded in ``verified.json`` when a green
    driver row lands; any later edit to any component changes the digest
    and auto-invalidates the green row, so the query re-front-loads into
    the driver's 50-query verification window. (Pre-r10 the digest
    covered only the query fn + oracle; that blind spot let shared-
    operator rewrites ship past recorded sweeps — VERDICT r9 §Missing 1.)
    When this algorithm itself changes, re-stamp the ledger with
    ``scripts/record_verified.py --restamp`` *before* editing any
    operator code."""
    src = _strip_decorators(inspect.getsource(spec.fn))
    deps = spec_deps(spec)
    payload = src + "\x00" + (spec.oracle or "")
    for key in sorted(deps):
        payload += "\x00" + key + "\x00" + deps[key]
    return hashlib.sha256(payload.encode()).hexdigest()


# verified.json: name -> {"digest": spec_digest at green time, "round": N}
# for every query with a green driver CORRECTNESS row whose semantics are
# unchanged since. Regenerated by scripts/record_verified.py after each
# round's CORRECTNESS_r{N}.json lands — never hand-edited (the r1-r4
# hand-maintained frozenset had a silent failure mode: edit a query,
# forget to remove its name, and the stale green row masks a regression).
_VERIFIED_PATH = Path(__file__).with_name("verified.json")


def _load_verified() -> dict[str, dict]:
    try:
        return json.loads(_VERIFIED_PATH.read_text())
    except FileNotFoundError:
        return {}


def registered() -> dict[str, QuerySpec]:
    """Import all suites (idempotent) and return the live registry,
    name -> ``QuerySpec``, in registration order. It reads no file and
    hashes no source. The mapping returned is the registry itself: an
    entry replaced in it is the one later lookups see."""
    from rclabsapi_spark.suites import (  # noqa: F401
        analytics,
        approx,
        cleaning,
        core,
        events,
        features,
        graph,
        linkage,
        llm,
        metrics_ext,
        pipeline,
        retrieval,
        timeseries,
        tpch_ext,
        tpch_full,
        training,
        transform,
    )

    return _REGISTRY


def get_registry() -> dict[str, QuerySpec]:
    """The full registry (``registered()``), ordered for the driver's
    50-queries-per-round verification window:

    1. queries with NO valid green row first — never verified, or source/
       oracle edited since the green row (digest mismatch);
    2. then verified queries, oldest green round first, so stale evidence
       rotates back through the window (~every 2 rounds at 126 queries);
    3. name as the deterministic tie-break.

    The order costs a ``spec_digest`` of every query: a transitive source
    walk and a sha256 each, 0.5–1 s of CPU in all.
    """
    verified = _load_verified()

    def order(s: QuerySpec) -> tuple:
        rec = verified.get(s.name)
        if rec is None or rec["digest"] != spec_digest(s):
            return (0, 0, s.name)
        return (1, rec["round"], s.name)

    ordered = sorted(registered().values(), key=order)
    return {s.name: s for s in ordered}
