"""Shared fixtures: one SparkSession per test session + the DuckDB oracle
harness that mirrors the driver's compare (row count, column names,
order-insensitive canonicalized value multiset)."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rclabsapi_spark.catalog import TABLES
from rclabsapi_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # The session's default heap (24g) can exceed the box: on 16 GB with
    # no swap the suite's JVM grew to 15 GB resident and was OOM-killed
    # mid-run. Unless the heap is set explicitly, give the test JVM half
    # of physical memory; cached blocks then spill to disk instead.
    extra = {}
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        extra["spark.driver.memory"] = f"{max(2, min(24, phys // 2**31))}g"
    s = get_spark(
        "rclabsapi-tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        extra_conf=extra,
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECT}/{t}.parquet'"
        )
    yield con
    con.close()


def canon(v):
    """Canonicalize a value for order-insensitive multiset compare:
    floats to 9 significant digits (tolerates accumulation-order ulp,
    catches real semantic diffs), Decimal→float, timestamps→isoformat."""
    if v is None:
        return "NULL"  # sortable sentinel — mirrors the driver's compare
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


_QDF_CACHE: dict = {}


def build_query_df(spark, name: str):
    """Build a registered query's DataFrame for PLAN/SCHEMA inspection,
    memoized per test session (r17): the fleet-wide structural sweeps
    (cartesian, single-partition-window, column-name alignment) each
    paid a full ~240-query plan build — ~100 s apiece, the top three
    entries of the suite's duration profile and the reason the driver's
    verify window clipped the r16 run. Plan inspection is read-only, so
    one shared DataFrame per query is safe. Queries whose production
    path eagerly localCheckpoints expose a ``materialize`` kwarg; pins
    pass False so the real pre-checkpoint plan is inspected (the column
    SET is identical either way — materialize only truncates lineage)."""
    import inspect

    if name not in _QDF_CACHE:
        from rclabsapi_spark.registry import registered

        spec = registered()[name]
        kw = {}
        if "materialize" in inspect.signature(spec.fn).parameters:
            kw["materialize"] = False
        _QDF_CACHE[name] = spec.fn(spark, SF_CORRECT, **kw)
    return _QDF_CACHE[name]


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # key=repr: rows may mix types within a column (e.g. a NULL-keyed
    # macro-summary row beside int keys) — repr gives a total order
    # without changing multiset equality
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr
    )


def assert_oracle_match(spark, duck, spec, sf_dir=SF_CORRECT):
    sdf = spec.fn(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns

    rel = duck.sql(spec.oracle)
    dcols = rel.columns
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), (
        f"{spec.name}: column mismatch spark={sorted(scols)} duck={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"{spec.name}: row count spark={len(srows)} duck={len(drows)}"
    )
    sset = df_to_multiset(scols, [tuple(r[c] for c in scols) for r in srows])
    dset = df_to_multiset(dcols, drows)
    if sset != dset:
        diffs = [
            (a, b) for a, b in zip(sset, dset) if a != b
        ][:5]
        raise AssertionError(f"{spec.name}: value mismatch, first diffs: {diffs}")
