"""The correctness gate, locally: every registered query with an oracle is
hash-matched against DuckDB on the same fixtures (the driver does the same
at sf0.01)."""

from __future__ import annotations

import pytest

from rclabsapi_spark.registry import registered

from .conftest import assert_oracle_match

_REG = registered()
_WITH_ORACLE = [name for name, spec in sorted(_REG.items()) if spec.oracle]
_ROWS_ONLY = [name for name, spec in sorted(_REG.items()) if not spec.oracle]


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(spark, duck, name):
    assert_oracle_match(spark, duck, _REG[name])


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(spark, name):
    from .conftest import SF_CORRECT

    df = _REG[name].fn(spark, SF_CORRECT)
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert len(df.columns) > 0


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) >= 20
    assert set(oracles) <= set(qs)
