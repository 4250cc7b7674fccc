"""Lookups by name read the live registry: ``EngineAPI.run_query`` /
``list_queries`` and ``entry`` hash no query source and read no
verification ledger, and they serve whatever entry the registry holds."""

from __future__ import annotations

import dataclasses
import json

import pytest

from rclabsapi_spark import registry
from rclabsapi_spark.api import EngineAPI, ValidationError

SF = "/root/testdata/sf0.001"


def _forbid_ordering(monkeypatch):
    def boom(*_a, **_k):
        raise AssertionError("a lookup by name computed the driver order")

    monkeypatch.setattr(registry, "spec_digest", boom)
    monkeypatch.setattr(registry, "_load_verified", boom)


def test_lookups_hash_no_source(spark, monkeypatch):
    import __spark_entry__

    want = sorted(registry.get_registry())
    _forbid_ordering(monkeypatch)
    api = EngineAPI(spark)

    assert api.list_queries() == want
    rows = api.run_query("a1_count_by_status", sf_dir=SF, limit=5)
    assert rows and all("cnt" in json.loads(r) for r in rows)
    with pytest.raises(ValidationError):
        api.run_query("__evil__", sf_dir=SF)
    assert __spark_entry__.entry(spark).collect()


def test_registered_is_the_live_registry():
    assert registry.registered() is registry._REGISTRY
    assert len(registry.registered()) == len(registry.get_registry())


def test_swapped_entry_is_served(spark, monkeypatch):
    """An entry replaced in the registry after import (as the benchmark's
    traced run does) is the one ``run_query`` calls."""
    name = "a1_count_by_status"
    spec = registry.registered()[name]
    calls = []

    def fn(spark_, sf_dir):
        calls.append(sf_dir)
        return spark_.range(3).withColumnRenamed("id", "swapped")

    monkeypatch.setitem(
        registry._REGISTRY, name, dataclasses.replace(spec, fn=fn)
    )
    rows = EngineAPI(spark).run_query(name, sf_dir=SF)
    assert calls == [SF]
    assert [json.loads(r) for r in rows] == [{"swapped": i} for i in range(3)]
