"""The dedup builders write each projection as one SQL string. This pins
what that buys, the driver-side construction cost in py4j round trips,
and what it must not break: a column name holding a backtick or a space
reads as that one column."""

from __future__ import annotations

import gc

import py4j.clientserver
import pytest

from rclabsapi_spark.functions.scalars import sql_ident
from rclabsapi_spark.llm.dedup import (
    cluster_quality_audit,
    dedup_clusters,
    lsh_candidate_pairs,
)

from .conftest import SF_SMOKE

# py4j calls per build. Column-by-Column construction took 1,750 for
# LSH, 1,109 for a one-round dedup_clusters call and 525 for the audit;
# the SQL-text builds take 477, ~172 and 188, and each bound is that
# count plus a quarter.
_BOUNDS = {"lsh_candidate_pairs": 595, "dedup_clusters": 215, "audit": 235}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _min_calls(monkeypatch, build, reps: int = 3) -> int:
    """Fewest py4j commands one ``build()`` sends, over ``reps`` builds.
    ``gc`` is off while counting, so no collector-driven release of
    earlier Java objects lands inside a build."""
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting
    )
    counts = []
    for _ in range(reps):
        gc.collect()
        gc.disable()
        try:
            calls[0] = 0
            build()
            counts.append(calls[0])
        finally:
            gc.enable()
    monkeypatch.undo()
    return min(counts)


def test_dedup_build_cost(monkeypatch, docs):
    pairs = lsh_candidate_pairs(docs)
    stats: dict = {}
    clusters = dedup_clusters(pairs, stats=stats)
    assert stats["rounds"] == 1  # the bound is one round's cost
    got = {
        "lsh_candidate_pairs": _min_calls(
            monkeypatch, lambda: lsh_candidate_pairs(docs)
        ),
        "dedup_clusters": _min_calls(
            monkeypatch, lambda: dedup_clusters(pairs)
        ),
        "audit": _min_calls(
            monkeypatch, lambda: cluster_quality_audit(pairs, clusters)
        ),
    }
    assert {k: v for k, v in got.items() if v > _BOUNDS[k]} == {}, got


def test_sql_ident_quotes_and_escapes():
    assert sql_ident("doc_id") == "`doc_id`"
    assert sql_ident("doc`id") == "`doc``id`"
    assert sql_ident("the text") == "`the text`"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_interpolated_names_are_quoted(docs):
    """The key renamed to ``doc`id`` and the text column to ``the text``
    (a backtick and a space, which unquoted SQL text misreads): LSH, CC
    and the audit return the rows they return on ``doc_id``/``text``."""
    pairs = lsh_candidate_pairs(docs)
    odd = docs.withColumnsRenamed({"doc_id": "doc`id", "text": "the text"})
    odd_pairs = lsh_candidate_pairs(odd, key_col="doc`id", text_col="the text")
    want = _rows(pairs)
    assert want and _rows(odd_pairs) == want

    clusters = dedup_clusters(pairs)
    odd_clusters = dedup_clusters(
        pairs.withColumnsRenamed({"doc_a": "doc`a", "doc_b": "the b"}),
        src_col="doc`a",
        dst_col="the b",
    )
    assert _rows(odd_clusters) == _rows(clusters)

    audit = cluster_quality_audit(pairs, clusters)
    odd_audit = cluster_quality_audit(
        pairs.withColumnRenamed("jaccard", "the `sim`"),
        clusters.withColumnsRenamed(
            {"doc_id": "doc`id", "cluster_id": "the cluster"}
        ),
        sim_col="the `sim`",
        key_col="doc`id",
        cluster_col="the cluster",
    )
    assert _rows(odd_audit) == _rows(audit)
