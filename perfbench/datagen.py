"""Seeded generator for the engine's ten fixture tables.

Writes ``<out>/<table>.parquet`` for every table in
``rclabsapi_spark.catalog.TABLES`` with the schemas and row counts of the
engine's fixture data (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``), at any scale factor. Documents are 10
to 99 words drawn from a 31-word vocabulary, and one in twenty is a copy
of another with one word appended; ``compare_inputs.py`` sets the
generated tables against a fixture directory. The
same ``(sf, seed)`` always gives byte-identical tables; only the random
contents change with the seed, never the row counts or the shape of the
distributions, so timings of two seeds are comparable.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "plate", "ring", "rod", "bolt", "gear", "gizmo", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
WORDS = (
    "a the big small fast slow data table row column key value join sort "
    "hash scan filter group agg order line part customer query spark "
    "stream batch window merge vector"
).split()
DUP_SHARE = 0.05
EMB_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx])


def _documents(rng, n: int) -> pa.Table:
    n_dup = round(n * DUP_SHARE)
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
        for _ in range(n - n_dup)
    ]
    # near-duplicates: a copy of another document with one word appended
    for src in rng.integers(0, n - n_dup, n_dup):
        texts.append(texts[src] + " dup")
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory. Each table draws from its own
    generator, so adding a column to one table never shifts another."""
    n = row_counts(sf)
    seeds = np.random.SeedSequence(seed).spawn(10)
    rngs = [np.random.default_rng(s) for s in seeds]
    i32, i64 = np.int32, np.int64
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(list(REGIONS)),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(i32)),
        }
    )
    r = rngs[0]
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=i64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(r.integers(0, 25, nc).astype(i32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(r, SEGMENTS, nc),
        }
    )
    r = rngs[1]
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=i64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(r.integers(0, 25, ns).astype(i32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns)),
        }
    )
    r = rngs[2]
    npart = n["part"]
    keys = np.arange(npart, dtype=i64)
    adj = r.integers(0, len(PART_ADJ), npart)
    noun = r.integers(0, len(PART_NOUN), npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in r.integers(1, 26, npart)]
            ),
            "p_type": _pick(r, PART_TYPES, npart),
            "p_size": pa.array(r.integers(1, 51, npart).astype(i32)),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 2)),
        }
    )
    r = rngs[3]
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=i64)),
            "o_custkey": pa.array(r.integers(0, nc, no).astype(i64)),
            "o_orderstatus": _pick(r, ("F", "O", "P"), no),
            "o_totalprice": pa.array(_money(r, 1000, 500_000, no)),
            "o_orderdate": pa.array(
                _days(r, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1))
            ),
            "o_orderpriority": _pick(r, PRIORITIES, no),
        }
    )
    r = rngs[4]
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, no, nl).astype(i64)),
            "l_partkey": pa.array(r.integers(0, npart, nl).astype(i64)),
            "l_suppkey": pa.array(r.integers(0, ns, nl).astype(i64)),
            "l_linenumber": pa.array(r.integers(1, 8, nl).astype(i32)),
            "l_quantity": pa.array(r.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900, 105_000, nl)),
            "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(r, ("A", "N", "R"), nl),
            "l_linestatus": _pick(r, ("F", "O"), nl),
            "l_shipdate": pa.array(
                _days(r, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4))
            ),
        }
    )
    r = rngs[5]
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(r.integers(0, span_us, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=i64)),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + offs.astype("timedelta64[us]")
            ),
            "user_id": pa.array(
                r.integers(0, max(1, round(15_000 * sf)), ne).astype(i64)
            ),
            "event_type": _pick(r, EVENT_TYPES, ne),
            "value": pa.array(
                np.maximum(0.01, np.round(r.exponential(50.0, ne), 2))
            ),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rngs[6], n["documents"])
    out["embeddings"] = _embeddings(rngs[7], n["embeddings"])
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir``; return the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
