"""The blocked-pair primitive (``operators/linkage.py::block_pairs`` /
``sorted_pairs``) against a brute-force reference, the one-copy rule
for its pair comprehension, and the tier parameter guards that raise
instead of returning wrong pairs."""

from __future__ import annotations

import ast
import re
from itertools import combinations
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rclabsapi_spark.llm.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_bits,
)
from rclabsapi_spark.llm.multimodal import (
    average_hash_bands,
    phash_near_dup_pairs,
    wav_energy_hash_bands,
)
from rclabsapi_spark.operators.linkage import block_pairs
from rclabsapi_spark.streaming.frames import frame_phash_sink


def _pair(x, y):
    return F.struct(x.alias("a"), y.alias("b"))


def _keep(x, y):
    return (x + y) % 3 != 0


def _run(spark, blocks, cap, keep):
    rows = [(blk, m) for blk, ms in blocks.items() for m in ms]
    df = spark.createDataFrame(rows, "blk int, m int")
    out = block_pairs(df, ["blk"], F.col("m"), cap, _pair, keep)
    return sorted(
        (r["blk"], r["a"], r["b"])
        for r in out.select("blk", "p.a", "p.b").collect()
    )


def _reference(blocks, cap, keep):
    return sorted(
        (blk, a, b)
        for blk, ms in blocks.items()
        if cap is None or len(ms) <= cap
        for a, b in combinations(sorted(ms), 2)
        if keep is None or (a + b) % 3 != 0
    )


@st.composite
def _blocks(draw):
    cap = draw(st.one_of(st.none(), st.integers(2, 5)))
    most = (5 if cap is None else cap) + 2
    # members come from a small range, so the same member recurs
    # across blocks; within a block they are distinct
    blocks = draw(
        st.dictionaries(
            st.integers(0, 6),
            st.sets(st.integers(0, 12), min_size=1, max_size=most),
            max_size=6,
        )
    )
    return blocks, cap, draw(st.sampled_from([None, _keep]))


@settings(
    max_examples=12,  # each example runs a Spark job
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(case=_blocks())
def test_block_pairs_matches_bruteforce(spark, case):
    """Every in-block ``x < y`` pair of every block within the cap,
    each once, filtered by ``keep`` when given."""
    blocks, cap, keep = case
    assert _run(spark, blocks, cap, keep) == _reference(blocks, cap, keep)


def test_block_pairs_cap_is_inclusive(spark):
    """A block of exactly ``cap`` members is kept; one of ``cap + 1``
    members is dropped whole."""
    cap = 4
    blocks = {1: set(range(cap)), 2: set(range(10, 11 + cap))}
    out = _run(spark, blocks, cap, None)
    assert out == [(1, a, b) for a, b in combinations(range(cap), 2)]


def test_one_pair_comprehension_in_package():
    """The in-block pair comprehension (``F.slice(members, i + 2, …)``)
    is written once, inside ``sorted_pairs``; every blocked-pair site
    calls it instead of carrying its own copy."""
    root = Path(__file__).resolve().parents[1] / "rclabsapi_spark"
    pattern = re.compile(r"F\.slice\(\s*\w+,\s*i \+ F\.lit\(2\)")
    hits = []
    for p in sorted(root.rglob("*.py")):
        text = p.read_text()
        spans = {
            node.name: (node.lineno, node.end_lineno)
            for node in ast.parse(text).body
            if isinstance(node, ast.FunctionDef)
        }
        for m in pattern.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            owner = [n for n, (lo, hi) in spans.items() if lo <= line <= hi]
            hits.append((p.relative_to(root).as_posix(), owner))
    assert hits == [("operators/linkage.py", ["sorted_pairs"])]


_GUARDS = {
    "minhash_lanes": (
        lambda: minhash_signatures(None, num_hashes=9), "8 four-char lanes"
    ),
    "lsh_bands_uneven": (
        lambda: lsh_candidate_pairs(None, bands=3), "divide num_hashes"
    ),
    "lsh_bands_over_hashes": (
        lambda: lsh_candidate_pairs(None, bands=16), "divide num_hashes"
    ),
    "simhash_bits": (lambda: simhash_bits(None, bits=61), "signed 64-bit"),
    "ahash_bands_uneven": (
        lambda: average_hash_bands(None, n_bands=3), "divide the bit"
    ),
    "ahash_band_width": (
        lambda: average_hash_bands(None, grid=16), "signed int"
    ),
    "phash_pigeonhole": (
        lambda: phash_near_dup_pairs(None, max_hamming=4), "pigeonhole"
    ),
    "phash_packing": (
        lambda: phash_near_dup_pairs(None, n_bands=5), "at most 4"
    ),
    "wav_bands_uneven": (
        lambda: wav_energy_hash_bands(None, n_bands=5), "divide the bit"
    ),
    "wav_band_width": (
        lambda: wav_energy_hash_bands(None, n_seg=128), "signed int"
    ),
    "frame_sink_pigeonhole": (
        lambda: frame_phash_sink("h", "p", max_hamming=4), "pigeonhole"
    ),
}


@pytest.mark.parametrize(
    "call, message", list(_GUARDS.values()), ids=list(_GUARDS)
)
def test_tier_parameter_guards_raise(call, message):
    """Out-of-range tier parameters raise ``ValueError`` (an ``assert``
    vanishes under ``python -O`` and the tier then returns wrong
    pairs), before any DataFrame is touched."""
    with pytest.raises(ValueError, match=message):
        call()
