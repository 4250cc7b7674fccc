"""Input checks raise, they never ``assert``: ``python -O`` strips an
``assert``, and each of these checks guards a silently wrong result (a
PQ codebook that drops trailing dimensions or shifts its code ids, a
short PPM payload, a rate-limit rule match that returns no columns)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rclabsapi_spark.llm.multimodal import encode_ppm
from rclabsapi_spark.llm.similarity import pq_train
from rclabsapi_spark.streaming.rate_limiter import compile_rule_match


def _vectors(spark, ids):
    return spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 2.0]) for i in ids],
        "vec_id long, embedding array<double>",
    )


_CHECKS = {
    "pq_subspaces_do_not_divide_dim": (
        lambda spark: pq_train(None, n_subspaces=3, dim=4),
        "n_subspaces must divide dim",
    ),
    "pq_missing_seed_ids": (
        lambda spark: pq_train(
            _vectors(spark, [0, 1]), n_subspaces=2, codebook_size=4,
            iters=1, dim=4,
        ),
        r"no input rows for ids \[2, 3\]",
    ),
    "ppm_payload_length": (
        lambda spark: encode_ppm(2, 2, b"\0" * 11), "width \\* height \\* 3"
    ),
    "rate_limit_rules_empty": (
        lambda spark: compile_rule_match(F.col("endpoint"), []),
        "at least one",
    ),
}


@pytest.mark.parametrize(
    "call, message", list(_CHECKS.values()), ids=list(_CHECKS)
)
def test_input_checks_raise_value_error(spark, call, message):
    with pytest.raises(ValueError, match=message):
        call(spark)


def test_package_has_no_assert_statements():
    root = Path(__file__).resolve().parents[1]
    found = [
        f"{p.relative_to(root)}:{node.lineno}"
        for p in sorted((root / "rclabsapi_spark").rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert found == []
