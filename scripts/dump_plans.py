#!/usr/bin/env python3
"""Dump the plans of registered queries.

    python scripts/dump_plans.py <outdir> <suffix> [names...]
    python scripts/dump_plans.py --normalized <outdir> <suffix> [names...]

Writes <outdir>/<name>_<suffix>.txt for each named query, or for every
registered query when no name is given. Queries exposing a ``materialize``
kwarg are built with materialize=False so the real pre-checkpoint plan
is dumped (the plan-pin convention).

Default mode writes ``.explain("formatted")``. ``--normalized`` writes
``optimizedPlan()`` then ``executedPlan()`` with every ``#id`` renumbered
by first appearance, lambda variable names dropped (their ids kept) and
``plan_id`` masked, so two trees that build the same plans by different
means dump byte-identical files and a plan-identity check is one
``diff -r`` of two output directories."""
from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rclabsapi_spark.registry import registered
from rclabsapi_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_LAMBDA_NAME = re.compile(r"lambda [^\s#(),]+#")
_PLAN_ID = re.compile(r"plan_id=\d+")
_ID = re.compile(r"#(\d+)")


def normalize(text: str) -> str:
    """Renumber ``#id``s by first appearance, drop lambda variable names
    (``lambda x_3#17`` → ``lambda #17``) and mask ``plan_id``."""
    text = _PLAN_ID.sub("plan_id=?", _LAMBDA_NAME.sub("lambda #", text))
    ids: dict[str, int] = {}
    return _ID.sub(lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", text)


def plan_text(spark, df, normalized: bool) -> str:
    qe = df._jdf.queryExecution()
    if normalized:
        return normalize(
            f"{qe.optimizedPlan().toString()}\n{qe.executedPlan().toString()}"
        )
    return qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    args = sys.argv[1:]
    normalized = args[:1] == ["--normalized"]
    if normalized:
        args = args[1:]
    outdir, suffix, names = args[0], args[1], args[2:]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registered()
    for name in names or sorted(reg):
        spec = reg[name]
        kw = {}
        if "materialize" in inspect.signature(spec.fn).parameters:
            kw["materialize"] = False
        df = spec.fn(spark, SF, **kw)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan_text(spark, df, normalized))
        print(path, flush=True)


if __name__ == "__main__":
    main()
