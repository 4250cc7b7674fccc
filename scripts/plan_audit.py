"""Regenerate the SCALE.md physical-plan audit table.

For every registered query: execute at sf0.01, then walk the FINAL
(adaptive) physical plan via rclabsapi_spark.planaudit and count
- parquet scans per source table (×N marks repeated scans; scans inside
  cached relations count once, at materialization),
- InMemory (cached) table reads,
- exchanges (shuffle + broadcast),
- broadcast-hash vs sort-merge joins.

Writes JSON to /tmp/plan_audit.json and prints the markdown table.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import inspect
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rclabsapi_spark.planaudit import audit  # noqa: E402
from rclabsapi_spark.registry import get_registry  # noqa: E402
from rclabsapi_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    out = {}
    for name, spec in sorted(get_registry().items()):
        # queries that eagerly localCheckpoint in production expose a
        # materialize kwarg; audit the real pre-checkpoint plan, not the
        # blank `Scan ExistingRDD` a checkpointed frame reports.
        kw = {}
        if "materialize" in inspect.signature(spec.fn).parameters:
            kw["materialize"] = False
        scans, counts = audit(spec.fn(spark, sf_dir, **kw))
        srcs = ", ".join(
            t if n == 1 else f"{t}×{n}" for t, n in sorted(scans.items())
        )
        if counts["cached"]:
            cached = f"+{counts['cached']} cached reads"
            srcs = f"{srcs} ({cached})" if srcs else cached
        out[name] = {
            "scans": srcs,
            "exch": counts["exch"],
            "bhj": counts["bhj"],
            "smj": counts["smj"],
        }
    with open("/tmp/plan_audit.json", "w") as f:
        json.dump(out, f, indent=1)
    total_exch = sum(v["exch"] for v in out.values())
    print(f"# {len(out)} queries, {total_exch} exchanges total")
    print("| query | scans | exch | BHJ | SMJ |")
    print("|---|---|---|---|---|")
    for name, v in out.items():
        print(
            f"| `{name}` | {v['scans']} | {v['exch']} | {v['bhj']} | {v['smj']} |"
        )


if __name__ == "__main__":
    main()
