"""Regenerate CATALOG.md — one line per registered query: name, fixture
tables touched (from the oracle), bench flag, and the docstring's first
sentence. Run after adding queries: python scripts/gen_catalog.py"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rclabsapi_spark.registry import get_registry

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> None:
    reg = get_registry()
    lines = [
        "# CATALOG — registered queries",
        "",
        f"{len(reg)} queries ({sum(1 for s in reg.values() if s.oracle)} "
        "oracle-backed). Regenerate with `python scripts/gen_catalog.py`.",
        "",
        "| query | tables | bench | what |",
        "|---|---|---|---|",
    ]
    for name in sorted(reg):
        spec = reg[name]
        sql = spec.oracle or ""
        tabs = sorted(
            {t for t in TABLES if re.search(rf"\b{t}\b", sql)}
        )
        doc = (spec.fn.__doc__ or "").strip().replace("\n", " ")
        doc = re.sub(r"\s+", " ", doc)
        first = doc.split(". ")[0][:140].replace("|", "\\|")
        lines.append(
            f"| `{name}` | {', '.join(tabs) or '—'} | "
            f"{'✓' if spec.bench else ''} | {first} |"
        )
    with open("CATALOG.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"CATALOG.md: {len(reg)} queries")


if __name__ == "__main__":
    main()
