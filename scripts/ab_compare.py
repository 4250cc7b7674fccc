#!/usr/bin/env python3
"""Interleaved A/B timing for a set of bench queries between the working
tree (A) and the working tree with chosen paths stashed (B): alternate
sides in ONE process environment, with the side that runs first
swapping on every alt (so neither side always runs on the warmer or
the quieter box), min-of-N per side, and a cpu fingerprint before every
block so a steal episode is visible in the record.

    python scripts/ab_compare.py --paths f1.py f2.py --alts 2 -- q1 q2

Implementation note: Spark sessions cache imported Python code, so each
side runs in a FRESH subprocess (scripts/perf_single.py); the stash/pop
happens between subprocesses. min-of-2 timed runs per query per block.
"""
from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from bench import _cpu_score  # noqa: E402


def run_side(queries: list[str]) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, "scripts/perf_single.py", *queries],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    last = [l for l in out.stdout.strip().splitlines() if l.startswith('{"all"')]
    if not last:
        print(out.stdout[-2000:], file=sys.stderr)
        print(out.stderr[-2000:], file=sys.stderr)
        raise RuntimeError("perf_single produced no summary")
    return json.loads(last[-1])["all"]


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout


def stash_depth() -> int:
    return len(git("stash", "list").splitlines())


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--paths", nargs="+", required=True)
    p.add_argument("--alts", type=int, default=2)
    p.add_argument("queries", nargs="+")
    args = p.parse_args()

    def run_stashed() -> dict[str, float]:  # B = paths stashed (old)
        # `git stash push` exits 0 without creating an entry when the paths
        # are unmodified; popping then would apply an unrelated stash
        depth = stash_depth()
        git("stash", "push", "--", *args.paths)
        if stash_depth() == depth:
            sys.exit(f"no changes under {args.paths}: A and B would be the same code")
        try:
            return run_side(args.queries)
        finally:
            git("stash", "pop")

    a_times: dict[str, list[float]] = {q: [] for q in args.queries}
    b_times: dict[str, list[float]] = {q: [] for q in args.queries}
    scores: list[int] = []
    for alt in range(args.alts):
        order = "AB" if alt % 2 == 0 else "BA"
        times, cpu = {}, {}
        for side in order:
            cpu[side] = _cpu_score(0.5)
            scores.append(cpu[side])
            # A = working tree (new)
            times[side] = run_side(args.queries) if side == "A" else run_stashed()
        for q in args.queries:
            a_times[q].append(times["A"][q])
            b_times[q].append(times["B"][q])
        record = {"alt": alt, "order": order, "cpu": cpu, **times}
        print(json.dumps(record), flush=True)
    summary = {
        q: {
            "A_min": min(a_times[q]),
            "B_min": min(b_times[q]),
            "delta_pct": round(
                100.0 * (min(a_times[q]) / min(b_times[q]) - 1.0), 1
            ),
        }
        for q in args.queries
    }
    print(json.dumps({"cpu_scores": scores, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
