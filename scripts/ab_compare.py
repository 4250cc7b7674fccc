#!/usr/bin/env python3
"""Interleaved A/B timing for a set of bench queries between the working
tree (A) and the working tree with chosen paths stashed (B) — the r16
measurement discipline: alternate sides in ONE process environment,
min-of-N per side, cpu fingerprint bracketing every block so a steal
episode is visible in the record.

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
import time

REPO = "/root/repo"


def cpu_score(seconds: float = 0.5) -> int:
    t0 = time.perf_counter()
    n = 0
    x = 0
    while time.perf_counter() - t0 < seconds:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) % 2147483648
        n += 1
    return int(round(n * 2.0 / seconds))


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

    a_times: dict[str, list[float]] = {q: [] for q in args.queries}
    b_times: dict[str, list[float]] = {q: [] for q in args.queries}
    scores: list[int] = []
    for alt in range(args.alts):
        scores.append(cpu_score())
        ta = run_side(args.queries)  # A = working tree (new)
        # `git stash push` exits 0 without creating an entry when the paths
        # are unmodified; popping then would apply an unrelated stash
        depth = stash_depth()
        git("stash", "push", "--", *args.paths)
        if stash_depth() == depth:
            sys.exit(f"no changes under {args.paths}: A and B would be the same code")
        try:
            scores.append(cpu_score())
            tb = run_side(args.queries)  # B = stashed (old)
        finally:
            git("stash", "pop")
        for q in args.queries:
            a_times[q].append(ta[q])
            b_times[q].append(tb[q])
        print(
            json.dumps({"alt": alt, "cpu": scores[-2:], "A": ta, "B": tb}),
            flush=True,
        )
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
