#!/usr/bin/env python
"""Scaling-curve comparator: given two bench_full.json files recorded at
different scale factors, print per-query time ratios sorted worst-first
and flag rows whose growth exceeds the data growth by more than a
tolerance (default: ratio > data_ratio × 1.5 — i.e. clearly super-linear
after allowing fixed-overhead amortization noise on sub-second rows).

Usage:
    python tools/scalecheck.py bench_sf0.1.json bench_sf1.0.json [--full]

Sub-second base rows are reported but not flagged (fixed JVM/stage launch
overhead dominates them; their ratio is not a scaling signal).
"""

from __future__ import annotations

import json
import sys


def per_query(rec: dict) -> dict:
    """The record's full per-query map; exits with an error when it lacks
    one or holds fewer rows than its ``n_queries``."""
    q = rec.get("queries_median") or rec.get("queries")
    if not q:
        sys.exit("input lacks a per-query map — pass bench_full.json copies")
    if len(q) < rec.get("n_queries", 0):
        sys.exit(
            f"input holds {len(q)} of {rec['n_queries']} queries — pass "
            "bench_full.json copies, not bench.py's compact final line "
            "(its \"queries\" map keeps only the slowest rows that fit)"
        )
    return q


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    show_full = "--full" in sys.argv
    a = json.load(open(args[0]))
    b = json.load(open(args[1]))
    qa, qb = per_query(a), per_query(b)
    data_ratio = b["sf"] / a["sf"]
    common = sorted(set(qa) & set(qb))
    rows = []
    for n in common:
        ta, tb = qa[n], qb[n]
        ratio = tb / ta if ta > 0 else float("inf")
        flag = ratio > data_ratio * 1.5 and ta >= 1.0
        rows.append((ratio, n, ta, tb, flag))
    rows.sort(reverse=True)
    flagged = [r for r in rows if r[4]]
    print(f"# sf {a['sf']} -> {b['sf']} (data x{data_ratio:.0f}); "
          f"{len(common)} common queries; total "
          f"{sum(qa[n] for n in common):.1f}s -> "
          f"{sum(qb[n] for n in common):.1f}s")
    print(f"# flagged super-linear (ratio > {data_ratio * 1.5:.0f}x with "
          f"base >= 1s): {len(flagged)}")
    for ratio, n, ta, tb, flag in (rows if show_full else rows[:25]):
        mark = " <-- SUPER-LINEAR" if flag else ""
        print(f"{ratio:7.1f}x  {ta:7.2f}s -> {tb:8.2f}s  {n}{mark}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
