#!/usr/bin/env python3
"""Per-query diff of two bench artifacts (BENCH_local_*.json shape).

Usage: bench_diff.py <before.json> <after.json> [--top N] [--min-delta SEC]
Prints total/geomean speedup over common queries and the largest
improvements/regressions, with per-pass arrays when available.
"""
import json
import math
import sys


def load(p):
    with open(p) as f:
        return json.load(f)


def main() -> None:
    a, b = load(sys.argv[1]), load(sys.argv[2])
    top = int(sys.argv[sys.argv.index("--top") + 1]) if "--top" in sys.argv else 15
    mind = (float(sys.argv[sys.argv.index("--min-delta") + 1])
            if "--min-delta" in sys.argv else 0.15)
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    ta = sum(qa[q] for q in common)
    tb = sum(qb[q] for q in common)
    # Queries with a zero time on either side have no defined ratio: the
    # geomean covers only the pairs it sums, and says how many it left out.
    ratios = [qa[q] / qb[q] for q in common if qa[q] > 0 and qb[q] > 0]
    geo = (math.exp(sum(math.log(r) for r in ratios) / len(ratios))
           if ratios else float("nan"))
    print(f"common={len(common)} before_total={ta:.1f}s after_total={tb:.1f}s "
          f"total_speedup={ta/tb:.3f}x geomean_speedup={geo:.3f}x "
          f"geomean_excluded={len(common) - len(ratios)}")
    deltas = [(qa[q] - qb[q], q) for q in common]
    deltas.sort()
    print("\nbiggest improvements (before -> after):")
    for d, q in reversed(deltas[-top:]):
        if d >= mind:
            print(f"  {q:42s} {qa[q]:7.3f} -> {qb[q]:7.3f}  (-{d:.3f}s)")
    print("\nbiggest regressions (before -> after):")
    for d, q in deltas[:top]:
        if -d >= mind:
            pa = a.get("per_pass", {}).get(q, "")
            pb = b.get("per_pass", {}).get(q, "")
            print(f"  {q:42s} {qa[q]:7.3f} -> {qb[q]:7.3f}  (+{-d:.3f}s) "
                  f"passes {pa} -> {pb}")
    only_a = set(qa) - set(qb)
    only_b = set(qb) - set(qa)
    if only_a:
        print(f"\nonly in before: {sorted(only_a)}")
    if only_b:
        print(f"only in after: {sorted(only_b)}")


if __name__ == "__main__":
    main()
