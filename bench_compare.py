#!/usr/bin/env python3
"""Report two bench.py runs side by side, per query.

Usage: python3 bench_compare.py BASE.json NEW.json

Reads the flat ``queries`` dict (seconds per query name) that
``BENCH_FULL.json`` and every committed ``BENCH_FULL_r*_sf*.json`` carry.
Prints base/new/ratio per query, the median ratio and the totals over the
names both runs share. It is a report and exits 0 whatever the numbers:
regressions are decided by ``perfbench`` under the paired protocol of
``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import statistics
import sys


def _queries(path: str) -> dict[str, float]:
    with open(path) as fh:
        return json.load(fh)["queries"]


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    base, new = _queries(args[0]), _queries(args[1])
    names = sorted(set(base) | set(new))
    w = max(map(len, names), default=5)
    print(f"{'query':<{w}}  {'base':>8}  {'new':>8}  ratio")
    ratios = []
    for name in names:
        b, n = base.get(name), new.get(name)
        if b is None or n is None:
            status = "added" if b is None else "removed"
            bs = "-" if b is None else f"{b:.3f}"
            ns = "-" if n is None else f"{n:.3f}"
            print(f"{name:<{w}}  {bs:>8}  {ns:>8}  {status}")
            continue
        rs = "-"
        if b > 0:
            ratios.append(n / b)
            rs = f"{n / b:.2f}x"
        print(f"{name:<{w}}  {b:>8.3f}  {n:>8.3f}  {rs}")
    shared = set(base) & set(new)
    tb = sum(base[q] for q in shared)
    tn = sum(new[q] for q in shared)
    med = f"{statistics.median(ratios):.2f}x" if ratios else "-"
    print(f"median ratio: {med}")
    print(f"total over {len(shared)} shared queries: {tb:.3f}s -> {tn:.3f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
