#!/usr/bin/env python3
"""Bench regression gate: compare two bench.py JSON outputs per query.

Usage: python3 bench_compare.py BASE.json NEW.json [hard_cap]

Per-query minima on unchanged code read 1.2-1.3x high from box state
alone (VERDICT r10 next #2), so no single query gates on a drift-adjusted
ratio. Ratios are drift-normalized by dividing by the median per-query
ratio across the whole registry, so a uniformly slower box does not flag
spurious regressions (round 5: identical code measured a 1.30x median
from box noise alone). The gates:

1. **Headline trio-total gate**: the five reference-core queries gate as
   ONE number — the min-of-3 headline total (``value``) ratio must stay
   under ``1.1x`` drift-adjusted (the min-of-N methodology's observed
   noise band), with a 1.5x raw cap. Summing before comparing averages
   out per-query box jitter that min-of-3 demonstrably does not kill.
2. **All-query-total backstop** (round 12, ADVICE r11 #4): the
   registry-wide total gates at 1.25x drift-adjusted — a shared-infra
   edit slowing many queries 1.3-1.7x each sits below the other gates.
3. **Raw hard cap** on headline and watched queries (default 1.75x):
   drift normalization is blind to a change that slows the WHOLE
   registry uniformly, and the trio SUM can mask one small headline
   query's blowup when a big sibling improves; the cap catches both.

Every other query is REPORTED with the same ratios but does not gate.

Methodology note: bench.py times headline min-of-3 / watched min-of-2
(``headline_passes`` in the snapshot); the gate prints a warning when
the two sides' methodologies differ.
"""

from __future__ import annotations

import json
import re
import sys

from bench import BENCH_QUERIES, WATCHED_QUERIES
from use_clickhouse_2_analyze_mysql_binlog_spark import benchfmt

#: report-only: a row whose drift-adjusted ratio exceeds this is labelled
#: "slower" in the table; it gates nothing
REPORT_SLOWER = 1.2

def _normalize(doc: dict) -> dict:
    """Decode benchfmt's compact 'queries' payload into flat seconds:
    positional array (round 5+, names from the registry at this commit,
    qsig-verified) or nested integer dict (rounds 2-4)."""
    if "qunit" in doc:
        doc = dict(doc)
        if isinstance(doc["queries"], list):
            from use_clickhouse_2_analyze_mysql_binlog_spark import (
                queries_registry as R,
            )

            doc["queries"] = benchfmt.decode_queries_positional(
                doc["queries"], doc["qunit"], list(R.QUERIES), doc.get("qsig")
            )
        else:
            doc["queries"] = benchfmt.decode_queries(
                doc["queries"], doc["qunit"]
            )
        doc.setdefault("total_all_queries", doc.get("total"))
        doc.setdefault("headline_passes", doc.get("hp"))
    return doc


def _load(path: str) -> dict:
    """Accept bench.py's raw JSON line (old flat or new benchfmt-compact
    shape), BENCH_FULL.json, or the round driver's wrapper
    ({"n", "rc", "parsed": ..., "tail": "...<json line>..."})."""
    with open(path) as fh:
        doc = json.load(fh)
    if "queries" in doc:
        return _normalize(doc)
    if isinstance(doc.get("parsed"), dict) and "queries" in doc["parsed"]:
        return _normalize(doc["parsed"])
    tail = doc.get("tail", "")
    for line in reversed(tail.splitlines()):
        line = line.strip().lstrip("\r")
        if line.startswith("{"):
            try:
                inner = json.loads(line)
            except json.JSONDecodeError:
                continue
            if "queries" in inner:
                return _normalize(inner)
    # the driver wrapper keeps only the LAST N bytes of stdout, so the
    # bench line can be cut mid-JSON at the front; salvage whatever
    # "name": seconds pairs survive (top-level scalars like "value" are
    # picked up the same way)
    pairs = dict(
        (m.group(1), float(m.group(2)))
        for m in re.finditer(r'"([a-z_0-9]+)": ([0-9.]+)', tail)
    )
    queries = {
        k: v
        for k, v in pairs.items()
        if k not in ("value", "sf", "total_all_queries")
    }
    if queries:
        return {
            "queries": queries,
            "value": pairs.get("value"),
            "total_all_queries": pairs.get("total_all_queries"),
            "partial": True,
        }
    raise ValueError(f"{path}: no bench JSON with 'queries' found")


def main() -> int:
    base_path, new_path = sys.argv[1], sys.argv[2]
    hard_cap = float(sys.argv[3]) if len(sys.argv) > 3 else 1.75
    base = _load(base_path)
    new = _load(new_path)
    if base.get("headline_passes") != new.get("headline_passes"):
        print(
            "note: headline timing methodology differs between the two "
            f"files (passes: {base.get('headline_passes', 1)} vs "
            f"{new.get('headline_passes', 1)}) — headline ratios are "
            "biased toward the min-of-N side"
        )

    import statistics

    shared = [
        (name, base["queries"][name], new["queries"][name])
        for name in sorted(set(base["queries"]) & set(new["queries"]))
        if base["queries"][name]
    ]
    drift = (
        statistics.median(n / b for _, b, n in shared) if shared else 1.0
    )
    # Gate with drift clamped at >= 1: the median corrects a SLOWER
    # box/run (divide inflated ratios back down), but a median BELOW 1 —
    # e.g. when a perf round genuinely speeds up much of the registry —
    # must not make untouched queries look regressed relative to their
    # newly-faster neighbors (round 6: a 0.91x median turned an unchanged
    # headline query's 1.11x raw into a 1.22x "adjusted" FAIL). Speedups
    # elsewhere are not evidence that this query got slower; the raw
    # caps still govern.
    gate_drift = max(drift, 1.0)

    failures: list[str] = []
    rows = []
    for name in sorted(set(base["queries"]) | set(new["queries"])):
        b, n = base["queries"].get(name), new["queries"].get(name)
        if b is None or n is None:
            rows.append((name, b, n, None, "added" if b is None else "removed"))
            continue
        ratio = n / b if b else float("inf")
        capped = name in BENCH_QUERIES or name in WATCHED_QUERIES
        status = "ok"
        if capped and ratio > hard_cap:
            status = "REGRESSED (hard cap)"
            failures.append(
                f"{name}: {b:.3f}s -> {n:.3f}s "
                f"({ratio:.2f}x raw > {hard_cap}x cap on a "
                "headline/watched query)"
            )
        elif ratio / gate_drift > REPORT_SLOWER or ratio > hard_cap:
            status = (
                "slower (headline/watched; trio-total gates)"
                if capped
                else "slower (ungated)"
            )
        rows.append((name, b, n, ratio, status))

    # headline trio-total gate (docstring gate #1): compare the min-of-N
    # headline totals as one number, DRIFT-NORMALIZED (the first r11 run
    # read a uniform 1.15x registry median from box state alone — an
    # un-normalized trio ratio of 1.14x would have false-FAILed the
    # exact class this gate exists to absorb); a raw cap backstops a
    # genuine registry-wide slowdown that drift normalization is blind
    # to. Prefer the snapshot's "value" field; fall back to summing the
    # five from the per-query payload when a side lacks it
    # (partial/salvaged loads).
    HEADLINE_TOTAL_THRESHOLD = 1.1
    HEADLINE_TOTAL_RAW_CAP = 1.5

    def _headline_total(doc: dict) -> float | None:
        if doc.get("value"):
            return float(doc["value"])
        vals = [
            doc["queries"][q] for q in BENCH_QUERIES if q in doc["queries"]
        ]
        return sum(vals) if len(vals) == len(BENCH_QUERIES) else None

    # All-query-total backstop (docstring gate #2): the registry-wide
    # total, drift-adjusted, catches a shared-infra edit that slows many
    # queries 1.3-1.7x each (below the raw cap) while staying insensitive
    # to single-query box jitter (r10->r11 replay: 1.15x raw / 1.12x
    # drift -> 1.03x adjusted, PASS).
    TOTAL_THRESHOLD = 1.25
    # ADVICE r12 low: the stored registry-wide totals are not comparable
    # across registry changes (a removal deflates the new total by that
    # query's runtime, loosening the gate; an addition inflates it,
    # tightening it spuriously) — compare totals over the INTERSECTION
    # of query names present in both snapshots instead.
    # ADVICE r13 low: distinct name from the drift tuple list above, and
    # an explicit non-None + tb > 0 guard so a legitimately tiny shared
    # total can't silently skip the gate via falsy-zero.
    shared_names = set(base.get("queries", {})) & set(new.get("queries", {}))
    tb = sum(base["queries"][q] for q in shared_names) if shared_names else None
    tn = sum(new["queries"][q] for q in shared_names) if shared_names else None
    if tb is not None and tn is not None and tb > 0:
        total_adj = (tn / tb) / gate_drift
        if total_adj > TOTAL_THRESHOLD:
            failures.append(
                f"all-query total (over {len(shared_names)} shared queries): "
                f"{tb:.1f}s -> {tn:.1f}s "
                f"({tn / tb:.2f}x raw, {total_adj:.2f}x drift-adjusted > "
                f"{TOTAL_THRESHOLD}x) — shared-infra regression class"
            )

    hb, hn = _headline_total(base), _headline_total(new)
    headline_ratio = (hn / hb) if (hb and hn) else None
    if headline_ratio is None:
        print(
            "WARNING: headline trio-total gate SKIPPED — a snapshot "
            "lacks both a 'value' field and full headline per-query "
            "coverage (partial/salvaged load); only the all-query total "
            "and hard-cap gates ran"
        )
    if headline_ratio is not None:
        headline_adj = headline_ratio / gate_drift
        if (
            headline_adj > HEADLINE_TOTAL_THRESHOLD
            or headline_ratio > HEADLINE_TOTAL_RAW_CAP
        ):
            failures.append(
                f"headline trio total: {hb:.3f}s -> {hn:.3f}s "
                f"({headline_ratio:.2f}x raw, {headline_adj:.2f}x "
                f"drift-adjusted > {HEADLINE_TOTAL_THRESHOLD}x, raw cap "
                f"{HEADLINE_TOTAL_RAW_CAP}x)"
            )

    w = max(len(r[0]) for r in rows)
    print(f"{'query':<{w}}  {'base':>8}  {'new':>8}  {'ratio':>6}  status")
    for name, b, n, ratio, status in rows:
        bs = f"{b:.3f}" if b is not None else "-"
        ns = f"{n:.3f}" if n is not None else "-"
        rs = f"{ratio:.2f}x" if ratio is not None else "-"
        print(f"{name:<{w}}  {bs:>8}  {ns:>8}  {rs:>6}  {status}")
    # Box-drift summary (VERDICT r04 #7): the median per-query ratio is
    # the run-level speed difference between the two boxes/runs; the
    # total gates above divide by it before comparing to their thresholds.
    print(
        f"median per-query ratio (run-level drift): {drift:.2f}x "
        f"(gating divisor clamped to {gate_drift:.2f}x); headline/watched "
        f"queries fail on a raw ratio > {hard_cap}x"
    )
    hr = f" ({headline_ratio:.2f}x)" if headline_ratio is not None else ""
    # ADVICE r13 low: print the shared-intersection totals the backstop
    # actually gates on, not the stored total_all_queries fields (which
    # diverge from the gated numbers across registry changes).
    tbs = f"{tb:.1f}" if tb is not None else "-"
    tns = f"{tn:.1f}" if tn is not None else "-"
    print(
        f"headline trio total: {hb}s -> {hn}s{hr} "
        f"(gates at {HEADLINE_TOTAL_THRESHOLD}x); "
        f"all-query total over {len(shared_names)} shared queries: "
        f"{tbs}s -> {tns}s (gates at {TOTAL_THRESHOLD}x drift-adjusted)"
    )
    if failures:
        print("FAIL: bench regressions:\n  " + "\n  ".join(failures))
        return 1
    print(
        f"PASS: headline trio total within {HEADLINE_TOTAL_THRESHOLD}x, "
        f"all-query total within {TOTAL_THRESHOLD}x and no headline/watched "
        f"query over the {hard_cap}x raw cap"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
