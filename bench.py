#!/usr/bin/env python3
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"queries": {...}, ..., "metric": "...", "value": N, "unit": "sec", "sf": ...}

``value`` is the total wall time of the HEADLINE query set — the five
reference-core transaction-analytics queries — so the metric stays
comparable across rounds as more operators join the registry. Every
registered query is still timed individually under ``queries`` and summed
under ``total_all_queries``. Each query executes fully (count) so lazy
plans can't cheat.

Output-shape notes (the round driver records only the LAST 2000 chars of
stdout and json-parses the final line, so the line must FIT):
- the final line is emitted via ``benchfmt.compact_line`` — per-query times
  as a POSITIONAL integer-millisecond array in sorted-name order with a
  crc32 name-list signature (``qsig``); decode with
  ``benchfmt.decode_queries_positional(doc["queries"], doc["qunit"],
  sorted_names, doc["qsig"])`` against the registry at the same commit
  (the older nested-dict shape decodes via ``decode_queries``) —
  guaranteed under the tail budget so every registry query's number
  survives into ``BENCH_r{N}.json`` with ``parsed != null``;
- the five headline queries are timed three times and keep the MINIMUM
  (``headline_passes: 3`` in the snapshot from round 10 on — min-of-2
  in rounds 5-9; see the inline comment) — single-pass numbers from
  rounds <= 4 are therefore slightly noisier on exactly those five;
- full float-seconds precision for all queries is also written next to
  this script: ``BENCH_FULL.json`` (stable scratch name, gitignored) and
  ``BENCH_FULL_r{round}_sf{sf}.json`` (committed per-round history;
  bench_compare.py reads either);
- the shared dedup shingle posting is warmed by one untimed build before
  timing starts, so the alphabetically-first consumer (historically
  ``benchmark_contamination``) no longer absorbs the family's one-time
  posting + JIT cost and per-query numbers are amortization-free.
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH_QUERIES = [
    "transaction_stats",
    "top_transaction_by_size",
    "top_transaction_by_spend_time",
    "top_transaction_by_affected_rows",
    "transaction_result_table",
]

# Non-headline queries gated by bench_compare.py (VERDICT r03 #3/#7): the
# historically slowest/most volatile heavies. They get the same min-of-2
# treatment as the headline set (VERDICT r05 #2: single-pass gating on a
# box with 4 s vs 37 s same-code swings produced a false watched-query
# gate FAIL in round 5).
WATCHED_QUERIES = [
    "dedup_apply_connected_components",
    "benchmark_contamination",
    "dedup_ngram_jaccard_staged",
    # r07: in-sweep single-pass systematically over-reported these two
    # (~2.2-2.4 s) vs isolated min-of-3 (1.15/1.28 s) — first-run cache
    # population + JIT inside the 95-query sweep, same class the r06
    # round fixed for the trio above; min-of-2 strips it
    "dedup_simhash",
    "dedup_simhash_pairs",
    # r13: the two heaviest registry rows with documented in-sweep vs
    # isolated spreads (cosine 42.8 in-sweep / 25.2 isolated at sf10 in
    # r12; bigrams 26-36 s across fresh sessions) — every round since
    # r11 spent adjudication work on one of them; min-of-2 settles the
    # number at the cost of one extra pass
    "dedup_embedding_cosine",
    "corpus_top_bigrams",
]

# r15 (VERDICT r14 next #4): cache tag -> released right after this query
# (its LAST consumer across the main sweep AND every extra pass —
# re-derived and pinned by tests/test_bench_cache_release.py). The dedup
# tags (posting, hash_sets, bands, lsh_pairs, simhash_sig,
# contamination_join, jaccard_cand) are deliberately ABSENT: their last
# consumers are the WATCHED min-of-2 passes at the end of the run, and
# releasing earlier would make those passes rebuild inside the timed
# region (a methodology change). Everything still tracked is released
# after the extra passes, before the JSON is written.
CACHE_RELEASE_AFTER = {
    "corpus_curate_materialize": ("flagged",),
    "similarity_ivf_topk_two_level": ("assign",),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from use_clickhouse_2_analyze_mysql_binlog_spark import queries_registry as R
    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import (
        curation,
        dedup,
    )
    from use_clickhouse_2_analyze_mysql_binlog_spark.session import get_spark

    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import (
        cachetrack,
    )

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footer caches with an unrelated action, then
    # pre-build the dedup family's shared shingle-posting cache untimed
    # (CacheManager dedupes by canonicalized plan, so every dedup query
    # reuses this entry). A no-op mapInPandas also pre-forks the Python
    # worker pool so the alphabetically-first Arrow query doesn't absorb
    # the one-time fork/init cost (same role as the JVM warm-up).
    warmup: dict[str, float] = {}
    t0 = time.perf_counter()
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    warmup["jvm_parquet"] = round(time.perf_counter() - t0, 3)
    docs = schemas.load_table(spark, sf_dir, "documents")
    t0 = time.perf_counter()
    dedup._shingle_posting(docs, persist=True).count()
    warmup["shingle_posting"] = round(time.perf_counter() - t0, 3)
    # r14: the curation family's shared flagged-corpus cache gets the
    # same untimed warm-up as the shingle posting (same policy, same
    # reason): corpus_curate_gopher/materialize are tails over one
    # memoized tokenize/score scan, so warming it keeps their per-query
    # numbers amortization-free and stable across rounds (without this,
    # whichever runs first absorbs the ~30-40 s build at sf10 — or, in a
    # min-of-N round, the build silently vanishes from the recorded
    # minimum and reappears as a phantom regression the next round).
    t0 = time.perf_counter()
    curation.flagged_documents(docs).count()
    warmup["flagged_documents"] = round(time.perf_counter() - t0, 3)
    spark.range(0, 1024, 1, 8).mapInPandas(lambda it: it, "id long").count()

    names = [n for n in sorted(R.QUERIES) if n not in BENCH_QUERIES]
    names += [n for n in BENCH_QUERIES if n in R.QUERIES]  # headline LAST
    # Opt-in subset filter for scale-exploration runs (comma-separated
    # exact names OR prefix globs like "dedup_*"). When active, the
    # round-stamped BENCH_FULL_r* snapshot is NOT written — subset runs
    # are scratch measurements, never driver artifacts.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only:
        import fnmatch

        pats = [p.strip() for p in only.split(",") if p.strip()]
        names = [
            n for n in names if any(fnmatch.fnmatch(n, p) for p in pats)
        ]
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        R.QUERIES[name](spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)
        # Shuffle files die only when their ShuffleDependency is GC'd;
        # on a big heap consecutive heavy queries can stack ~40 GB of
        # DEAD spill each before any natural full GC runs (round-13
        # sf100 probe: three heavy dedup rows filled a 75 GB volume).
        # After any query heavy enough to have spilled, nudge the JVM so
        # ContextCleaner reclaims its files before the next row starts.
        # OUTSIDE the timer — per-query numbers are unaffected. r15: the
        # threshold drops 5 s -> 1 s: at sf100 several multi-second rows
        # slipped under 5 s (apply-CC reads 5.09 s there), their dead
        # shuffles/broadcasts stayed live-referenced until the next
        # natural full GC, and the 8 g default heap OOMed mid-sweep on
        # accumulated dead state; at sf0.1 this adds a handful of
        # ~100 ms untimed GCs per sweep.
        if timings[name] > 1:
            spark.sparkContext._jvm.System.gc()
        # r15 (VERDICT r14 next #4): unpersist a family's shared cache
        # right after its LAST consumer in the whole run — main sweep
        # AND the min-of-N extra passes below — so finished families
        # stop squeezing the execution pool under later heavy rows
        # (the documented 2-4x in-sweep inflation at sf10). OUTSIDE the
        # timer; a release can only make later rows recompute, never
        # change results. The two release points are pinned by
        # tests/test_bench_cache_release.py, which re-derives each cache
        # tag's consumer set from the live registry (including the
        # headline/watched extra passes — the dedup-family tags
        # stay resident because watched rows re-run at the end, exactly
        # the r14 methodology).
        for tag in CACHE_RELEASE_AFTER.get(name, ()):
            cachetrack.release(tag)

    # The headline metric and the gated WATCHED set get extra timed
    # passes, keeping the MINIMUM — standard min-of-N benching: the
    # minimum estimates the true cost with scheduler/GC noise stripped,
    # which matters on a shared box where identical runs have been
    # observed to swing far more than the code ever changes (round 5:
    # same query 4 s vs 37 s across back-to-back runs). Single-pass
    # numbers stay authoritative for the ungated tail (N x the full
    # sweep would multiply the driver's bench wall time);
    # "headline_passes" in the output records the methodology.
    # Round 10 (VERDICT r09 next #4, settling the recurring transaction-
    # trio adjudication): the HEADLINE five run min-of-3 — at min-of-2
    # the r09 driver run still read the trio 1.09-1.21x over r08's
    # luckiest committed snapshot on untouched code; the trio's in-sweep
    # run-to-run band is ~0.5-0.75 s and one extra ~3 s pass tightens
    # the minimum below the band, so future cross-round trio drift
    # under ~1.1x is methodology-settled as box noise, not code.
    extra = {n: 2 for n in BENCH_QUERIES}
    extra.update({n: 1 for n in WATCHED_QUERIES})
    for name, passes in ((n, p) for n, p in extra.items() if n in timings):
        for _ in range(passes):
            t0 = time.perf_counter()
            R.QUERIES[name](spark, sf_dir).count()
            timings[name] = min(
                timings[name], round(time.perf_counter() - t0, 3)
            )
    # run over: drop whatever family caches the extra passes kept alive
    cachetrack.release_all()

    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    headline_value = round(
        sum(timings[n] for n in BENCH_QUERIES if n in timings), 3
    )
    total = round(sum(timings.values()), 3)
    # r15 (VERDICT r14 next #3): the untimed shared-cache warm-ups are
    # real work the per-query numbers exclude — surface their total in
    # the one-line JSON (`wu`) next to `total` so no computation is
    # absent from the emitted record. `total` itself keeps its exact
    # historical meaning (sum of per-query times) so round-over-round
    # comparisons stay valid; cold-session reality for a family is
    # total-of-family + the relevant warm-up entries, all recorded.
    # jvm_parquet is excluded: it is JIT/page-cache warm-up of an
    # unrelated count, not work any query's number should ever contain.
    warmup_total = round(
        sum(v for k, v in warmup.items() if k != "jvm_parquet"), 3
    )

    # Full-precision flat record for bench_compare.py / the judge, written
    # twice: the stable name (gitignored — a scratch handle for tools) and
    # a round+sf-stamped snapshot (VERDICT r04 #7) so per-query history
    # survives at full precision across rounds. The current round is the
    # newest GIT-TRACKED CORRECTNESS_r{N}.json plus one: the driver
    # writes CORRECTNESS_r{N}.json to disk (untracked) BEFORE its
    # end-of-round bench run, so globbing the working tree stamped that
    # run N+1 (the r05→"r06" off-by-one, VERDICT r05 #6); files already
    # committed are one round behind by construction for both the
    # builder's mid-round runs and the driver's end-of-round run. The
    # HEAD sha is embedded so provenance never depends on the stamp; the
    # sf suffix keeps local runs at other scale factors from clobbering
    # the driver's sf0.1 snapshot.
    repo = os.path.dirname(os.path.abspath(__file__))
    import glob
    import re as _re
    import subprocess

    try:
        tracked = subprocess.run(
            ["git", "-C", repo, "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.split()
        git_sha = subprocess.run(
            ["git", "-C", repo, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except Exception:  # not a git checkout: fall back to the working tree
        tracked = glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        git_sha = None
    rounds = [
        int(m.group(1))
        for p in tracked
        if (m := _re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    this_round = (max(rounds) + 1) if rounds else 0
    doc = {
        "queries": timings,
        "headline": {n: timings[n] for n in BENCH_QUERIES if n in timings},
        "total_all_queries": total,
        "metric": "headline_query_wall_seconds",
        "value": headline_value,
        "unit": "sec",
        "sf": sf_val,
        "round": this_round,
        "git_sha": git_sha,
        "headline_passes": 3,
        # per-query timing methodology: min-of-N reads systematically
        # lower than single-pass, so compare a query's numbers only
        # across snapshots with the same pass count.
        "query_passes": {
            n: 1 + extra.get(n, 0) for n in timings
        },
        # r14 transparency: the untimed cache warm-ups (shared shingle
        # posting, shared flagged corpus — see the comment at the top of
        # main()) are real work the per-query numbers deliberately
        # exclude; recording their cost here keeps the full snapshot
        # honest about what the warm-up absorbs at each SF.
        "warmup_seconds": warmup,
        # r15: and their sum (minus the jvm warm-up) as one number, the
        # same value the one-line JSON emits as `wu`.
        "warmup_total_seconds": warmup_total,
    }
    fnames = ["BENCH_FULL.json"]
    if not only:  # subset runs never overwrite the round snapshot
        fnames.append(f"BENCH_FULL_r{this_round:02d}_sf{sf_val}.json")
    for fname in fnames:
        with open(os.path.join(repo, fname), "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
            fh.write("\n")

    from use_clickhouse_2_analyze_mysql_binlog_spark import benchfmt

    print(benchfmt.compact_line(timings, headline_value, total, sf_val,
          headline_passes=3, warmup_total_sec=warmup_total))
    spark.stop()


if __name__ == "__main__":
    main()
