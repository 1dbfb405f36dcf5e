#!/usr/bin/env python3
"""Time every registered query at $SPARK_GRAFT_SF_DIR (default sf0.1).

One rule for every query, in registry order: drop the engine's shared
caches (``perfbench.workloads.drop_caches``), then time one build plus one
write of the query's DataFrame to the ``noop`` sink. The write computes
every output column, so neither lazy plans nor column pruning can skip
work (a ``count()`` would let Catalyst drop the projected columns). A
query that owns a shared cache builds it inside its own timed region.

Before the sweep, one unrelated parquet ``count()`` warms the JVM and a
no-op ``mapInPandas`` pre-forks the Python workers. After any query slower
than 1 s, an untimed ``System.gc()`` lets Spark's ContextCleaner delete
dead shuffle files before the next query, which keeps large scale factors
from filling the disk.

Writes ``BENCH_FULL.json`` to the working directory and prints the same
document as the last stdout line::

  {"git_sha": ..., "queries": {name: seconds}, "sf": ..., "total": ...}

``SPARK_GRAFT_BENCH_ONLY`` limits the sweep to comma-separated names or
globs (``dedup_*``). ``bench_compare.py BASE NEW`` reports two runs side
by side. Committed ``BENCH_FULL_r*`` snapshots (r15 and earlier) were taken
with an older protocol: min-of-N passes for some queries and untimed
family-cache warm-ups.
"""

from __future__ import annotations

import fnmatch
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def _git_sha() -> str | None:
    try:
        return subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):  # no git, or not a checkout
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Python workers import the package from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, REPO)
    from perfbench.workloads import drop_caches
    from use_clickhouse_2_analyze_mysql_binlog_spark import queries_registry as R
    from use_clickhouse_2_analyze_mysql_binlog_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    spark.range(0, 1024, 1, 8).mapInPandas(lambda it: it, "id long").count()

    names = list(R.QUERIES)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only:
        pats = [p.strip() for p in only.split(",") if p.strip()]
        names = [n for n in names if any(fnmatch.fnmatch(n, p) for p in pats)]
    timings: dict[str, float] = {}
    for name in names:
        drop_caches(spark)
        t0 = time.perf_counter()
        df = R.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        if timings[name] > 1:
            spark.sparkContext._jvm.System.gc()

    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    doc = {
        "queries": timings,
        "total": round(sum(timings.values()), 3),
        "sf": sf_val,
        "git_sha": _git_sha(),
    }
    with open("BENCH_FULL.json", "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(doc, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
