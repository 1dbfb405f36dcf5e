"""Benchmark of the binlog pipeline on ``local[4]``.

    python3 perfbench/run.py --workload canal_pipeline --seed 1 --seconds 30 --trace 0

Workloads: ``canal_pipeline`` and ``query_sweep`` (see
``workloads.py``). Inputs are generated from ``--seed``; working files go
under ``.perfbench/work`` and traced spans under ``.perfbench/out`` in the
repository root. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, measured in a traced run.
The tracing overhead compares the traced operations with untraced ones of
the same run: ``canal_pipeline`` leaves half of its follow epochs untraced,
``query_sweep`` half of its passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "use_clickhouse_2_analyze_mysql_binlog_spark"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def metric_specs() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def metric_block(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """Every metric named in ``units``, with its unit; absent ones read 0
    (a layer the workload never calls)."""
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_specs()
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package from any working directory, and
    # every temporary file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    sys.path.insert(0, ROOT)
    from perfbench import trace as tr
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    tracer = tr.Tracer() if args.trace else None
    try:
        with tr.TreeMemory() as mem:
            spark, setup_s = W.start_session(work, bool(args.trace))
            try:
                out = W.WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer, mem)
                app_id = spark.sparkContext.applicationId
            finally:
                W.stop_session(spark)
        p50 = tr.median(out.latencies)
        pct, tail = tr.percentile_tail(out.latencies)
        details = {
            "latencies_s": out.latencies,
            "baseline_latencies_s": out.baseline_latencies,
            "setup_s": setup_s,
            "tail_pct": pct,
            "tail_s": tail,
            "problems": out.problems,
        }
        if args.trace:
            lats = out.baseline_latencies
            base_pct, base_tail = tr.percentile_tail(lats)
            layers = dict(out.layers)
            layers |= W.spark_layers(work, app_id, out.windows)
            layers |= W.self_time_layers(tracer)
            if out.decode_windows:
                layers["canal.overhead_ratio"] = W.decode_overhead(work, app_id, out)
            layers |= {
                "run.samples": float(len(lats)),
                "run.latency_tail_pct": base_pct,
                "run.latency_tail_s": base_tail,
                "trace.spans": float(len(tracer.spans)),
                "trace.overhead_ratio": p50 / tr.median(lats) - 1.0 if lats else 0.0,
            }
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
            details["nesting_problems"] = tr.check_nesting(tracer.spans)
            metrics = metric_block(layers, layer_units)
        else:
            values = {
                "setup_s": setup_s,
                "peak_rss_mb": mem.peak_bytes / 2**20,
                "latency_p50_s": p50,
                "throughput_per_s": out.throughput,
            }
            metrics = metric_block(values, e2e_units)
        correct, attempted, failed = out.failed == 0, out.attempted, out.failed
        details_file = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(out_dir, details_file), "w", encoding="utf-8") as fh:
            json.dump(details, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in out.problems:
        print(f"check failed: {p}", file=sys.stderr)
    if attempted == 0:  # a run that checked nothing is not a correct run
        correct, attempted, failed = False, 1, 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
