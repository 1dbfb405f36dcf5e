"""Tests of the benchmark itself, at a tiny size.

    python -m pytest perfbench/test_perfbench.py -q

Each workload runs in-process on one shared session with a few hundred
events (or the sf0.001 tables) and is checked for zero failed operations,
a full set of per-layer metrics and a well-nested span tree. The metric
block and the event-log fold are checked without Spark.
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, trace  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_json_follows_its_limits():
    s = spec()
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    assert {m["name"] for m in s["end_to_end"]} >= {"setup_s"}
    assert all(0 < m["bound"] <= 0.25 for m in s["end_to_end"])
    assert 2 <= len(s["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in s["workloads"])


def test_metric_block_names_every_metric_with_its_unit():
    units = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    block = run.metric_block({"spark.jobs": 3}, units)
    assert set(block) == set(units)
    assert block["spark.jobs"] == {"value": 3.0, "unit": "count"}
    assert all(v["unit"] == units[k] for k, v in block.items())


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "a", "parent": None, "group": "q", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "group": "q", "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "group": "q", "start": 3.0, "end": 6.0},
    ]
    st = trace.self_times(spans)
    assert st["a"] == pytest.approx(5.0)
    assert st["b"] == pytest.approx(6.0)
    assert trace.check_nesting(spans) == []
    spans.append({"id": 3, "name": "c", "parent": 1, "group": "q", "start": 3.0, "end": 5.0})
    assert trace.check_nesting(spans)


def test_top_level_spans_count_a_reentered_layer_once():
    spans = [
        {"id": 0, "name": "epochs", "parent": None, "group": "e:1", "start": 0.0, "end": 0.5},
        {"id": 1, "name": "epochs", "parent": 0, "group": "e:1", "start": 0.1, "end": 0.2},
        {"id": 2, "name": "batch", "parent": None, "group": "e:2", "start": 1.0, "end": 2.0},
        {"id": 3, "name": "epochs", "parent": 2, "group": "e:2", "start": 1.1, "end": 1.4},
    ]
    ms = trace.top_level_ms(spans, "epochs")
    assert ms == pytest.approx({"e:1": 500.0, "e:2": 300.0})


def test_disabled_tracer_records_nothing():
    tracer = trace.Tracer()
    tracer.enabled = False
    with tracer.span("a", "q"):
        pass
    tracer.enabled = True
    with tracer.span("b", "q"):
        pass
    assert [s["name"] for s in tracer.spans] == ["b"]


def test_tail_needs_ten_samples_beyond_it():
    assert trace.percentile_tail([1.0] * 10) == (0.0, 0.0)
    pct, value = trace.percentile_tail([float(i) for i in range(20)])
    assert pct == 50.0 and value == 9.0


def test_event_log_fold_counts_jobs_inside_windows():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000, "Stage IDs": [7]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [8]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 30_000_000, "JVM GC Time": 2,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0, "Peak Execution Memory": 64}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 8, "Task Metrics": {"Executor Run Time": 99}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 7}},
    ]
    f = trace.fold_events(events, [(0.5, 2.0)])
    assert (f["jobs"], f["stages"], f["tasks"]) == (1, 1, 1)
    assert f["executor_run_ms"] == 40 and f["executor_cpu_ms"] == 30
    assert f["shuffle_read_bytes"] == 10 and f["shuffle_write_bytes"] == 20
    assert f["driver_ms"] == pytest.approx(1000.0)


def test_progress_counts_committed_sink_rows_over_input_rows():
    from perfbench import workloads as W

    totals = iter([100, 100, 250])
    progress = W.Progress({"q": lambda: next(totals)})

    def batch(batch_id, input_rows):
        p = SimpleNamespace(
            name="q", batchId=batch_id, numInputRows=input_rows, durationMs={}, eventTime={}
        )
        progress.onQueryProgress(SimpleNamespace(progress=p))

    batch(0, 200)  # a body that scanned its 100 rows twice
    assert progress.wait_rows({"q": 101}, timeout=0.01) is None
    batch(1, 0)
    batch(2, 150)
    assert [b["rows"] for b in progress.batches] == [100, 0, 150]
    assert progress.wait_rows({"q": 250}, timeout=0.01) == {"q": progress.batches[2]["at"]}


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import workloads as W

    work = str(tmp_path_factory.mktemp("perfbench"))
    spark, setup_s = W.start_session(work, trace=False)
    assert setup_s > 0
    yield W, spark, work
    W.stop_session(spark)


def _check_traced(out, tracer, mem, layer_keys):
    assert out.failed == 0, out.problems
    assert out.attempted >= 1 and out.latencies and out.throughput > 0
    assert mem.peak_bytes > 0
    assert tracer.spans and trace.check_nesting(tracer.spans) == []
    assert all(v >= -1e-6 for v in trace.self_times(tracer.spans).values())
    missing = [k for k in layer_keys if k not in out.layers]
    assert not missing


def test_canal_pipeline_tiny(session, monkeypatch):
    W, spark, work = session
    monkeypatch.setattr(W, "BACKFILL_EVENTS", 1_500)
    monkeypatch.setattr(W, "TRICKLE_EVENTS", 300)
    monkeypatch.setattr(W, "FOLLOW_EPOCHS", 2)
    tracer = trace.Tracer()
    with trace.TreeMemory() as mem:
        out = W.canal_pipeline(spark, os.path.join(work, "pipeline"), 3, 1.0, tracer, mem)
    assert len(out.latencies) == len(out.baseline_latencies) == 1
    _check_traced(
        out,
        tracer,
        mem,
        ["ingest.add_batch_ms", "upsert.add_batch_ms", "window.backfill_s",
         "canal_wire.parse_entries_per_s", "canal.decode_s", "transform.s"],
    )
    groups = {s["group"] for s in tracer.spans if s["name"] == "upsert.batch"}
    assert groups and all(g.startswith("upsert:") for g in groups)


def test_query_sweep_tiny(session, monkeypatch):
    W, spark, work = session
    monkeypatch.setattr(W, "SWEEP_SF", 0.001)
    monkeypatch.setattr(W, "SWEEP", W.SWEEP[:3] + W.HEADLINE[:1])
    tracer = trace.Tracer()
    with trace.TreeMemory() as mem:
        out = W.query_sweep(spark, os.path.join(work, "sweep"), 3, 1.0, tracer, mem)
    assert len(out.latencies) == len(out.baseline_latencies) == len(W.SWEEP)
    _check_traced(
        out,
        tracer,
        mem,
        ["sweep.build_s", "sweep.exec_s", "sweep.cold_pass_s", "schemas.load_table_calls"],
    )
    # passes 1 and 2 of 0..3 are traced
    queries = [s for s in tracer.spans if s["name"] == "sweep.query"]
    assert [s["group"] for s in queries] == list(W.SWEEP) * 2
