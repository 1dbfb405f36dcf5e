"""The benchmark workloads and their correctness checks.

Every workload drives the engine only through its public modules, measures
with tracing off unless asked, and checks its outputs against results
computed independently of the code under test, outside the timed region.

- ``canal_pipeline``: follow, then catch up. Ingest, upsert, rollup and
  window run continuously in a closed loop, where one file of 5,000 events
  lands and the next lands only after all four sinks have committed it;
  then a backlog of canal packets lands at once and the same queries
  drain it.
- ``query_sweep``: a fixed list of registry queries, each compared with
  its DuckDB oracle, then materialized to the ``noop`` sink in a few timed
  passes.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import gen
from perfbench.trace import (
    Tracer,
    TreeMemory,
    fold_events,
    median,
    read_event_log,
    self_times,
    top_level_ms,
)
from use_clickhouse_2_analyze_mysql_binlog_spark import queries_registry as R
from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
from use_clickhouse_2_analyze_mysql_binlog_spark.functions import ch_compat
from use_clickhouse_2_analyze_mysql_binlog_spark.operators import (
    cachetrack,
    clustering,
    merge_tree,
    transactions,
)
from use_clickhouse_2_analyze_mysql_binlog_spark.oracle_compare import compare
from use_clickhouse_2_analyze_mysql_binlog_spark.session import get_spark
from use_clickhouse_2_analyze_mysql_binlog_spark.sources import canal, canal_wire, transform
from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
    epochs,
    ingest_job,
    metrics,
    rollup_job,
    upsert_job,
    window_job,
)

CORES = 4
#: follow phase: events per landed file (the reference's --sync=5000)
TRICKLE_EVENTS = 5_000
#: follow phase: timed epochs per run, after one warm-up file; a traced run
#: times every other one untraced, as the baseline of the tracing overhead
FOLLOW_EPOCHS = 4
TRICKLE_TIMEOUT_S = 30.0
#: catch-up phase: events in the backlog, and files it is spread over (one
#: decode task per file)
BACKFILL_EVENTS = 24_000
BACKFILL_FILES = 4
BACKFILL_TIMEOUT_S = 90.0
SWEEP_SF = 0.01
#: query_sweep: timed passes after the correctness pass, in an untraced and
#: in a traced run
SWEEP_PASSES = 2
TRACED_SWEEP_PASSES = 4
#: query_sweep: the headline transaction queries (``top_transaction_by_size``
#: stands for its two plan-identical siblings by spend time and affected
#: rows) plus one query per operator module and one translated ClickHouse
#: query, in registry order. The merge-tree and rollup operators run in
#: ``canal_pipeline``.
SWEEP = (
    "ch_top_event_limit_by",
    "dedup_exact",
    "embedding_kmeans_assign",
    "sequence_pack",
    "transaction_stats",
    "top_transaction_by_size",
    "transaction_result_table",
    "text_token_count",
    "text_pii_scrub",
    "similarity_topk_bruteforce",
    "multimodal_metadata",
    "session_windows",
    "asof_trade_quote",
    "size_quantiles",
    "window_funnel",
)
HEADLINE = (
    "transaction_stats",
    "top_transaction_by_size",
    "transaction_result_table",
)
OPERATOR_MODULES = (
    "dedup", "similarity", "clustering", "curation", "text", "multimodal",
    "analytics", "funnels", "packing", "asof", "windows",
)
STREAM_QUERIES = ("ingest", "cdc_upsert", "rollup_mv", "window_top1")
RAW_SCHEMA = T.StructType([T.StructField("value", T.BinaryType())])
FACT_SCHEMA = T.StructType(
    schemas.BINLOG_EVENT_SCHEMA.fields + [T.StructField("day", T.DateType())]
)
STATS_SCHEMA = T.StructType(
    [
        T.StructField("execute_time", T.TimestampType()),
        T.StructField("gtid", T.StringType()),
        T.StructField("binlog_pos", T.LongType()),
        T.StructField("single_statement_size", T.LongType()),
        T.StructField("single_statement_affected_rows", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("event_type", T.StringType()),
    ]
)


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    #: one latency per operation (epoch or query), seconds
    latencies: list[float] = field(default_factory=list)
    #: untraced latencies of a traced run that alternates, the baseline of
    #: the tracing overhead
    baseline_latencies: list[float] = field(default_factory=list)
    #: operations per second (events or queries)
    throughput: float = 0.0
    #: per-layer metrics, traced runs only
    layers: dict[str, float] = field(default_factory=dict)
    #: (start, end) wall-clock windows of the measured work
    windows: list[tuple[float, float]] = field(default_factory=list)
    #: (start, end) wall-clock window of the traced decode probe, and the
    #: single-thread parse time of the entries it decoded
    decode_windows: list[tuple[float, float]] = field(default_factory=list)
    decode_parse_s: float = 0.0

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{what}: {detail}" if detail else what)


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def _identity(x):
    return x


def start_session(work: str, trace: bool) -> tuple[SparkSession, float]:
    """Launch the JVM, start the session and return it with its set-up
    time, which ends when the Python worker pool has forked."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = {
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.parallelize(range(CORES), CORES).map(_identity).count()
    return spark, time.perf_counter() - t0


def stop_session(spark: SparkSession) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


class Progress(StreamingQueryListener):
    """Cumulative rows per streaming query, so the closed loop can wait for
    every sink to commit a file, plus each batch's progress.

    A query's rows are its input rows, or for a query named in
    ``sink_rows`` the rows its sink holds after the batch, read from the
    committed files. Spark counts a batch's input rows once per scan, so a
    ``foreachBatch`` body that reads its batch twice (the upsert's first
    epoch does) would look done one file early."""

    def __init__(self, sink_rows: dict[str, Callable[[], int]] | None = None) -> None:
        self.rows: dict[str, int] = defaultdict(int)
        self._sink_rows = sink_rows or {}
        self.batches: list[dict] = []
        self.terminated: dict[str, float] = {}
        self._names: dict[str, str] = {}
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        self._names[str(event.id)] = event.name

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cond:
            self.terminated[self._names.get(str(event.id), "?")] = time.perf_counter()

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "name": p.name,
            "batch": p.batchId,
            "rows": p.numInputRows,
            "durations": dict(p.durationMs or {}),
            "watermark": (p.eventTime or {}).get("watermark"),
        }
        with self._cond:
            if p.name in self._sink_rows:
                try:
                    rec["rows"] = self._sink_rows[p.name]() - self.rows[p.name]
                except (OSError, pa.ArrowException):
                    rec["rows"] = 0  # counted again at the next batch
            self.rows[p.name] += rec["rows"]
            rec["at"] = time.perf_counter()  # not before the sink was read
            self.batches.append(rec)
            self._cond.notify_all()

    def wait_rows(self, targets: dict[str, int], timeout: float) -> dict[str, float] | None:
        """perf_counter time at which each query reached its cumulative
        input-row target, or None on timeout."""
        with self._cond:
            ok = self._cond.wait_for(
                lambda: all(self.rows[q] >= n for q, n in targets.items()), timeout
            )
            if not ok:
                return None
            reached, seen = {}, defaultdict(int)
            for b in self.batches:
                seen[b["name"]] += b["rows"]
                q = b["name"]
                if q in targets and q not in reached and seen[q] >= targets[q]:
                    reached[q] = b["at"]
            return reached

    def last_watermark(self, name: str) -> str | None:
        with self._cond:
            marks = [b["watermark"] for b in self.batches if b["name"] == name]
        return marks[-1] if marks else None

    def p50(self, name: str, key: str, until: int) -> float:
        with self._cond:
            return median(
                b["durations"].get(key, 0)
                for b in self.batches[:until]
                if b["name"] == name and b["rows"] > 0
            )


# ---------------------------------------------------------------------------
# The binlog chain, started the way the engine's ``chain`` command starts it
# ---------------------------------------------------------------------------

class ChainDirs:
    """Source, sinks and checkpoints of one run of the chain."""

    def __init__(self, root: str) -> None:
        for name in ("src", "fact", "state", "rollup", "results", "ckpt"):
            setattr(self, name, os.path.join(root, name))
        os.makedirs(self.src, exist_ok=True)
        os.makedirs(self.fact, exist_ok=True)


def start_chain(spark: SparkSession, d: ChainDirs) -> list:
    """Start ingest, upsert, rollup and window as continuous queries."""
    raw = spark.readStream.schema(RAW_SCHEMA).parquet(d.src)
    ingest = ingest_job.run_ingest_stream(canal.decode_packets(raw), d.fact, f"{d.ckpt}/ingest")

    def fact():
        return spark.readStream.schema(FACT_SCHEMA).parquet(d.fact)

    return [
        ingest,
        upsert_job.run_upsert_stream(fact(), d.state, f"{d.ckpt}/upsert"),
        rollup_job.run_daily_rollup_stream(fact(), d.rollup, f"{d.ckpt}/rollup"),
        window_job.run_window_job(fact(), d.results, f"{d.ckpt}/window"),
    ]


@dataclass
class Expected:
    """Sink contents the chain must produce from a set of events."""

    fact_rows: int
    rollup: pd.DataFrame
    upsert: pd.DataFrame
    windows: dict[str, pd.DataFrame]


def expected_outputs(spark: SparkSession, ev: pd.DataFrame) -> Expected:
    """Fact count and rollup from the generated rows (DuckDB); upsert state
    and window top-1 from the engine's batch operators over the same rows,
    which never pass through the decoder or the streams."""
    rows = gen.binlog_rows(ev)
    con = duckdb.connect()
    con.register("binlog", rows)
    rollup = con.sql(
        "SELECT strftime(execute_time, '%Y-%m-%d') AS day, event_type, "
        "count(*) AS event_count FROM binlog GROUP BY ALL"
    ).fetchdf()
    con.close()
    binlog = spark.createDataFrame(rows[[f.name for f in STATS_SCHEMA.fields]], STATS_SCHEMA)
    binlog.persist()
    try:
        upsert = merge_tree.replacing_merge_final(merge_tree.dml_rows(binlog)).toPandas()
        stats = transactions.transaction_stats(binlog)
        windows = {
            stem: transactions.transaction_result_table(stats, metric).toPandas()
            for metric, stem in transactions.METRICS.items()
        }
    finally:
        binlog.unpersist()
    return Expected(len(rows), rollup, upsert, windows)


def _watermark_text(iso: str | None) -> str:
    """Progress watermark (ISO-8601) in the result tables' end_time format."""
    if not iso:
        return "0000-00-00 00:00:00"
    return iso.replace("T", " ")[:19]


def verify_chain(out: Outcome, label: str, d: ChainDirs, exp: Expected, watermark: str | None) -> None:
    """Read every sink straight from its committed files and compare."""
    con = duckdb.connect()
    try:
        n = con.sql(f"SELECT count(*) FROM read_parquet('{d.fact}/**/*.parquet')").fetchone()[0]
        out.check(f"{label} fact rows", n == exp.fact_rows, f"{n} != {exp.fact_rows}")

        latest = epochs.read_manifest(d.rollup)
        got = con.sql(f"SELECT * FROM read_parquet('{latest['dir']}/*.parquet')").fetchdf()
        v = compare(got, exp.rollup)
        out.check(f"{label} rollup", v["values_ok"], str(v["rows"]))

        latest = epochs.read_manifest(d.state)
        got = con.sql(
            f"SELECT * FROM read_parquet('{latest['dir']}/**/*.parquet', hive_partitioning=true)"
        ).fetchdf()
        v = compare(got, exp.upsert)
        out.check(f"{label} upsert", v["values_ok"], str(v["rows"]))

        closed = _watermark_text(watermark)
        sink = epochs.TxnSink(d.results, tuple(transactions.METRICS.values()))
        for stem, want in exp.windows.items():
            files = [f"{p}/*.parquet" for p in sink.committed_dirs(stem)]
            got = (
                con.sql(f"SELECT * FROM read_parquet({files!r}, hive_partitioning=false)").fetchdf()
                if files
                else want.iloc[0:0]
            )
            got = got[got["end_time"] <= closed]
            want = want[want["end_time"] <= closed]
            v = compare(got, want)
            out.check(
                f"{label} window {stem}",
                v["values_ok"] and len(want) > 0,
                f"{v['rows']} rows, watermark {closed}",
            )
    finally:
        con.close()


#: the manifest reader as imported, so sink reads from the progress listener
#: stay out of the spans a traced run records around ``epochs``
_read_manifest = epochs.read_manifest


def snapshot_total(root: str, column: str) -> int:
    """Sum of ``column`` over the snapshot a publishing sink's manifest
    names; 0 before the first publish."""
    latest = _read_manifest(root)
    if latest is None:
        return 0
    return pc.sum(pq.read_table(latest["dir"], columns=[column]).column(column)).as_py() or 0


def _dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix))
    return total


# ---------------------------------------------------------------------------
# Tracing hooks
# ---------------------------------------------------------------------------

def instrument(tracer: Tracer, snapshot_sizes: list[int], state_root: str | None) -> None:
    """Record a span around every call into the engine's layers."""
    for mod, attr in (
        (ingest_job, "run_ingest_stream"),
        (upsert_job, "run_upsert_stream"),
        (rollup_job, "run_daily_rollup_stream"),
        (window_job, "run_window_job"),
    ):
        tracer.wrap(mod, attr, "stream.start")
    tracer.wrap_factory(ingest_job, "make_append_batch", "ingest.batch", "ingest")
    tracer.wrap_factory(upsert_job, "make_upsert_batch", "upsert.batch", "upsert")
    tracer.wrap_factory(rollup_job, "make_merge_batch", "rollup.batch", "rollup")
    tracer.wrap_factory(window_job, "make_publish_batch", "window.batch", "window")
    for attr in ("read_manifest", "publish_snapshot", "mark_epoch_committed", "epoch_committed"):
        tracer.wrap(epochs, attr, "epochs")
    tracer.wrap(epochs.TxnSink, "commit", "epochs")
    tracer.wrap(schemas, "load_table", "schemas.load_table")
    tracer.wrap(ch_compat, "translate", "ch_compat.translate")

    traced_publish = epochs.publish_snapshot

    def publish_and_size(root, epoch_id, snapshot_dir, *args, **kwargs):
        if root == state_root:
            snapshot_sizes.append(_dir_bytes(snapshot_dir))
        return traced_publish(root, epoch_id, snapshot_dir, *args, **kwargs)

    tracer.replace(epochs, "publish_snapshot", publish_and_size)


def stream_layers(
    tracer: Tracer, progress: Progress, until: int, metrics_dir: str, snapshot_sizes: list[int]
) -> dict[str, float]:
    """Per-layer metrics of the four streaming queries, from the first
    ``until`` batches (the follow phase)."""

    def listener_rows(name: str) -> list[dict]:
        path = os.path.join(metrics_dir, f"{name}.jsonl")
        if not os.path.exists(path):
            return []
        with open(path, encoding="utf-8") as fh:
            return [json.loads(line) for line in fh]

    follow_batches = {
        (b["name"], b["batch"]) for b in progress.batches[:until] if b["rows"] > 0
    }

    def add_batch_p50(name: str) -> float:
        return median(
            r["add_batch_ms"] or 0
            for r in listener_rows(name)
            if (name, r["batch_id"]) in follow_batches
        )

    window_rows = listener_rows("window_top1")
    out = {
        "ingest.add_batch_ms": add_batch_p50("ingest"),
        "ingest.query_planning_ms": progress.p50("ingest", "queryPlanning", until),
        "ingest.latest_offset_ms": progress.p50("ingest", "latestOffset", until),
        "ingest.wal_commit_ms": progress.p50("ingest", "walCommit", until),
        "ingest.commit_offsets_ms": progress.p50("ingest", "commitOffsets", until),
        "upsert.add_batch_ms": add_batch_p50("cdc_upsert"),
        "upsert.snapshot_bytes_per_epoch": median(snapshot_sizes),
        "rollup.add_batch_ms": add_batch_p50("rollup_mv"),
        "window.add_batch_ms": add_batch_p50("window_top1"),
        "window.state_rows": max((r["state_rows"] for r in window_rows), default=0),
        "window.state_bytes": max((r["state_bytes"] for r in window_rows), default=0),
        "epochs.commit_ms": median(top_level_ms(tracer.spans, "epochs").values()),
    }
    return out


def decode_probes(spark: SparkSession, src: str, work: str, entries: int, out: Outcome) -> dict[str, float]:
    """Single-layer probes of the decode and transform, outside the streams.
    ``entries`` is the number of canal entries under ``src``."""
    first = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[0]
    packets = pq.read_table(os.path.join(src, first)).column("value").to_pylist()
    t0 = time.perf_counter()
    n = sum(len(canal_wire.parse_packet_wire(p)) for p in packets)
    parse_s = time.perf_counter() - t0
    res = {
        "canal_wire.parse_entries_per_s": n / parse_s,
        "canal_wire.bytes_per_entry": sum(map(len, packets)) / n,
    }
    raw = spark.read.schema(RAW_SCHEMA).parquet(src)
    a = time.time()
    t0 = time.perf_counter()
    canal.decode_packets(raw).write.format("noop").mode("overwrite").save()
    res["canal.decode_s"] = time.perf_counter() - t0
    out.decode_windows.append((a, time.time()))
    out.decode_parse_s = entries * parse_s / n
    decoded_dir = os.path.join(work, "decoded")
    canal.decode_packets(raw).write.mode("overwrite").parquet(decoded_dir)
    decoded = spark.read.parquet(decoded_dir)
    t0 = time.perf_counter()
    transform.canal_entries_to_binlog(decoded).write.format("noop").mode("overwrite").save()
    res["transform.s"] = time.perf_counter() - t0
    return res


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

def canal_pipeline(
    spark: SparkSession, work: str, seed: int, seconds: float, tracer: Tracer | None,
    mem: TreeMemory | None = None,
) -> Outcome:
    """The reference's job: follow the binlog, then catch up on a backlog.

    Ingest, upsert, rollup and window start as continuous queries. Follow:
    one file of ``TRICKLE_EVENTS`` lands, and the next lands only after all
    four sinks have committed it. The first file warms the JVM; the next
    ``FOLLOW_EPOCHS`` are the latency samples. Catch up: a backlog of
    ``BACKFILL_EVENTS`` lands at once and the running queries drain it.
    The throughput is the events of both phases over their timed wall time
    (each epoch and the drain run from landing until all four sinks have
    committed); the drain alone reads the same per event but rides on one
    epoch's fixed cost, which makes it too noisy for an end-to-end metric.

    The work is fixed, so every run times the same epochs whatever
    ``seconds`` says. In a traced run half the follow epochs are untraced;
    those are the baseline of the tracing overhead."""
    out = Outcome()
    d = ChainDirs(os.path.join(work, "chain"))
    progress = Progress(
        {
            "cdc_upsert": lambda: snapshot_total(d.state, "n_versions"),
            "rollup_mv": lambda: snapshot_total(d.rollup, "event_count"),
        }
    )
    spark.streams.addListener(progress)
    snapshot_sizes: list[int] = []
    metrics_dir = os.path.join(work, "epoch_metrics")
    listener = metrics.attach_metrics(spark, metrics_dir) if tracer else None
    if tracer:
        instrument(tracer, snapshot_sizes, d.state)
    # cumulative rows per query: ingest reads packets, rollup and window
    # read fact rows, and the upsert state holds a version per DML fact row
    targets = dict.fromkeys(STREAM_QUERIES, 0)

    def feed(events: pd.DataFrame, tables: list) -> dict[str, int]:
        facts = gen.binlog_rows(events)
        targets["ingest"] += sum(t.num_rows for t in tables)
        targets["cdc_upsert"] += int(facts["event_type"].isin(merge_tree.DML_EVENT_TYPES).sum())
        targets["rollup_mv"] += len(facts)
        targets["window_top1"] += len(facts)
        return dict(targets)

    def land(tables: list, stem: str) -> None:
        gen.land(tables, [os.path.join(d.src, f"{stem}-{i}.parquet") for i in range(len(tables))])

    queries, landed, caught_up = [], 0, False
    timed_s = window_backfill_s = 0.0
    try:
        # the queries start up while the inputs are generated, and the
        # warm-up file is processed while the rest are encoded
        queries = start_chain(spark, d)
        n_files = 1 + FOLLOW_EPOCHS
        ev = gen.events(TRICKLE_EVENTS * n_files + BACKFILL_EVENTS, seed, first_id=seed * 10_000_000)
        files = [ev.iloc[k * TRICKLE_EVENTS : (k + 1) * TRICKLE_EVENTS] for k in range(n_files)]
        backlog = ev.iloc[n_files * TRICKLE_EVENTS :]
        tables = [gen.packet_tables(files[0], 1)]
        want = feed(files[0], tables[0])
        land(tables[0], "file-00000")
        tables += [gen.packet_tables(f, 1) for f in files[1:]]
        backlog_tables = gen.packet_tables(backlog, BACKFILL_FILES)
        log("inputs generated")
        done = progress.wait_rows(want, TRICKLE_TIMEOUT_S)
        out.check("warm-up file committed", done is not None, f"not within {TRICKLE_TIMEOUT_S} s")
        landed = int(done is not None)

        with _measuring(mem):
            for k in range(1, n_files if landed else 0):
                # untraced, traced, traced, untraced, ...: the warm-up
                # trend of the first epochs does not count as overhead
                traced = tracer is not None and k % 4 in (2, 3)
                if tracer:
                    tracer.enabled = traced
                want = feed(files[k], tables[k])
                a = time.time()
                t0 = time.perf_counter()
                with _maybe_span(tracer, "follow.epoch", f"file:{k}"):
                    land(tables[k], f"file-{k:05d}")
                    done = progress.wait_rows(want, TRICKLE_TIMEOUT_S)
                out.check(f"file {k} committed", done is not None, f"not within {TRICKLE_TIMEOUT_S} s")
                if done is None:
                    break
                landed += 1
                latency = max(done.values()) - t0
                timed_s += latency
                if tracer and not traced:
                    out.baseline_latencies.append(latency)
                else:
                    out.latencies.append(latency)
                    out.windows.append((a, time.time()))
            follow_batches = len(progress.batches)
            log(f"followed {landed} files")

            if landed == n_files:
                if tracer:
                    tracer.enabled = True
                # the backlog lands on idle queries, not on the window
                # query's trailing no-data batch
                _wait_idle(progress)
                want = feed(backlog, backlog_tables)
                a = time.time()
                t0 = time.perf_counter()
                with _maybe_span(tracer, "catch_up", "catch_up"):
                    land(backlog_tables, "backlog")
                    done = progress.wait_rows(want, BACKFILL_TIMEOUT_S)
                out.windows.append((a, time.time()))
                out.check("backlog committed", done is not None, f"not within {BACKFILL_TIMEOUT_S} s")
                if done is not None:
                    caught_up = True
                    drain_s = max(done.values()) - t0
                    events = sum(map(len, files[1:])) + len(backlog)
                    out.throughput = events / (timed_s + drain_s)
                    out.layers["backfill.events_per_s"] = len(backlog) / drain_s
                    window_backfill_s = done["window_top1"] - t0
                    log(f"caught up in {drain_s:.2f} s")
        _wait_idle(progress)
    finally:
        for q in queries:
            q.stop()
        if tracer:
            tracer.restore()
            tracer.enabled = True
        spark.streams.removeListener(progress)
        if listener:
            metrics.detach_metrics(spark, listener)
    fed = files[:landed] + ([backlog] if caught_up else [])
    exp = expected_outputs(spark, pd.concat(fed))
    log("expected computed")
    verify_chain(out, "pipeline", d, exp, progress.last_watermark("window_top1"))
    log("verified")
    if tracer:
        out.layers |= stream_layers(tracer, progress, follow_batches, metrics_dir, snapshot_sizes)
        out.layers["window.backfill_s"] = window_backfill_s
        out.layers["ingest.bytes_written_per_event"] = _dir_bytes(d.fact) / exp.fact_rows
        out.layers |= decode_probes(spark, d.src, work, sum(map(len, fed)), out)
    return out


def _wait_idle(progress: Progress, quiet_s: float = 0.5, timeout: float = 15.0) -> None:
    """Wait until no query has reported a batch for ``quiet_s``, so the
    last progress event describes the last commit."""
    deadline = time.perf_counter() + timeout
    seen = -1
    while time.perf_counter() < deadline and seen != len(progress.batches):
        seen = len(progress.batches)
        time.sleep(quiet_s)


def query_sweep(
    spark: SparkSession, work: str, seed: int, seconds: float, tracer: Tracer | None,
    mem: TreeMemory | None = None,
) -> Outcome:
    """The correctness pass over ``SWEEP``, then the timed passes.

    The correctness pass (``check_sweep``) is also the JVM's warm-up, so the
    timed passes measure JIT-compiled queries, as a running service sees
    them; the cold pass is the per-layer ``sweep.cold_pass_s``. In a timed
    pass each query is built by its registry function and written to the
    ``noop`` sink, so every output column is computed. Before every pass
    the engine's shared caches are dropped, so each pass builds them inside
    the first query that uses them and every pass does the same work. A
    query's latency is its best over the passes, which drops what a busy
    host or a late JIT compile adds to one pass; the throughput is the
    queries over the sum of their best latencies. The passes are the unit
    of work whatever ``seconds`` says, so every run times the same queries.
    A traced run makes ``TRACED_SWEEP_PASSES`` passes, untraced, traced,
    traced, untraced; the untraced ones are the baseline of the tracing
    overhead."""
    out = Outcome()
    sf_dir = os.path.join(work, "sf")
    gen.write_tables(sf_dir, SWEEP_SF, seed)
    log("tables generated")
    check_sweep(spark, sf_dir, out)
    log("checked")
    if tracer:
        instrument(tracer, [], None)
    passes = TRACED_SWEEP_PASSES if tracer else SWEEP_PASSES
    # query name -> its latency in each pass, for untraced and traced passes
    timed: dict[bool, dict[str, list[float]]] = {False: defaultdict(list), True: defaultdict(list)}
    parts = defaultdict(float)
    try:
        with _measuring(mem):
            for k in range(passes):
                traced = tracer is not None and k % 4 in (1, 2)
                if tracer:
                    tracer.enabled = traced
                drop_caches(spark)
                pass_t0 = time.perf_counter()
                for name in SWEEP:
                    a = time.time()
                    t0 = time.perf_counter()
                    try:
                        with _maybe_span(tracer, "sweep.query", name):
                            with _maybe_span(tracer, "sweep.build"):
                                df = R.QUERIES[name](spark, sf_dir)
                            t1 = time.perf_counter()
                            if traced:
                                with tracer.span("sweep.plan"):
                                    df._jdf.queryExecution().executedPlan()
                            t2 = time.perf_counter()
                            with _maybe_span(tracer, "sweep.exec"):
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
                        out.check(f"{name} pass {k}", False, f"{type(exc).__name__}: {exc}")
                        continue
                    t3 = time.perf_counter()
                    timed[traced][name].append(t3 - t0)
                    if not traced:
                        continue
                    out.windows.append((a, time.time()))
                    module = _module_of(name)
                    parts[f"sweep.{module}.build_plan_s"] += t2 - t0
                    parts[f"sweep.{module}.exec_s"] += t3 - t2
                    parts["sweep.build_s"] += t1 - t0
                    parts["sweep.plan_s"] += t2 - t1
                    parts["sweep.exec_s"] += t3 - t2
                    if name in HEADLINE:
                        parts["transactions.headline_s"] += t3 - t0
                log(f"pass {k} {time.perf_counter() - pass_t0:.2f} s")
    finally:
        if tracer:
            tracer.restore()
            tracer.enabled = True
    untraced = [min(v) for v in timed[False].values()]
    if tracer:
        out.latencies = [min(v) for v in timed[True].values()]
        out.baseline_latencies = untraced
    else:
        out.latencies = untraced
    out.throughput = len(untraced) / sum(untraced) if untraced else 0.0
    if tracer:
        load = [s for s in tracer.spans if s["name"] == "schemas.load_table" and s["end"]]
        tr = [s for s in tracer.spans if s["name"] == "ch_compat.translate" and s["end"]]
        out.layers |= dict(parts) | {
            "schemas.load_table_calls": float(len(load)),
            "schemas.load_table_ms": sum(s["end"] - s["start"] for s in load) * 1000.0,
            "ch_compat.translate_ms": sum(s["end"] - s["start"] for s in tr) * 1000.0,
        }
    return out


def check_sweep(spark: SparkSession, sf_dir: str, out: Outcome) -> None:
    """Collect every query of ``SWEEP`` and compare it with its DuckDB
    oracle; the time spent in the queries is ``sweep.cold_pass_s``."""
    con = duckdb.connect()
    cold_s = 0.0
    try:
        for t in schemas.TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in SWEEP:
            try:
                t0 = time.perf_counter()
                got = R.QUERIES[name](spark, sf_dir).toPandas()
                cold_s += time.perf_counter() - t0
                if name not in R.ORACLES:
                    out.check(name, True)
                    continue
                v = compare(got, con.sql(R.ORACLES[name]).fetchdf())
            except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
                out.check(name, False, f"{type(exc).__name__}: {exc}")
                continue
            out.check(name, v["values_ok"], str(v["rows"]))
    finally:
        con.close()
    out.layers["sweep.cold_pass_s"] = cold_s


def drop_caches(spark: SparkSession) -> None:
    """Unpersist the engine's shared family caches and forget its k-means
    fits, so the next query that needs one builds it again."""
    cachetrack.release_all()
    getattr(clustering, "_FIT_MEMO", {}).clear()
    spark.catalog.clearCache()


def _module_of(name: str) -> str:
    """The operator module a registry query calls (the first one its code
    names), or ``other``."""
    code = R.QUERIES[name].__code__
    names = set(code.co_names)
    for const in code.co_consts:
        names |= set(getattr(const, "co_names", ()))
    return next((m for m in OPERATOR_MODULES if m in names), "other")


def _maybe_span(tracer: Tracer | None, name: str, group: str | None = None):
    return tracer.span(name, group) if tracer else contextlib.nullcontext()


def _measuring(mem: TreeMemory | None):
    return mem.measure() if mem else contextlib.nullcontext()


WORKLOADS = {
    "canal_pipeline": canal_pipeline,
    "query_sweep": query_sweep,
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Phase timings on standard error."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f} s] {msg}", file=sys.stderr, flush=True)


def spark_layers(work: str, app_id: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Fold Spark's event log over ``windows``; call after the session has
    stopped, so the log is complete."""
    events = read_event_log(os.path.join(work, "eventlog"), app_id)
    return {f"spark.{k}": v for k, v in fold_events(events, windows).items()}


def decode_overhead(work: str, app_id: str, out: Outcome) -> float:
    """Decode task time over pure single-thread parse time for the same
    entries: what Arrow, pandas and the dict building add to the parse."""
    events = read_event_log(os.path.join(work, "eventlog"), app_id)
    task_s = fold_events(events, out.decode_windows)["executor_run_ms"] / 1000.0
    return task_s / out.decode_parse_s


def self_time_layers(tracer: Tracer) -> dict[str, float]:
    return {f"self.{k}_s": v for k, v in self_times(tracer.spans).items()}
