"""Measurement plumbing: spans, process-tree memory and the Spark event log.

Spans are kept in memory, one per call into a wrapped engine function, and
written out when the run ends. Each span records its name, start, end,
parent and a group id shared by every span of one epoch or one query. A
layer's self time is its spans' duration minus what their children cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder. Nesting is tracked per thread, so spans
    opened by streaming callbacks on other threads get the right parent.
    While ``enabled`` is false no span is recorded, so a run can alternate
    traced and untraced operations."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, group: str | None = None):
        return _Span(self, name, group) if self.enabled else contextlib.nullcontext()

    def replace(self, owner: object, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span per
        call; the span's group is inherited from the enclosing span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self.replace(owner, attr, traced)

    def wrap_factory(self, owner: object, attr: str, name: str, prefix: str) -> None:
        """``owner.attr`` returns a ``(batch, epoch)`` foreachBatch body:
        wrap each body it returns so every epoch records a ``name`` span
        whose group is ``<prefix>:<epoch>``."""
        factory = getattr(owner, attr)
        tracer = self

        @functools.wraps(factory)
        def traced_factory(*args, **kwargs):
            body = factory(*args, **kwargs)

            def traced_body(batch, epoch):
                with tracer.span(name, f"{prefix}:{epoch}"):
                    return body(batch, epoch)

            return traced_body

        self.replace(owner, attr, traced_factory)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, group: str | None) -> None:
        self.tracer, self.name, self.group = tracer, name, group

    def __enter__(self) -> dict:
        stack = self.tracer._stack()
        parent = stack[-1] if stack else None
        with self.tracer._lock:
            rec = {
                "id": len(self.tracer.spans),
                "name": self.name,
                "parent": parent["id"] if parent else None,
                "group": self.group or (parent["group"] if parent else None),
                "thread": threading.get_ident(),
                "start": time.time(),
                "end": None,
            }
            self.tracer.spans.append(rec)
        stack.append(rec)
        return rec

    def __exit__(self, *exc) -> None:
        rec = self.tracer._stack().pop()
        rec["end"] = time.time()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span's duration minus the union of its
    children's intervals."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered = _union(
            [(c["start"], c["end"]) for c in children.get(s["id"], []) if c["end"]]
        )
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def top_level_ms(spans: list[dict], name: str) -> dict[str, float]:
    """Milliseconds per group of the ``name`` spans not nested in another
    ``name`` span, so a call that re-enters the layer is counted once."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        if s["name"] != name or s["end"] is None or not s["group"]:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != name:
            p = by_id.get(p["parent"])
        if p is None:
            out[s["group"]] = out.get(s["group"], 0.0) + (s["end"] - s["start"]) * 1000.0
    return out


def check_nesting(spans: list[dict]) -> list[str]:
    """Problems with the span tree: unclosed spans, unknown parents and
    children outside their parent's interval."""
    by_id = {s["id"]: s for s in spans}
    problems = []
    for s in spans:
        if s["end"] is None:
            problems.append(f"span {s['id']} {s['name']} never closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            problems.append(f"span {s['id']} has unknown parent {s['parent']}")
        elif p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            problems.append(f"span {s['id']} {s['name']} outside parent {p['name']}")
    return problems


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def percentile_tail(samples: list[float]) -> tuple[float, float]:
    """(percent, value) of the highest percentile with at least ten samples
    above it; (0, 0) when there are fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return 0.0, 0.0
    xs = sorted(samples)
    k = n - 11  # index with exactly ten samples beyond it
    return 100.0 * (k + 1) / n, xs[k]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class TreeMemory:
    """Samples the summed proportional set size (PSS) of this process and
    all of its descendants (driver Python, the JVM and its Python workers).
    PSS splits shared pages among the processes that map them, so forked
    Python workers are not counted once per fork. Only samples taken inside
    :meth:`measure` count towards ``peak_bytes``, so input generation and
    correctness checks stay out of the peak."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_bytes = 0
        self._interval = interval
        self._active = threading.Event()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @contextlib.contextmanager
    def measure(self):
        """Count the samples taken while the block runs, one at each end."""
        self._record()
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._record()

    def _record(self) -> None:
        sample = self.sample()
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, sample)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            if self._active.is_set():
                self._record()

    @staticmethod
    def _tree() -> list[int]:
        parent_of = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", "rb") as fh:
                    parent_of[int(pid)] = int(fh.read().rsplit(b")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        root, tree = os.getpid(), []
        for pid in parent_of:
            p = pid
            while p > 1 and p != root:
                p = parent_of.get(p, 0)
            if p == root:
                tree.append(pid)
        return tree

    def sample(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                    for line in fh:
                        if line.startswith(b"Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue  # the process has exited
        return total


# ---------------------------------------------------------------------------
# Spark event log fold
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application, from a plain or rolling event log."""
    events = []
    paths = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*")))
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "events_*"))) if os.path.isdir(p) else [p]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # a torn last line
    return events


def fold_events(events: list[dict], windows: list[tuple[float, float]]) -> dict[str, float]:
    """Engine counters for the jobs submitted inside ``windows`` (wall-clock
    seconds). ``driver_ms`` is the windows' wall time not covered by any
    such job: the per-query or per-epoch fixed cost outside Spark jobs."""

    def inside(t_ms: float) -> bool:
        t = t_ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    jobs, stage_job = {}, {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart" and inside(e["Submission Time"]):
            jobs[e["Job ID"]] = [e["Submission Time"] / 1000.0, None]
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif e.get("Event") == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = e["Completion Time"] / 1000.0
    out = dict.fromkeys(
        [
            "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "peak_execution_memory_bytes",
        ],
        0.0,
    )
    out["jobs"] = float(len(jobs))
    stages = set()
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                stages.add(sid)
        elif kind == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_job:
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out["tasks"] += 1
            out["executor_run_ms"] += m.get("Executor Run Time", 0)
            out["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            out["gc_ms"] += m.get("JVM GC Time", 0)
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            out["peak_execution_memory_bytes"] = max(
                out["peak_execution_memory_bytes"], m.get("Peak Execution Memory", 0)
            )
    out["stages"] = float(len(stages))
    driver = 0.0
    for a, b in windows:
        covered = _union(
            [(max(s, a), min(e, b)) for s, e in jobs.values() if e is not None and s <= b and e >= a]
        )
        driver += (b - a) - covered
    out["driver_ms"] = driver * 1000.0
    return out
