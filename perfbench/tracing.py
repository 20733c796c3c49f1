"""Measurement helpers: latency summaries, spans, Catalyst phases, the Spark
event log, a streaming-progress listener and a process-tree RSS sampler.

Spans are recorded by the benchmark around its own calls into the package
(nothing inside the package is instrumented).  A :class:`Tracer` created
with ``enabled=False`` records nothing, which is how the untraced runs that
give the end-to-end metrics stay free of tracing work.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

OP_PROPERTY = "perfbench.op"


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) for the highest percentile that
    still has at least ten samples beyond it."""
    s = sorted(values)
    if len(s) < 11:
        return s[-1], 100.0, 0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Tracer:
    """Spans ``(name, op, start, end, parent)`` kept in memory."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": op, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, op: str, start: float, end: float, parent: int | None):
        """A span measured elsewhere (Spark jobs, micro-batch phases)."""
        self.spans.append({"name": name, "op": op, "start": start, "end": end,
                           "parent": parent})

    def self_times(self) -> list[dict]:
        """Per span name: count, total and self seconds, ranked by self
        time.  Self time is a span's duration minus the union of its
        children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        rows: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            covered = union_length(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(i, [])]
            )
            r = rows.setdefault(s["name"], {"layer": s["name"], "count": 0,
                                            "total_s": 0.0, "self_s": 0.0})
            r["count"] += 1
            r["total_s"] += dur
            r["self_s"] += max(0.0, dur - covered)
        return sorted(rows.values(), key=lambda r: -r["self_s"])


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning milliseconds from the DataFrame's
    query-planning tracker (populated once the DataFrame has executed)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their ``perfbench.op`` property and wall interval) and
    task metrics totals per op from a finished, uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    per_op: dict[str, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get(OP_PROPERTY)
                    jobs[ev["Job ID"]] = {"op": op, "start": ev["Submission Time"] / 1e3,
                                          "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    if job is None or job["op"] is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    acc = per_op.setdefault(job["op"], _zero_task_totals())
                    acc["tasks"] += 1
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    acc["shuffle_bytes_written"] += (
                        m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    acc["fetch_wait_s"] += (
                        m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
    return {"jobs": [j for j in jobs.values() if j["op"] and j["end"]],
            "tasks": per_op}


def _zero_task_totals() -> dict:
    return {"tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "bytes_read": 0, "shuffle_bytes_written": 0, "fetch_wait_s": 0.0}


def spark_layer_metrics(log: dict, op_windows: dict[str, tuple[float, float]],
                        tracer: Tracer, exec_span: dict[str, int]) -> dict:
    """Per-op means of the event-log metrics over the ops in ``op_windows``
    ({op tag: (start, end)}), and Spark job spans added under each op's
    exec span."""
    n = max(1, len(op_windows))
    totals = _zero_task_totals()
    jobs_by_op: dict[str, list[tuple[float, float]]] = {}
    for j in log["jobs"]:
        if j["op"] in op_windows:
            jobs_by_op.setdefault(j["op"], []).append((j["start"], j["end"]))
            tracer.add("spark.job", j["op"], j["start"], j["end"], exec_span.get(j["op"]))
    for op in op_windows:
        for k, v in log["tasks"].get(op, {}).items():
            totals[k] += v
    outside = sum(
        max(0.0, (b - a) - union_length(
            [(max(s, a), min(e, b)) for s, e in jobs_by_op.get(op, [])]))
        for op, (a, b) in op_windows.items()
    )
    return {
        "spark.jobs": sum(len(v) for v in jobs_by_op.values()) / n,
        "spark.tasks": totals["tasks"] / n,
        "exec.executor_run_s": totals["executor_run_s"] / n,
        "exec.executor_cpu_s": totals["executor_cpu_s"] / n,
        "exec.gc_s": totals["gc_s"] / n,
        "scan.bytes_read": totals["bytes_read"] / n,
        "shuffle.bytes_written": totals["shuffle_bytes_written"] / n,
        "shuffle.fetch_wait_s": totals["fetch_wait_s"] / n,
        "driver.outside_jobs_s": outside / n,
    }


def make_progress_listener():
    """A StreamingQueryListener recording every micro-batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802 (pyspark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            with self.lock:
                self.progress.append({"rows": p.numInputRows, "ms": dict(p.durationMs)})

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return ProgressListener()


class RssSampler:
    """Peak of the summed resident set of this process and its descendants
    (the Spark JVM and its Python workers), skipping ``exclude`` pids."""

    def __init__(self, exclude: set[int], period: float = 0.2):
        self.exclude = exclude
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.sample_kb())
            self._stop.wait(self.period)

    def sample_kb(self) -> int:
        total = 0
        for p in descendants(os.getpid()) - self.exclude:
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total


def descendants(root: int) -> set[int]:
    """``root`` and every live process below it, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        if p not in tree:
            tree.add(p)
            frontier.extend(children.get(p, ()))
    return tree
