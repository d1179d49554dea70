"""Benchmark-side tracing: spans around calls into the engine's layers,
a py4j round-trip counter, Spark event-log stage metrics and a process
tree RSS sampler.

Spans are recorded only from wrappers the benchmark installs around
public entry points (``DataFrameWriter.parquet``/``save``,
``DataFrame.collect``, the lineage manifest functions and
``gc_orphan_runs``); nothing inside the engine is edited.  Spans stay in
memory and are written as JSON once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import py4j.clientserver
from pyspark.sql import DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame

from log_aggregation_pipeline_spark.plans import lineage as L
from log_aggregation_pipeline_spark.plans import pipeline as P

# span name of a direct child of a run_pipeline span -> pipeline phase
PIPELINE_PHASES = {"gc": "gc", "lineage": "lineage", "write": "write",
                   "metrics": "metrics", "collect": "fold", "commit": "commit",
                   "agg": "agg"}


class Tracer:
    """In-memory span recorder.  A span is (name, start, end, parent,
    op); ``op`` is the benchmark operation the span belongs to."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None
        self.py4j_calls = 0
        self.active = False  # True while an Instrumentation is installed

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _write_phase(path: str) -> str:
    p = str(path)
    if "/sinks/run=" in p:
        return "write"
    if "/metrics/run=" in p:
        return "metrics"
    if "/aggs/" in p:
        return "agg"
    return "write_other"


class Instrumentation:
    """Installs the wrappers; ``remove()`` restores the originals.
    Every Spark action wrapper also labels its jobs with the span name
    (``spark.job.description``) so event-log stages map back to the
    phase that issued them."""

    def __init__(self, tracer: Tracer, spark):
        self.t = tracer
        self.sc = spark.sparkContext
        self._orig = []

        def patch(owner, attr, make):
            orig = getattr(owner, attr)
            self._orig.append((owner, attr, orig))
            setattr(owner, attr, make(orig))

        t, sc = tracer, self.sc
        t.active = True
        # marks every job of a traced op in the event log
        sc.setLocalProperty("perfbench.traced", "1")

        def labelled(name, df, fn, *a, **kw):
            prev = sc.getLocalProperty("spark.job.description")
            sc.setLocalProperty("spark.job.description", name)
            try:
                with t.span(name) as rec:
                    out = fn(*a, **kw)
            finally:
                sc.setLocalProperty("spark.job.description", prev)
            # plan shape; its py4j calls are left uncounted and its time
            # is recorded so phase accounting can leave it out
            calls, t0 = t.py4j_calls, time.perf_counter()
            rec["exchanges"], rec["file_scans"] = plan_shape(df)
            rec["shape_s"] = time.perf_counter() - t0
            t.py4j_calls = calls
            return out

        def send_command(orig):
            def wrapped(conn, command, *a, **kw):
                t.py4j_calls += 1
                return orig(conn, command, *a, **kw)
            return wrapped

        patch(py4j.clientserver.ClientServerConnection, "send_command", send_command)
        patch(DataFrameWriter, "parquet", lambda orig: lambda w, path, *a, **kw: labelled(
            _write_phase(path), w._df, orig, w, path, *a, **kw))
        patch(DataFrameWriter, "save", lambda orig: lambda w, *a, **kw: labelled(
            "save", w._df, orig, w, *a, **kw))
        patch(DataFrame, "collect", lambda orig: lambda df: labelled("collect", df, orig, df))

        def plain(name):
            def make(orig):
                def wrapped(*a, **kw):
                    with t.span(name):
                        return orig(*a, **kw)
                return wrapped
            return make

        patch(L, "commit_sink_run", plain("commit"))
        patch(L, "read_manifest", plain("lineage"))
        patch(L, "committed_hours", plain("lineage"))
        patch(P, "gc_orphan_runs", plain("gc"))

    def remove(self) -> None:
        for owner, attr, orig in reversed(self._orig):
            setattr(owner, attr, orig)
        self._orig.clear()
        self.t.active = False
        self.sc.setLocalProperty("perfbench.traced", None)


def pipeline_phases(tracer: Tracer, sid: int) -> dict[str, float]:
    """Seconds per phase of one run_pipeline span: its direct children
    by phase, plus ``other`` = wall minus their sum, so the phases add
    up to the call's wall time by construction.  Time the tracer spent
    reading plan shapes is not part of the call's wall time."""
    root = tracer.spans[sid]
    out = dict.fromkeys(PIPELINE_PHASES.values(), 0.0)
    wall = root["end"] - root["start"]
    for c in tracer.children(sid):
        wall -= c.get("shape_s", 0.0)
        if c["name"] in PIPELINE_PHASES:
            out[PIPELINE_PHASES[c["name"]]] += c["end"] - c["start"]
    out["other"] = wall - sum(out.values())
    out["wall"] = wall
    return out


FILE_OPS = ("lineage", "commit", "gc")


def op_wall(tracer: Tracer, sid: int) -> float:
    s = tracer.spans[sid]
    return s["end"] - s["start"]


def outermost_s(tracer: Tracer, op, names: tuple[str, ...]) -> float:
    """Seconds of one op spent in spans named ``names``, counting a
    span only when no ancestor also has one of those names."""
    total = 0.0
    for s in tracer.spans:
        if s["op"] != op or s["name"] not in names:
            continue
        p = s["parent"]
        while p is not None and tracer.spans[p]["name"] not in names:
            p = tracer.spans[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


def lineage_read_s(tracer: Tracer, op) -> float:
    """Time one op spent reading lineage manifests."""
    return outermost_s(tracer, op, ("lineage",))


# ---------------------------------------------------------------------------
# Spark event log.
# ---------------------------------------------------------------------------
def event_log_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, non-rolling event log: one JSON-lines file per app."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Stage metrics of the jobs run by traced ops, from the event log.

    Returns totals (executor run s, JVM GC s, shuffle write/read MB,
    spill MB, tasks), the max/median task time of the widest stage, and
    the same totals keyed by the ``spark.job.description`` of the job
    that ran each stage (the span name of the action that issued it)."""
    stage_label: dict[int, str] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    per_label: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    totals: dict[str, float] = defaultdict(float)
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("perfbench.traced") != "1":
                        continue
                    label = props.get("spark.job.description") or "unlabelled"
                    for st in ev.get("Stage IDs", []):
                        stage_label[st] = label
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_label:
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    row = {
                        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
                        "jvm_gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
                        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0)) / 2**20,
                        "spill_mb": (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0)) / 2**20,
                        "tasks": 1,
                    }
                    st = ev["Stage ID"]
                    task_ms[st].append(m.get("Executor Run Time", 0))
                    for k, v in row.items():
                        totals[k] += v
                        per_label[stage_label[st]][k] += v
    widest = max(task_ms.values(), key=len, default=[])
    med = statistics.median(widest) if widest else 0
    totals["task_skew"] = (max(widest) / med) if med else 1.0
    return {"totals": dict(totals), "per_label": {k: dict(v) for k, v in per_label.items()}}


def plan_shape(df: DataFrame) -> tuple[int, int]:
    """(Exchange count, file-scan count) of a DataFrame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange "), plan.count("FileScan ") + plan.count("Scan parquet ")


# ---------------------------------------------------------------------------
# Memory.
# ---------------------------------------------------------------------------
def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


class RssSampler:
    """Peak summed RSS of a process tree (the JVM and its Python
    workers), sampled every ``period`` seconds on a daemon thread."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root, self.period = root_pid, period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        kids = _children_map()
        todo, total = [self.root], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.period)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self._sample())
        return self.peak_kb / 1024
