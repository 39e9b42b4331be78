"""Measurement helpers: process CPU and memory from /proc, spans for the
traced run, wrappers around the engine's layers, and readers for Spark's
event log and streaming progress.

Nothing here changes what the engine computes. The wrappers call straight
through; when tracing is off they are not installed at all.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc -------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """``root`` (this process by default) and every live process below it:
    for this process, the JVM, its Python worker daemon and the workers."""
    kids = _children()
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User + system CPU of this process tree, including reaped children
    (a reaped worker's time moves into its parent's cutime/cstime)."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def workers_peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident sets (VmHWM) of the Python workers: every
    live process below the JVM."""
    total_kb = 0
    for pid in descendants(jvm_pid)[1:]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def jvm_live_mb(spark) -> float:
    """Memory the JVM holds after a full collection: heap in use, non-heap
    (metaspace, code cache) and NIO direct and mapped buffers. The forced
    collection makes the figure independent of when the collector last ran
    and of how much of the fixed heap it has touched."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    factory = jvm.java.lang.management.ManagementFactory
    mem = factory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    pools = factory.getPlatformMXBeans(
        jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    used += sum(max(0, pool.getMemoryUsed()) for pool in pools)
    return used / 2**20


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000


# -- statistics --------------------------------------------------------------


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans: (id, parent id, name, start, end, thread). Parents
    follow a per-thread stack, so streaming sink callbacks, which run on their
    own thread, start their own trees; ``self_times`` hangs such a tree under
    the span of another thread that encloses it."""

    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, float, float, int]] = []
        self.enabled = False
        self._stack = threading.local()
        self._lock = threading.Lock()

    def span(self, name: str):
        return _Span(self, name) if self.enabled else contextlib.nullcontext()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return inner

    def totals(self, t0: float, t1: float) -> dict[str, float]:
        """Summed duration per span name over spans that start in [t0, t1)."""
        out: dict[str, float] = {}
        for _i, _p, name, s, e, _t in self.spans:
            if t0 <= s < t1:
                out[name] = out.get(name, 0.0) + e - s
        return out

    def counts(self, t0: float, t1: float) -> dict[str, int]:
        """Number of spans per name that start in [t0, t1)."""
        out: dict[str, int] = {}
        for _i, _p, name, s, _e, _t in self.spans:
            if t0 <= s < t1:
                out[name] = out.get(name, 0) + 1
        return out

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """Self time per layer (the span name up to its first dot): a span's
        duration minus the union of its children's intervals. A root span
        that lies inside a span of another thread, such as a sink callback
        inside ``processAllAvailable``, is a child of the innermost such span,
        so its time is not counted in both layers."""
        spans = [sp for sp in self.spans if t0 <= sp[3] < t1]
        kids: dict[int, list[tuple[float, float]]] = {}
        for _i, parent, _n, s, e, tid in spans:
            if parent is None:
                around = [(os_, oid) for oid, _p, _n2, os_, oe, otid in spans
                          if otid != tid and os_ <= s and e <= oe]
                parent = max(around)[1] if around else None
            if parent is not None:
                kids.setdefault(parent, []).append((s, e))
        out: dict[str, float] = {}
        for sid, _p, name, s, e, _t in spans:
            covered, end = 0.0, s
            for cs, ce in sorted(kids.get(sid, ())):
                cs, ce = max(cs, end), min(ce, e)
                if ce > cs:
                    covered += ce - cs
                    end = ce
            layer = name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + (e - s) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, s, e, tid in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "name": name,
                                    "start": s, "end": e, "thread": tid}) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        stack = getattr(self.tracer._stack, "ids", None)
        if stack is None:
            stack = self.tracer._stack.ids = []
        with self.tracer._lock:
            self.sid = next(_ids)
        self.parent = stack[-1] if stack else None
        stack.append(self.sid)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        self.tracer._stack.ids.pop()
        with self.tracer._lock:
            self.tracer.spans.append(
                (self.sid, self.parent, self.name, self.start, end, threading.get_ident()))
        return False


_ids = iter(range(1, 1 << 62))

TRACER = Tracer()


def install_wrappers() -> None:
    """Wrap the calls into each engine layer named in the README. Patched
    at the attribute the caller looks up, so every call is seen."""
    from pyspark.sql.classic.dataframe import DataFrame

    import demo_apache_beam_spark.queries as queries
    from demo_apache_beam_spark.pipelines import hourly_team_score, user_score
    from demo_apache_beam_spark.streaming import timing

    DataFrame.localCheckpoint = TRACER.wrap("staging", DataFrame.localCheckpoint)
    boot = queries._bootstrap_store

    @functools.wraps(boot)
    def bootstrap(spark, name, sf_dir, source_table, params_desc, build, load, *a, **k):
        return boot(spark, name, sf_dir, source_table, params_desc,
                    TRACER.wrap("store.build", build), load, *a, **k)

    queries._bootstrap_store = bootstrap
    user_score.write_text = TRACER.wrap("sinks.write", user_score.write_text)
    hourly_team_score.write_windowed_text = TRACER.wrap(
        "sinks.write", hourly_team_score.write_windowed_text)
    ann = timing.TimingAnnotator
    ann.annotate = TRACER.wrap("timing.annotate", ann.annotate)
    ann.record = TRACER.wrap("timing.record", ann.record)


# -- Spark event log ---------------------------------------------------------


def event_log_summary(log_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics whose start falls in [t0, t1)
    (epoch seconds), from the JSON event log Spark wrote to ``log_dir``."""
    jobs = stages = tasks = 0
    cpu_ns = shuffle_read = shuffle_write = spill = 0
    stage_runs: dict[tuple[int, int], list[int]] = {}
    lo, hi = t0 * 1000, t1 * 1000
    paths = [os.path.join(d, n) for d, _s, names in os.walk(log_dir) for n in names]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", 0) < hi:
                        jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if lo <= info.get("Submission Time", 0) < hi:
                        stages += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not lo <= info["Launch Time"] < hi:
                        continue
                    tasks += 1
                    m = ev.get("Task Metrics") or {}
                    cpu_ns += m.get("Executor CPU Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    stage_runs.setdefault(key, []).append(m.get("Executor Run Time", 0))
    skews = [max(r) / max(1, median(r)) for r in stage_runs.values() if len(r) >= 2]
    return {
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "executor_cpu_s": cpu_ns / 1e9,
        "shuffle_read_bytes": shuffle_read,
        "shuffle_write_bytes": shuffle_write,
        "spill_bytes": spill,
        "task_skew": median(skews) if skews else 1.0,
    }


# -- streaming progress ------------------------------------------------------


def progress_summary(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians and totals from one query's ``recentProgress``."""
    dur = lambda k: median([p["durationMs"].get(k, 0) for p in progress])  # noqa: E731
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "batches": len(progress),
        "add_batch_ms": dur("addBatch"),
        "latest_offset_ms": dur("latestOffset"),
        "query_planning_ms": dur("queryPlanning"),
        "wal_commit_ms": dur("walCommit"),
        "state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "state_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "state_commit_ms": median([op.get("commitTimeMs", 0) for op in ops]),
        "rows_dropped_by_watermark": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }
