"""Traced runs: spans and counts recorded around the package's public
functions, wrapped from the benchmark's own code.

A span is (op, id, parent, name, start, end); spans of one operation share
the op id. Times come from ``time.perf_counter`` (CLOCK_MONOTONIC on Linux,
so spans recorded by the server process nest inside the client's request
span). A span's self time is its duration minus the part of it that its
child spans cover, so the self times of an operation's spans add up to the
operation's traced wall; the root span's self time is the residual that
no wrapped layer accounts for.
"""

from __future__ import annotations

import functools
import itertools
import subprocess
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# span name -> per-layer self-time metric. Every span name maps to exactly
# one metric, so these metrics sum to the mean traced operation wall.
SELF_METRICS = {
    "op": "bench.residual_ms",
    "server": "server.self_ms",
    "engine.sql": "engine.sql_self_ms",
    "engine.write": "engine.write_self_ms",
    "engine.lock_wait": "engine.lock_wait_ms",
    "sources.read": "sources.read_ms",
    "catalog.resolve": "catalog.resolve_ms",
    "catalog.materialize": "catalog.materialize_ms",
    "catalog.write": "catalog.write_ms",
    "catalog.snapshot": "catalog.self_ms",
    "catalog.browse": "catalog.self_ms",
    "sinks.render.html": "sinks.render_ms",
    "sinks.render.svg": "sinks.render_ms",
    "sinks.render.file": "sinks.render_ms",
    "sinks.render.listing": "sinks.render_ms",
    "sinks.render.error": "sinks.render_ms",
    "queries.build": "queries.build_ms",
    "queries.scan": "queries.scan_ms",
    "spark.action": "spark.action_ms",
    "spark.analysis": "spark.analysis_ms",
    "streaming.drain": "streaming.drain_ms",
    "streaming.source": "streaming.source_ms",
}
# Render time split by format; these are parts of sinks.render_ms.
FORMAT_METRICS = {
    f"sinks.render.{f}": f"sinks.render_{f}_ms" for f in ("html", "svg", "file", "listing")
}
COUNT_METRICS = (
    "engine.views_registered",
    "sources.read_calls",
    "catalog.resolve_calls",
    "catalog.git_procs",
    "catalog.snapshot_hits",
    "catalog.snapshot_misses",
    "queries.scan_calls",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "streaming.batches",
    "streaming.query_planning_ms",
    "streaming.add_batch_ms",
    "streaming.state_commit_ms",
    "streaming.state_update_ms",
    "streaming.state_rows",
)


class Tracer:
    """In-memory spans and counts, keyed by operation id."""

    def __init__(self, prefix: str = "s"):
        self.enabled = False
        self.spans: list[tuple] = []
        self.counts: dict[str, Counter] = defaultdict(Counter)
        self._ids = itertools.count(1)
        self._prefix = prefix
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def op(self, op_id: str, root: str = "op"):
        """Open operation ``op_id`` on this thread with a root span."""
        self._local.op = op_id
        try:
            with self.span(root):
                yield
        finally:
            self._local.op = None

    def current_op(self) -> str | None:
        return getattr(self._local, "op", None) if self.enabled else None

    @contextmanager
    def span(self, name: str):
        op = self.current_op()
        if op is None:
            yield
            return
        stack = self._stack()
        sid = f"{self._prefix}{next(self._ids)}"
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((op, sid, parent, name, t0, t1))

    def count(self, name: str, n: float = 1, op: str | None = None) -> None:
        op = op or self.current_op()
        if op is not None:
            with self._lock:
                self.counts[op][name] += n

    def wrap(self, fn, name: str, count: str | None = None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if count:
                self.count(count)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def export(self) -> dict:
        return {"spans": self.spans, "counts": {k: dict(v) for k, v in self.counts.items()}}


# -- self-time arithmetic ---------------------------------------------------


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[tuple]) -> dict[str, float]:
    """Span id -> self time in seconds. A span is first clipped to its
    parent's interval (a server span can close just after the client has
    read the reply), so the self times of a tree add up to its root's
    duration."""
    by_id = {sid: (parent, t0, t1) for _op, sid, parent, _name, t0, t1 in spans}
    clipped: dict[str, tuple[float, float]] = {}

    def clip(sid: str) -> tuple[float, float]:
        if sid not in clipped:
            parent, t0, t1 = by_id[sid]
            if parent in by_id:
                lo, hi = clip(parent)
                t0, t1 = min(max(t0, lo), hi), max(min(t1, hi), lo)
            clipped[sid] = (t0, t1)
        return clipped[sid]

    children = defaultdict(list)
    for sid, (parent, _t0, _t1) in by_id.items():
        if parent in by_id:
            children[parent].append(clip(sid))
    out = {}
    for sid in by_id:
        t0, t1 = clip(sid)
        out[sid] = (t1 - t0) - _covered(t0, t1, children[sid])
    return out


def summarize(spans: list[tuple], counts: dict[str, dict], ops: list[str]) -> dict:
    """Per-operation layer metrics over ``ops``: self times (ms) per layer,
    counts per layer, the traced wall and the check that the self times add
    up to it."""
    wanted = set(ops)
    spans = [s for s in spans if s[0] in wanted]
    selfs = self_times(spans)
    n = len(ops)
    out = {m: 0.0 for m in set(SELF_METRICS.values()) | set(FORMAT_METRICS.values())}
    wall = 0.0
    for op, sid, parent, name, t0, t1 in spans:
        ms = selfs[sid] * 1000.0
        out[SELF_METRICS[name]] += ms / n
        if name in FORMAT_METRICS:
            out[FORMAT_METRICS[name]] += ms / n
        if parent is None:
            wall += (t1 - t0) * 1000.0 / n
    total = Counter()
    for op in ops:
        total.update(counts.get(op, {}))
    for m in COUNT_METRICS:
        out[m] = total.get(m, 0) / n
    out["catalog.snapshot_hits"] = (
        total.get("catalog.snapshot_calls", 0) - total.get("catalog.snapshot_misses", 0)
    ) / n
    out["trace.wall_ms"] = wall
    out["trace.self_sum_ms"] = sum(out[m] for m in set(SELF_METRICS.values()))
    out["trace.ops"] = n
    return out


# -- Spark job counts and stream progress -----------------------------------


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of job group ``group`` from the status tracker."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


def count_jobs(tracer: Tracer, sc, op: str, groups: list[str]) -> None:
    for g in groups:
        jobs, stages, tasks = job_counts(sc, g)
        tracer.count("spark.jobs", jobs, op=op)
        tracer.count("spark.stages", stages, op=op)
        tracer.count("spark.tasks", tasks, op=op)


def stream_listener(spark):
    """Register and return a StreamingQueryListener that keeps run ids and
    per-batch progress until :meth:`take` is called."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        def __init__(self):
            self._cv = threading.Condition()
            self._started: list[tuple[str, str]] = []
            self._ended: set[str] = set()
            self._progress: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802 (pyspark API)
            with self._cv:
                self._started.append((str(event.id), str(event.runId)))

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            states = p.stateOperators or []
            with self._cv:
                self._progress.append(
                    {
                        "streaming.batches": 1,
                        "streaming.query_planning_ms": p.durationMs.get("queryPlanning", 0),
                        "streaming.add_batch_ms": p.durationMs.get("addBatch", 0),
                        "streaming.state_commit_ms": sum(s.commitTimeMs for s in states),
                        "streaming.state_update_ms": sum(s.allUpdatesTimeMs for s in states),
                        "streaming.state_rows": sum(s.numRowsTotal for s in states),
                    }
                )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            with self._cv:
                self._ended.add(str(event.id))
                self._cv.notify_all()

        def take(self, timeout: float = 30.0) -> tuple[list[str], list[dict]]:
            """Wait until every started query has terminated; return and
            forget (run ids, progress records)."""
            deadline = time.monotonic() + timeout
            with self._cv:
                while any(i not in self._ended for i, _ in self._started):
                    left = deadline - time.monotonic()
                    if left <= 0:
                        raise TimeoutError("stream listener missed a termination event")
                    self._cv.wait(left)
                runs = [r for _, r in self._started]
                progress = self._progress
                self._started, self._ended, self._progress = [], set(), []
            return runs, progress

    listener = StreamStats()
    spark.streams.addListener(listener)
    return listener


# -- wrappers ---------------------------------------------------------------


def rebind(original, wrapper) -> int:
    """Point every ``smallquery_spark`` module attribute bound to
    ``original`` at ``wrapper`` (functions imported by name are bound once
    per importing module). Returns the number of rebound names."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if not name.startswith("smallquery_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)
                n += 1
    return n


class _TimedLock:
    """Engine._sql_lock stand-in whose acquire is a span."""

    def __init__(self, lock, tracer: Tracer):
        self._lock = lock
        self._tracer = tracer

    def __enter__(self):
        with self._tracer.span("engine.lock_wait"):
            self._lock.acquire()
        return self

    def __exit__(self, *exc):
        self._lock.release()


class _CountingSubprocess:
    """The ``subprocess`` module as seen by the catalog: counts git
    processes and times snapshot materialization (git archive | tar)."""

    def __init__(self, tracer: Tracer):
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(subprocess, name)

    def run(self, args, *a, **k):
        if args[0] == "git":
            self._tracer.count("catalog.git_procs")
        if "archive" in args:
            self._tracer.count("catalog.snapshot_misses")
        if "archive" in args or args[0] == "tar":
            with self._tracer.span("catalog.materialize"):
                return subprocess.run(args, *a, **k)
        return subprocess.run(args, *a, **k)


def install(tracer: Tracer, spark) -> None:
    """Wrap each layer's public functions. Call after the query modules are
    loaded and before the Engine is created."""
    from smallquery_spark import engine as engine_mod
    from smallquery_spark.catalog import workspace as ws_mod
    from smallquery_spark.queries import registry
    from smallquery_spark.sinks import render
    from smallquery_spark.sources import readers
    from smallquery_spark.streaming import runner

    def method(cls, attr, name, count=None):
        setattr(cls, attr, tracer.wrap(getattr(cls, attr), name, count))

    def function(fn, name, count=None):
        rebind(fn, tracer.wrap(fn, name, count))

    Engine = engine_mod.Engine
    method(Engine, "sql", "engine.sql")
    method(Engine, "write_table", "engine.write")
    init = Engine.__init__

    @functools.wraps(init)
    def engine_init(self, *a, **k):
        init(self, *a, **k)
        self._sql_lock = _TimedLock(self._sql_lock, tracer)

    Engine.__init__ = engine_init

    function(readers.read_any, "sources.read", "sources.read_calls")

    Workspace = ws_mod.Workspace
    method(Workspace, "resolve_version", "catalog.resolve", "catalog.resolve_calls")
    method(Workspace, "snapshot", "catalog.snapshot", "catalog.snapshot_calls")
    method(Workspace, "read_file", "catalog.browse")
    method(Workspace, "list_dir", "catalog.browse")
    function(ws_mod.write_table_version, "catalog.write")
    ws_mod.subprocess = _CountingSubprocess(tracer)

    for fn, fmt in (
        (render.render_html, "html"),
        (render.render_chart_svg, "svg"),
        (render.render_file, "file"),
        (render.render_listing, "listing"),
        (render.render_error, "error"),
    ):
        function(fn, f"sinks.render.{fmt}")

    function(registry.t, "queries.scan", "queries.scan_calls")
    function(runner.run_to_df, "streaming.drain")
    function(runner.events_stream, "streaming.source")

    df_cls = type(spark.range(1))
    for attr in ("collect", "count", "toPandas", "_collect_as_arrow"):
        method(df_cls, attr, "spark.action")
    views = df_cls.createOrReplaceTempView

    @functools.wraps(views)
    def create_view(self, name):
        tracer.count("engine.views_registered")
        return views(self, name)

    df_cls.createOrReplaceTempView = create_view
    method(type(spark), "sql", "spark.analysis")
