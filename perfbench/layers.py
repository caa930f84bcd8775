"""Per-layer measurement for traced runs.

Everything here observes the program from outside:

* spans (name, start, end, parent, op) recorded around the benchmark's
  own calls, kept in memory and written out at the end;
* Spark job groups the benchmark sets on its own thread around the
  build and exec phase of every analytics op, so the event log can
  attribute each job; jobs started on other threads (streams, HTTP
  handler threads) are attributed by time window instead — one client,
  so windows never overlap;
* wrappers around the public ``Engine.submit`` / ``submit_dataset`` /
  ``cleanup_request`` calls;
* a StreamingQueryListener collecting every micro-batch progress;
* the Spark event log (enabled by configuration passed from outside the
  program), parsed after the session stops for task metrics and the
  SQL metrics of the Python-boundary plan nodes;
* file counts/bytes appearing under the run's checkpoint directory.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

JOB_GROUP_PREFIX = "perfbench"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    op: int | None
    parent: str | None


@dataclass
class Tracer:
    """Span store; a disabled tracer records nothing and touches no
    Spark state, so untraced runs pay nothing for it."""

    enabled: bool = False
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    op: int | None = None  # op the client thread is running
    _stack: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append(Span(name, start, end, self.op, parent))

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block on the client thread; nested spans get the
        enclosing span as parent."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.add(name, t0, time.time(), parent)

    @contextlib.contextmanager
    def phase(self, name: str):
        """A span whose Spark jobs carry the job group
        ``perfbench:<op>:<name>``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{JOB_GROUP_PREFIX}:{self.op}:{name}", name)
        try:
            with self.span(name):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def wrap_engine(tracer: Tracer) -> None:
    """Record a span around every public Engine submit/cleanup call, on
    whatever thread makes it (the HTTP server calls them from handler
    threads)."""
    from jobx_spark.engine import Engine

    def wrapped(fn, span_name):
        @functools.wraps(fn)
        def call(self, *a, **kw):
            t0 = time.time()
            try:
                return fn(self, *a, **kw)
            finally:
                tracer.add(span_name, t0, time.time())

        call.__wrapped_by_perfbench__ = fn
        return call

    for meth, span_name in (
        ("submit", "engine.submit"),
        ("submit_dataset", "engine.submit"),
        ("cleanup_request", "engine.cleanup"),
    ):
        fn = getattr(Engine, meth)
        if not hasattr(fn, "__wrapped_by_perfbench__"):
            setattr(Engine, meth, wrapped(fn, span_name))


def unwrap_engine() -> None:
    from jobx_spark.engine import Engine

    for meth in ("submit", "submit_dataset", "cleanup_request"):
        fn = getattr(Engine, meth)
        if hasattr(fn, "__wrapped_by_perfbench__"):
            setattr(Engine, meth, fn.__wrapped_by_perfbench__)


def stream_listener(spark):
    """Register and return a listener whose ``progress`` list holds
    every micro-batch progress (as a dict) of every stream."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def scan_files(root: str) -> dict[str, int]:
    """``{path: size}`` of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


# ------------------------------------------------------------ event log
@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    stages: list[int]
    tasks: int = 0
    failed_tasks: int = 0
    m: dict = field(default_factory=dict)


TASK_SUMS = {
    "task_run_s": lambda t: t["Executor Run Time"] / 1e3,
    "task_cpu_s": lambda t: t["Executor CPU Time"] / 1e9,
    "task_gc_s": lambda t: t["JVM GC Time"] / 1e3,
    "task_overhead_s": lambda t: (
        t["Executor Deserialize Time"] + t["Result Serialization Time"]
    ) / 1e3,
    "shuffle_write_bytes": lambda t: t["Shuffle Write Metrics"]["Shuffle Bytes Written"],
    "shuffle_read_bytes": lambda t: t["Shuffle Read Metrics"]["Remote Bytes Read"]
    + t["Shuffle Read Metrics"]["Local Bytes Read"],
    "spill_bytes": lambda t: t["Disk Bytes Spilled"],
    "input_bytes": lambda t: t["Input Metrics"]["Bytes Read"],
}
# SQL metrics every Python-boundary node (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas, ...) publishes per task
PY_ACCUMS = {
    "time to run Python workers": ("py_udf_s", 1e-3),
    "data sent to Python workers": ("arrow_to_py_bytes", 1),
    "data returned from Python workers": ("arrow_from_py_bytes", 1),
}


def parse_event_log(path: str) -> list[Job]:
    """Jobs with their task-metric sums, from one uncompressed event
    log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1e3, list(ev["Stage IDs"]),
                )
                jobs[job.job_id] = job
                for s in job.stages:
                    stage_job[s] = job.job_id
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                job.tasks += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    job.failed_tasks += 1
                tm = ev.get("Task Metrics")
                if tm:
                    for k, f in TASK_SUMS.items():
                        job.m[k] = job.m.get(k, 0) + f(tm)
                for acc in ev["Task Info"].get("Accumulables", []):
                    hit = PY_ACCUMS.get(acc.get("Name"))
                    if hit and acc.get("Update") is not None:
                        k, scale = hit
                        job.m[k] = job.m.get(k, 0) + float(acc["Update"]) * scale
    return sorted(jobs.values(), key=lambda j: j.job_id)


def find_event_log(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


class Windows:
    """Lookup of the span of a given kind that contains a time."""

    def __init__(self, spans: list[Span]):
        self.spans = sorted(spans, key=lambda s: s.start)
        self.starts = [s.start for s in self.spans]

    def find(self, t: float) -> Span | None:
        i = bisect.bisect_right(self.starts, t) - 1
        # event-log times have millisecond resolution
        if i >= 0 and t <= self.spans[i].end + 1e-3:
            return self.spans[i]
        return None


def attribute(jobs: list[Job], spans: list[Span], phases: tuple[str, ...]):
    """``(op, phase)`` of every job: from its perfbench job group when
    it has one, else from the phase span whose window holds its
    submission time. Jobs outside every window (warm-up, calibration)
    map to ``(None, None)``."""
    win = Windows([s for s in spans if s.name in phases])
    out = []
    for j in jobs:
        if j.group and j.group.startswith(JOB_GROUP_PREFIX + ":"):
            _p, op, phase = j.group.split(":", 2)
            out.append((int(op), phase))
            continue
        s = win.find(j.submit)
        out.append((s.op, s.name) if s else (None, None))
    return out


def self_time_coverage(spans: list[Span], op_span: str, parts: tuple[str, ...]) -> list[float]:
    """Per op: the summed duration of its ``parts`` spans over the
    duration of its ``op_span`` — how much of the op's wall time the
    layer spans account for."""
    ops = {s.op: s for s in spans if s.name == op_span}
    sums: dict[int, float] = {}
    for s in spans:
        if s.name in parts and s.op in ops:
            sums[s.op] = sums.get(s.op, 0.0) + (s.end - s.start)
    return [sums.get(op, 0.0) / max(s.end - s.start, 1e-9) for op, s in sorted(ops.items())]


def in_windows(times: list[float], spans: list[Span]) -> list[int | None]:
    win = Windows(spans)
    return [(s.op if (s := win.find(t)) else None) for t in times]


def stream_totals(progress: list[dict], op_spans: list[Span]) -> dict[str, float]:
    """Micro-batch totals over the progress events that fall inside an
    op window."""
    tot = {"batches": 0, "state_rows": 0, "trigger_ms": 0, "add_batch_ms": 0,
           "wal_commit_ms": 0, "state_commit_ms": 0}
    ops = in_windows([_iso_epoch(p["timestamp"]) for p in progress], op_spans)
    for p, op in zip(progress, ops):
        if op is None:
            continue
        d = p.get("durationMs") or {}
        states = p.get("stateOperators") or []
        tot["batches"] += 1
        tot["state_rows"] += sum(s.get("numRowsTotal", 0) for s in states)
        tot["trigger_ms"] += d.get("triggerExecution", 0)
        tot["add_batch_ms"] += d.get("addBatch", 0)
        tot["wal_commit_ms"] += d.get("walCommit", 0)
        tot["state_commit_ms"] += sum(s.get("commitTimeMs", 0) for s in states)
    return tot


# ------------------------------------------------------- traced window
class TracedWindow:
    """Context for the traced window: tracer, engine wrappers and the
    stream listener on; ``run_op`` also diffs the checkpoint directory
    after every op (outside the op's timing)."""

    def __init__(self, spark, tracer: Tracer, ckpt: str):
        self.spark, self.tracer, self.ckpt = spark, tracer, ckpt
        self.scratch_bytes = 0
        self.scratch_files = 0
        self.listener = None

    def __enter__(self) -> "TracedWindow":
        self.tracer.enabled = True
        wrap_engine(self.tracer)
        self.listener = stream_listener(self.spark)
        self._seen = scan_files(self.ckpt)
        return self

    def __exit__(self, *exc) -> None:
        unwrap_engine()
        self.tracer.enabled = False
        time.sleep(1.0)  # let the listener bus deliver the last progress

    def run_op(self, op, unit, tracer):
        import harness

        rec = harness.run_op(op, unit, tracer)
        now = scan_files(self.ckpt)
        new = [s for p, s in now.items() if self._seen.get(p) != s]
        self.scratch_bytes += sum(new)
        self.scratch_files += len(new)
        self._seen = now
        return rec


# name -> unit of every per-layer metric
UNITS = {
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_share": "ratio",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_failures": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.task_overhead_s": "s", "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B", "sources.input_bytes": "B",
    "operators.py_udf_s": "s", "operators.arrow_to_py_bytes": "B",
    "operators.arrow_from_py_bytes": "B",
    "scratch.bytes_written": "B", "scratch.files_written": "count",
    "streaming.batches": "count", "streaming.state_rows": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.state_commit_ms": "ms",
    "engine.submit_s": "s", "engine.jobs_per_request": "count",
    "engine.tasks_per_request": "count", "engine.cleanup_s": "s",
    "http_api.overhead_s": "s", "trace.graph_get_s": "s",
    "session.start_s": "s", "session.warmup_s": "s",
    "proc.driver_py_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.py_worker_cpu_s": "s",
    "tracing.overhead_s": "s", "tracing.span_coverage": "ratio",
}
# spans whose window owns the Spark jobs started inside it
PHASES = ("build", "exec", "http.post", "http.get_graph", "http.delete")
# the spans that partition an op's wall time, per op kind
OP_PARTS = (("build", "exec"), ("http.post", "http.get_graph", "http.delete"))


def per_layer(ops, tracer: Tracer, window: TracedWindow, log_dir: str, session: dict):
    """Layer metrics of the traced window, per op unless the name says
    otherwise; returns ``(metrics, units, extra_record_fields)``."""
    n = len(ops)
    spans = [s for s in tracer.spans if s.op is not None]
    dur: dict[str, list[float]] = {}
    for s in spans:
        dur.setdefault(s.name, []).append(s.end - s.start)

    def total(name):
        return sum(dur.get(name, []))

    def per(x, d):
        return x / d if d else 0.0

    jobs = parse_event_log(find_event_log(log_dir))
    owner = attribute(jobs, spans, PHASES)
    submits = Windows([s for s in spans if s.name == "engine.submit"])
    t: dict[str, float] = {}

    def add(k, v):
        t[k] = t.get(k, 0) + v

    for j, (op, phase) in zip(jobs, owner):
        if op is None:
            continue
        if submits.find(j.submit):
            add("engine_jobs", 1)
            add("engine_tasks", j.tasks)
        for k in ("py_udf_s", "arrow_to_py_bytes", "arrow_from_py_bytes"):
            add(f"operators.{k}", j.m.get(k, 0))
        if phase == "build":
            add("queries.build_jobs", 1)
            continue
        # everything that is not construction: the returned plan, or
        # the request's own jobs
        add("exec.jobs", 1)
        add("exec.stages", len(j.stages))
        add("exec.tasks", j.tasks)
        add("exec.task_failures", j.failed_tasks)
        for k in ("task_run_s", "task_cpu_s", "task_gc_s", "task_overhead_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            add(f"exec.{k}", j.m.get(k, 0))
        add("sources.input_bytes", j.m.get("input_bytes", 0))
    for k, v in stream_totals(window.listener.progress,
                              [s for s in spans if s.name == "op"]).items():
        add(f"streaming.{k}", v)
    add("scratch.bytes_written", window.scratch_bytes)
    add("scratch.files_written", window.scratch_files)
    for r in ops:
        for role, v in (r.cpu_roles or {}).items():
            add(f"proc.{role}_cpu_s", v)

    m = {k: per(t.get(k, 0), n) for k in UNITS}
    busy = total("build") + total("exec")
    n_submit, n_post = len(dur.get("engine.submit", [])), len(dur.get("http.post", []))
    cover = [c for parts in OP_PARTS for c in self_time_coverage(spans, "op", parts)
             if c > 0]
    m.update({
        "queries.build_s": per(total("build"), n),
        "queries.build_share": per(total("build"), busy),
        "exec.exec_s": per(total("exec"), n),
        "engine.submit_s": per(total("engine.submit"), n),
        "engine.jobs_per_request": per(t.get("engine_jobs", 0), n_submit),
        "engine.tasks_per_request": per(t.get("engine_tasks", 0), n_submit),
        "engine.cleanup_s": per(total("engine.cleanup"), len(dur.get("engine.cleanup", []))),
        "http_api.overhead_s": per(total("http.post") - total("engine.submit"), n_post),
        "trace.graph_get_s": per(total("http.get_graph"), n_post),
        "tracing.span_coverage": min(cover) if cover else 0.0,
        **session,
    })
    extra = {"spark_jobs": len(jobs),
             "unattributed_jobs": sum(o is None for o, _ in owner),
             "stream_progress": window.listener.progress}
    return m, UNITS, extra
