"""Per-layer attribution for the benchmark's traced runs.

Everything here measures the program from outside: spans are opened by the
benchmark around calls into the package's public functions, the registry's
pin functions are wrapped by counters that only time, count and delegate,
streaming progress comes from a Python ``StreamingQueryListener``, and
stage/task metrics come from Spark's local event log, parsed after the
session stops.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from datetime import datetime
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; spans are written once, at the end."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.perf_counter(), parent=parent, run_id=self.run_id, attrs=attrs)
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> float:
        """End span ``idx`` and any span still open inside it (a call that
        raised leaves its inner spans open)."""
        now = time.perf_counter()
        while self._stack:
            top = self._stack.pop()
            self.spans[top].end = now
            if top == idx:
                break
        s = self.spans[idx]
        return s.end - s.start

    def self_times(self, within: set[int] | None = None) -> dict[str, float]:
        """Span duration minus the part its direct children cover, summed
        per span name (optionally only for spans under ``within``)."""
        child_sum = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_sum[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if within is not None and not self._under(i, within):
                continue
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_sum[i]
        return out

    def _under(self, i: int, roots: set[int]) -> bool:
        while i is not None:
            if i in roots:
                return True
            i = self.spans[i].parent
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class PinCounters:
    """Counting wrappers around ``registry.eager_cache``,
    ``eager_cache_thunk`` and ``corpus_pin``.

    Installed before ``registry.queries()`` imports the operator modules
    (they bind the pin functions at import). ``corpus_pin`` delegates to
    ``eager_cache_thunk``, which delegates to ``eager_cache``, all with the
    same tag: a call with the tag of the pin call enclosing it is that
    call's delegation, not a new request. While ``enabled`` is false the
    wrappers only delegate. A request is a miss when it added
    its tag to the pin memo, a pass-through when ``corpus_pin`` returned
    without reaching the memo, and a hit otherwise. Evictions are memo keys
    that disappeared during an outermost request; build seconds are the
    wall time of outermost misses and pass-throughs."""

    NAMES = ("eager_cache", "eager_cache_thunk", "corpus_pin")

    def __init__(self, registry, tracer: Tracer) -> None:
        self.registry = registry
        self.tracer = tracer
        self.enabled = True
        self.calls = self.hits = self.misses = self.evictions = 0
        self.passthroughs = 0
        self.build_s = 0.0
        self._stack: list[list] = []  # [tag, reached_memo]

    def install(self) -> None:
        for name in self.NAMES:
            setattr(self.registry, name, self._wrap(name, getattr(self.registry, name)))

    def _wrap(self, name: str, fn):
        def wrapper(e, tag, *args, **kwargs):
            if not self.enabled:
                return fn(e, tag, *args, **kwargs)
            if self._stack and self._stack[-1][0] == tag:
                self._stack[-1][1] = True
                return fn(e, tag, *args, **kwargs)
            outermost = not self._stack
            before = set(self.registry._CACHED)
            self._stack.append([tag, name != "corpus_pin"])
            span = self.tracer.open("registry.pin", fn=name, tag=tag)
            try:
                return fn(e, tag, *args, **kwargs)
            finally:
                dt = self.tracer.close(span)
                _, reached = self._stack.pop()
                after = set(self.registry._CACHED)
                self.calls += 1
                if outermost:
                    self.evictions += len(before - after)
                if any(k[2] == tag for k in after - before):
                    self.misses += 1
                    self.build_s += dt if outermost else 0.0
                elif not reached:
                    self.passthroughs += 1
                    self.build_s += dt if outermost else 0.0
                else:
                    self.hits += 1

        wrapper.__wrapped__ = fn
        return wrapper

    def metrics(self) -> dict[str, float]:
        memo = self.hits + self.misses
        return {
            "registry.pin_calls": self.calls,
            "registry.pin_misses": self.misses,
            "registry.pin_build_s": self.build_s,
            "registry.pin_evictions": self.evictions,
            "registry.pin_hit_ratio": self.hits / memo if memo else 0.0,
            "registry.pin_passthroughs": self.passthroughs,
        }


class WritePlans:
    """Planning time and plan shape of each noop write, read from the
    write's own ``QueryExecution``.

    The noop write analyses, optimizes and plans its command afresh, even
    over a frame whose own plan was built on an earlier call. This Python
    ``QueryExecutionListener`` receives that command's ``QueryExecution``
    when the write ends. Its ``QueryPlanningTracker`` gives the analysis,
    optimization and planning phases (whole ms), and its executed plan
    gives the Exchange count. ``arm()`` before the write and ``wait()``
    after it; records of other actions, and of every action while
    ``enabled`` is false, are ignored."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark, count_exchanges) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.enabled = False
        self._count = count_exchanges
        self._done = threading.Event()
        self._last: tuple[float, int] | Exception | None = None
        spark._jsparkSession.listenerManager().register(self)

    def arm(self) -> None:
        self._last = None
        self._done.clear()

    def wait(self, timeout_s: float = 60.0) -> tuple[float, int]:
        """(plan seconds, exchanges) of the write since ``arm()``."""
        if not self._done.wait(timeout_s):
            raise RuntimeError("no QueryExecution record for the noop write")
        if isinstance(self._last, Exception):
            raise self._last
        return self._last

    def onSuccess(self, func, qe, duration_ns):
        if not self.enabled or func != "overwrite":
            return
        try:
            phases = qe.tracker().phases()
            ms = 0
            for name in self.PHASES:
                opt = phases.get(name)
                if opt.isDefined():
                    ms += opt.get().durationMs()
            self._last = (ms / 1000.0, self._count(qe.executedPlan()))
        except Exception as exc:  # reported to the waiting call, not the bus
            self._last = exc
        self._done.set()

    def onFailure(self, func, qe, exception):
        if self.enabled and func == "overwrite":
            self._last = RuntimeError("noop write failed")
            self._done.set()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def make_stream_listener(sink: list):
    """A ``StreamingQueryListener`` that appends one record per
    micro-batch progress event to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs or {})
            started = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            sink.append(
                {
                    "wall": started.timestamp(),
                    "name": p.name,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "trigger_ms": d.get("triggerExecution", 0),
                    "add_batch_ms": d.get("addBatch", 0),
                    "wal_commit_ms": d.get("walCommit", 0),
                    "commit_offsets_ms": d.get("commitOffsets", 0),
                    "query_planning_ms": d.get("queryPlanning", 0),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


_EXEC_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms",
    "sched_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "shuffle_records", "spill_bytes", "input_bytes",
)


def parse_event_log(log_dir: str, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Stage/task metrics per call label from Spark's JSON event log.

    A job belongs to the call whose job description it carries
    (``<workload>:<pass>:<query>``). Jobs with another description — the
    micro-batches a streaming query runs on its own thread — belong to the
    call whose wall-clock window contains their submission time."""
    out: dict[str, dict] = {k: dict.fromkeys(_EXEC_FIELDS, 0) for k in windows}
    stage_label: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    stage_first_launch: dict[int, float] = {}
    ordered = sorted(windows.items(), key=lambda kv: kv[1][0])

    def by_time(ms: float) -> str | None:
        t = ms / 1000.0
        for label, (a, b) in ordered:
            if a <= t <= b:
                return label
        return None

    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    paths += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    label = desc if desc in out else by_time(ev.get("Submission Time", 0))
                    if label is None:
                        continue
                    out[label]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_label[sid] = label
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_label:
                        out[stage_label[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    label = stage_label.get(sid)
                    if label is None:
                        continue
                    rec = out[label]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    rec["failed_tasks"] += int(bool(info.get("Failed")))
                    launch = info.get("Launch Time", 0)
                    if sid not in stage_first_launch or launch < stage_first_launch[sid]:
                        stage_first_launch[sid] = launch
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics", {})
                    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    rec["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                    rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    rec["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    for sid, launch in stage_first_launch.items():
        label = stage_label.get(sid)
        if label is not None and sid in stage_submit:
            out[label]["sched_wait_ms"] += max(launch - stage_submit[sid], 0)
    return out


def assign_batches(progress: list[dict], windows: dict[str, tuple[float, float]]) -> dict[str, list[dict]]:
    """Micro-batches per call label: each batch belongs to the latest call
    that started before its trigger did."""
    starts = sorted((a, label) for label, (a, _) in windows.items())
    out: dict[str, list[dict]] = {label: [] for label in windows}
    for b in progress:
        owner = None
        for a, label in starts:
            if a > b["wall"]:
                break
            owner = label
        if owner is not None:
            out[owner].append(b)
    return out
