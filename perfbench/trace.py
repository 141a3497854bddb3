"""In-memory span recorder and the Spark counters read at span edges.

A span is (name, layer, start, end, parent, run id). The benchmark opens
spans from its own files around calls into each layer's public
functions; nothing inside the program changes. Spark work is attributed
three ways, all from outside the program:

- each span runs its Spark jobs under its own job group, so the status
  tracker lists the jobs (and through them stages and tasks) a span
  started itself;
- executor-summary totals (shuffle write, input, storage) are read at
  both span edges, the way ``bench.py`` reads shuffle bytes;
- a streaming-query listener counts micro-batches, input rows and state
  per streaming run; a run's micro-batch jobs carry its run id as job
  group.

Jobs outside every group (those a program thread submits on its own)
are counted as unattributed, so the per-layer totals still add up.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_COUNTERS = ("shuffle_write", "input", "stored")


@dataclass(eq=False)
class Span:
    sid: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    #: whether the span ran its jobs under its own job group
    grouped: bool = False
    #: executor-total deltas over the span (children included)
    totals: dict[str, float] = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (overlapping children are merged)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids[s.sid]
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


class Recorder:
    """Collects spans in memory; ``spark`` (optional) turns on job
    groups and executor-total deltas per span."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._spark = spark
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def group(self, sid: int) -> str:
        return f"perfbench-{self.run_id}-{sid}"

    def _set_group(self, sid: int | None) -> None:
        sc = self._spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self.group(sid), f"perfbench span {sid}")

    def _totals(self) -> dict[str, float]:
        store = self._spark.sparkContext._jsc.sc().statusStore()
        execs = store.executorList(False)
        t = dict.fromkeys(_COUNTERS, 0.0)
        for i in range(execs.size()):
            e = execs.apply(i)
            t["shuffle_write"] += e.totalShuffleWrite()
            t["input"] += e.totalInputBytes()
            t["stored"] += e.memoryUsed() + e.diskUsed()
        return t

    @contextlib.contextmanager
    def span(self, name: str, layer: str, spark_counters: bool = True) -> Iterator[Span]:
        """Record a span; with ``spark_counters`` off (driver-only work
        such as workbook parsing) it costs no Spark round trip, and any
        job it starts lands in the enclosing span's group."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(len(self.spans), name, layer, self.run_id,
                      parent.sid if parent else None, 0.0)
            self.spans.append(sp)
        sp.grouped = self._spark is not None and spark_counters
        before = self._totals() if sp.grouped else None
        if sp.grouped:
            self._set_group(sp.sid)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if sp in stack:
                stack.remove(sp)
            if sp.grouped:
                owner = next((s.sid for s in reversed(stack) if s.grouped), None)
                self._set_group(owner)
                after = self._totals()
                sp.totals = {k: after[k] - before[k] for k in _COUNTERS}

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        def wrapped(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapped

    def current(self) -> Span | None:
        """The innermost open span of the calling thread."""
        stack = self._stack()
        return stack[-1] if stack else None

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s) | {"self_s": selfs[s.sid]}) + "\n")


class NullRecorder:
    """The untraced run's recorder: spans cost one no-op context."""

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()


def job_stats(spark, job_ids: list[int]) -> dict[str, int]:
    """Jobs, stages with completed tasks, completed and failed tasks of
    ``job_ids`` (from the status tracker)."""
    tracker = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0}
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks > 0:
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks
            out["failed_tasks"] += st.numFailedTasks
    return out


class StreamCounter(StreamingQueryListener):
    """Per-run streaming progress: micro-batches, input rows and the
    state-store size of the last batch."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.batches: dict[str, int] = defaultdict(int)
        self.input_rows: dict[str, int] = defaultdict(int)
        self.state_rows: dict[str, int] = {}
        self.state_bytes: dict[str, int] = {}

    def onQueryStarted(self, event):
        with self.lock:
            self.started.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        run = str(p.runId)
        with self.lock:
            self.batches[run] += 1
            self.input_rows[run] += p.numInputRows
            self.state_rows[run] = sum(s.numRowsTotal for s in p.stateOperators)
            self.state_bytes[run] = sum(s.memoryUsedBytes for s in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))

    def settle(self, timeout: float = 10.0) -> bool:
        """Wait until every started run has reported termination (the
        listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    return True
            time.sleep(0.05)
        return False

    def totals(self) -> dict[str, float]:
        with self.lock:
            return {
                "micro_batches": sum(self.batches.values()),
                "input_rows": sum(self.input_rows.values()),
                "state_rows": sum(self.state_rows.values()),
                "state_memory_mb": sum(self.state_bytes.values()) / 1e6,
            }
