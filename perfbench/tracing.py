"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded only here, around the benchmark's own calls into each
layer of kwack-spark; nothing inside the program is instrumented.  A span has
a name, a layer, a start and end (wall clock, seconds), its parent and the id
of the operation it belongs to.  Spans live in memory until the run ends.

Two kinds of span are synthesized from Spark's own records:

- ``spark``: every operation span runs under its own job group, and the
  group's jobs (``statusTracker().getJobIdsForGroup``) become child spans from
  their submission and completion times.  Their stages
  (``statusStore().lastStageAttempt``) give tasks, shuffle and input bytes,
  executor run/CPU time and GC time.
- ``streaming``: micro-batch jobs run on the stream thread, outside the
  caller's job group, so a ``StreamingQueryListener`` records each batch's
  ``durationMs`` and ``stateOperators`` instead.

With tracing off every method is a cheap no-op, so the untraced run measures
the same calls without the bookkeeping.
"""

from __future__ import annotations

import datetime as dt
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("session", "engine", "kafka", "parquet", "plans", "streaming", "spark")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class OpStats:
    """Spark work attributed to one operation through its job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0

    @property
    def python_wait_s(self) -> float:
        """Task time not spent on the executor's CPU: for Python-stage
        operators, the time task threads wait on Python workers."""
        return max(0.0, self.run_s - self.cpu_s)


@dataclass
class Batch:
    query: str
    start: float
    duration_ms: dict
    state_rows: int
    state_bytes: int


@dataclass
class Tracer:
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    op_stats: dict[int, OpStats] = field(default_factory=dict)
    batches: list[Batch] = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)
    _op: int | None = None
    _listener: object = None

    def start(self) -> None:
        if self.enabled:
            self._listener = _stream_listener(self)
            self.spark.streams.addListener(self._listener)

    def stop(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    @contextmanager
    def span(self, name: str, layer: str):
        """A child span of the innermost open span."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, layer, time.time(), 0.0, parent, self._op if self._op is not None else sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.time()

    @contextmanager
    def op(self, name: str, layer: str):
        """A top-level operation: a span that owns a Spark job group, whose
        jobs and stages are read back when it ends."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        group = f"perfbench-{sid}"
        sc.setJobGroup(group, name, False)
        self._op = sid
        try:
            with self.span(name, layer):
                yield sid
        finally:
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            t = time.perf_counter()
            self.op_stats[sid] = self._collect(group, sid)
            self.overhead_s += time.perf_counter() - t

    def _collect(self, group: str, op: int) -> OpStats:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        st = OpStats()
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(jid)
            # job-end events reach the status store through the listener bus
            # a moment after the action returns
            for _ in range(200):
                if info is not None and info.status != "RUNNING":
                    break
                time.sleep(0.005)
                info = tracker.getJobInfo(jid)
            jd = store.job(jid)
            if jd.completionTime().isDefined():
                self._add_spark_span(
                    f"job {jid}",
                    jd.submissionTime().get().getTime() / 1000.0,
                    jd.completionTime().get().getTime() / 1000.0,
                    op,
                )
            st.jobs += 1
            for stage_id in info.stageIds:
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # never attempted: skipped, reused shuffle
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                st.stages += 1
                st.tasks += sd.numTasks()
                st.shuffle_bytes += sd.shuffleWriteBytes()
                st.input_bytes += sd.inputBytes()
                st.run_s += sd.executorRunTime() / 1e3
                st.cpu_s += sd.executorCpuTime() / 1e9
                st.gc_s += sd.jvmGcTime() / 1e3
        return st

    def _add_spark_span(self, name: str, start: float, end: float, op: int, layer: str = "spark") -> None:
        """Attach a synthesized span to the deepest span of ``op`` that
        contains its midpoint, clipped to that parent."""
        mid = (start + end) / 2
        parent = None
        for s in self.spans:
            if s.op == op and s.start <= mid <= s.end and s.layer != "spark":
                if parent is None or s.start >= parent.start:
                    parent = s
        if parent is None:
            return
        self.spans.append(
            Span(len(self.spans), name, layer, max(start, parent.start), min(end, parent.end), parent.sid, op)
        )

    def attach_batches(self) -> None:
        """Turn recorded micro-batches into ``streaming`` spans under the
        top-level operation that was running when each batch started."""
        for b in self.batches:
            end = b.start + b.duration_ms.get("triggerExecution", 0) / 1000.0
            for s in self.spans:
                if s.parent is None and s.start <= b.start <= s.end:
                    self._add_spark_span(f"batch {b.query}", b.start, end, s.sid, layer="streaming")
                    break


def _stream_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            tracer.batches.append(
                Batch(
                    query=p.name or str(p.id),
                    start=start.replace(tzinfo=dt.timezone.utc).timestamp(),
                    duration_ms=dict(p.durationMs),
                    state_rows=sum(o.numRowsTotal for o in p.stateOperators),
                    state_bytes=sum(o.memoryUsedBytes for o in p.stateOperators),
                )
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


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


def self_times(spans: list[Span], t0: float, t1: float) -> dict[str, float]:
    """Per-layer self time inside [t0, t1]: each span's duration minus the
    part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        a, b = max(s.start, t0), min(s.end, t1)
        if b <= a:
            continue
        covered = _union(
            [(max(c.start, a), min(c.end, b)) for c in children.get(s.sid, ()) if min(c.end, b) > max(c.start, a)]
        )
        out[s.layer] += (b - a) - covered
    return out
