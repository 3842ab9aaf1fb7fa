"""Per-layer tracing of benchmark operations, from outside the engine.

Spans come from two sources:

- the harness times each call it makes into the engine (``Engine.sql``,
  ``QuerySpec.spark_fn``, ``DataFrame.collect``/``DataFrameWriter.save``)
  and wraps ``dialect.translate`` and the Py4J client's ``send_command``;
- the driver JVM reports the rest after each operation: Catalyst phase
  intervals from ``QueryExecution.tracker()`` (through a registered
  ``QueryExecutionListener``) and job/stage records from the app status
  store, found through one job group per operation.

A JVM interval is placed under the innermost harness span that contains
its start, and named by that span (stages under ``exec`` are
``exec.stages``).  A span's self time is its wall time minus the union of
its children, so the self times of one operation partition its wall
time; what no span covers is ``harness.gap``.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PHASES = ("analysis", "optimization", "planning")
# harness span → layer name of the Spark stages that run inside it
STAGE_LAYER = {
    "queries.build": "queries.build_jobs",
    "engine.sql": "engine.sql.stages",
    "write": "write.stages",
    "exec": "exec.stages",
    "op": "exec.stages",
}
SLACK_S = 0.002  # the JVM reports epoch milliseconds


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index into OpTrace.spans
    depth: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class OpTrace:
    op: str
    name: str
    spans: list[Span] = field(default_factory=list)
    harness: list[int] = field(default_factory=list)  # spans the harness timed
    counters: dict[str, float] = field(default_factory=dict)

    def open(self, name: str, parent: int | None) -> int:
        depth = 0 if parent is None else self.spans[parent].depth + 1
        self.spans.append(Span(name, time.time(), 0.0, parent, depth))
        self.harness.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()

    def holder(self, t: float) -> int:
        """The innermost harness span whose window holds instant ``t``;
        only when none does, the innermost within ``SLACK_S`` of it."""
        for slack in (0.0, SLACK_S):
            best = None
            for i in self.harness:
                s = self.spans[i]
                if s.start - slack <= t <= s.end + slack and (
                    best is None or s.depth >= self.spans[best].depth
                ):
                    best = i
            if best is not None:
                return best
        return 0

    def add(self, name: str, start: float, end: float) -> None:
        # placed by its midpoint: a whole-millisecond start can fall just
        # inside a short neighbouring span (``dialect.translate``)
        end = max(start, end)
        self.spans.append(Span(name, start, end, self.holder((start + end) / 2)))

    def bump(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value


def merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_ms(intervals: list[tuple[float, float]]) -> float:
    return sum(e - s for s, e in merge(intervals)) * 1000.0


def self_times(tr: OpTrace) -> dict[str, float]:
    """Layer name → self ms for one operation (the root's self is the gap)."""
    out: dict[str, float] = {}
    for i, s in enumerate(tr.spans):
        kids = [(c.start, c.end) for c in tr.spans if c.parent == i]
        name = "harness.gap" if i == 0 else s.name
        out[name] = out.get(name, 0.0) + s.ms - union_ms(kids)
    return out


class _QEListener:
    """``QueryExecutionListener`` proxy: records each finished query's
    Catalyst phase intervals (epoch seconds) for the harness to drain."""

    def __init__(self):
        self.records: list[tuple[str, float, float]] = []
        self.enabled = False

    def onSuccess(self, func_name, qe, duration_ns):
        if self.enabled:
            self.records.extend(phase_intervals(qe))

    def onFailure(self, func_name, qe, exception):
        if self.enabled:
            self.records.extend(phase_intervals(qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def phase_intervals(qe, names=PHASES) -> list[tuple[str, float, float]]:
    phases = qe.tracker().phases()
    out = []
    for name in names:
        if phases.contains(name):
            p = phases.apply(name)
            out.append((name, p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0))
    return out


def _epoch(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Probe:
    """Live hooks into one SparkSession; enabled only for traced passes."""

    def __init__(self, spark, log_path: str):
        from pyspark.java_gateway import ensure_callback_server_started

        import prestodb_presto_spark.dialect as dialect

        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.tracker = jsc.statusTracker()
        self.bus = jsc.listenerBus()
        self.seq = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.log_path = log_path
        self.listener = _QEListener()
        ensure_callback_server_started(self.sc._gateway)
        # registered once: unregister cannot match a second Py4J proxy of
        # the same object, so switching is a flag on the listener
        spark._jsparkSession.listenerManager().register(self.listener)
        self.client = self.sc._gateway._gateway_client
        self._send = self.client.send_command
        self._dialect = dialect
        self._translate = dialect.translate
        self.current: OpTrace | None = None
        self.parent = 0
        self.py4j_calls = 0

    # -- switching ---------------------------------------------------------
    def enable(self) -> None:
        main = threading.get_ident()

        def counting_send(*args, **kwargs):
            # listener callbacks run on other threads; count the client's own
            if threading.get_ident() == main:
                self.py4j_calls += 1
            return self._send(*args, **kwargs)

        def traced_translate(sql):
            tr = self.current
            if tr is None:
                return self._translate(sql)
            idx = tr.open("dialect.translate", self.parent)
            try:
                return self._translate(sql)
            finally:
                tr.close(idx)
                tr.bump("dialect.calls", 1)

        self.listener.enabled = True
        self.client.send_command = counting_send
        self._dialect.translate = traced_translate

    def disable(self) -> None:
        self.bus.waitUntilEmpty()
        self.listener.enabled = False
        self.client.send_command = self._send
        self._dialect.translate = self._translate

    # -- per operation -----------------------------------------------------
    def start(self, op: str, name: str) -> OpTrace:
        tr = OpTrace(op, name)
        tr.counters["log_offset"] = self._log_size()
        self.listener.records.clear()
        self.sc.setJobGroup(op, name)
        tr.open("op", None)
        self.current = tr
        return tr

    @contextmanager
    def span(self, tr: OpTrace, name: str):
        idx = tr.open(name, 0)
        self.parent = idx
        calls0 = self.py4j_calls
        try:
            yield
        finally:
            tr.close(idx)
            tr.bump(f"{name}.py4j_calls", self.py4j_calls - calls0)
            self.parent = 0

    def abort(self, tr: OpTrace) -> None:
        """Leave a failed operation: no JVM reads, hooks back to idle."""
        tr.close(0)
        self.current = None
        self.sc.setJobGroup("", "")
        self.listener.records.clear()

    def finish(self, tr: OpTrace, unexecuted=()) -> OpTrace:
        """Close the op, wait for the listener bus, read the JVM side.

        ``unexecuted`` are DataFrames the op built but did not run itself
        (a sink runs a new command plan over them); their analysis phase
        is read from their own tracker."""
        tr.close(0)
        self.current = None
        self.sc.setJobGroup("", "")
        self.bus.waitUntilEmpty()
        records = list(self.listener.records)
        self.listener.records.clear()
        for df in unexecuted:
            records += phase_intervals(df._jdf.queryExecution(), ("analysis",))
        for name, start, end in records:
            tr.add(f"catalyst.{name}", start, end)
        self._read_jobs(tr)
        tr.counters["log_errors"] = self._log_errors(int(tr.counters.pop("log_offset")))
        return tr

    def _read_jobs(self, tr: OpTrace) -> None:
        stages: dict[str, list[tuple[float, float]]] = {}
        for job_id in self.tracker.getJobIdsForGroup(tr.op):
            job = self.store.job(job_id)
            submitted = _epoch(job.submissionTime()) or tr.spans[0].start
            layer = STAGE_LAYER[tr.spans[tr.holder(submitted)].name]
            tr.bump(f"{layer}.jobs", 1)
            stage_ids = self.seq.asJava(job.stageIds())
            for k in range(stage_ids.size()):
                st = self.store.lastStageAttempt(stage_ids.get(k))
                start, end = _epoch(st.submissionTime()), _epoch(st.completionTime())
                if start is None or end is None:
                    continue  # skipped: its output was reused
                stages.setdefault(layer, []).append((start, end))
                tr.bump(f"{layer}.stages", 1)
                tr.bump(f"{layer}.tasks", st.numTasks())
                tr.bump("failed_tasks", st.numFailedTasks())
                tr.bump("task_run_ms", st.executorRunTime())
                tr.bump("task_cpu_ms", st.executorCpuTime() / 1e6)
                tr.bump("gc_ms", st.jvmGcTime())
                tr.bump("spill_bytes", st.diskBytesSpilled())
                tr.bump("input_bytes", st.inputBytes())
                tr.bump("input_rows", st.inputRecords())
                tr.bump("shuffle_write_bytes", st.shuffleWriteBytes())
                tr.bump("shuffle_read_bytes", st.shuffleReadBytes())
        for layer, intervals in stages.items():
            # overlapping stages of one layer count their wall period once
            for start, end in merge(intervals):
                tr.add(layer, start, end)
            tr.bump(f"{layer}.union_ms", union_ms(intervals))

    # -- driver log ----------------------------------------------------------
    def _log_size(self) -> int:
        try:
            return os.path.getsize(self.log_path)
        except OSError:
            return 0

    def _log_errors(self, offset: int) -> int:
        try:
            with open(self.log_path, "rb") as f:
                f.seek(offset)
                return sum(1 for line in f if b" ERROR " in line)
        except OSError:
            return 0
