"""Spans and per-layer counters, recorded from outside the engine.

Every measurement here sits at a call into a public entry point of the
engine or of PySpark; nothing inside ``projet5_spark`` is touched.

- :class:`Spans` keeps spans in memory (name, start, end, parent, op
  id, attributes) and computes each span's self time at the end.
- :class:`Py4jCounter` counts py4j round trips by wrapping the
  connection classes' ``send_command``; it counts only on the calling
  thread and only while armed (around the plan-build call).
- :class:`StatusStore` reads jobs, stages, tasks, executor run/CPU
  time, shuffle bytes and spill from Spark's status store for a set of
  job ids.
- :class:`StreamCounters` is a ``StreamingQueryListener`` summing
  micro-batch progress (batches, input rows, trigger time, state rows).
- :func:`catalyst_phases` reads Catalyst's analysis / optimization /
  planning phase times of a DataFrame after forcing its executed plan.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

#: Physical operators that evaluate Python (UDFs, pandas/arrow maps,
#: stateful pandas operators) in the executed plan's text.
_PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython\w*|BatchEvalPython\w*|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMap\w*InPandas\w*|AggregateInPandas|WindowInPandas|ArrowWindowPython"
    r"|TransformWithStateInPandas\w*|\w*PythonUDTF\w*)\b"
)


class Spans:
    """In-memory span recorder with parent links."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.records)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()

    def add(self, name: str, t0: float, t1: float) -> None:
        """Record a span measured elsewhere (e.g. a streaming drain),
        child of the innermost open span."""
        self.records.append(
            {
                "id": len(self.records),
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op_id,
                "name": name,
                "t0": t0,
                "t1": t1,
            }
        )

    def finish(self) -> None:
        """Fill in ``dur_s`` and ``self_s``: a span's duration minus the
        union of its children's intervals (clipped to the span)."""
        kids: dict[int, list[dict]] = {}
        for r in self.records:
            if r["parent"] is not None:
                kids.setdefault(r["parent"], []).append(r)
        for r in self.records:
            r["dur_s"] = r["t1"] - r["t0"]
            covered, end = 0.0, r["t0"]
            for c in sorted(kids.get(r["id"], []), key=lambda c: c["t0"]):
                a, b = max(c["t0"], end), min(c["t1"], r["t1"])
                if b > a:
                    covered += b - a
                    end = b
            r["self_s"] = r["dur_s"] - covered


class Py4jCounter:
    """Counts py4j ``send_command`` calls made by one thread while armed."""

    def __init__(self) -> None:
        self.n = 0
        self.armed = False
        self._thread = threading.get_ident()
        self._undo: list[tuple] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, *a, _orig=orig, **k):
                if self.armed and threading.get_ident() == self._thread:
                    self.n += 1
                return _orig(conn, *a, **k)

            cls.send_command = send_command
            self._undo.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in self._undo:
            cls.send_command = orig
        self._undo.clear()

    @contextmanager
    def counting(self, into: dict, key: str):
        """Store the number of calls made in the block at ``into[key]``."""
        start, self.armed = self.n, True
        try:
            yield
        finally:
            self.armed = False
            into[key] = self.n - start


class StatusStore:
    """Job and stage metrics from the Spark status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._next_job = 0
        self.new_jobs()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so finished jobs show their final metrics (and Python
        streaming listeners have run)."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def new_jobs(self) -> list[int]:
        """Ids of the jobs started since the previous call. Job ids are
        consecutive, so this also finds jobs of other threads and job
        groups (streaming micro-batches run under their query's group)."""
        out = []
        while self._tracker.getJobInfo(self._next_job) is not None:
            out.append(self._next_job)
            self._next_job += 1
        return out

    def group_jobs(self, group: str) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(group))

    def submitted_ms(self, job_id: int) -> float:
        sub = self._jsc.statusStore().job(job_id).submissionTime()
        return sub.get().getTime() if sub.isDefined() else float("inf")

    def totals(self, job_ids) -> dict:
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        t = {
            "jobs": len(job_ids),
            "stages": 0,
            "tasks": 0,
            "run_ms": 0,
            "cpu_ns": 0,
            "shuffle_read_b": 0,
            "shuffle_write_b": 0,
            "spill_b": 0,
        }
        for s in sorted(stage_ids):
            try:
                d = store.lastStageAttempt(s)
            except Exception:  # py4j error: stage evicted or never stored
                continue
            if str(d.status()) == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += d.numTasks()
            t["run_ms"] += d.executorRunTime()
            t["cpu_ns"] += d.executorCpuTime()
            t["shuffle_read_b"] += d.shuffleReadBytes()
            t["shuffle_write_b"] += d.shuffleWriteBytes()
            t["spill_b"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return t


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning ms and Python-node count of ``df``
    after forcing its executed plan (the forcing is tracing overhead)."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    phases = qe.tracker().phases()
    out = {"python_nodes": len(_PYTHON_NODE.findall(plan.toString()))}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[f"{ph}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
    return out


def make_stream_counters(spark):
    """A registered ``StreamingQueryListener`` whose ``totals`` dict sums
    the progress of every micro-batch since the last :meth:`reset`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamCounters(StreamingQueryListener):
        def __init__(self) -> None:
            self.reset()

        def reset(self) -> None:
            self.totals = {"batches": 0, "input_rows": 0, "trigger_ms": 0, "state_rows": 0}

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            t = self.totals
            t["batches"] += 1
            t["input_rows"] += p.numInputRows
            t["trigger_ms"] += p.durationMs.get("triggerExecution", 0)
            t["state_rows"] = max(
                t["state_rows"], sum(s.numRowsTotal for s in p.stateOperators)
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = StreamCounters()
    spark.streams.addListener(listener)
    return listener


@contextmanager
def drain_spans(spans: Spans):
    """Record a ``streaming.drain`` span from each ``writeStream.start()``
    to the return of that query's ``awaitTermination`` (the catalog's
    availableNow drains block there)."""
    from pyspark.sql.streaming.query import StreamingQuery
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    orig_start = DataStreamWriter.start
    orig_await = StreamingQuery.awaitTermination

    def start(self, *a, **k):
        t0 = time.perf_counter()
        q = orig_start(self, *a, **k)
        q._perfbench_t0 = t0
        return q

    def await_termination(self, *a, **k):
        try:
            return orig_await(self, *a, **k)
        finally:
            t0 = getattr(self, "_perfbench_t0", None)
            if t0 is not None:
                spans.add("streaming.drain", t0, time.perf_counter())

    DataStreamWriter.start = start
    StreamingQuery.awaitTermination = await_termination
    try:
        yield
    finally:
        DataStreamWriter.start = orig_start
        StreamingQuery.awaitTermination = orig_await
