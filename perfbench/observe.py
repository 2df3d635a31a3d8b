"""Per-layer observation of a Spark session, from outside the library.

Used only by traced runs. Three sources, none of which adds a Spark job:

- job groups: :func:`group` tags every job launched inside a block, so
  jobs can be attributed to the call that launched them;
- Spark's status store (``sc._jsc.sc().statusStore()``): per job the
  group, task count and submission/completion times, per stage the
  executor run/CPU/GC time, input, shuffle and spill;
- a ``QueryExecutionListener`` (registered through the py4j callback
  server) that reads ``queryExecution().tracker().phases()`` of every
  query the session executes, library-internal ones included, and sums
  analysis + optimization + planning.
"""

from __future__ import annotations

import contextlib
import time

from py4j.protocol import Py4JJavaError
from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import SparkSession

PLAN_PHASES = ("analysis", "optimization", "planning")


class PhaseListener:
    """JVM ``QueryExecutionListener`` implemented in Python."""

    def __init__(self) -> None:
        self.queries = 0
        self.plan_ms = 0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM API
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in PLAN_PHASES:
                self.plan_ms += kv._2().endTimeMs() - kv._2().startTimeMs()
        self.queries += 1

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - JVM API
        self.queries += 1

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Collects job, stage and Catalyst-phase records for one traced unit."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = PhaseListener()
        self._open: list[str] = []
        self._registered = None
        self.resume()

    def resume(self) -> None:
        """Start reading Catalyst phases of executed queries."""
        if self._registered is None:
            manager = self.spark._jsparkSession.listenerManager()
            manager.register(self.listener)
            # py4j wraps the Python object in a new JVM proxy per call, so
            # unregister needs the very proxy the manager holds
            self._registered = list(manager.listListeners())[-1]

    def pause(self) -> None:
        """Stop reading Catalyst phases, after those already queued."""
        if self._registered is not None:
            self.drain()
            self.spark._jsparkSession.listenerManager().unregister(self._registered)
            self._registered = None

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag every Spark job started inside the block. Groups nest: a
        job's group is the ``/``-joined path of the open blocks."""
        self._open.append(name)
        self.sc.setJobGroup("/".join(self._open), name)
        try:
            yield
        finally:
            self._open.pop()
            if self._open:
                self.sc.setJobGroup("/".join(self._open), self._open[-1])
            else:
                self.sc._jsc.clearJobGroup()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jobs(self) -> list[dict]:
        """Every finished job that ran inside a :meth:`group` block."""
        self.drain()
        as_java = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        seq = as_java(self._store.jobsList(None))
        out = []
        for i in range(seq.size()):
            j = seq.get(i)
            grp = j.jobGroup()
            if not grp.isDefined() or not j.completionTime().isDefined():
                continue
            stages = as_java(j.stageIds())
            out.append({
                "group": grp.get(),
                "tasks": j.numTasks(),
                "start_ms": j.submissionTime().get().getTime(),
                "end_ms": j.completionTime().get().getTime(),
                "stages": [stages.get(k) for k in range(stages.size())],
            })
        return out

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Executor-side sums over every stage the ``jobs`` ran."""
        tot = dict.fromkeys(
            ("run_s", "cpu_s", "gc_s", "input_bytes", "input_records",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0.0
        )
        for sid in {s for j in jobs for s in j["stages"]}:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            tot["run_s"] += sd.executorRunTime() / 1e3
            tot["cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["input_bytes"] += sd.inputBytes()
            tot["input_records"] += sd.inputRecords()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["spill_bytes"] += sd.diskBytesSpilled()
        return tot


def busy_seconds(jobs: list[dict]) -> float:
    """Wall time during which at least one of ``jobs`` was running."""
    busy, end = 0.0, None
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        s, e = j["start_ms"], j["end_ms"]
        if end is None or s > end:
            busy += e - s
            end = e
        elif e > end:
            busy += e - end
            end = e
    return busy / 1e3


class Spans:
    """Wall-clock spans keyed by layer name, summed per key."""

    def __init__(self) -> None:
        self.total: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, key: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.total[key] = self.total.get(key, 0.0) + time.perf_counter() - t0
