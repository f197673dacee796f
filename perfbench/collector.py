"""Outside-in per-layer collector.

Everything here reads Spark's own records around calls the benchmark makes;
nothing inside the engine is changed:

- :meth:`Collector.measure` runs one operation under a fresh job group and
  then reads, from the in-process status store, every job in that group and
  every stage of those jobs (tasks, executor run and CPU time, JVM GC,
  shuffle write, spill), plus the wall time no job covered (driver gap);
- :func:`catalyst_phases` reads the optimizer and planner times Catalyst
  records on a DataFrame's ``QueryExecution``;
- :class:`LayerTimers` wraps the engine's parse, lowering and
  compiled-plan entry points with timers while it is active, and puts the
  originals back on exit.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass

#: how long to wait for the listener bus to deliver an operation's events
_DRAIN_MS = 10_000


@dataclass
class OpRecord:
    """What Spark ran for one operation."""

    wall_ms: float
    jobs: int
    stages: int
    tasks: int
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_write_bytes: int
    spill_bytes: int
    driver_gap_ms: float


def uncovered_ms(start_ms: float, end_ms: float, intervals) -> float:
    """Length of ``[start_ms, end_ms]`` not covered by any of ``intervals``
    (pairs of ms timestamps). Intervals are clipped to the window first, so
    the result is never negative and never above the window length."""
    clipped = sorted(
        (max(a, start_ms), min(b, end_ms)) for a, b in intervals if b > start_ms and a < end_ms
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (end_ms - start_ms) - covered)


class Collector:
    """Reads the jobs and stages each measured operation ran."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = self._sc._jvm
        self._gw = self._sc._gateway
        self._n = 0

    def measure(self, fn):
        """Run ``fn()`` under its own job group; return ``(result, OpRecord)``."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self._sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        return out, self._record(group, t0 * 1000.0, t1 * 1000.0)

    def _record(self, group: str, start_ms: float, end_ms: float) -> OpRecord:
        self._jsc.listenerBus().waitUntilEmpty(_DRAIN_MS)
        store = self._jsc.statusStore()
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        sums = defaultdict(float)
        intervals = []
        n_stages = 0
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                b = done.get().getTime() if done.isDefined() else end_ms
                intervals.append((sub.get().getTime(), b))
            stage_ids = job.stageIds().iterator()
            while stage_ids.hasNext():
                attempts = store.stageData(
                    stage_ids.next(), False, self._jvm.java.util.ArrayList(), False, no_quantiles
                ).iterator()
                while attempts.hasNext():
                    s = attempts.next()
                    if s.status().toString() == "SKIPPED":
                        continue
                    n_stages += 1
                    sums["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                    sums["run_ms"] += s.executorRunTime()
                    sums["cpu_ms"] += s.executorCpuTime() / 1e6
                    sums["gc_ms"] += s.jvmGcTime()
                    sums["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    sums["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return OpRecord(
            wall_ms=end_ms - start_ms,
            jobs=len(job_ids),
            stages=n_stages,
            tasks=int(sums["tasks"]),
            run_ms=sums["run_ms"],
            cpu_ms=sums["cpu_ms"],
            gc_ms=sums["gc_ms"],
            shuffle_write_bytes=int(sums["shuffle_write_bytes"]),
            spill_bytes=int(sums["spill_bytes"]),
            driver_gap_ms=uncovered_ms(start_ms, end_ms, intervals),
        )

    def heap_used_mb(self) -> float:
        rt = self._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of ``df``'s own QueryExecution. Forcing
    ``executedPlan`` runs the optimizer and planner if nothing has yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class LayerTimers:
    """Times the engine's layer entry points while active.

    ``parse_ms`` accumulates time in ``sql.parser.parse``; ``lower_ms`` time
    in the outermost ``Lowerer.query`` call (nested calls for subqueries are
    inside it) minus any parsing done within it; ``compile_ms`` lists each
    compiled request plan build.
    Callers reset the counters between operations with :meth:`take`.
    """

    def __init__(self):
        self.parse_ms = 0.0
        self.lower_ms = 0.0
        self.compile_ms: list[float] = []
        self._depth = 0
        self._nested_parse_ms = 0.0
        self._saved = []

    def __enter__(self):
        from openmldb_spark.engine import serving
        from openmldb_spark.sql import parser
        from openmldb_spark.sql.lowering import exec as lowering

        parse, query, compiled = parser.parse, lowering.Lowerer.query, serving.CompiledRequestPlan
        self._saved = [
            (parser, "parse", parse),
            (lowering.Lowerer, "query", query),
            (serving, "CompiledRequestPlan", compiled),
        ]
        timers = self

        def timed_parse(*a, **k):
            t0 = time.perf_counter()
            try:
                return parse(*a, **k)
            finally:
                dt = (time.perf_counter() - t0) * 1000.0
                timers.parse_ms += dt
                if timers._depth:
                    timers._nested_parse_ms += dt

        def timed_query(*a, **k):
            timers._depth += 1
            t0 = time.perf_counter()
            try:
                return query(*a, **k)
            finally:
                timers._depth -= 1
                if timers._depth == 0:
                    dt = (time.perf_counter() - t0) * 1000.0
                    timers.lower_ms += dt - timers._nested_parse_ms
                    timers._nested_parse_ms = 0.0

        def timed_compile(*a, **k):
            t0 = time.perf_counter()
            try:
                return compiled(*a, **k)
            finally:
                timers.compile_ms.append((time.perf_counter() - t0) * 1000.0)

        parser.parse = timed_parse
        lowering.Lowerer.query = timed_query
        serving.CompiledRequestPlan = timed_compile
        return self

    def __exit__(self, *exc):
        for owner, name, orig in self._saved:
            setattr(owner, name, orig)
        self._saved = []
        return False

    def take(self) -> tuple[float, float]:
        """Return and reset ``(parse_ms, lower_ms)``."""
        out = (self.parse_ms, self.lower_ms)
        self.parse_ms = self.lower_ms = 0.0
        return out
