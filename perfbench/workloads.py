"""The benchmark's two workloads.

Each workload runs in its own process (one ``run.py`` invocation), drives
the engine only through its public entry points, and returns a
:class:`Result`: end-to-end metrics from an untraced run, or per-layer
metrics when ``trace`` is on. Load comes from one client thread in a closed
loop: the next operation starts when the previous one returns.

``seconds`` fixes how many operations a run measures (``seconds / 4``
batch passes, at least three; ``2 * seconds`` requests) rather than stopping
on the clock: every run then times the same operations at the same point of
the JVM's warm-up, and a faster engine finishes sooner instead of measuring
more of its own warm state.
"""

from __future__ import annotations

import contextlib
import datetime
import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np

import checks
from collector import Collector, LayerTimers, OpRecord, catalyst_phases

OFFLINE = (
    "sql_two_windows", "sql_group", "sql_window", "sql_window_union",
    "sql_window_maxsize", "sql_udaf_cate", "sql_last_join",
)
CURATION = ("dedup_exact", "dedup_minhash", "contamination_ngram", "text_features")
ENTRY_FIELDS = ("wall_ms", "jobs", "tasks", "run_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes")

#: serves after the first (compiling) one that are still part of set-up
SERVE_WARMUP = 8
#: ingest phase: inserts, and serves after each insert (the first is fresh)
INSERTS = 2
SERVES_PER_INSERT = 4

END_TO_END = (
    ("setup_s", "s"),
    ("phase1.op_ms_p50", "ms"),
    ("phase1.items_per_s", "1/s"),
    ("phase2.op_ms_p50", "ms"),
    ("phase2.items_per_s", "1/s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in print order, with its unit."""
    units = {"wall_ms": "ms", "run_ms": "ms", "gc_ms": "ms", "jobs": "count",
             "tasks": "count", "shuffle_write_bytes": "B", "spill_bytes": "B"}
    out = [
        ("sql.parser.parse_ms", "ms"), ("sql.lowering.lower_ms", "ms"),
        ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ]
    for group, names in (("offline", OFFLINE), ("curation", CURATION)):
        for n in names:
            out += [(f"{group}.{n}.{f}", units[f]) for f in ENTRY_FIELDS]
        out += [(f"{group}.cpu_ratio", "ratio"), (f"{group}.driver_gap_ms", "ms")]
    out += [
        ("engine.serving.compile_ms", "ms"), ("engine.serving.jobs_per_req", "count"),
        ("engine.serving.tasks_per_req", "count"), ("engine.serving.run_ms_per_req", "ms"),
        ("engine.serving.driver_gap_ms_per_req", "ms"),
        ("ingest.jobs_per_fresh_serve", "count"), ("ingest.tasks_per_req_first", "count"),
        ("ingest.tasks_per_req_last", "count"), ("ingest.run_ms_per_req", "ms"),
        ("ingest.fresh_serve_ms_p50", "ms"), ("ingest.insert_ms_p50", "ms"),
        ("engine.dml.insert_jobs", "count"),
        ("jvm.heap_used_mb", "MB"), ("trace.overhead_pct", "%"),
    ]
    return out


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    #: sample count behind each timing, for the human-readable report
    samples: dict = field(default_factory=dict)
    #: extra report lines
    notes: list = field(default_factory=list)

    def setup_done(self, start: float) -> None:
        """Record set-up time from ``start`` (a ``time.perf_counter()``)."""
        self.metrics["setup_s"] = time.perf_counter() - start

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


class Timed(NamedTuple):
    out: object
    rec: OpRecord | None
    wall_ms: float


class Ops:
    """Times operations; in trace mode through the collector, keeping the
    collector's own time so its overhead can be reported."""

    def __init__(self, spark, trace: bool):
        self.collector = Collector(spark) if trace else None
        self.op_ms = 0.0
        self.collect_ms = 0.0

    def run(self, fn) -> Timed:
        t0 = time.perf_counter()
        if self.collector is None:
            out, rec = fn(), None
            wall = (time.perf_counter() - t0) * 1000.0
        else:
            out, rec = self.collector.measure(fn)
            wall = rec.wall_ms
            self.collect_ms += (time.perf_counter() - t0) * 1000.0 - wall
        self.op_ms += wall
        return Timed(out, rec, wall)

    def overhead_pct(self) -> float:
        return 100.0 * self.collect_ms / self.op_ms if self.op_ms else 0.0


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def offline_batch(spark, data_dir: str, info: dict, seed: int, seconds: float,
                  trace: bool, start: float) -> Result:
    """Training-set generation (the seven dialect-SQL entries) then the
    LLM-data curation entries, each pass into the noop sink."""
    import __spark_entry__ as entry

    res = Result()
    qs, oracles = entry.queries(), entry.oracle_sql()
    rng = np.random.default_rng(seed)
    offline = [OFFLINE[i] for i in rng.permutation(len(OFFLINE))]
    curation = [CURATION[i] for i in rng.permutation(len(CURATION))]

    # set-up: one warm pass over every entry, collecting outputs to check
    outputs = {}
    for name in offline + curation:
        df = qs[name](spark, data_dir)
        outputs[name] = (df.columns, df.collect())
        spark.catalog.clearCache()
    res.setup_done(start)

    con = checks.connect(data_dir, ("events", "customer", "orders", "lineitem", "documents"))
    for name, (cols, rows) in outputs.items():
        res.attempted += 1
        if not checks.batch_matches(con, oracles[name], cols, rows):
            res.failed += 1
            print(f"perfbench: {name} output differs from its DuckDB oracle", file=sys.stderr)
    con.close()
    offline_rows = sum(len(outputs[n][1]) for n in offline)

    ops = Ops(spark, trace)
    timers = LayerTimers()
    recs = {n: [] for n in offline + curation}
    walls = {n: [] for n in offline + curation}
    layer = {"parse": [], "lower": [], "optimization": [], "planning": []}

    def one_pass(group: str, names: list[str]) -> None:
        sums = dict.fromkeys(layer, 0.0)
        for name in names:
            res.attempted += 1
            try:
                def op(name=name):
                    df = qs[name](spark, data_dir)
                    df.write.format("noop").mode("overwrite").save()
                    return df
                t = ops.run(op)
            except Exception:
                res.fail(name)
                continue
            finally:
                spark.catalog.clearCache()
            walls[name].append(t.wall_ms)
            if trace:
                recs[name].append(t.rec)
                p, lo = timers.take()
                if group == "offline":
                    ph = catalyst_phases(t.out)
                    sums["parse"] += p
                    sums["lower"] += lo
                    sums["optimization"] += ph.get("optimization", 0.0)
                    sums["planning"] += ph.get("planning", 0.0)
        if trace and group == "offline":
            for k, v in sums.items():
                layer[k].append(v)

    with timers if trace else contextlib.nullcontext():
        for _ in range(max(3, math.ceil(seconds / 4))):
            one_pass("offline", offline)
            one_pass("curation", curation)

    n_passes = min(len(w) for w in walls.values())
    for name, w in walls.items():
        res.notes.append(f"{name} ms: {[round(x) for x in w]}")
    res.samples = {"phase1.op_ms_p50": n_passes, "phase2.op_ms_p50": n_passes}
    if not trace:
        # a pass's time as the sum of its entries' medians: one slow
        # execution of one entry does not move it
        offline_ms = sum(_p50(walls[n]) for n in offline)
        curation_ms = sum(_p50(walls[n]) for n in curation)
        res.metrics.update({
            "phase1.op_ms_p50": offline_ms,
            "phase1.items_per_s": offline_rows / (offline_ms / 1000.0),
            "phase2.op_ms_p50": curation_ms,
            "phase2.items_per_s": info["documents"] / (curation_ms / 1000.0),
        })
        return res

    m = {
        "sql.parser.parse_ms": _p50(layer["parse"]),
        "sql.lowering.lower_ms": _p50(layer["lower"]),
        "catalyst.optimization_ms": _p50(layer["optimization"]),
        "catalyst.planning_ms": _p50(layer["planning"]),
    }
    for group, names in (("offline", offline), ("curation", curation)):
        all_recs = [r for n in names for r in recs[n]]
        for n in names:
            for f in ENTRY_FIELDS:
                m[f"{group}.{n}.{f}"] = _p50([getattr(r, f) for r in recs[n]])
        run_ms = sum(r.run_ms for r in all_recs)
        m[f"{group}.cpu_ratio"] = sum(r.cpu_ms for r in all_recs) / run_ms if run_ms else 0.0
        m[f"{group}.driver_gap_ms"] = sum(r.driver_gap_ms for r in all_recs) / max(1, n_passes)
    m["jvm.heap_used_mb"] = ops.collector.heap_used_mb()
    m["trace.overhead_pct"] = ops.overhead_pct()
    res.metrics = m
    return res


def _ts(ms: int) -> datetime.datetime:
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(milliseconds=ms)


def online_serving(spark, data_dir: str, info: dict, seed: int, seconds: float,
                   trace: bool, start: float) -> Result:
    """Phase 1 serves one request row per call from a deployed feature
    query; phase 2 mixes ``INSERT INTO events`` with serves at a fixed
    ratio, so every insert forces a recompile and the stored history grows."""
    from openmldb_spark.engine import Engine
    from openmldb_spark.session import load_table

    res = Result()
    rng = np.random.default_rng(seed)
    timers = LayerTimers()
    with timers if trace else contextlib.nullcontext():
        eng = Engine(spark)
        eng.register("events", load_table(spark, data_dir, "events"))
        eng.register("customer", load_table(spark, data_dir, "customer"))
        dep = eng.execute(checks.DEPLOY_SQL)

        # request rows are never stored: fresh event ids, stamped after all
        # history (and, in phase 2, after the rows inserted so far)
        next_id = info["events"] + 1_000_000
        clock = info["events_end_ms"]

        def new_row(user: int) -> tuple[int, int, int, float]:
            nonlocal next_id, clock
            next_id += 1
            clock += int(rng.integers(1000, 60_000))
            return next_id, clock, user, float(np.round(rng.exponential(50.0), 2))

        def serve(req):
            eid, ts_ms, user, value = req
            return dep.run_request_rows([(eid, _ts(ts_ms), user, "click", value, '{"k": 0}')])

        def users(n):
            return [int(u) for u in rng.integers(0, info["customers"], n)]

        for u in users(1 + SERVE_WARMUP):
            res.attempted += 1
            if len(serve(new_row(u))) != 1:
                res.failed += 1
        res.setup_done(start)

        ops = Ops(spark, trace)
        served = []  # (request, response, number of inserted rows it sees)
        lat1, recs1 = [], []
        for u in users(max(10, round(2 * seconds))):
            req = new_row(u)
            res.attempted += 1
            try:
                t = ops.run(lambda: serve(req))
            except Exception:
                res.fail("serve")
                continue
            lat1.append(t.wall_ms)
            recs1.append(t.rec)
            served.append((req, t.out, 0))

        inserted = []
        lat2, recs2, fresh, ins_ms, ins_recs, fresh_lower = [], [], [], [], [], []
        n_compiles = len(timers.compile_ms)
        t0 = time.perf_counter()
        for u in users(INSERTS):
            row = new_row(u)
            eid, ts_ms, _, value = row
            stmt = f"INSERT INTO events VALUES ({eid}, {ts_ms}, {u}, 'view', {value}, 'x')"
            res.attempted += 1
            try:
                t = ops.run(lambda: eng.execute(stmt))
            except Exception:
                res.fail("insert")
                continue
            inserted.append(row)
            ins_ms.append(t.wall_ms)
            ins_recs.append(t.rec)
            timers.take()
            for k in range(SERVES_PER_INSERT):
                req = new_row(u)
                res.attempted += 1
                try:
                    t = ops.run(lambda: serve(req))
                except Exception:
                    res.fail("serve after insert")
                    continue
                lat2.append(t.wall_ms)
                recs2.append(t.rec)
                if k == 0:
                    fresh.append(t.wall_ms)
                    fresh_lower.append(timers.take())
                served.append((req, t.out, len(inserted)))
        phase2_s = time.perf_counter() - t0

    con = checks.connect(data_dir, ("events", "customer"))
    for req, out, n_ins in served:
        res.attempted += 1
        if not checks.serve_matches(con, req, out, inserted[:n_ins]):
            res.failed += 1
            print(f"perfbench: response to request {req} differs from DuckDB", file=sys.stderr)
    con.close()

    per_insert = [[round(x) for x in lat2[i:i + SERVES_PER_INSERT]]
                  for i in range(0, len(lat2), SERVES_PER_INSERT)]
    res.notes.append(f"serve ms: {[round(x) for x in lat1]}")
    res.notes.append(f"ingest serve ms after each insert: {per_insert}")
    res.samples = {"phase1.op_ms_p50": len(lat1), "phase2.op_ms_p50": len(lat2),
                   "ingest.fresh_serve_ms_p50": len(fresh), "ingest.insert_ms_p50": len(ins_ms)}
    if not trace:
        res.metrics.update({
            "phase1.op_ms_p50": _p50(lat1),
            "phase1.items_per_s": len(lat1) / (sum(lat1) / 1000.0),
            "phase2.op_ms_p50": _p50(lat2),
            "phase2.items_per_s": (len(lat2) + len(ins_ms)) / phase2_s,
        })
        return res

    non_fresh = [r for i, r in enumerate(recs2) if i % SERVES_PER_INSERT]
    res.metrics = {
        "sql.parser.parse_ms": _p50([p for p, _ in fresh_lower]),
        "sql.lowering.lower_ms": _p50([lo for _, lo in fresh_lower]),
        "engine.serving.compile_ms": _p50(timers.compile_ms[n_compiles:]),
        "engine.serving.jobs_per_req": _p50([r.jobs for r in recs1]),
        "engine.serving.tasks_per_req": _p50([r.tasks for r in recs1]),
        "engine.serving.run_ms_per_req": _p50([r.run_ms for r in recs1]),
        "engine.serving.driver_gap_ms_per_req": _p50([r.driver_gap_ms for r in recs1]),
        "ingest.jobs_per_fresh_serve": _p50([r.jobs for i, r in enumerate(recs2)
                                             if i % SERVES_PER_INSERT == 0]),
        "ingest.tasks_per_req_first": float(non_fresh[0].tasks) if non_fresh else 0.0,
        "ingest.tasks_per_req_last": float(non_fresh[-1].tasks) if non_fresh else 0.0,
        "ingest.run_ms_per_req": _p50([r.run_ms for r in recs2]),
        "ingest.fresh_serve_ms_p50": _p50(fresh),
        "ingest.insert_ms_p50": _p50(ins_ms),
        "engine.dml.insert_jobs": _p50([r.jobs for r in ins_recs]),
        "jvm.heap_used_mb": ops.collector.heap_used_mb(),
        "trace.overhead_pct": ops.overhead_pct(),
    }
    return res


WORKLOADS = {"offline_batch": offline_batch, "online_serving": online_serving}
