"""Pins the benchmark's outside-in collector on a known two-stage query, and
its layer timers on one dialect statement.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

_BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_BENCH, os.path.dirname(_BENCH)]

from collector import Collector, LayerTimers, catalyst_phases, uncovered_ms  # noqa: E402


@pytest.mark.parametrize(
    "intervals, expect",
    [
        ([], 100.0),
        ([(10, 30)], 80.0),
        ([(10, 30), (20, 50)], 60.0),  # overlapping jobs count once
        ([(-50, 20), (90, 400)], 70.0),  # jobs straddling the window are clipped
        ([(-50, 400)], 0.0),  # one job longer than the window
        ([(200, 300), (-30, -10)], 100.0),  # jobs outside the window
    ],
)
def test_driver_gap_is_the_uncovered_window(intervals, expect):
    assert uncovered_ms(0.0, 100.0, intervals) == expect


def test_driver_gap_is_never_negative():
    many = [(i, i + 7) for i in range(-20, 120, 3)]
    gap = uncovered_ms(0.0, 100.0, many + [(5, 95), (0, 100)])
    assert 0.0 <= gap <= 100.0
    assert uncovered_ms(10.0, 10.0, [(0, 20)]) == 0.0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-collector-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def _two_stage(spark):
    from pyspark.sql import functions as F

    return spark.range(0, 20_000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).count()


def test_two_stage_groupby_is_read_from_the_status_store(spark):
    df = _two_stage(spark)
    rows, rec = Collector(spark).measure(df.collect)
    assert sorted(r["count"] for r in rows) == [2857] * 6 + [2858]
    # map side and reduce side; a stage AQE skips is not counted
    assert rec.stages == 2
    assert rec.jobs >= 1
    assert rec.tasks >= 5  # 4 map tasks + at least one reduce task
    assert rec.shuffle_write_bytes > 0
    assert rec.run_ms >= 0 and rec.cpu_ms >= 0 and rec.gc_ms >= 0
    assert 0.0 <= rec.driver_gap_ms <= rec.wall_ms


def test_each_measure_sees_only_its_own_jobs(spark):
    c = Collector(spark)
    _, first = c.measure(_two_stage(spark).collect)
    _, idle = c.measure(lambda: None)
    assert first.jobs >= 1
    assert (idle.jobs, idle.stages, idle.tasks) == (0, 0, 0)
    assert idle.driver_gap_ms == pytest.approx(idle.wall_ms)


def test_catalyst_phases_are_read_after_planning(spark):
    phases = catalyst_phases(_two_stage(spark))
    assert {"analysis", "optimization", "planning"} <= set(phases)
    assert all(v >= 0 for v in phases.values())


def test_layer_timers_time_parse_and_lowering_then_restore(spark):
    from openmldb_spark.sql import parser, sql
    from openmldb_spark.sql.lowering import exec as lowering

    parse, query = parser.parse, lowering.Lowerer.query
    t = spark.range(10).selectExpr("id", "id % 3 AS k")
    with LayerTimers() as timers:
        df = sql(spark, "SELECT k, count(*) AS n FROM t GROUP BY k", {"t": t})
        parse_ms, lower_ms = timers.take()
    assert sorted(r["n"] for r in df.collect()) == [3, 3, 4]
    assert parse_ms > 0.0 and lower_ms > 0.0
    assert timers.take() == (0.0, 0.0)
    assert parser.parse is parse and lowering.Lowerer.query is query
