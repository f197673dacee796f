"""Benchmark launcher: one workload, one process, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload offline_batch --seed 1 --seconds 8 --trace 0

The launcher sizes the Spark session to the host (all usable cores, a
driver heap within RAM, no console progress bar), keeps every file it
writes under ``.perfbench/`` in the repository root, generates the seeded
inputs, runs the workload, checks its outputs, stops the JVM and waits for
it, and prints each metric with its unit and sample count. The last line of
standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: input scale: ~1% of the TPC-H-ish sf1 row counts (10k events, 500 docs)
SCALE = 0.01


def _host_env(work: Path) -> None:
    """Size the session to this host and keep temporary files in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of RAM, at most 4g: the inputs are small and the host
        # is shared
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, mem_mb // 4))}m",
        # Python workers import the engine from the repository root
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = str(tmp)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "openmldb_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: engine sources not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import datagen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    _host_env(work)
    try:
        data_dir = str(work / "data")
        info = datagen.generate(data_dir, args.seed, SCALE)

        start = time.perf_counter()
        from openmldb_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        try:
            res = workloads.WORKLOADS[args.workload](
                spark, data_dir, info, args.seed, args.seconds, bool(args.trace), start
            )
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only if no other run is using it

    names = workloads.per_layer_names() if args.trace else workloads.END_TO_END
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={res.attempted} failed={res.failed} "
          f"ops_failed_ratio={res.failed / max(1, res.attempted):.4f}")
    for line in res.notes:
        print(f"# {line}")
    metrics = {}
    for name, unit in names:
        value = float(res.metrics.get(name, 0.0))
        metrics[name] = {"value": value, "unit": unit}
        n = res.samples.get(name)
        print(f"{name} {value:.6g} {unit}" + (f" (n={n})" if n is not None else ""))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
