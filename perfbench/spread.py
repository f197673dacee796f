"""Run one workload over several seeds and report each metric's spread.

Usage, from the repository root::

    python3 perfbench/spread.py --workload offline_batch --seeds 1 2 3 4 5 --seconds 10

Each run is one ``run.py`` process, one after another. For every metric of
the result lines it prints the median and the spread, the distance between
the first and third quartile (``statistics.quantiles(n=4)``) as a share of
the median, next to the metric's bound in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bounds = {m["name"]: m.get("bound")
              for m in json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
        ).stdout
        res = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: {time.perf_counter() - t0:.1f} s, correct={res['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        print(f"{name}: median {med:.6g}, spread {spread:.3f}"
              + (f" (bound {bound})" if bound is not None else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
