"""Run-to-run spread of the end-to-end metrics, as the bounds are judged.

Usage (from the repository root):

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [--workloads a,b]

Runs ``perfbench/run.py`` untraced ``--runs`` times per workload, each
with its own seed, for BENCHMARK.json's ``run_seconds`` (or
``--seconds``), and prints per
workload and metric the median, the quartiles
(``statistics.quantiles(values, n=4)``), the spread (third minus first
quartile, as a share of the median), the metric's bound, and whether the
spread stays under a third of it. ``setup_s`` is reported but has no
spread target. Also prints each run's wall time. Exits non-zero if a run
failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    args = p.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    failed = False
    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {k: [] for k in bounds}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            walls.append(time.perf_counter() - t0)
            result = json.loads(proc.stdout.splitlines()[-1])
            failed |= proc.returncode != 0 or not result["correct"]
            for k in bounds:
                values[k].append(result["metrics"][k]["value"])
        print(f"## {w}: run walls {[round(x, 1) for x in walls]} s")
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / statistics.median(vs)
            verdict = "" if k == "setup_s" else (
                "ok" if spread < bounds[k] / 3 else "TOO WIDE")
            print(f"{k:12s} median {statistics.median(vs):.6g}  q1 {q1:.6g}  q3 {q3:.6g}"
                  f"  spread {spread:.3f}  bound {bounds[k]}  {verdict}")
            print(f"{'':12s} values {[round(v, 4) for v in vs]}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
