"""Traced-run report: every workload untraced and traced, in one table.

Usage (from the repository root):

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b] [--json FILE]

For each workload (all four, including ``lake_queries``, which
BENCHMARK.json leaves out) it runs ``perfbench/run.py`` twice in fresh
processes, first with tracing off, then on, and prints (markdown) the
end-to-end metrics of both runs, the tracing overhead (traced minus untraced), the
workload's own figures (the ingest, query and funnel metrics that are
not gated) and every per-layer metric of the traced run. ``--json``
also writes both records of every workload. Exits non-zero if any run
failed an output check.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from run import WORKLOAD_NAMES

HERE = os.path.dirname(os.path.abspath(__file__))

# The pipeline-level metrics each record carries, with units. Which ones
# a workload has depends on the workload (e.g. funnel_s on the funnel).
FIGURES = {
    "setup_s": "s", "pass_s": "s", "items_per_s": "items/s",
    "stored_bytes_per_item": "B/item", "query_p50_s": "s", "funnel_s": "s",
    "error_rate": "ratio",
}


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith('{"perfbench"'):
            return proc.returncode, json.loads(line)["perfbench"]
    return proc.returncode, None


def figures(rec: dict) -> dict[str, tuple[float, str]]:
    out = {k: (v, FIGURES[k]) for k, v in rec["end_to_end"].items()}
    for k, v in rec.items():
        if k in FIGURES:
            out[k] = (v, FIGURES[k])
        elif k.startswith("query_p") and k.endswith("_s"):
            out[k] = (v, "s")
    return out


def fmt(v: float) -> str:
    return f"{v:.6g}"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--workloads", default=",".join(WORKLOAD_NAMES))
    p.add_argument("--json", help="also write every record to this file")
    args = p.parse_args()

    records, bad = {}, False
    for w in args.workloads.split(","):
        pair = {}
        for trace in (0, 1):
            rc, rec = run(w, args.seed, args.seconds, trace)
            bad |= rc != 0 or rec is None
            pair["traced" if trace else "untraced"] = rec
        records[w] = pair

    host = next((r["host"] for pair in records.values() for r in pair.values() if r), {})
    print(f"# perfbench report (seed {args.seed}, {args.seconds:g} s a run)\n")
    print("host: " + ", ".join(f"{k} {v}" for k, v in host.items()) + "\n")
    for w, pair in records.items():
        plain, traced = pair["untraced"], pair["traced"]
        print(f"## {w}\n")
        if plain is None or traced is None:
            print("run failed before printing a record\n")
            continue
        m = plain["method"]
        print(f"untraced: {m['passes']} passes, {m['items_done']} items, "
              f"attempted {plain['attempted']}, failed {plain['failed']}; traced: "
              f"{traced['method']['passes']} passes, failed {traced['failed']}")
        for key in ("service_delay_ms", "repeated_url_share", "query_samples",
                    "query_samples_above_tail"):
            if key in plain:
                print(f"{key}: {plain[key]}")
        print("\n| metric | unit | untraced | traced | overhead |")
        print("|---|---|---|---|---|")
        a, b = figures(plain), figures(traced)
        for k, (v, unit) in a.items():
            t = b.get(k, (None, unit))[0]
            over = "" if t is None else f"{fmt(t - v)} ({(t - v) / v:+.1%})" if v else fmt(t - v)
            print(f"| {k} | {unit} | {fmt(v)} | {'' if t is None else fmt(t)} | {over} |")
        print("\n| layer metric (traced) | value |")
        print("|---|---|")
        for k, v in traced["layers"].items():
            print(f"| {k} | {fmt(v)} |")
        print()
    if args.json:
        with open(args.json, "w") as f:
            json.dump(records, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
