"""Repo benchmark: REST→parquet ingest, lake query mix and curation funnel.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

- ``ingest_unique`` / ``ingest_shared`` — the paper's pipeline against a
  seeded fixture REST API in its own process: ``collect_with_enrichment``
  over ``PooledHttpTransport``, ``from_records`` + ``normalize_nfts``,
  ``write_tables``, then a top-traits read-back query. Every item has its
  own metadata URL in the first; in the second, URLs come from a pool of 40;
- ``lake_queries`` — bench.py's 28 ``HEADLINE`` queries over a generated
  lake, in a seeded order per pass, each to a noop sink;
- ``curation_funnel`` — ``examples/curation_pipeline.run`` over the same lake.

Each run warms up untimed (the lake workload's warm-up pass checks every
query's result hash), then measures whole passes for ``--seconds`` and
checks each pass's output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics (``--trace 0``) or the per-layer ones (``--trace 1``) that
BENCHMARK.json names. The line before it (``{"perfbench": ...}``) is the
full record: host, method, seed, sample counts, workload-specific figures
and, when traced, every per-layer metric. The exit code is 0 only when
every output check passed. ``python3 perfbench/report.py`` runs all four
workloads traced and untraced and prints one table.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The program under test: the benchmark imports these, it copies none.
PROGRAM_FILES = (
    "automated_data_pipeline_python_spark/__init__.py",
    "bench.py",
    "examples/curation_pipeline.py",
    "tools/verify_driver.py",
)
WORKLOAD_NAMES = ("ingest_unique", "ingest_shared", "lake_queries", "curation_funnel")
INGEST_ITEMS = 2000
# Documents in the generated lake: the query mix runs on the smallest
# driver corpus's size, the funnel on sf0.1's (its cold run is then mostly
# real work, not start-up, and steadier).
LAKE_DOCUMENTS = {"lake_queries": 500, "curation_funnel": 5000}

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "items_per_s": "items/s"}
LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.job_s": "s", "spark.core_utilization": "ratio",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.input_bytes": "B",
    "driver.non_job_s": "s", "jvm.peak_rss_mb": "MiB",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Repo benchmark (see module docstring).")
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--items", type=int, default=INGEST_ITEMS,
                   help="ingest collection size per pass (the smoke test's is tiny)")
    return p.parse_args(argv)


def tree_digest() -> str:
    """Content hash of the program's Python sources (the checkout may not
    be a git repository, so this stands in for the commit)."""
    h = hashlib.sha256()
    for top in ("automated_data_pipeline_python_spark", "examples", "tools"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            for f in sorted(filenames):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(ROOT, "bench.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def host_record(spark, cores: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {
        "nproc": cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "free_disk_gb": round(shutil.disk_usage(ROOT).free / 2**30, 1),
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "commit": git_commit(),
        "tree_sha": tree_digest(),
    }


def start_spark(work: str, cores: int):
    from automated_data_pipeline_python_spark.session import get_spark

    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Keep Spark's and Python's scratch files inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),  # as bench.py
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "expected.json")) as f:  # recorded query hashes, funnel counts
        expected = json.load(f)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "examples")]

    import lakegen
    from workloads import WORKLOADS, Context

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        lake = os.path.join(work, "lake")
        t_gen = time.perf_counter()
        if args.workload in LAKE_DOCUMENTS:
            lakegen.write_lake(lake, LAKE_DOCUMENTS[args.workload])
        gen_s = time.perf_counter() - t_gen  # benchmark inputs, not program set-up
        spark = start_spark(work, cores)
        ctx = Context(
            spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            cores=cores, work=work, lake=lake, expected=expected, items=args.items,
            t_start=T_START + gen_s,
        )
        res = WORKLOADS[args.workload](ctx)
        host = host_record(spark, cores)
        if args.trace:
            from tracing import jvm_peak_rss_mb

            res.layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    from tracing import median

    timed_wall = sum(res.pass_walls)
    e2e = {
        "setup_s": res.setup_s,
        "pass_s": median(res.pass_walls),
        "items_per_s": res.items_done / timed_wall,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "method": {
            "passes": len(res.pass_walls),
            "pass_walls_s": res.pass_walls,
            "timed_wall_s": timed_wall,
            "items_done": res.items_done,
            "setup_samples": 1,
            "spark_master": f"local[{cores}]",
        },
        "end_to_end": e2e,
        "error_rate": res.failed / res.attempted,
        "attempted": res.attempted,
        "failed": res.failed,
        "failures": res.failures,
        **res.record,
        "layers": res.layers,
    }
    print(json.dumps({"perfbench": record}))
    if args.trace:
        metrics = {k: {"value": res.layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    correct = res.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": res.attempted, "failed": res.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
