"""The four workloads: two REST→parquet ingests, the query mix, the funnel.

Each workload function takes a ``Context`` and returns a ``Result``.
The ingest and query workloads warm up untimed, note the set-up time,
then run whole passes while the next one, predicted by the last
pass's wall, ends within ``ctx.seconds`` (at least one pass); the
funnel times its one cold run. Every pass's output is
checked outside the timed region. End-to-end metrics are measured the
same way whether tracing is on or off; tracing adds the per-layer
metrics, read outside the timed regions.
"""

from __future__ import annotations

import asyncio
import gc
import hashlib
import os
import queue
import random
import shutil
import subprocess
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from fixture_api import SERVICE_DELAY_MS, attributes, metadata_key, pass_items
from tracing import (
    SparkTrace, TimedTransport, median, percentile, spark_layer, tail_percentile,
    timed_catalog,
)

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    trace: bool
    cores: int
    work: str  # scratch directory inside the checkout, removed at exit
    lake: str  # generated lake corpus
    expected: dict
    items: int  # ingest collection size per pass
    t_start: float  # process start, for setup_s


@dataclass
class Result:
    setup_s: float = 0.0
    pass_walls: list[float] = field(default_factory=list)
    items_done: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    record: dict = field(default_factory=dict)  # workload-specific figures
    layers: dict = field(default_factory=dict)  # traced runs only

    def check(self, ok: bool, what: str, ops: int = 1, bad: int | None = None) -> None:
        """Count ``ops`` operations, ``bad`` (default: all if not ok) failed."""
        self.attempted += ops
        n_bad = (0 if ok else ops) if bad is None else bad
        self.failed += n_bad
        if n_bad and len(self.failures) < 20:
            self.failures.append(what)


def drop_views_and_gc(spark) -> None:
    """Between passes: free temp views and their checkpoint blocks, as
    bench.py does between queries, so cleanup is not billed to the next
    pass. (Once a pass, not once a query: the three calls cost about a
    quarter of a second, as much as a short query.)"""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.sparkContext._jvm.System.gc()
    gc.collect()


# --------------------------------------------------------------------------
# ingest_unique / ingest_shared
# --------------------------------------------------------------------------

SHARED_POOL = 40  # distinct metadata URLs per pass, as in examples/nft_pipeline.py


class FixtureServer:
    """The fixture API in its own process (see fixture_api.py)."""

    def __init__(self, ctx: Context, pool: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fixture_api.py"),
             "--seed", str(ctx.seed), "--items", str(ctx.items),
             "--pool", str(pool), "--threads", str(ctx.cores)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "port":
            self.close()
            raise RuntimeError(f"fixture API did not start: {line}")
        self.base = f"http://127.0.0.1:{line[1]}"

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)


def expected_traits(ctx: Context, pass_no: int, pool: int) -> dict[int, list[tuple]]:
    return {
        i: [(a["trait_type"], a["value"])
            for a in attributes(ctx.seed, pass_no, metadata_key(ctx.seed, pass_no, i, pool))]
        for i in range(pass_items(pass_no, ctx.items))
    }


def parquet_files(path: str) -> list[str]:
    return [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]


def check_ingest(res: Result, ctx: Context, pass_no: int, pool: int, out: str,
                 top: list) -> None:
    """Every item landed and enriched with its own traits; read-back top
    traits equal the counts derived from the seed."""
    want = expected_traits(ctx, pass_no, pool)
    nfts = pq.read_table(os.path.join(out, "nfts"), columns=["identifier", "collection"])
    ids = Counter(nfts.column("identifier").to_pylist())
    colls = set(nfts.column("collection").to_pylist())
    traits = pq.read_table(os.path.join(out, "traits")).to_pylist()
    got: dict[int, list[tuple]] = {}
    for t in traits:
        got.setdefault(t["identifier"], []).append((t["trait_type"], t["value"]))
    bad = sum(
        1 for i, tr in want.items()
        if ids.get(i) != 1 or sorted(got.get(i, [])) != sorted(tr)
    )
    bad += sum(n for i, n in ids.items() if i not in want)  # stray rows
    if colls != {f"bench-{pass_no}"}:
        bad = len(want)
    res.check(bad == 0, f"pass {pass_no}: {bad} items missing, duplicated or mis-enriched",
              ops=len(want), bad=bad)
    counts = Counter(t for tr in want.values() for t in tr)
    want_top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got_top = [((r["trait_type"], r["value"]), r["count"]) for r in top]
    res.check(got_top == want_top, f"pass {pass_no}: top traits {got_top} != {want_top}")


def top_traits(spark, path: str) -> list:
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .groupBy("trait_type", "value")
        .count()
        .orderBy(F.desc("count"), "trait_type", "value")
        .limit(10)
        .collect()
    )


def ingest(ctx: Context, pool: int) -> Result:
    from automated_data_pipeline_python_spark.ingest.fetcher import (
        RetryingFetcher, collect_with_enrichment,
    )
    from automated_data_pipeline_python_spark.ingest.normalize import (
        from_records, normalize_nfts,
    )
    from automated_data_pipeline_python_spark.ingest.store import write_tables
    from automated_data_pipeline_python_spark.ingest.transport import PooledHttpTransport

    spark, res = ctx.spark, Result()
    tracer = SparkTrace(spark) if ctx.trace else None
    laps: dict[str, list[float]] = {k: [] for k in ("collect", "from_records", "write", "readback")}
    stored, files, requests, distinct, busy, durations = [], [], 0, 0, 0.0, []
    retries = errors = 0
    server = FixtureServer(ctx, pool)
    transport = PooledHttpTransport(maxsize=ctx.cores, timeout_s=30.0)
    try:
        def one_pass(pass_no: int, timed: bool) -> float:
            nonlocal requests, distinct, busy, retries, errors
            fetch = TimedTransport(transport) if ctx.trace else transport
            # One connection pages while the rest enrich: at most `cores`
            # connections and workers in all.
            lister = RetryingFetcher(fetch, max_concurrency=1)
            enricher = RetryingFetcher(fetch, max_concurrency=max(ctx.cores - 1, 1))
            out = os.path.join(ctx.work, f"ingest-{pass_no}")
            t0 = time.perf_counter()
            records = asyncio.run(collect_with_enrichment(
                lister, enricher, f"{server.base}/c/{pass_no}/page/0",
                next_url=lambda page, _url: page.get("next"),
                enrich_url=lambda item: item.get("metadata_url"),
                apply_enrichment=lambda item, extra: {**item, "traits": extra["attributes"]},
                queue_size=500,
                workers=max(ctx.cores - 1, 1),
            ))
            t1 = time.perf_counter()
            if tracer:
                tracer.group("ingest.normalize")
            raw = from_records(spark, records)
            t2 = time.perf_counter()
            if tracer:
                tracer.group("ingest.store")
            write_tables(normalize_nfts(raw), out)
            t3 = time.perf_counter()
            if tracer:
                tracer.group("ingest.readback")
            top = top_traits(spark, os.path.join(out, "traits"))
            t4 = time.perf_counter()
            # ---- untimed from here
            if tracer:
                tracer.collect()
            check_ingest(res, ctx, pass_no, pool, out, top)
            names = [f for d in ("nfts", "traits") for f in parquet_files(os.path.join(out, d))]
            if timed:
                for k, v in zip(laps, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                    laps[k].append(v)
                stored.append(sum(os.path.getsize(f) for f in names) / ctx.items)
                files.append(len(names))
                retries += lister.stats.retries + enricher.stats.retries
                errors += lister.stats.errors + enricher.stats.errors
                if ctx.trace:
                    requests += sum(fetch.urls.values())
                    distinct += len(fetch.urls)
                    busy += sum(fetch.durations)
                    durations.extend(fetch.durations)
            shutil.rmtree(out, ignore_errors=True)
            drop_views_and_gc(spark)
            return t4 - t0

        one_pass(0, timed=False)  # warm-up: first createDataFrame, write, scan
        if tracer:
            tracer.by_label.clear()
        res.setup_s = time.perf_counter() - ctx.t_start
        deadline = time.perf_counter() + ctx.seconds
        pass_no = 1
        while pass_no == 1 or time.perf_counter() + res.pass_walls[-1] <= deadline:
            res.pass_walls.append(one_pass(pass_no, timed=True))
            res.items_done += ctx.items
            pass_no += 1
    finally:
        transport.close()
        server.close()

    passes = len(res.pass_walls)
    repeats = [1 - len({metadata_key(ctx.seed, p, i, pool) for i in range(ctx.items)}) / ctx.items
               for p in range(1, passes + 1)]
    res.record = {
        "items_per_pass": ctx.items,
        "url_pool": pool or None,
        "repeated_url_share": sum(repeats) / passes,
        "service_delay_ms": SERVICE_DELAY_MS,
        "stored_bytes_per_item": median(stored),
        "client_connections": ctx.cores,
        "server_threads": ctx.cores,
    }
    if ctx.trace:
        collect_total = sum(laps["collect"])
        res.layers = {
            "ingest.fetcher.collect_s": median(laps["collect"]),
            "ingest.fetcher.requests_per_item": requests / res.items_done,
            "ingest.fetcher.distinct_url_ratio": distinct / requests,
            "ingest.fetcher.retries": retries / passes,
            "ingest.fetcher.errors": errors / passes,
            "ingest.transport.request_p50_ms": percentile(durations, 50) * 1000,
            "ingest.transport.request_p99_ms": percentile(durations, 99) * 1000,
            "ingest.transport.busy_s": busy / passes,
            "ingest.transport.slot_utilization": busy / (collect_total * ctx.cores),
            "ingest.normalize.from_records_s": median(laps["from_records"]),
            "ingest.store.write_s": median(laps["write"]),
            "ingest.store.bytes_written": median(stored) * ctx.items,
            "ingest.store.files_written": median(files),
            "ingest.readback_s": median(laps["readback"]),
        }
        res.layers.update(spark_layer(tracer.total(), passes, ctx.cores, sum(res.pass_walls)))
    return res


# --------------------------------------------------------------------------
# lake_queries
# --------------------------------------------------------------------------

def result_hash(df) -> tuple[int, str]:
    """Row count and hash of a full result, canonicalized as
    tools/result_hash.py does (sorted columns, sorted rendered rows)."""
    from tools.verify_driver import canon

    cols = sorted(df.columns)
    rows = sorted(",".join(canon(r[c]) for c in cols) for r in df.collect())
    digest = hashlib.sha256(("|".join(cols) + "\n" + "\n".join(rows)).encode())
    return len(rows), digest.hexdigest()[:16]


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:order:{pass_no}").shuffle(order)
    return order


def check_pass(ctx: Context, res: Result) -> None:
    """Untimed pass, which is also the warm-up: each query's full result
    against its recorded hash. It runs ``cores - 1`` queries at a time,
    each in its own session (temp views are per session), which
    shortens the cold pass from about 35 to 24 s on 4 cores."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from bench import HEADLINE

    want = ctx.expected["lake_queries"]
    sessions: queue.Queue = queue.Queue()
    for _ in range(max(1, ctx.cores - 1)):
        sessions.put(ctx.spark.newSession())

    def check(name: str):
        session = sessions.get()
        try:
            return name, list(result_hash(QUERIES[name].fn(session, ctx.lake))), None
        except Exception as exc:  # noqa: BLE001 - a failing query is a result
            return name, None, exc
        finally:
            sessions.put(session)

    with ThreadPoolExecutor(sessions.qsize()) as pool:
        for name, got, exc in pool.map(check, pass_order(HEADLINE, ctx.seed, 0)):
            if exc is not None:
                res.check(False, f"{name}: raised {type(exc).__name__}: {exc}"[:300])
            else:
                res.check(got == want.get(name), f"{name}: result {got} != recorded {want.get(name)}")
    while not sessions.empty():
        drop_views_and_gc(sessions.get())


def lake_queries(ctx: Context) -> Result:
    from automated_data_pipeline_python_spark.queries import QUERIES
    from bench import HEADLINE

    spark, res = ctx.spark, Result()
    check_pass(ctx, res)

    tracer = SparkTrace(spark) if ctx.trace else None
    build, execute, by_module, walls = [], [], Counter(), []
    res.setup_s = time.perf_counter() - ctx.t_start
    deadline = time.perf_counter() + ctx.seconds
    pass_no = 1
    while pass_no == 1 or time.perf_counter() + res.pass_walls[-1] <= deadline:
        pass_wall = 0.0
        for name in pass_order(HEADLINE, ctx.seed, pass_no):
            fn = QUERIES[name].fn
            if tracer:
                tracer.group("queries")
            try:
                t0 = time.perf_counter()
                df = fn(spark, ctx.lake)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                ok = True
            except Exception as exc:  # noqa: BLE001
                ok = False
                res.check(False, f"{name}: raised {type(exc).__name__}: {exc}"[:300])
            if ok:
                res.check(True, name)
                build.append(t1 - t0)
                execute.append(t2 - t1)
                walls.append(t2 - t0)
                pass_wall += t2 - t0
                by_module[fn.__module__.rsplit(".", 1)[-1]] += t2 - t0
            if tracer:
                tracer.collect()
        drop_views_and_gc(spark)
        res.pass_walls.append(pass_wall)
        res.items_done += len(HEADLINE)
        pass_no += 1

    passes = len(res.pass_walls)
    q, tail = tail_percentile(walls)
    res.record = {
        "queries_per_pass": len(HEADLINE),
        "query_p50_s": median(walls),
        f"query_p{q}_s": tail,
        "query_samples": len(walls),
        "query_samples_above_tail": len(walls) - int(-(-q * len(walls) // 100)) if q else 0,
    }
    if ctx.trace:
        res.layers = {
            "queries.catalog.build_s": sum(build) / passes,
            "spark.exec_s": sum(execute) / passes,
            **{f"queries.{m}.s": s / passes for m, s in sorted(by_module.items())},
        }
        res.layers.update(spark_layer(tracer.total(), passes, ctx.cores, sum(walls)))
    return res


# --------------------------------------------------------------------------
# curation_funnel
# --------------------------------------------------------------------------

# Each stage after the gate opens with one catalog query, in this order;
# the stage runs until the next one opens (the export until run returns).
STAGE_OPENERS = {
    "dedup_exact_documents": "exact_dedup",
    "dedup_minhash_lsh": "fuzzy_dedup",
    "contamination_ngram_overlap": "decontam",
    "sample_token_budget": "mix",
    "corpus_shuffle_shards": "export",
}
FUNNEL_STAGES = ["gate", *STAGE_OPENERS.values()]


def curation_funnel(ctx: Context) -> Result:
    """One run of the funnel in a fresh session, as the example script
    does it: a user pays its JIT and code-generation cost on every run,
    so the first run is the one timed. It is also the steadiest: later
    runs in the same process keep speeding up, by up to a third.

    Traced, the run is split into its stages from outside: each catalog
    query in ``STAGE_OPENERS`` tags the jobs from its call on with the
    stage's job group. If the run does not call them once each, in that
    order, the stage figures would be mislabelled, so that counts as a
    failed check."""
    import curation_pipeline
    from automated_data_pipeline_python_spark.queries import QUERIES

    spark, res = ctx.spark, Result()
    tracer = SparkTrace(spark) if ctx.trace else None
    opened: list[tuple[str, float]] = []  # (catalog query, perf_counter at its call)
    by_module: Counter = Counter()

    def on_enter(name: str) -> None:
        if name in STAGE_OPENERS:
            opened.append((name, time.perf_counter()))
            tracer.group(f"funnel.{STAGE_OPENERS[name]}")

    def on_exit(q, seconds: float) -> None:
        by_module[q.fn.__module__.rsplit(".", 1)[-1]] += seconds

    res.setup_s = time.perf_counter() - ctx.t_start
    t0 = time.perf_counter()
    if tracer:
        tracer.group("funnel.gate")
        with timed_catalog(QUERIES, on_enter, on_exit):
            got = curation_pipeline.run(spark, ctx.lake)
    else:
        got = curation_pipeline.run(spark, ctx.lake)
    t_end = time.perf_counter()
    res.pass_walls.append(t_end - t0)
    res.items_done += got["raw"]
    got = {**got, "shards": {str(k): v for k, v in got["shards"].items()}}
    want = ctx.expected["curation_funnel"]
    res.check(got == want, f"funnel {got} != recorded {want}")

    res.record = {"documents": want["raw"], "funnel_s": res.pass_walls[0]}
    if tracer:
        tracer.collect()
        tot = tracer.total()
        names = [name for name, _ in opened]
        res.check(names == list(STAGE_OPENERS),
                  f"funnel stages: catalog calls {names} != {list(STAGE_OPENERS)}")
        bounds = [t0, *(t for _, t in opened), t_end]
        res.layers = {f"funnel.{s}_s": b - a
                      for s, a, b in zip(FUNNEL_STAGES, bounds, bounds[1:])}
        doc_bytes = os.path.getsize(os.path.join(ctx.lake, "documents.parquet"))
        res.layers["funnel.scan_amplification"] = tot.input_bytes / doc_bytes
        # Catalog queries the funnel calls, time inside their functions
        # (plan building and eager checkpoints; the funnel runs the rest).
        res.layers["queries.catalog.build_s"] = sum(by_module.values())
        res.layers.update({f"queries.{m}.s": v for m, v in sorted(by_module.items())})
        for s in FUNNEL_STAGES:
            st = tracer.by_label.get(f"funnel.{s}")
            res.layers[f"funnel.{s}.task_s"] = st.task_s if st else 0.0
        res.layers.update(spark_layer(tot, 1, ctx.cores, res.pass_walls[0]))
    return res


WORKLOADS = {
    "ingest_unique": lambda ctx: ingest(ctx, pool=0),
    "ingest_shared": lambda ctx: ingest(ctx, pool=SHARED_POOL),
    "lake_queries": lake_queries,
    "curation_funnel": curation_funnel,
}
