"""Stage-level decomposition of dedup_simhash_pairs (VERDICT r12 #4).

Usage: python tools/simhash_tail_probe.py <sf_dir>

Times the signature core (materialization) and the chunk-blocked
hamming pair join separately (noop sink, min-of-3 warm for the tail),
and prints the chunk-bucket census (per-(c, chunk) sizes, max/median)
that decides whether the tail join is skewed or just pair-volume-bound.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from automated_data_pipeline_python_spark.session import get_spark  # noqa: E402
from automated_data_pipeline_python_spark.queries import dedup as D  # noqa: E402
from automated_data_pipeline_python_spark.queries.catalog import stage  # noqa: E402
from automated_data_pipeline_python_spark.tables import load_scaled  # noqa: E402


def main() -> None:
    sf = sys.argv[1]
    spark = get_spark(app_name="simhash-probe", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    load_scaled(spark, sf, "documents").createOrReplaceTempView("documents")
    t0 = time.perf_counter()
    stage(spark, "simhash_sig", spark.sql(D._SIMHASH_SPARK_SQL))
    print(f"sig core materialize: {time.perf_counter() - t0:.2f}s",
          flush=True)
    # bucket census: how big do the 4x256 chunk buckets get?
    census = spark.sql("""
        SELECT c, chunk, count(*) AS n FROM (
            SELECT doc_id, c, shiftright(simhash, 8 * c) & 255 AS chunk
            FROM simhash_sig LATERAL VIEW explode(sequence(0, 3)) t AS c
        ) GROUP BY c, chunk
    """).collect()
    ns = sorted(r.n for r in census)
    tot_pairs = sum(n * (n - 1) // 2 for n in ns)
    print(f"buckets: {len(ns)}, max={ns[-1]}, p50={ns[len(ns)//2]}, "
          f"sum_pairs={tot_pairs}", flush=True)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.sql(D._SIMHASH_PAIRS_TAIL_SPARK).write.format("noop").mode(
            "overwrite").save()
        best = min(best, time.perf_counter() - t0)
    print(f"pairs tail noop (min-of-3): {best:.2f}s", flush=True)
    n_out = spark.sql(D._SIMHASH_PAIRS_TAIL_SPARK).count()
    print(f"output pairs: {n_out}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
