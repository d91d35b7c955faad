"""Diagnose dedup_ngram_jaccard_capped stage costs at a given SF.

Usage: python tools/capped_diag.py <sf_dir>
Times each materialization and the tail separately, and prints stage
row counts so the pathological stage is identifiable.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from automated_data_pipeline_python_spark.session import get_spark  # noqa: E402
from automated_data_pipeline_python_spark.queries import dedup as D  # noqa: E402
from automated_data_pipeline_python_spark.queries.catalog import stage  # noqa: E402
from automated_data_pipeline_python_spark.tables import load_scaled  # noqa: E402


def t(label, fn):
    t0 = time.perf_counter()
    out = fn()
    print(f"{label}: {time.perf_counter() - t0:.2f}s", flush=True)
    return out


def main() -> None:
    sf = sys.argv[1]
    spark = get_spark(app_name="capped-diag", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    t("load+view", lambda: load_scaled(spark, sf, "documents")
      .createOrReplaceTempView("documents"))
    t("cp_sets", lambda: stage(spark, "cp_sets", spark.sql(D._CAPPED_SETS_SPARK)))
    t("cp_hot", lambda: stage(spark, "cp_hot", spark.sql(D._CAPPED_HOT_SPARK)))
    print("hot rows:", spark.table("cp_hot").count(), flush=True)
    t("cp_cold", lambda: stage(spark, "cp_cold", spark.sql(D._CAPPED_COLD_SPARK)))
    print("cold rows:", spark.table("cp_cold").count(), flush=True)
    cand_sql = """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cp_cold a JOIN cp_cold b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """
    t("cand count", lambda: print("cand:",
      spark.sql(cand_sql).count(), flush=True))
    t("full tail noop", lambda: spark.sql(D._NGRAM_CAPPED_TAIL_SPARK)
      .write.format("noop").mode("overwrite").save())
    spark.stop()


if __name__ == "__main__":
    main()
