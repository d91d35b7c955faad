"""Generate PLANS.md: executed-plan facts for the FULL catalog.

Run: ``python tools/gen_plans.py`` (rewrites PLANS.md). This is the
"explain and iterate" artifact — reviewers see the physical shape each
query actually executes with, and tests/test_plans.py pins the
load-bearing properties so they can't regress silently.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from automated_data_pipeline_python_spark.plans import plan_report  # noqa: E402
from automated_data_pipeline_python_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# Every registered query gets a plan row — enumerated from the live
# registry (priority-window order first, then registration order) so a
# new registration can never silently miss PLANS.md. Exclusion rule:
# none; rows-only queries plan like any other.
def query_set():
    from automated_data_pipeline_python_spark.queries import QUERIES

    return list(QUERIES)


def main() -> None:
    spark = get_spark(app_name="gen-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    from automated_data_pipeline_python_spark.queries import QUERIES

    lines = [
        "# PLANS — executed physical-plan facts (generated)",
        "",
        f"Generated by `tools/gen_plans.py` at sf0.01 on local[4]; the",
        "load-bearing properties are pinned by `tests/test_plans.py`.",
        "",
        "| query | scans | pushed-filter scans | exchanges | broadcast joins | sort-merge joins | python stages | codegen spans |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in query_set():
        df = QUERIES[name].fn(spark, SF)
        df.collect()  # materialize the final AQE plan (incl. codegen markers)
        r = plan_report(df)
        lines.append(
            f"| {name} | {r.scans} | {r.scans_with_pushed_filters} | "
            f"{r.exchanges} | {r.broadcast_joins} | {r.sort_merge_joins} | "
            f"{r.python_evals} | {r.codegen_spans} |"
        )
    lines += [
        "",
        "Reading guide:",
        "- *pushed-filter scans*: predicates reached the parquet reader",
        "  (`PushedFilters`) — no full-scan-then-filter.",
        "- *scans = 0 is not \"no read\"*: queries that eagerly",
        "  materialize a shared subtree via `catalog.stage` (the",
        "  dedup/ANN/LM families) carry their parquet scans inside the",
        "  checkpointed stage, which the returned plan no longer shows —",
        "  those stages are separately audited by the checkpoint spy in",
        "  tests/test_global_window_allowlist.py.",
        "- *exchanges*: shuffles in the executed plan (post-AQE; reused",
        "  exchanges excluded). Star joins show low counts because every",
        "  dimension broadcasts. For queries that stage a",
        "  shared subtree (the ANN eval family), exchange/codegen counts",
        "  can shift a few units between generation sessions as exchange",
        "  reuse kicks in or not — the load-bearing columns (scans,",
        "  pushed filters, joins, python stages) are session-stable and",
        "  are what tests/test_plans.py pins.",
        "- *python stages*: Arrow-batched Python boundaries. Only the",
        "  as-of join carries one — everything else is JVM/codegen.",
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
