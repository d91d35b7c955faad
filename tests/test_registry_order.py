"""Registry-order contract: the grading driver only records correctness
rows for the first 50 registered queries, so the window must be spent
where it buys new evidence. With the ever-rowed ledger closed in r11
(418/418 catalog queries driver-rowed at least once, every module
sentinel-covered in the r11 window), the metric that matters is
STALENESS (VERDICT r11 task 6): the round-12 window holds the 50
least-recently-rowed queries — all 39 whose last driver row was round
1 plus 11 of the 23 last rowed in round 3 (module diversity first,
then alphabetical). After it lands, no catalog query's newest driver
row is older than round 3. Everything rotated out stays proven by the
committed full-catalog replays (VERIFY_FULL_r11*, 418/418 green at
sf0.001, sf0.01 AND sf0.1) and the pytest oracle-parity sweep.
"""

from __future__ import annotations

import pytest

from automated_data_pipeline_python_spark.queries import QUERIES, _PRIORITY, oracle_sql

# New catalog queries added in round 11 — driver-rowed in their birth
# round (r11), so the r12 staleness window correctly leaves them out.
ROUND11_NEW: list[str] = [
    "multimodal_modality_mix_report",   # per-modality dataset card
    "multimodal_bitrate_outliers",      # Tukey kbit/s fences per fps
    "multimodal_frame_dedup_rate",      # frame-hash dedup histogram
    "multimodal_scene_cut_spans",       # consecutive-frame hamming cuts
    "multimodal_vad_utterances",        # gaps-and-islands VAD profile
    "multimodal_resolution_ladder",     # letterbox resize plan
    "multimodal_shard_packing",         # bucket-local running-total bins
    "training_batch_padding_waste",     # length-bucketed dynamic batching
]

# No new catalog queries in round 12 — a hardening round by direction
# (VERDICT r11 task 8): the window is spent entirely on staleness.
ROUND12_NEW: list[str] = []

# The two rows-only-by-design queries whose last driver row was round 1
# sit in the staleness window even though they have no DuckDB oracle
# (HLL++ estimates and seeded-RNG samples are engine-specific by
# design); the driver records the same rows-only check it recorded in
# r1, which is exactly the evidence being refreshed.
ROWS_ONLY_IN_WINDOW = {"agg_approx_distinct", "sample_reproducible"}


def test_priority_list_is_first_50():
    assert len(_PRIORITY) == 50
    assert list(QUERIES)[:50] == _PRIORITY


def test_round11_additions_registered_but_rotated_out():
    for name in ROUND11_NEW:
        assert name in QUERIES, name
        # they rowed in their birth round; staleness keeps them out now
        assert name not in set(_PRIORITY), name


def test_capped_default_is_the_headline_name():
    """VERDICT r8 task 2 (held since r9): the headline dedup query must
    be the capped plan (bucket-size-bounded pair generation), with the
    uncapped form kept only as an explicitly-named diagnostic twin."""
    import automated_data_pipeline_python_spark.queries.dedup as D

    assert QUERIES["dedup_minhash_lsh"].oracle == D._MINHASH_CAPPED_DUCK_SQL
    assert (
        QUERIES["dedup_minhash_lsh_uncapped"].oracle == D._MINHASH_DUCK_SQL
    )
    assert "dedup_minhash_lsh_capped" not in QUERIES  # name retired


# Modules with no slot in the round-12 staleness window: every one of
# their queries rowed recently (r5-r11 — most carried r10/r11 rows, and
# all had a sentinel in the r11 window), so none is among the 50
# least-recently-rowed. Their regression evidence stays live via the
# committed full-catalog replays at three SFs plus the pytest
# oracle-parity sweep, and staleness rotation naturally returns them to
# the window in later rounds. A NEW module must still ship with a
# window slot in its birth round (ROUND*_NEW), not an entry here.
REPLAY_COVERED_MODULES: set[str] = {
    "clustering",
    "curation",
    "curation2",
    "curation3",
    "dq",
    "drift",
    "events",
    "experiments",
    "experiments2",
    "graph",
    "lm",
    "mlstats",
    "modern_sql",
    "multimodal",
    "reco",
    "relational5",
    "retrieval",
    "sketches",
    "timeseries",
    "warehouse",
}


def test_window_represents_every_module():
    """Sentinel coverage: a regression in any query module must be able
    to surface in the driver window (or the module is in the documented
    replay-covered exemption set)."""
    window_mods = {
        QUERIES[n].fn.__module__.rsplit(".", 1)[1] for n in _PRIORITY
    }
    all_mods = {
        q.fn.__module__.rsplit(".", 1)[1] for q in QUERIES.values()
    }
    assert all_mods - window_mods - REPLAY_COVERED_MODULES == set()
    # the exemption set must not name modules that DO have a slot (keep
    # the documented list honest as the window rotates)
    assert REPLAY_COVERED_MODULES & window_mods == set()


def test_window_is_oracle_dense():
    """Every window slot hash-checks except the two documented
    rows-only-by-design r1 queries (their rows-only evidence is what
    the staleness rotation refreshes)."""
    oracles = oracle_sql()
    missing = [
        n for n in _PRIORITY
        if n not in oracles and n not in ROWS_ONLY_IN_WINDOW
    ]
    assert missing == []


def test_deferred_collect_is_isolated_from_later_registrations(spark):
    """Queries register shared temp-view names (documents, mh_sh, ...).
    A driver may build many DataFrames before collecting any; plans must
    bind at build time, so later view re-registration cannot change an
    earlier query's result."""
    from tests.conftest import SF_SMOKE

    names = [
        "dedup_minhash_lsh",        # registers documents + mh_sh
        "text_tfidf_top_terms",     # re-registers documents + tfidf_tok
        "contamination_ngram_overlap",  # re-registers documents + ct_sh
        "semdedup_cluster_prune",   # registers embeddings + sd_asn
        "ann_pq_adc_topk",          # re-registers embeddings + pq_sub
        "multimodal_frame_dedup_rate",  # re-registers documents + mm_frames
        "multimodal_vad_utterances",    # re-registers documents + mm_isl
    ]
    built = {n: QUERIES[n].fn(spark, SF_SMOKE) for n in names}  # build all first

    def canon(df):
        cols = sorted(df.columns)
        return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

    deferred = {n: canon(df) for n, df in built.items()}        # collect after
    fresh = {n: canon(QUERIES[n].fn(spark, SF_SMOKE)) for n in names}
    assert deferred == fresh


def test_query_build_drops_its_temp_views(spark):
    """Catalog queries must not leak their intermediate temp views (a
    leaked view keeps localCheckpoint blocks reachable for the session
    lifetime — measured multi-second heap-pressure inflation across a
    long run). Pre-existing views stay."""
    from tests.conftest import SF_SMOKE

    spark.range(1).createOrReplaceTempView("preexisting_view")
    try:
        before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        for name in ("dedup_minhash_lsh", "text_tfidf_top_terms",
                     "embedding_power_iteration", "lm_unigram_em_round"):
            QUERIES[name].fn(spark, SF_SMOKE)
        after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        assert after == before
        assert "preexisting_view" in after
    finally:
        spark.catalog.dropTempView("preexisting_view")


def test_failed_build_drops_its_views_and_restores_description(spark):
    """A builder that raises after staging a view must not leak the
    view (and the checkpoint blocks behind it) or its job description."""
    from automated_data_pipeline_python_spark.queries.catalog import register, stage

    def build(spark, sf_dir):
        stage(spark, "failed_build_view", spark.range(3))
        raise RuntimeError("builder failed after a stage")

    sc = spark.sparkContext
    sc.setJobDescription("caller description")
    register("test_failing_build")(build)
    try:
        before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        with pytest.raises(RuntimeError, match="after a stage"):
            QUERIES["test_failing_build"].fn(spark, "unused")
        after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        assert after == before
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        QUERIES.pop("test_failing_build")
        sc.setJobDescription(None)


def test_stage_jobs_are_described_query_slash_view(spark):
    """catalog.stage runs its checkpoint under the job description
    ``<query>/<view>``, read back from Spark's status store, and the
    build restores the caller's description afterwards."""
    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    group = "test-stage-description"
    sc.setJobGroup(group, "caller description")
    try:
        QUERIES["dedup_minhash_lsh"].fn(spark, SF_SMOKE)
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    described = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        description = store.job(job_id).description()
        if description.isDefined():
            described.add(description.get())
    assert "dedup_minhash_lsh/mh_sets" in described


def test_one_stage_primitive():
    """Checkpoint-and-name lives only in catalog.stage: no package
    module chains localCheckpoint into createOrReplaceTempView, and the
    old per-module helper copies are gone."""
    import ast
    import pathlib

    import automated_data_pipeline_python_spark as pkg

    chained, helpers = [], []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.FunctionDef) and node.name in (
                "_materialize_view", "_docs_sql", "_emb_sql",
            ):
                helpers.append(f"{path.name}:{node.lineno} {node.name}")
            if (
                path.name != "catalog.py"
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createOrReplaceTempView"
                and isinstance(node.func.value, ast.Call)
                and isinstance(node.func.value.func, ast.Attribute)
                and node.func.value.func.attr == "localCheckpoint"
            ):
                chained.append(f"{path.name}:{node.lineno}")
    assert chained == []
    assert helpers == []
