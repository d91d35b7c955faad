"""Registry for the driver-facing query catalog.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) a DuckDB oracle SQL string over the same
parquet tables. Column names MUST match between the two: alias every
computed column identically on both sides — the driver sorts columns by
name before value-hashing.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    doc: str = ""


QUERIES: dict[str, Query] = {}


_JOB_DESCRIPTION = "spark.job.description"


@contextmanager
def _job_description(spark: SparkSession, text: str) -> Iterator[None]:
    """Describe the jobs launched in the block as ``text`` (the name the
    status store and UI show), then restore the caller's description."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setLocalProperty(_JOB_DESCRIPTION, text)
    try:
        yield
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, previous)


def stage(spark: SparkSession, name: str, df: DataFrame) -> None:
    """Compute ``df`` once and register it as temp view ``name``.

    Spark inlines CTEs: a WITH-subtree referenced N times (self-joins
    such as LSH bands, a reduced relation read by several aggregates,
    one round of an iteration read by the next) runs N times. DuckDB
    materializes shared CTEs itself, so oracles keep the plain WITH
    form; the Spark side stages the shared subtree instead.
    ``localCheckpoint(eager=True)`` runs it now and truncates the
    lineage, so every later reference reads the stored blocks (executor
    storage, no lingering cache entries; the catalog drops the view
    after the build). Stage only subtrees that are expensive or
    referenced more than once: each stage is a job at build time.

    The checkpoint's jobs are described ``<query>/<name>``, where
    ``<query>`` is the description in force (a catalog build sets it to
    the query name), so the status store names every stage.
    """
    outer = spark.sparkContext.getLocalProperty(_JOB_DESCRIPTION)
    with _job_description(spark, f"{outer}/{name}" if outer else name):
        df.localCheckpoint(eager=True).createOrReplaceTempView(name)


def _build_scope(name: str, fn: QueryFn) -> QueryFn:
    """Build the query under its own job description, then drop the
    temp views the build registered, whether it returns or raises.

    Plans bind at build time (pinned by the deferred-collect isolation
    test), so the views — and especially any checkpoint blocks
    reachable through them — are only needed DURING the build. Without
    this, a session that builds many catalog queries accumulates every
    intermediate in the catalog; the checkpoint blocks stay reachable
    and executor heap pressure grows for the life of the session
    (measured: multi-second inflation of later queries in a 28-query
    run). Views that existed before the call are left untouched.
    """

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        before = _temp_view_names(spark)
        try:
            with _job_description(spark, name):
                return fn(spark, sf_dir)
        finally:
            for view in _temp_view_names(spark) - before:
                spark.catalog.dropTempView(view)

    return run


def _temp_view_names(spark: SparkSession) -> set[str]:
    """Local temp-view names, fast.

    ``spark.catalog.listTables()`` resolves full metadata per entry
    (~200 ms/call — far too slow for a per-build bookkeeping step); the
    session catalog's own listing is ~2 ms. Fall back to the public API
    under Spark Connect, where the JVM handle is absent.
    """
    try:
        seq = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*")
        return {seq.apply(i).table() for i in range(seq.size())}
    except Exception:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the catalog."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(
            name=name,
            fn=_build_scope(name, fn),
            oracle=oracle,
            doc=fn.__doc__ or "",
        )
        return fn

    return wrap


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in QUERIES.values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in QUERIES.values() if q.oracle is not None}
