"""Ingest boundary: the reference pipeline's ETL surface, Spark-first.

The reference (HunterX405/automated-data-pipeline-python) is an
asyncio extract→transform→load pipeline; this package re-expresses each
stage idiomatically:

- ``normalize``  — schema application, cast, projections, trait explode
                   (reference pipeline/transform/normalize.py)
- ``store``      — parquet sink (reference pipeline/load/store.py)
- ``cachekeys``  — canonical URL / header / cache-key functions
                   (reference pipeline/utils/cache.py:29-74)
- ``fetcher``    — paginated producer/consumer fetch with retry,
                   bounded concurrency, error isolation, and one fetch
                   per distinct enrichment URL per run
                   (reference pipeline/collectors/nft.py, utils/api.py)
- ``enrich``     — distinct-URL batch enrichment join replacing the
                   reference's per-row fetch (nft.py:15-23)

The reference's Redis response cache (utils/api.py:174-221) maps to two
layers here: the collector coalesces duplicate enrichment URLs within a
run, and the bronze parquet layer covers re-runs.
"""
