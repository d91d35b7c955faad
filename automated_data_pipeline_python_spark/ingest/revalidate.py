"""HTTP conditional revalidation for the ingest boundary.

Re-expresses the reference's cached-fetch state machine (reference
pipeline/utils/api.py:140-214 ``CacheAPI.get`` / ``_validate_response``)
on the engine's bronze-layer model:

- a fresh cached response is served without touching the network
- a stale (or ``no-cache``) entry triggers a conditional request —
  ``If-None-Match`` when an ETag is stored, else ``If-Modified-Since``
- 304 Not Modified re-serves the cached body and refreshes its TTL
- 200 replaces the entry; ``no-store`` responses are never cached
- ``stale-while-revalidate`` serves the stale body immediately and
  revalidates in a background task, at most one per URL at a time

The transport is injected (``fetch(url, headers) -> (status, headers,
body)``) so tests run hermetically and the engine carries no HTTP
dependency; retry/backoff/bounded-concurrency compose from
``RetryingFetcher`` (the conditional exchange is the retried unit, as
in the reference where ``@retry`` wraps the client call). The validator
store round-trips through parquet (``store_records`` /
``load_records``) so incremental re-ingest survives restarts — the
bronze sidecar replacing the reference's Redis TTL cache (SURVEY §4.3).
"""

from __future__ import annotations

import asyncio
import re
import time
from collections.abc import Awaitable, Callable
from dataclasses import dataclass, field

from automated_data_pipeline_python_spark.ingest.fetcher import (
    FetchStats,
    RetryingFetcher,
)

# (status, response headers, parsed body)
ConditionalFetchFn = Callable[[str, dict], Awaitable[tuple[int, dict, dict]]]


def get_max_age(cache_control: str) -> int:
    """max-age seconds from a Cache-Control header (0 when absent).

    Mirrors reference cache.py:77-82 (case-insensitive regex).
    """
    m = re.search(r"max-age=(\d+)", cache_control or "", re.IGNORECASE)
    return int(m.group(1)) if m else 0


@dataclass
class CacheEntry:
    url: str
    body: dict
    etag: str | None
    last_modified: str | None
    cache_control: str
    fetched_at: float
    max_age: float | None = None

    def __post_init__(self) -> None:
        if self.max_age is None:
            self.max_age = float(get_max_age(self.cache_control))

    def is_fresh(self, now: float) -> bool:
        return (now - self.fetched_at) < (self.max_age or 0.0)

    def to_record(self) -> dict:
        """The stored fields as one plain record (a bronze-sidecar row or
        a Redis JSON value); ``max_age`` is derived, so it is left out."""
        return {
            "url": self.url,
            "body": self.body,
            "etag": self.etag,
            "last_modified": self.last_modified,
            "cache_control": self.cache_control,
            "fetched_at": self.fetched_at,
        }

    @classmethod
    def from_record(cls, r: dict) -> CacheEntry:
        """Inverse of :meth:`to_record`."""
        return cls(
            url=r["url"],
            body=r["body"],
            etag=r.get("etag"),
            last_modified=r.get("last_modified"),
            cache_control=r.get("cache_control", ""),
            fetched_at=r.get("fetched_at", 0.0),
        )


@dataclass
class RevalidateStats(FetchStats):
    cache_hits: int = 0
    revalidated_304: int = 0
    refetched_200: int = 0
    network_requests: int = 0


class ConditionalFetcher:
    """Cached fetch with Cache-Control freshness + conditional refetch.

    ``store`` is any mutable mapping url → :class:`CacheEntry`; ``clock``
    is injectable for deterministic tests.
    """

    def __init__(
        self,
        fetch: ConditionalFetchFn,
        store: dict[str, CacheEntry] | None = None,
        clock: Callable[[], float] = time.monotonic,
        max_concurrency: int = 15,
        max_attempts: int = 5,
        wait_initial: float = 1.0,
        stats: RevalidateStats | None = None,
        **retry_kwargs,
    ) -> None:
        self._fetch = fetch
        self.store = store if store is not None else {}
        self._clock = clock
        self.stats = stats or RevalidateStats()
        # url → its running stale-while-revalidate task
        self._background: dict[str, asyncio.Task] = {}
        # the conditional exchange is the retried unit
        self._retry = RetryingFetcher(
            self._exchange,
            max_concurrency=max_concurrency,
            max_attempts=max_attempts,
            wait_initial=wait_initial,
            stats=self.stats,
            **retry_kwargs,
        )

    async def _exchange(self, url: str) -> dict:
        """One conditional request: build validators, interpret 304/200."""
        cached = self.store.get(url)
        headers: dict[str, str] = {}
        if cached is not None:
            # reference api.py:200-204: etag preferred over last-modified
            if cached.etag:
                headers["if-none-match"] = cached.etag
            elif cached.last_modified:
                headers["if-modified-since"] = cached.last_modified
        status, resp_headers, body = await self._fetch(url, headers)
        self.stats.network_requests += 1
        lower = {k.lower(): v for k, v in resp_headers.items()}
        cache_control = lower.get("cache-control", "")
        if status == 304 and cached is not None:
            # refresh TTL from the new headers (reference api.py:144-148)
            self.stats.revalidated_304 += 1
            self.store[url] = CacheEntry(
                url=url,
                body=cached.body,
                etag=lower.get("etag", cached.etag),
                last_modified=lower.get("last-modified", cached.last_modified),
                cache_control=cache_control or cached.cache_control,
                fetched_at=self._clock(),
            )
            return cached.body
        self.stats.refetched_200 += 1
        if not re.search(r"no-store", cache_control, re.IGNORECASE):
            self.store[url] = CacheEntry(
                url=url,
                body=body,
                etag=lower.get("etag"),
                last_modified=lower.get("last-modified"),
                cache_control=cache_control,
                fetched_at=self._clock(),
            )
        else:
            self.store.pop(url, None)
        return body

    async def get(self, url: str) -> dict:
        cached = self.store.get(url)
        if cached is None:
            return await self._retry.get(url)
        self.stats.cache_hits += 1
        cc = cached.cache_control or ""
        stale = not cached.is_fresh(self._clock())
        needs_revalidation = (
            re.search(r"no-cache", cc, re.IGNORECASE) is not None or stale
        )
        if not needs_revalidation:
            return cached.body
        if not (cached.etag or cached.last_modified):
            return await self._retry.get(url)  # unconditional refetch
        if re.search(r"stale-while-revalidate", cc, re.IGNORECASE):
            # serve stale now, revalidate in the background
            if url not in self._background:
                task = asyncio.create_task(self._retry.get(url))
                self._background[url] = task
                task.add_done_callback(lambda _t: self._background.pop(url, None))
            return cached.body
        return await self._retry.get(url)

    async def drain_background(self) -> None:
        """Await outstanding stale-while-revalidate tasks (tests/shutdown)."""
        if self._background:
            await asyncio.gather(*self._background.values(), return_exceptions=True)


# ---------------------------------------------------------------------------
# Bronze sidecar round-trip: the validator store as plain records
# ---------------------------------------------------------------------------


def store_records(store: dict[str, CacheEntry]) -> list[dict]:
    """Store → rows for ``spark.createDataFrame`` (bronze sidecar)."""
    return [e.to_record() for e in store.values()]


def load_records(rows: list[dict]) -> dict[str, CacheEntry]:
    """Rows → store (inverse of :func:`store_records`)."""
    return {r["url"]: CacheEntry.from_record(r) for r in rows}
