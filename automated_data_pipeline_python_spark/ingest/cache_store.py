"""Live Redis binding for the response cache.

The reference keeps HTTP responses in Redis with a TTL derived from the
response's Cache-Control (reference pipeline/utils/cache.py:84-94: ttl =
max-age + stale-while-revalidate, clamped to a 24 h ceiling; :108-161:
shared client from ``REDIS_URL``, JSON payloads via get/set-with-expiry).
This module reproduces that binding as a ``MutableMapping[str,
CacheEntry]`` so it plugs straight into :class:`ConditionalFetcher`'s
``store`` seam — the RFC-9111 state machine stays engine-side and
identical whether the store is a dict, the parquet bronze sidecar, or a
live Redis.

The client is duck-typed (``get`` / ``set(ex=...)`` / ``delete`` /
``keys``): tests inject an in-memory fake with a controllable clock;
production injects a real ``redis`` client from :func:`connect_redis`
(import-gated — the package is optional, exactly like the httpx HTTP/2
path in ``ingest/transport.py``).
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator, MutableMapping
from typing import Any

from automated_data_pipeline_python_spark.ingest.revalidate import (
    CacheEntry,
    get_max_age,
)

DEFAULT_MAX_TTL = 86_400  # reference cache.py:18 — 24 h ceiling


def calculate_ttl(cache_control: str, max_ttl: int = DEFAULT_MAX_TTL) -> int:
    """Reference TTL policy (cache.py:84-94): max-age plus any
    stale-while-revalidate allowance; 0 (uncacheable-by-header) and
    anything above the ceiling both clamp to the ceiling."""
    ttl = get_max_age(cache_control)
    swr = re.search(
        r"stale-while-revalidate=(\d+)", cache_control or "", re.IGNORECASE
    )
    if swr:
        ttl += int(swr.group(1))
    if ttl == 0 or ttl > max_ttl:
        ttl = max_ttl
    return ttl


class RedisCacheStore(MutableMapping):
    """url → :class:`CacheEntry`, persisted in Redis with header-derived
    expiry.

    Redis evicts on TTL by itself — a lookup after expiry is a plain
    miss, which the state machine treats as "not cached" (the same
    observable behavior the reference gets from ``set(..., ex=ttl)``).
    """

    def __init__(self, client: Any, prefix: str = "adp:cache:",
                 max_ttl: int = DEFAULT_MAX_TTL) -> None:
        self._r = client
        self._prefix = prefix
        self._max_ttl = max_ttl

    def _key(self, url: str) -> str:
        return f"{self._prefix}{url}"

    def __getitem__(self, url: str) -> CacheEntry:
        raw = self._r.get(self._key(url))
        if raw is None:
            raise KeyError(url)
        return CacheEntry.from_record(json.loads(raw))

    def __setitem__(self, url: str, entry: CacheEntry) -> None:
        ttl = calculate_ttl(entry.cache_control, self._max_ttl)
        self._r.set(self._key(url), json.dumps(entry.to_record()), ex=ttl)

    def __delitem__(self, url: str) -> None:
        if not self._r.delete(self._key(url)):
            raise KeyError(url)

    def __contains__(self, url: object) -> bool:
        # EXISTS avoids fetching + JSON-decoding the whole body just to
        # answer membership (falls back to GET for minimal clients).
        if hasattr(self._r, "exists"):
            return bool(self._r.exists(self._key(str(url))))
        return self._r.get(self._key(str(url))) is not None

    def _scan_keys(self) -> Iterator[str]:
        # SCAN, never KEYS: KEYS blocks the Redis event loop for a full
        # keyspace sweep on a production instance. keys() remains the
        # fallback for minimal injected clients (tests).
        if hasattr(self._r, "scan_iter"):
            yield from self._r.scan_iter(match=f"{self._prefix}*")
        else:
            yield from self._r.keys(f"{self._prefix}*")

    def __iter__(self) -> Iterator[str]:
        plen = len(self._prefix)
        for k in self._scan_keys():
            yield k[plen:]

    def __len__(self) -> int:
        return sum(1 for _ in self._scan_keys())


def connect_redis(url: str | None = None) -> Any:
    """Shared-client factory (reference cache.py:104-117): ``REDIS_URL``
    env fallback, decoded responses. Import-gated — raises ImportError
    with a clear message when the optional package is absent."""
    import os

    try:
        import redis  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise ImportError(
            "the 'redis' package is required for a live cache binding; "
            "inject any client with get/set/delete/keys instead"
        ) from exc
    return redis.Redis.from_url(
        url or os.getenv("REDIS_URL", "redis://localhost:6379/0"),
        decode_responses=True,
    )
