"""Conditional-revalidation state machine (reference api.py:140-214)."""

from __future__ import annotations

import asyncio

import pytest

from automated_data_pipeline_python_spark.ingest.revalidate import (
    CacheEntry,
    ConditionalFetcher,
    load_records,
    store_records,
)


class Clock:
    def __init__(self) -> None:
        self.now = 1000.0

    def __call__(self) -> float:
        return self.now


class Server:
    """Scriptable transport recording every request's headers."""

    def __init__(self) -> None:
        self.requests: list[tuple[str, dict]] = []
        self.responses: list[tuple[int, dict, dict]] = []
        self.fail_first = 0

    async def fetch(self, url: str, headers: dict) -> tuple[int, dict, dict]:
        self.requests.append((url, dict(headers)))
        if self.fail_first > 0:
            self.fail_first -= 1
            raise ConnectionError("boom")
        return self.responses.pop(0)


def run(coro):
    return asyncio.new_event_loop().run_until_complete(coro)


@pytest.fixture()
def rig():
    server = Server()
    clock = Clock()
    f = ConditionalFetcher(
        server.fetch, clock=clock, max_attempts=3, wait_initial=0.001
    )
    return server, clock, f


def test_fresh_entry_served_without_network(rig):
    server, clock, f = rig
    server.responses = [(200, {"ETag": 'W/"a"', "Cache-Control": "max-age=60"}, {"v": 1})]
    assert run(f.get("u"))["v"] == 1
    clock.now += 30  # still fresh
    assert run(f.get("u"))["v"] == 1
    assert len(server.requests) == 1
    assert f.stats.cache_hits == 1


def test_stale_304_refreshes_ttl_and_serves_cached(rig):
    server, clock, f = rig
    server.responses = [
        (200, {"ETag": 'W/"a"', "Cache-Control": "max-age=60"}, {"v": 1}),
        (304, {"Cache-Control": "max-age=60"}, {}),
    ]
    run(f.get("u"))
    clock.now += 120  # stale → conditional request
    assert run(f.get("u"))["v"] == 1
    assert server.requests[1][1] == {"if-none-match": 'W/"a"'}
    assert f.stats.revalidated_304 == 1
    clock.now += 30  # TTL was refreshed by the 304
    assert run(f.get("u"))["v"] == 1
    assert len(server.requests) == 2


def test_stale_200_replaces_entry(rig):
    server, clock, f = rig
    server.responses = [
        (200, {"ETag": 'W/"a"', "Cache-Control": "max-age=60"}, {"v": 1}),
        (200, {"ETag": 'W/"b"', "Cache-Control": "max-age=60"}, {"v": 2}),
    ]
    run(f.get("u"))
    clock.now += 120
    assert run(f.get("u"))["v"] == 2
    assert f.store["u"].etag == 'W/"b"'
    assert f.stats.refetched_200 == 2


def test_no_cache_always_revalidates(rig):
    server, clock, f = rig
    server.responses = [
        (200, {"ETag": 'W/"a"', "Cache-Control": "no-cache, max-age=60"}, {"v": 1}),
        (304, {}, {}),
    ]
    run(f.get("u"))
    assert run(f.get("u"))["v"] == 1  # fresh but no-cache → conditional hit
    assert len(server.requests) == 2


def test_no_store_never_cached(rig):
    server, clock, f = rig
    server.responses = [
        (200, {"Cache-Control": "no-store"}, {"v": 1}),
        (200, {"Cache-Control": "no-store"}, {"v": 2}),
    ]
    assert run(f.get("u"))["v"] == 1
    assert "u" not in f.store
    assert run(f.get("u"))["v"] == 2


def test_last_modified_used_when_no_etag(rig):
    server, clock, f = rig
    server.responses = [
        (200, {"Last-Modified": "Mon", "Cache-Control": "max-age=1"}, {"v": 1}),
        (304, {}, {}),
    ]
    run(f.get("u"))
    clock.now += 5
    run(f.get("u"))
    assert server.requests[1][1] == {"if-modified-since": "Mon"}


def test_stale_while_revalidate_serves_stale_then_updates(rig):
    server, clock, f = rig
    server.responses = [
        (200, {"ETag": 'W/"a"',
               "Cache-Control": "max-age=1, stale-while-revalidate=60"}, {"v": 1}),
        (200, {"ETag": 'W/"b"', "Cache-Control": "max-age=60"}, {"v": 2}),
    ]

    async def scenario():
        await f.get("u")
        clock.now += 5
        stale = await f.get("u")  # served immediately from stale cache
        await f.drain_background()
        return stale

    assert run(scenario())["v"] == 1
    assert f.store["u"].body == {"v": 2}  # background revalidation landed


def test_concurrent_stale_hits_share_one_revalidation(rig):
    server, clock, f = rig
    server.responses = [
        (200, {"ETag": 'W/"a"',
               "Cache-Control": "max-age=1, stale-while-revalidate=60"}, {"v": 1}),
        (200, {"ETag": 'W/"b"', "Cache-Control": "max-age=60"}, {"v": 2}),
    ]

    async def scenario():
        await f.get("u")
        clock.now += 5
        served = await asyncio.gather(*(f.get("u") for _ in range(10)))
        await f.drain_background()
        return served

    assert [s["v"] for s in run(scenario())] == [1] * 10
    assert len(server.requests) == 2  # the first fetch plus one revalidation
    assert f.store["u"].body == {"v": 2}


def test_retry_composes_with_conditional_exchange(rig):
    server, clock, f = rig
    server.fail_first = 2
    server.responses = [(200, {"Cache-Control": "max-age=60"}, {"v": 1})]
    assert run(f.get("u"))["v"] == 1
    assert f.stats.retries == 2
    assert len(server.requests) == 3


def test_store_roundtrips_through_parquet(rig, spark, tmp_path):
    server, clock, f = rig
    server.responses = [
        (200, {"ETag": 'W/"a"', "Cache-Control": "max-age=60"}, {"k": "v"}),
    ]
    run(f.get("u"))
    path = str(tmp_path / "sidecar.parquet")
    schema = (
        "url string, body map<string,string>, etag string, "
        "last_modified string, cache_control string, fetched_at double"
    )
    spark.createDataFrame(store_records(f.store), schema).write.parquet(path)
    rows = [r.asDict() for r in spark.read.parquet(path).collect()]
    restored = load_records(rows)
    assert restored["u"].etag == 'W/"a"'
    assert restored["u"].body == {"k": "v"}
    assert restored["u"].is_fresh(clock.now + 30)


# ---------------------------------------------------------------------------
# Live-store binding: Redis adapter (reference cache.py:84-161)
# ---------------------------------------------------------------------------

from automated_data_pipeline_python_spark.ingest.cache_store import (  # noqa: E402
    RedisCacheStore,
    calculate_ttl,
    get_max_age,
)


class FakeRedis:
    """get/set(ex=)/delete/keys with clock-driven TTL expiry — the
    subset of the client surface RedisCacheStore duck-types against."""

    def __init__(self, clock: Clock) -> None:
        self._clock = clock
        self._data: dict[str, tuple[str, float | None]] = {}

    def _live(self, key: str) -> bool:
        if key not in self._data:
            return False
        _, exp = self._data[key]
        if exp is not None and self._clock() >= exp:
            del self._data[key]
            return False
        return True

    def get(self, key):
        return self._data[key][0] if self._live(key) else None

    def set(self, key, value, ex=None):
        self._data[key] = (value, self._clock() + ex if ex else None)

    def delete(self, key):
        if self._live(key):
            del self._data[key]
            return 1
        return 0

    def keys(self, pattern):
        prefix = pattern.rstrip("*")
        return [k for k in list(self._data) if self._live(k) and k.startswith(prefix)]


def test_ttl_policy_matches_reference():
    # reference cache.py:84-94: max-age (+ stale-while-revalidate),
    # 0 and over-ceiling both clamp to the 24 h ceiling.
    assert get_max_age("public, max-age=300") == 300
    assert calculate_ttl("max-age=300") == 300
    assert calculate_ttl("max-age=300, stale-while-revalidate=60") == 360
    assert calculate_ttl("") == 86_400
    assert calculate_ttl("no-store") == 86_400
    assert calculate_ttl("max-age=999999999") == 86_400


def test_redis_store_roundtrip_and_mapping_surface():
    clock = Clock()
    store = RedisCacheStore(FakeRedis(clock))
    e = CacheEntry(url="u", body={"v": 1}, etag='W/"a"', last_modified=None,
                   cache_control="max-age=60", fetched_at=clock())
    store["u"] = e
    assert store["u"].body == {"v": 1}
    assert store["u"].etag == 'W/"a"'
    assert "u" in store and len(store) == 1 and list(store) == ["u"]
    del store["u"]
    assert "u" not in store
    with pytest.raises(KeyError):
        store["u"]


def test_redis_ttl_expiry_is_a_cache_miss():
    clock = Clock()
    store = RedisCacheStore(FakeRedis(clock))
    store["u"] = CacheEntry(url="u", body={}, etag=None, last_modified=None,
                            cache_control="max-age=60", fetched_at=clock())
    clock.now += 59
    assert "u" in store
    clock.now += 2  # Redis evicts at ex=60
    assert "u" not in store


def test_conditional_fetcher_runs_on_redis_store():
    """The full state machine over the live-store seam: fresh hit
    without network, then Redis-side TTL eviction forces a clean
    refetch (an expired entry is indistinguishable from 'never
    cached' — the reference's set(ex=ttl) behavior)."""
    server = Server()
    clock = Clock()
    f = ConditionalFetcher(
        server.fetch,
        store=RedisCacheStore(FakeRedis(clock)),
        clock=clock,
        max_attempts=3,
        wait_initial=0.001,
    )
    server.responses = [
        (200, {"ETag": 'W/"a"', "Cache-Control": "max-age=60"}, {"v": 1}),
        (200, {"ETag": 'W/"b"', "Cache-Control": "max-age=60"}, {"v": 2}),
    ]
    assert run(f.get("u"))["v"] == 1
    clock.now += 30
    assert run(f.get("u"))["v"] == 1      # fresh, no network
    assert len(server.requests) == 1
    clock.now += 31                        # past ex=60 → evicted in Redis
    assert run(f.get("u"))["v"] == 2      # full refetch, unconditional
    assert "if-none-match" not in server.requests[1][1]


def test_connect_redis_import_gated():
    try:
        import redis  # noqa: F401
    except ImportError:
        from automated_data_pipeline_python_spark.ingest.cache_store import (
            connect_redis,
        )
        with pytest.raises(ImportError):
            connect_redis()
    else:  # pragma: no cover - environment-dependent
        from automated_data_pipeline_python_spark.ingest.cache_store import (
            connect_redis,
        )
        assert connect_redis("redis://localhost:6379/0") is not None
