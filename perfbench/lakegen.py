"""Deterministic lake corpus for the query and curation workloads.

Writes the ten tables the engine's catalog reads (``tables.TABLE_NAMES``)
as one parquet file each, with the same column names and physical types
as the engine's driver corpora: a TPC-H-like star schema, an ``events``
stream, a ``documents`` text corpus with near-duplicates (an earlier
document plus `` dup``) and exact copies, and 64-d unit ``embeddings``
clustered by label.

The corpus is fixed (``LAKE_SEED``); the workload seed only orders the
query mix. Sizes match the smallest driver corpus (6,000 lineitems,
500 documents), where every query's time is mostly scheduling and
planning, so a full pass of the 28-query mix fits in one benchmark run;
the document count can be raised (the funnel uses 5,000, sf0.1's).

Run ``python3 perfbench/lakegen.py <out_dir> [documents]`` to write it
by hand; the benchmark writes one into its work directory every run
(well under a second).
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 42

SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "event_users": 15,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.002


def _micros(day: str) -> int:
    return int((np.datetime64(day) - np.datetime64("1970-01-01")) // np.timedelta64(1, "us"))


def _ts(rng: np.random.Generator, n: int, lo: str, hi: str, days: bool) -> pa.Array:
    a, b = _micros(lo), _micros(hi)
    v = rng.integers(a, b, n)
    if days:
        v -= v % 86_400_000_000
    return pa.array(v, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def build_tables(seed: int, documents: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = {**SIZES, "documents": documents}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = s["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, 0, 10000),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
        ),
    })
    n = s["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, 0, 10000),
    })
    n = s["part"]
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": [900 + (i % 1000) / 10 for i in range(n)],
    })
    n = s["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _ts(rng, n, "1995-01-01", "2001-08-02", days=True),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    })
    n = s["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(rng, n, "1995-01-01", "2001-11-05", days=True),
    })
    n = s["events"]
    ts = np.sort(_ts(rng, n, "2024-01-01", "2024-01-31", days=False).to_numpy())
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["event_users"], n), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = s["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < NEAR_DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < NEAR_DUP_RATE + EXACT_DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    n = s["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_lake(out_dir: str, documents: int = SIZES["documents"]) -> None:
    """Write the corpus to ``out_dir`` atomically (temp dir, then rename)."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(LAKE_SEED, documents).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    try:
        os.rename(tmp, out_dir)
    except OSError:  # another run finished first
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    write_lake(sys.argv[1], *map(int, sys.argv[2:3]))
