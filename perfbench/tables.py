"""Seeded generator of the analytic tables the query inventory reads.

Writes the ten parquet tables of ``sources.readers.TABLES`` (a
TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``) with the column names, types, value domains and row
counts per scale factor of the engine's test corpus, so the benchmark
needs no data from outside its own checkout. Columns are independent
uniform draws, as in that corpus; 5% of documents are planted
near-duplicates (a copy of an earlier document plus one token).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at sf=1; the corpus scales every table but the two dimensions linearly
_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMBEDDING_DIM = 64


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def build_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {name: max(1, round(rows * sf)) for name, rows in _ROWS_SF1.items()}
    i64 = lambda k: pa.array(np.arange(n[k], dtype=np.int64))  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(_REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": i64("customer"),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64("supplier"),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        }
    )
    names = tuple(f"{a} {b}" for a in _ADJECTIVES for b in _NOUNS)
    out["part"] = pa.table(
        {
            "p_partkey": i64("part"),
            "p_name": _pick(rng, names, n["part"]),
            "p_brand": _pick(rng, tuple(f"Brand#{i}" for i in range(1, 26)), n["part"]),
            "p_type": _pick(rng, _TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n["part"]) % 1000) / 10.0),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": i64("orders"),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"], dtype=np.int64)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n["orders"]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n["orders"])),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n["orders"])),
            "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], m, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, m, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, m)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), m),
            "l_linestatus": _pick(rng, ("F", "O"), m),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", m)),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e))
    out["events"] = pa.table(
        {
            "event_id": i64("events"),
            "ts": pa.array(start + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, e, dtype=np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, e),
            "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    d = n["documents"]
    texts = [" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)]) for k in rng.integers(10, 101, d)]
    for i in np.flatnonzero(rng.random(d) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": i64("documents"),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, d, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(d)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    v = n["embeddings"]
    labels = rng.integers(0, 10, v, dtype=np.int32)
    centroids = rng.normal(0.0, 0.07, (10, EMBEDDING_DIM))
    x = rng.normal(0.0, 1.0, (v, EMBEDDING_DIM)) + centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": i64("embeddings"),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    return out


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
