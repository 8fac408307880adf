"""Seeded fixture generator for the benchmark.

Writes the ten tables the engine reads (``<name>.parquet`` under one
directory) with the schemas and value domains of the test fixtures
(FIXTURES.md): a TPC-H-like star schema, a 30-day ``events`` table,
a text corpus and 64-dim embeddings.  Row counts follow the scale
factor the way the test fixtures do (sf0.01 -> 60k lineitem, 10k
events).  Every table is one file with one row group, as the test
fixtures are written, because the engine's scan and cache sizing depend on it.

The same ``(seed, sf)`` always writes the same rows; the seed changes
every value, so different seeds give different inputs of equal size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "new", "red"]
P_NOUN = ["ring", "bolt", "plate", "gear", "screw", "widget", "pin", "cap"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return os.path.getsize(path)


def _day_us(day: str) -> int:
    return int(np.datetime64(day).astype("datetime64[us]").astype("int64"))


def generate(out: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table at scale ``sf``; returns bytes per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    sizes: dict[str, int] = {}

    sizes["region"] = _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    sizes["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    sizes["customer"] = _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sizes["supplier"] = _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), n_part)]
    sizes["part"] = _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })

    base = _day_us("1995-01-01")
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    odate = rng.integers(0, span_days + 1, n_orders)
    sizes["orders"] = _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n_cust, 1), n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts(base + odate * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), per_order)
    n_li = okey.size
    lineno = np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    ship = np.repeat(odate, per_order) + rng.integers(1, 96, n_li)
    order = rng.permutation(n_li)  # the test fixtures' lineitem is not key-ordered
    sizes["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": pa.array(okey[order], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(n_part, 1), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(n_supp, 1), n_li), pa.int64()),
        "l_linenumber": pa.array(lineno[order].astype("int32")),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(base + ship * US_PER_DAY),
    })

    # time-ordered over 30 days, about 66 events per user
    sizes["events"] = _write(out, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(_day_us("2024-01-01") + np.sort(rng.integers(0, 30 * US_PER_DAY, n_events))),
        "user_id": pa.array(rng.integers(0, max(n_events // 66, 15), n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 350.0, n_events), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    lengths = rng.integers(10, 101, n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]
    sizes["documents"] = _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    v = rng.normal(0.0, 1.0, (n_emb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.astype("float32").reshape(-1), pa.float32()), 64
    ).cast(pa.list_(pa.float32()))
    sizes["embeddings"] = _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n_emb).astype("int32")),
    })
    return sizes
