"""Scale-ladder fixture generator — synthetic sf1 (10x the driver's
sf0.1) so the 100-TB scaling claims get a measured two-point curve
instead of design prose (VERDICT r6 #1).

The driver fixtures (``/root/testdata/sf*``) are read-only, so the
ladder lands under the repo: ``scaledata/sf1`` (gitignored
— the generator is the artifact, the parquet is reproducible).
Deterministic: numpy PCG64 seeded per-table, so every run writes
byte-stable logical content.

Distributions mirror the measured sf0.1 fixtures (inspected via
DuckDB, round 7) so every headline query runs with the same
selectivities at 10x the rows:

- lineitem  6 000 000 rows, orders avg 4 lines (1-7), shipdate =
  orderdate + U(1, 95) days, qty U(1, 50), price U(900, 105 000),
  discount {0 .. 0.1}, tax {0 .. 0.08}, flags A/N/R x F/O
- orders    1 500 000 rows over 1995-01-01 .. 2001-08-01
- customer  150 000 / supplier 10 000 / part 200 000 (8x8 name
  combos, 25 brands, 6 types, size 1-50, retailprice 900 + k/10)
- events    1 000 000 rows / 15 000 users / 30 days of 2024-01,
  5 event types, value ~ |N| * scale, props '{"k": N}'
- documents 50 000 docs, 10-100 words from the fixtures' uniform
  30-word vocabulary (+ rare 'dup' token), langs en 41% / 4 x ~15%,
  20 sources — PLUS a planted duplicate cluster: the last 10% of
  docs are copies (half exact, half truncated by 2 words) of
  templates drawn from the first 1%, giving the dedup family real
  duplicate mass to chew on (VERDICT r6 #7 skew-stress)
- embeddings 20 000 x 64-dim unit-norm float32, labels 0-9, last 1%
  near-copies (1e-3 noise) of the first vectors for embed-dedup

Every big table is written with explicit ``row_group_size`` so scans
split across cores — a single-row-group parquet serializes every
explode-heavy stage downstream (memory: single-rowgroup-fixtures).

Usage: ``python tools/gen_scale.py [--sf N] [--out DIR]``
"""

from __future__ import annotations

import argparse
import json
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
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "view", "scroll", "signup", "purchase", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "new", "red"]
P_NOUN = ["ring", "bolt", "plate", "gear", "screw", "wheel", "pin", "cap"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _ts_us(days_us: np.ndarray) -> pa.Array:
    return pa.array(days_us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _write(path: str, table: pa.Table, row_group_size: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


def gen_region_nation(out: str) -> None:
    _write(
        os.path.join(out, "region.parquet"),
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        16,
    )
    _write(
        os.path.join(out, "nation.parquet"),
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array(NATIONS),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        32,
    )


def gen_customer(out: str, n: int) -> None:
    rng = np.random.default_rng(4201)
    _write(
        os.path.join(out, "customer.parquet"),
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
                "c_acctbal": pa.array(
                    np.round(rng.uniform(-1000, 10000, n), 2), pa.float64()
                ),
                "c_mktsegment": pa.array(
                    np.array(SEGMENTS)[rng.integers(0, 5, n)]
                ),
            }
        ),
        65536,
    )


def gen_supplier(out: str, n: int) -> None:
    rng = np.random.default_rng(4202)
    _write(
        os.path.join(out, "supplier.parquet"),
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
                "s_acctbal": pa.array(
                    np.round(rng.uniform(0, 10000, n), 2), pa.float64()
                ),
            }
        ),
        65536,
    )


def gen_part(out: str, n: int) -> None:
    rng = np.random.default_rng(4203)
    adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), n)]
    noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), n)]
    _write(
        os.path.join(out, "part.parquet"),
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n), pa.int64()),
                "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
                "p_brand": pa.array(
                    [f"Brand#{k}" for k in rng.integers(1, 26, n)]
                ),
                "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n)]),
                "p_size": pa.array(rng.integers(1, 51, n).astype("int32")),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
                    pa.float64(),
                ),
            }
        ),
        65536,
    )


def gen_orders_lineitem(
    out: str, n_orders: int, n_cust: int, n_part: int, n_supp: int
) -> int:
    rng = np.random.default_rng(4204)
    base = np.datetime64("1995-01-01").astype("datetime64[us]").astype("int64")
    span_days = (
        np.datetime64("2001-08-01") - np.datetime64("1995-01-01")
    ).astype("int64")
    odate_day = rng.integers(0, span_days + 1, n_orders)
    _write(
        os.path.join(out, "orders.parquet"),
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
                "o_orderstatus": pa.array(
                    np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]
                ),
                "o_totalprice": pa.array(
                    np.round(rng.uniform(1000, 500000, n_orders), 2),
                    pa.float64(),
                ),
                "o_orderdate": _ts_us(base + odate_day * US_PER_DAY),
                "o_orderpriority": pa.array(
                    np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]
                ),
            }
        ),
        262144,
    )

    lines_per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines_per_order)
    odate_rep = np.repeat(odate_day, lines_per_order)
    n_li = okey.size
    lineno = (
        np.arange(n_li) - np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order) + 1
    )
    ship_day = odate_rep + rng.integers(1, 96, n_li)
    _write(
        os.path.join(out, "lineitem.parquet"),
        pa.table(
            {
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
                "l_linenumber": pa.array(lineno.astype("int32")),
                "l_quantity": pa.array(
                    rng.integers(1, 51, n_li).astype("float64")
                ),
                "l_extendedprice": pa.array(
                    np.round(rng.uniform(900, 105000, n_li), 2), pa.float64()
                ),
                "l_discount": pa.array(
                    np.round(rng.integers(0, 11, n_li) / 100.0, 2)
                ),
                "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
                "l_returnflag": pa.array(
                    np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
                ),
                "l_linestatus": pa.array(
                    np.array(["F", "O"])[rng.integers(0, 2, n_li)]
                ),
                "l_shipdate": _ts_us(base + ship_day * US_PER_DAY),
            }
        ),
        524288,
    )
    return n_li


def gen_events(out: str, n: int, n_users: int) -> None:
    rng = np.random.default_rng(4205)
    base = np.datetime64("2024-01-01").astype("datetime64[us]").astype("int64")
    # sorted timestamps over 30 days (the driver fixture is
    # time-ordered, which is what row-group min/max pruning feeds on)
    off = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    _write(
        os.path.join(out, "events.parquet"),
        pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": _ts_us(base + off),
                "user_id": pa.array(rng.integers(0, n_users, n)),
                "event_type": pa.array(
                    np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
                ),
                "value": pa.array(
                    np.round(np.abs(rng.normal(0, 120, n)), 2), pa.float64()
                ),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
                ),
            }
        ),
        131072,
    )


def gen_documents(out: str, n: int, dup_frac: float = 0.10) -> None:
    rng = np.random.default_rng(4206)
    vocab = np.array(VOCAB + ["dup"])
    # ~uniform over the 30 real words; 'dup' rare (mirrors the fixture)
    p = np.full(31, 1.0 / 30.0)
    p[30] = 0.0005
    p /= p.sum()
    n_base = n - int(n * dup_frac)
    lengths = rng.integers(10, 101, n_base)
    flat = vocab[rng.choice(31, lengths.sum(), p=p)]
    bounds = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(flat, bounds)]
    # planted duplicate mass: the tail 10% copies templates from the
    # head 1% — half exact, half with the last 2 words dropped (the
    # same mutation the dedup family's injected near-copies use), so
    # LSH buckets / CC components see real cluster sizes (~11 docs)
    n_dup = n - n_base
    tmpl_ids = rng.integers(0, max(n_base // 100, 1), n_dup)
    dup_texts = []
    for j, t in enumerate(tmpl_ids):
        words = texts[t].split(" ")
        if j % 2 == 0:
            dup_texts.append(texts[t])
        else:
            dup_texts.append(" ".join(words[: max(len(words) - 2, 1)]))
    texts.extend(dup_texts)
    langs = np.array(LANGS)[rng.choice(5, n, p=LANG_P)]
    _write(
        os.path.join(out, "documents.parquet"),
        pa.table(
            {
                "doc_id": pa.array(np.arange(n), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array([f"src{i % 20}" for i in range(n)]),
                "n_chars": pa.array(
                    np.array([len(t) for t in texts]), pa.int64()
                ),
            }
        ),
        4096,
    )


def gen_embeddings(out: str, n: int, dim: int = 64) -> None:
    rng = np.random.default_rng(4207)
    v = rng.normal(0, 1, (n, dim))
    n_dup = n // 100
    # last 1%: near-copies of the first vectors (embed-dedup mass)
    v[n - n_dup :] = v[:n_dup] + rng.normal(0, 1e-3, (n_dup, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v32 = v.astype("float32")
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v32.reshape(-1), pa.float32()), dim
    ).cast(pa.list_(pa.float32()))
    _write(
        os.path.join(out, "embeddings.parquet"),
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": emb,
                "label": pa.array(rng.integers(0, 10, n).astype("int32")),
            }
        ),
        2048,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0, help="scale factor (1.0 = 10x the driver's sf0.1)")
    ap.add_argument("--out", default=None, help="output dir (default scaledata/sf<sf>)")
    args = ap.parse_args()
    sf = args.sf
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = args.out or os.path.join(
        repo, "scaledata", f"sf{sf:g}"
    )
    os.makedirs(out, exist_ok=True)

    n_cust = int(1_500_000 * sf) // 10
    n_supp = int(100_000 * sf) // 10
    n_part = int(2_000_000 * sf) // 10
    n_orders = int(15_000_000 * sf) // 10
    n_events = int(10_000_000 * sf) // 10
    n_users = int(150_000 * sf) // 10
    n_docs = int(500_000 * sf) // 10
    n_emb = int(200_000 * sf) // 10

    gen_region_nation(out)
    gen_customer(out, n_cust)
    gen_supplier(out, n_supp)
    gen_part(out, n_part)
    n_li = gen_orders_lineitem(out, n_orders, n_cust, n_part, n_supp)
    gen_events(out, n_events, n_users)
    gen_documents(out, n_docs)
    gen_embeddings(out, n_emb)

    sizes = {
        f: round(os.path.getsize(os.path.join(out, f)) / 1e6, 1)
        for f in sorted(os.listdir(out))
    }
    print(
        json.dumps(
            {
                "out": out,
                "sf": sf,
                "rows": {
                    "customer": n_cust,
                    "supplier": n_supp,
                    "part": n_part,
                    "orders": n_orders,
                    "lineitem": n_li,
                    "events": n_events,
                    "documents": n_docs,
                    "embeddings": n_emb,
                },
                "mb": sizes,
            }
        )
    )


if __name__ == "__main__":
    main()
