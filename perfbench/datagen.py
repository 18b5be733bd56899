"""Seeded generator for the star-schema tables the TPC-H suite reads.

Produces the ten tables of the repo's synthetic sf layout (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the same column names, types and value domains as the
`suite_tpch` queries expect (``NATION_<k>``, ``Brand#<k>``, six part
types, 1995-2001 dates, ...). Row counts scale with ``sf`` the way TPC-H
does (lineitem = 6M x sf). The same (seed, sf) always writes the same
files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()

_EPOCH = dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days_ts(start: dt.datetime, days: np.ndarray) -> pa.Array:
    return pa.array(_us(start) + days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _labels(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()], pa.string())


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), pa.int32()), pa.array(values)
    ).cast(pa.string())


def generate(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write one parquet file per table under ``out_dir``; return
    ``{table: path}``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 25)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = int(50_000 * sf)
    n_vec = int(20_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _labels("Customer#", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _labels("Supplier#", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-07-31
    t["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days_ts(dt.datetime(1995, 1, 1), order_day),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    l_order = rng.integers(0, n_ord, n_li)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days_ts(dt.datetime(1995, 1, 1), ship_day),
        }
    )
    evt_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": pa.array(_us(dt.datetime(2024, 1, 1)) + evt_us, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(60.0, n_evt), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt).tolist()]
            ),
        }
    )
    lens = rng.integers(8, 90, n_docs)
    word_ids = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, off = [], 0
    for n in lens.tolist():
        texts.append(" ".join(WORDS[w] for w in word_ids[off : off + n]))
        off += n
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs),
            "source": _pick(rng, [f"src{k}" for k in range(20)], n_docs),
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32) * 0.1
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in TABLES:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t[name], paths[name])
    return paths
