"""Seeded TPC-H-shaped tables for the benchmark.

The tables have the schema ``graphlite_spark.datasets.tpch.tpch_graph``
reads (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings) and the value domains the analytic GQL
entries in ``__spark_entry__`` filter on. Sizes scale with ``scale``
the way TPC-H does: ``scale=0.01`` gives 1,500 customers, 15,000 orders
and about 64,000 lineitems. The same seed and scale give the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PNAMES = ["small ring", "red widget", "blue bolt", "green gear", "steel pin"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = ("a the key agg row scan slow fast table value part hash join "
          "small line customer query data column window filter batch").split()

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH_US = 788_918_400 * 1_000_000  # 1995-01-01
_ORDER_SPAN_DAYS = 2404  # through 2001-08-01
_EVENT_EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table (lineitem varies: 1-13 lines per order)."""
    base = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "events": 1_000_000, "users": 15_000,
            "documents": 50_000}
    return {k: max(5, int(v * scale)) for k, v in base.items()}


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_ev, n_users, n_docs = n["orders"], n["events"], n["users"], n["documents"]

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(_PNAMES)[rng.integers(0, len(_PNAMES), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(900.0 + (np.arange(n_part) % 1000) * 0.1),
    })
    o_day = rng.integers(0, _ORDER_SPAN_DAYS, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_ORDER_EPOCH_US + o_day * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    # mostly 1-7 lines, a few long orders so q18's quantity > 300 matches
    lines_per = np.where(rng.random(n_ord) < 0.03,
                         rng.integers(8, 14, n_ord), rng.integers(1, 8, n_ord))
    l_order = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(l_order)
    starts = np.cumsum(lines_per) - lines_per
    l_linenumber = np.arange(n_li) - np.repeat(starts, lines_per) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            _ORDER_EPOCH_US + rng.integers(1, _ORDER_SPAN_DAYS + 95, n_li) * _DAY_US,
            pa.timestamp("us"),
        ),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EVENT_EPOCH_US + ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng.uniform(0.01, 490.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))])
             for k in rng.integers(10, 60, n_docs)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_docs, 16)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 3, n_docs), pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write one parquet file per table under ``out_dir``; return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
