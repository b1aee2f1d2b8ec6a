"""Seeded inputs for the benchmark, written with NumPy and pyarrow only.

The engine never generates its own benchmark inputs, so a change to the
engine's generators cannot move a measurement.

- ``write_star(out_dir)`` writes the TPC-H-ish star schema plus the events,
  documents and embeddings tables that the query catalog reads, one parquet
  file each, with the schemas and value domains of the catalog's test
  fixtures. Its generator seed is fixed (``STAR_SEED``) because the committed
  result digests of the catalog entries are taken over exactly these tables.
- ``write_etl_batch(out_dir, seed, ...)`` writes the three CSV inputs of one
  nightly ETL batch from the run's seed.
"""

from __future__ import annotations

import csv
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_SEED = 42
STAR_SF = 0.002  # lineitem rows = 6,000,000 x STAR_SF

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMB_DIM = 64

# nightly ETL CSV domains (the reference generators' value sets)
STORES = ["online", "store_A", "store_B", "mobile_app"]
PAYMENTS = ["credit_card", "paypal", "cash", "bank_transfer"]
CUST_SEGMENTS = ["A", "B", "C", "D"]
CATEGORIES = [
    "Electronics", "Books", "Clothing", "Home Goods",
    "Groceries", "Outdoors", "Toys", "Beauty",
]
ETL_ANCHOR = datetime(2025, 6, 30, 12, 0, 0)


def _ts(days_from: datetime, days: np.ndarray, secs: np.ndarray | None = None):
    base = np.datetime64(days_from, "us")
    out = base + days.astype("timedelta64[D]").astype("timedelta64[us]")
    if secs is not None:
        out = out + secs.astype("timedelta64[us]")
    return pa.array(out, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_tables(seed: int = STAR_SEED, sf: float = STAR_SF) -> dict[str, dict]:
    """Column dicts of the ten catalog tables (deterministic in seed, sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ord = max(10, int(10_000 * sf)), int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    }
    o_days = rng.integers(0, 2404, n_ord)
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(datetime(1995, 1, 1), o_days),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.9, 2.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(datetime(1995, 1, 1), o_days[okey] + rng.integers(1, 122, n_li)),
    }
    gaps = rng.exponential(260.0, n_events).cumsum()
    t["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(datetime(2024, 1, 1), np.zeros(n_events, np.int64), (gaps * 1e6).astype(np.int64)),
        "user_id": rng.integers(0, max(2, n_cust), n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    }
    n_docs = 500
    texts = []
    for i in range(n_docs):
        if i % 25 == 24:  # near-duplicates of an earlier document
            words = texts[i - 24].split()
            words[rng.integers(0, len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100))))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    t["embeddings"] = embedding_rows(rng, 0, 500)
    return t


def embedding_rows(rng: np.random.Generator, start: int, n: int) -> dict:
    """Unit vectors around ten label centres (clustered, as ANN inputs are)."""
    centres = np.random.default_rng(7).normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(scale=0.9, size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(start, start + n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def write_star(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in star_tables().items():
        _write(out_dir, name, cols)


def etl_batch(seed: int, n_txn: int, days: int, n_cust: int = 2_000, n_prod: int = 900):
    """Rows of one nightly batch: (transactions, products, customers).

    Every 500th transaction carries an unparseable timestamp, which the
    ingest step drops; customer and product ids are drawn wider than the
    dimensions, so some fact rows have no dimension match."""
    rng = np.random.default_rng(seed)
    secs = rng.integers(0, days * 24 * 3600, n_txn)
    ts = [(ETL_ANCHOR - timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S") for s in secs]
    for i in range(499, n_txn, 500):
        ts[i] = "not-a-date"
    price_cents = rng.integers(500, 50001, n_txn)
    txns = zip(
        (f"t{seed}-{i}" for i in range(n_txn)),
        rng.integers(1000, 50001, n_txn).tolist(),
        (f"PROD{p}" for p in rng.integers(100, 1000, n_txn)),
        ts,
        rng.integers(1, 11, n_txn).tolist(),
        (f"{c // 100}.{c % 100:02d}" for c in price_cents),
        (STORES[i] for i in rng.integers(0, 4, n_txn)),
        (PAYMENTS[i] for i in rng.integers(0, 4, n_txn)),
    )
    prod_ids = rng.permutation(np.arange(100, 1000))[:n_prod]
    prods = [
        (f"PROD{p}", f"Product {p}", CATEGORIES[(p * 7 + seed) % 8].swapcase() if p % 50 == 0
         else CATEGORIES[(p * 7 + seed) % 8], f"Brand {p % 37}", f"{(p % 200) / 10 + 0.1:.2f}")
        for p in prod_ids.tolist()
    ]
    cust_ids = rng.choice(np.arange(1000, 50001), n_cust, replace=False)
    custs = [
        (c, f"Customer {c}", f"c{c}@example.com", f"City {c % 97}", f"Country {c % 13}",
         f"2025-{1 + c % 12:02d}-{1 + c % 28:02d}", "" if c % 41 == 0 else CUST_SEGMENTS[c % 4])
        for c in cust_ids.tolist()
    ]
    return list(txns), prods, custs


TXN_HEADER = ["transaction_id", "customer_id", "product_id", "transaction_timestamp",
              "quantity", "price", "store_location", "payment_method"]
PROD_HEADER = ["product_id", "product_name", "product_category", "product_brand",
               "product_weight_kg"]
CUST_HEADER = ["customer_id", "customer_name", "customer_email", "customer_city",
               "customer_country", "registration_date", "customer_segment"]


def write_etl_batch(out_dir: str, seed: int, n_txn: int, days: int):
    """Write the batch as three CSV directories; returns (paths, rows)."""
    rows = etl_batch(seed, n_txn, days)
    paths = []
    for name, header, data in zip(
        ("transactions", "products", "customers"), (TXN_HEADER, PROD_HEADER, CUST_HEADER), rows
    ):
        d = os.path.join(out_dir, f"{name}_csv")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(data)
        paths.append(d)
    return tuple(paths), rows
