"""Seeded TPC-H-ish star schema for the query workloads.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each at ``<dir>/<name>.parquet``, with the column names and types of
the repository's test data. Row counts follow that data's scale rule:
``sf`` 0.01 gives 1 500 customers, 15 000 orders, 60 000 line items and
10 000 events; documents and embeddings never drop below 500 rows.

The distributions follow that data as measured at sf 0.01 and 0.1:
money has two decimals, dates are whole days (1995-01-01 .. 2001-08-01
for orders), line items pick their order, part and supplier uniformly
(at sf 0.01 every supplier pair then shares at least 4 orders, as in
the test data), events span January 2024 at microsecond resolution,
exactly one document in 20 is an earlier document plus `` dup``
tokens (near duplicates), documents draw from a 30-word vocabulary,
and embeddings are 64-dim unit vectors whose 10 labels barely cluster
(mean cosine within a label a few hundredths at most, across labels 0). On this data
every query of ``iterative_analytics`` runs the same number of Spark
jobs as on the test data.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    us = rng.integers(lo, hi + 1, n).astype("int64") * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int) -> list[str]:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist()


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:  # near duplicate of one of the 19 docs before it
            base = texts[i - int(rng.integers(1, 20))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_pick(rng, WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    v = centers[labels] + rng.normal(scale=10.0, size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed % 2**63)  # numpy rejects negative seeds
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, STATUS, n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITY, n_ord),
    })
    l_order = rng.integers(0, n_ord, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(start + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_event_files(events: pa.Table, out_dir: str, n: int) -> None:
    """Split ``events`` (sorted by ``ts``) into ``n`` flat parquet files
    of consecutive rows, with modification times one second apart in
    that order, so a file-source stream reads them in event-time order
    and no row arrives behind the watermark."""
    os.makedirs(out_dir)
    step = -(-events.num_rows // n)
    t = time.time() - n
    for k in range(n):
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        pq.write_table(events.slice(k * step, step), path)
        os.utime(path, (t + k, t + k))
