"""Seeded benchmark inputs, written as parquet before anything is timed.

Two generators, both pure numpy + pyarrow so the program under test only
ever reads the files:

- :func:`write_flagship_graph` — an undirected graph with heavy-tailed
  degrees and planted clusters (Chung-Lu edges, mostly within a
  cluster, over a random spanning tree per cluster so every vertex has
  an edge and ids are contiguous ``0..n-1``).
- :func:`write_tables` — the star schema plus ``events``,
  ``documents`` and ``embeddings`` tables that the registry queries in
  ``graphem_rapids_spark.queries`` read, with the same column names,
  types and value vocabularies as the shipped sf tables. ``scale``
  plays the role of the sf factor (``scale=0.01`` ≈ 60k lineitems).

The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    # one row group, fixed writer options: the file bytes depend only
    # on the data
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def flagship_edges(seed: int, n: int, avg_degree: float, n_clusters: int,
                   p_in: float = 0.9, tail: float = 2.2) -> np.ndarray:
    """Canonical (src < dst), distinct, sorted int64 edge array of shape
    (m, 2) on vertices 0..n-1."""
    rng = np.random.default_rng(seed)
    cluster = rng.integers(0, n_clusters, n)
    weight = rng.pareto(tail - 1.0, n) + 1.0
    members = [np.flatnonzero(cluster == c) for c in range(n_clusters)]
    parts = []
    # spanning tree inside each cluster (vertex i attaches to a random
    # earlier member) plus a chain across clusters: connected, no
    # isolated vertex
    for mem in members:
        if len(mem) > 1:
            parent = mem[(rng.random(len(mem) - 1) * np.arange(1, len(mem))).astype(np.int64)]
            parts.append(np.stack([mem[1:], parent], axis=1))
    heads = [mem[0] for mem in members if len(mem)]
    parts.append(np.stack([heads[1:], heads[:-1]], axis=1))
    # Chung-Lu edges: both endpoints weight-proportional, the second
    # drawn from the first's cluster with probability p_in
    m_extra = int(n * avg_degree / 2)
    src = rng.choice(n, m_extra, p=weight / weight.sum())
    dst = rng.choice(n, m_extra, p=weight / weight.sum())
    local = rng.random(m_extra) < p_in
    for c, mem in enumerate(members):
        pick = np.flatnonzero(local & (cluster[src] == c))
        if len(pick) and len(mem):
            w = weight[mem]
            dst[pick] = rng.choice(mem, len(pick), p=w / w.sum())
    parts.append(np.stack([src, dst], axis=1))
    e = np.concatenate(parts).astype(np.int64)
    lo, hi = np.minimum(e[:, 0], e[:, 1]), np.maximum(e[:, 0], e[:, 1])
    keep = lo < hi
    key = np.unique(lo[keep] * n + hi[keep])
    return np.stack([key // n, key % n], axis=1)


def write_flagship_graph(path: str, seed: int, n: int = 4000, avg_degree: float = 8.0,
                         n_clusters: int = 8) -> tuple[int, int]:
    """Write ``edges.parquet`` (src, dst) under ``path``; returns (n, m)."""
    e = flagship_edges(seed, n, avg_degree, n_clusters)
    os.makedirs(path, exist_ok=True)
    _write(pa.table({"src": e[:, 0], "dst": e[:, 1]}), os.path.join(path, "edges.parquet"))
    return n, len(e)


_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_WORDS = ("row the query stream fast spark line small customer group value hash batch "
          "sort data big filter key agg scan slow table part a merge window order "
          "column join vector").split()


def _ts(rng, n, start: datetime, days: int, whole_days: bool) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    if whole_days:
        off = rng.integers(0, days, n) * _DAY_US
    else:
        off = rng.integers(0, days * _DAY_US, n)
    return pa.array((base + off).astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(path: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write the ten registry tables under ``path``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)
    n_cust = max(int(150_000 * scale), 30)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 300)
    n_evt = max(int(1_000_000 * scale), 1000)
    n_user = max(int(15_000 * scale), 15)
    n_doc = max(int(50_000 * scale), 500)
    n_vec = max(int(20_000 * scale), 500)
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng, n_ord, datetime(1995, 1, 1), 2404, True),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = np.minimum(rng.poisson(4.0, n_ord), 13)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(rng, n_li, datetime(1995, 1, 2), 2498, True),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(rng, n_evt, datetime(2024, 1, 1), 30, False),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_evt),
        "value": _money(rng, 0.01, 490.02, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_vec)
    vec = centers[label] + rng.normal(0.0, 0.8, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    for name, table in t.items():
        _write(table, os.path.join(path, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
