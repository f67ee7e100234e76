"""Seeded table generators for the benchmark.

The tables the engine reads during a run are made here from ``--seed``:
the same seed gives byte-identical parquet files (the transaction
traffic is made by ``txgen``).  The tables follow the column names and
value ranges of the engine's TPC-H-like testdata layout (one parquet
file, one row group per table), so the registry queries run unchanged
against the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM")
PART_WORDS = ("large", "hot", "blue", "ring", "bolt", "steel", "green", "nut")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per table: adding a table never shifts the
    # values of another.
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def write_tables(out_dir: str, seed: int, sf: float,
                 names: tuple[str, ...]) -> None:
    """Write the named tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    makers = {
        "region": lambda: pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": lambda: pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": lambda: _customer(_rng(seed, "customer"), n_cust),
        "supplier": lambda: _supplier(_rng(seed, "supplier"), n_supp),
        "part": lambda: _part(_rng(seed, "part"), n_part),
        "orders": lambda: _orders(_rng(seed, "orders"), n_ord, n_cust),
        "lineitem": lambda: _lineitem(_rng(seed, "lineitem"), 4 * n_ord,
                                      n_ord, n_part, n_supp),
        "events": lambda: _events(_rng(seed, "events"), int(1_000_000 * sf),
                                  int(15_000 * sf)),
        "documents": lambda: _documents(_rng(seed, "documents"),
                                        int(50_000 * sf)),
        "embeddings": lambda: _embeddings(_rng(seed, "embeddings"),
                                          int(20_000 * sf)),
    }
    for name in names:
        _write(makers[name](), os.path.join(out_dir, f"{name}.parquet"))


def _customer(r, n):
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(r.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)]})


def _supplier(r, n):
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": r.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(r.uniform(-999.99, 9999.99, n))})


def _part(r, n):
    w = np.array(PART_WORDS)
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.char.add(np.char.add(w[r.integers(0, 8, n)], " "),
                              w[r.integers(0, 8, n)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n)],
        "p_size": r.integers(1, 51, n).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0})


def _orders(r, n, n_cust):
    days = r.integers(0, 2404, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": _money(r.uniform(900.0, 450_000.0, n)),
        "o_orderdate": EPOCH_1995 + days * DAY_US,
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)]})


def _lineitem(r, n, n_ord, n_part, n_supp):
    days = r.integers(1, 2500, n)
    return pa.table({
        "l_orderkey": r.integers(0, n_ord, n).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r.uniform(900.0, 105_000.0, n)),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n)],
        "l_shipdate": EPOCH_1995 + days * DAY_US})


def _events(r, n, n_users):
    offs = np.sort(r.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + offs, pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": _money(r.exponential(50.0, n)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


def _documents(r, n):
    """Documents over a 30-word vocabulary; 5% are near-copies of an
    earlier document (one ``dup`` token swapped in) and 0.2% are exact
    copies, so the dedup and similarity operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.05:
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = "dup"
        elif i > 10 and u < 0.052:
            words = texts[int(r.integers(0, i))].split()
        else:
            words = [WORDS[k] for k in r.integers(0, len(WORDS),
                                                  int(r.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(r, n, dim=64):
    labels = r.integers(0, 10, n)
    centers = r.normal(0.0, 1.0, (10, dim))
    v = centers[labels] * 0.5 + r.normal(0.0, 1.0, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
