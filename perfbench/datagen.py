"""Seeded generator for the ten bench tables the package's plans read.

The tables have the column names, types and value shapes of the repo's
bench corpus (a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), so every plan, report derivation and DuckDB oracle in the
package runs over them unchanged. Sizes follow the corpus's sf0.01 scale.
The same seed always yields byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at the corpus's sf0.01 scale; lineitem averages four lines
# per order and the three text/vector tables do not scale with sf
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "events": 10000, "documents": 500, "embeddings": 500}

_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
_COLOURS = ("small", "red", "blue", "green", "large", "steel", "brass", "black")
_THINGS = ("ring", "widget", "bolt", "gear", "valve", "pipe", "nut", "spring")
_EVENTS = ("view", "click", "error", "signup", "purchase")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_TS = pa.timestamp("us")


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def generate(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write ``{table}.parquet`` for all ten tables into ``out_dir`` and
    return their row counts. ``scale`` multiplies the star-schema sizes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = (
        max(1, int(SIZES[t] * scale))
        for t in ("customer", "supplier", "part", "orders"))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(_COLOURS)} {rng.choice(_THINGS)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(900 + (np.arange(n_part) % 1000) / 10)})

    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("P", "O", "F"), n_ord),
        "o_totalprice": _money(rng.uniform(1000, 500000, n_ord)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"),
                                _TS),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900, 2000, n_li)),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(("R", "A", "N"), n_li),
        "l_linestatus": rng.choice(("O", "F"), n_li),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"),
                               _TS)})

    n_ev = SIZES["events"]
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), _TS),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENTS, n_ev),
        "value": _money(rng.uniform(0, 20, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    tables["documents"] = _documents(rng, SIZES["documents"])
    tables["embeddings"] = _embeddings(rng, SIZES["embeddings"])

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; about one in twenty
    is an earlier document with `` dup`` appended, so the near-duplicate
    operators have clusters to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(rng.choice(_VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors scattered around ``k`` label centroids."""
    centroids = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    v = centroids[label] * 0.35 + rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
