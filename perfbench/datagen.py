"""Deterministic synthetic input tables for the benchmark.

Writes the ten parquet tables the engine's catalog reads (a TPC-H-ish
star schema, an `events` stream, a `documents` corpus and an
`embeddings` table) at the row counts of scale factor 0.01. The tables
depend only on ``DATA_SEED``, never on the workload seed, so the
pinned expected outputs in ``expected.json`` hold for every run.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.01
N_DOCS = 500
N_VECS = 500
DIM = 64

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("red", "new", "hot", "small", "cold", "large", "old", "blue")
_PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut")
_PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo) / np.timedelta64(1, "D"))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i % 20 == 11 and i > 0:
            # one near-duplicate in twenty: an earlier document plus a token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, n)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(_LANGS, N_DOCS, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.07 * centers[labels] + rng.normal(size=(N_VECS, DIM)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * SF), int(10_000 * SF)
    n_part, n_ord = int(200_000 * SF), int(1_500_000 * SF)
    n_li, n_ev = int(6_000_000 * SF), int(1_000_000 * SF)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": list(rng.choice(_SEGMENTS, n_cust))})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": list(rng.choice(("O", "F", "P"), n_ord)),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord))})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(rng.choice(("N", "R", "A"), n_li)),
        "l_linestatus": list(rng.choice(("F", "O"), n_li)),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": list(rng.choice(_EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write(dest: str) -> None:
    """Write every table to ``dest/<name>.parquet``."""
    os.makedirs(dest, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1])
