"""Seeded generator for the benchmark's input tables.

Writes one Parquet file per table, in the same column layout as the
repository's fixture tables (TPC-H-shaped star schema plus ``events``,
``documents`` and ``embeddings``), so every plan and every statement of
the benchmark runs unchanged on them.  The same seed and scale always
give byte-identical inputs; the benchmark never reads data from outside
its own run directory.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at each scale; "sf0.1" matches the fixture sizes
# (lineitem 600k rows / ~10.8 MB, orders 150k, events 100k)
SCALES: dict[str, dict[str, int]] = {
    "sf0.1": {"customer": 15000, "supplier": 1000, "part": 20000,
              "orders": 150000, "lineitem": 600000, "events": 100000,
              "documents": 5000, "embeddings": 2000},
    # curation_batch: small enough for several passes per measured run
    "curation": {"customer": 1500, "supplier": 100, "part": 2000,
                 "orders": 15000, "lineitem": 60000, "events": 1000,
                 "documents": 300, "embeddings": 500},
    "sf0.001": {"customer": 150, "supplier": 10, "part": 200,
                "orders": 1500, "lineitem": 6000, "events": 1000,
                "documents": 100, "embeddings": 200},
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "view"]
WORDS = ("a agg batch big column data fast filter group hash key line "
         "merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]

DATE_LO = datetime(1992, 1, 1)
DATE_DAYS = 7 * 365
EVENTS_T0 = datetime(2024, 1, 1)
EVENTS_SPAN_S = 7 * 24 * 3600
N_USERS = 2000


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    us = rng.integers(0, DATE_DAYS, n).astype("int64") * 86_400_000_000
    base = int(DATE_LO.timestamp()) * 1_000_000
    return pa.array(us + base, pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _str(values) -> pa.Array:
    return pa.array(values, pa.string())


def event_rows(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    """``events`` rows for the given ids; the writer of the
    ``ingest_and_read`` workload draws its micro-batches from here too."""
    n = len(ids)
    ts = (int(EVENTS_T0.timestamp()) * 1_000_000
          + rng.integers(0, EVENTS_SPAN_S * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": _str(np.array(EVENT_TYPES)[rng.integers(0, 4, n)]),
        "value": pa.array(_cents(rng, 0, 500, n), pa.float64()),
        "props": _str([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(12, 60))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": _str(texts),
        "lang": _str(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": _str([f"src{k}" for k in rng.integers(0, 4, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0, 1, (8, dim))
    label = rng.integers(0, 8, n)
    vec = centers[label] + rng.normal(0, 0.6, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def generate(out_dir: str, seed: int, scale: str) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    sizes = SCALES[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_li = sizes["orders"], sizes["lineitem"]
    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _str(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": _str([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _str([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_cents(rng, -999, 9999, n_cust)),
            "c_mktsegment": _str(np.array(SEGMENTS)[
                rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _str([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_cents(rng, -999, 9999, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _str([f"{rng.choice(WORDS)} {rng.choice(WORDS)}"
                            for _ in range(n_part)]),
            "p_brand": _str([f"Brand#{k}" for k in
                             rng.integers(1, 26, n_part)]),
            "p_type": _str(np.array(["ECONOMY", "LARGE", "MEDIUM", "SMALL",
                                     "STANDARD"])[rng.integers(0, 5, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(_cents(rng, 900, 2000, n_part))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _str(np.array(["F", "O", "P"])[
                rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_cents(rng, 800, 500000, n_ord)),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": _str(np.array(PRIORITIES)[
                rng.integers(0, 5, n_ord)])}),
    }
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _cents(rng, 900, 2000,
                                                          n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _str(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": _str(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, n_li),
    })
    tables["events"] = event_rows(rng, np.arange(sizes["events"]))
    tables["documents"] = _documents(rng, sizes["documents"])
    tables["embeddings"] = _embeddings(rng, sizes["embeddings"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
