"""``curation_batch``: curation plans run in process, no service layer.

Each plan runs as ``REGISTRY[name].build(spark, data_dir).toArrow()``.
Expected row counts come from each plan's DuckDB oracle over the same
Parquet; ``sim_ann_ivf_topk`` has none and returns top-10 neighbours
for every query vector (``vec_id % 100 == 0``).
"""

from __future__ import annotations

import os
import time

import duckdb

PLANS = ["dedup_minhash_lsh", "sim_ann_ivf_topk",
         "graph_pagerank_supply_chain", "pipeline_end_to_end"]
TABLES = ["documents", "embeddings", "lineitem"]


def expected_rows(data_dir: str, n_embeddings: int) -> dict[str, int]:
    from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        out = {name: con.execute(
                   f"SELECT count(*) FROM ({REGISTRY[name].oracle})"
               ).fetchone()[0]
               for name in PLANS if REGISTRY[name].oracle is not None}
    finally:
        con.close()
    out["sim_ann_ivf_topk"] = 10 * len(range(0, n_embeddings, 100))
    return out


def run_pass(spark, data_dir: str) -> list[tuple[str, float, int, int]]:
    """One pass: (plan, seconds, output rows, Arrow bytes) per plan."""
    from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY
    out = []
    for name in PLANS:
        t0 = time.perf_counter()
        table = REGISTRY[name].build(spark, data_dir).toArrow()
        out.append((name, time.perf_counter() - t0, table.num_rows,
                    table.nbytes))
    return out
