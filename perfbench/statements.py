"""Statement texts, seeded parameter pools and the DuckDB oracle.

Every text is written in the DataFusion dialect the reference accepts
(``$n`` parameters, ``::`` casts, ``date_trunc``) and runs unchanged in
DuckDB, which computes the expected result of each (text, parameters)
pair from the same generated Parquet.  Money columns are summed as
DECIMAL, so both engines produce exactly the same digits.

A result is compared by row count plus an order-insensitive hash of its
normalized rows (:func:`fingerprint`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from datagen import (DATE_DAYS, DATE_LO, EVENTS_SPAN_S, EVENTS_T0,
                     N_USERS, REGIONS, SEGMENTS)

REVENUE = ("l_extendedprice::DECIMAL(12,2) "
           "* (1 - l_discount::DECIMAL(4,2))")


@dataclass(frozen=True)
class Statement:
    name: str
    text: str
    params: object  # (rng, sizes) -> list of positional values


def _day(rng, lo: int = 0, hi: int = DATE_DAYS) -> datetime:
    return DATE_LO + timedelta(days=int(rng.integers(lo, hi)))


def _iso(d: datetime) -> str:
    return d.strftime("%Y-%m-%d %H:%M:%S")


def _discount_band(rng) -> list:
    mid = int(rng.integers(2, 10))
    return [(mid - 1) / 100, (mid + 1) / 100]


def _window(rng, days: int) -> list:
    lo = _day(rng, 0, DATE_DAYS - days)
    return [_iso(lo), _iso(lo + timedelta(days=days))]


DASHBOARD = [
    Statement("order_by_key",
              "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
              "o_orderdate FROM bench.orders WHERE o_orderkey = $1",
              lambda rng, n: [int(rng.integers(0, n["orders"]))]),
    Statement("lines_of_order",
              "SELECT l_linenumber, l_quantity, l_extendedprice, l_shipdate "
              "FROM bench.lineitem WHERE l_orderkey = $1",
              lambda rng, n: [int(rng.integers(0, n["orders"]))]),
    Statement("revenue_by_month",
              "SELECT date_trunc('month', l_shipdate) AS month, "
              f"count(*) AS n, sum({REVENUE}) AS revenue "
              "FROM bench.lineitem WHERE l_shipdate >= $1::TIMESTAMP "
              "AND l_shipdate < $2::TIMESTAMP "
              "GROUP BY date_trunc('month', l_shipdate)",
              lambda rng, n: _window(rng, 10)),
    Statement("customer_priorities",
              "SELECT o_orderpriority, count(*) AS n, "
              "sum(o_totalprice::DECIMAL(12,2)) AS total FROM bench.orders "
              "WHERE o_custkey = $1 GROUP BY o_orderpriority",
              lambda rng, n: [int(rng.integers(0, n["customer"]))]),
]

ANALYTIC = [
    Statement("q1",
              "SELECT l_returnflag, l_linestatus, "
              "sum(l_quantity::DECIMAL(12,2)) AS sum_qty, "
              "sum(l_extendedprice::DECIMAL(12,2)) AS sum_base_price, "
              f"sum({REVENUE}) AS sum_disc_price, "
              f"sum({REVENUE} * (1 + l_tax::DECIMAL(4,2))) AS sum_charge, "
              "count(*) AS count_order FROM bench.lineitem "
              "WHERE l_shipdate <= $1::TIMESTAMP "
              "GROUP BY l_returnflag, l_linestatus "
              "ORDER BY l_returnflag, l_linestatus",
              lambda rng, n: [_iso(_day(rng, DATE_DAYS - 200))]),
    Statement("q3",
              f"SELECT l_orderkey, sum({REVENUE}) AS revenue, o_orderdate "
              "FROM bench.customer, bench.orders, bench.lineitem "
              "WHERE c_mktsegment = $1 AND c_custkey = o_custkey "
              "AND l_orderkey = o_orderkey AND o_orderdate < $2::TIMESTAMP "
              "AND l_shipdate > $2::TIMESTAMP "
              "GROUP BY l_orderkey, o_orderdate "
              "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10",
              lambda rng, n: [str(rng.choice(SEGMENTS)), _iso(_day(rng))]),
    Statement("q5",
              f"SELECT n_name, sum({REVENUE}) AS revenue "
              "FROM bench.customer, bench.orders, bench.lineitem, "
              "bench.supplier, bench.nation, bench.region "
              "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
              "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
              "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
              "AND r_name = $1 AND o_orderdate >= $2::TIMESTAMP "
              "AND o_orderdate < $3::TIMESTAMP "
              "GROUP BY n_name ORDER BY revenue DESC, n_name",
              lambda rng, n: [str(rng.choice(REGIONS))] + _window(rng, 365)),
    Statement("q6",
              "SELECT sum(l_extendedprice::DECIMAL(12,2) "
              "* l_discount::DECIMAL(4,2)) AS revenue FROM bench.lineitem "
              "WHERE l_shipdate >= $1::TIMESTAMP "
              "AND l_shipdate < $2::TIMESTAMP "
              "AND l_discount BETWEEN $3 AND $4 AND l_quantity < $5",
              lambda rng, n: _window(rng, 365) + _discount_band(rng)
              + [float(rng.integers(20, 30))]),
    Statement("q10",
              f"SELECT c_custkey, c_name, sum({REVENUE}) AS revenue, "
              "c_acctbal, n_name "
              "FROM bench.customer, bench.orders, bench.lineitem, "
              "bench.nation WHERE c_custkey = o_custkey "
              "AND l_orderkey = o_orderkey AND o_orderdate >= $1::TIMESTAMP "
              "AND o_orderdate < $2::TIMESTAMP AND l_returnflag = 'R' "
              "AND c_nationkey = n_nationkey "
              "GROUP BY c_custkey, c_name, c_acctbal, n_name "
              "ORDER BY revenue DESC, c_custkey LIMIT 20",
              lambda rng, n: _window(rng, 90)),
    Statement("q12",
              "SELECT o_orderpriority, "
              "sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
              "THEN 1 ELSE 0 END) AS high_line_count, "
              "sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
              "THEN 1 ELSE 0 END) AS low_line_count "
              "FROM bench.orders, bench.lineitem "
              "WHERE o_orderkey = l_orderkey AND l_returnflag = $1 "
              "AND l_shipdate >= $2::TIMESTAMP "
              "AND l_shipdate < $3::TIMESTAMP "
              "GROUP BY o_orderpriority ORDER BY o_orderpriority",
              lambda rng, n: [str(rng.choice(["A", "N", "R"]))]
              + _window(rng, 365)),
    Statement("export_orders", "SELECT * FROM bench.orders",
              lambda rng, n: []),
]


def _events_window(rng) -> list:
    lo = EVENTS_T0 + timedelta(
        hours=int(rng.integers(0, EVENTS_SPAN_S // 3600 - 6)))
    return [_iso(lo), _iso(lo + timedelta(hours=6))]


def _user_range(rng) -> list:
    lo = int(rng.integers(0, N_USERS - 50))
    return [lo, lo + 49]


READER = [
    Statement("events_totals",
              "SELECT count(*) AS n, sum(value::DECIMAL(12,2)) AS total, "
              "max(event_id) AS max_id FROM bench.events",
              lambda rng, n: []),
    Statement("events_by_type",
              "SELECT event_type, count(*) AS n, "
              "sum(value::DECIMAL(12,2)) AS total FROM bench.events "
              "WHERE user_id BETWEEN $1 AND $2 GROUP BY event_type",
              lambda rng, n: _user_range(rng)),
    Statement("event_by_id",
              "SELECT event_id, user_id, event_type, value, ts "
              "FROM bench.events WHERE event_id = $1",
              lambda rng, n: [int(rng.integers(0, n["events"]))]),
    Statement("events_per_hour",
              "SELECT date_trunc('hour', ts) AS hour, count(*) AS n "
              "FROM bench.events WHERE ts >= $1::TIMESTAMP "
              "AND ts < $2::TIMESTAMP GROUP BY date_trunc('hour', ts)",
              lambda rng, n: _events_window(rng)),
]

WORKLOAD_STATEMENTS = {"dashboard_point": DASHBOARD,
                       "analytic_scan": ANALYTIC,
                       "ingest_and_read": READER}
# tables the server loads into the catalog for each workload
CATALOG_TABLES = {
    "dashboard_point": ["orders", "lineitem"],
    "analytic_scan": ["lineitem", "orders", "customer", "supplier",
                      "nation", "region"],
    "ingest_and_read": ["events"],
}


def param_pools(statements: list[Statement], rng, sizes: dict[str, int],
                per_statement: int) -> dict[str, list[list]]:
    return {s.name: [s.params(rng, sizes) for _ in range(per_statement)]
            for s in statements}


def _normalize(col: pa.ChunkedArray) -> pa.ChunkedArray:
    t = col.type
    if pa.types.is_date(t):
        return col.cast(pa.timestamp("us")).cast(pa.int64())
    if pa.types.is_timestamp(t):
        return col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    if pa.types.is_boolean(t):
        return col.cast(pa.int64())
    if pa.types.is_decimal(t) or pa.types.is_integer(t):
        # exact numbers share one spelling: an engine may return a
        # count as BIGINT or as DECIMAL(38,0)
        return col.cast(pa.decimal128(38, 6)).cast(pa.string())
    if pa.types.is_floating(t):
        return pc.round(col.cast(pa.float64()), 6)
    return col.cast(pa.string())


def fingerprint(table: pa.Table) -> tuple[int, int]:
    """(row count, order-insensitive hash of the normalized rows)."""
    if table.num_rows == 0:
        return 0, 0
    norm = pa.table([_normalize(c) for c in table.columns],
                    names=[f"c{i}" for i in range(table.num_columns)])
    hashes = pd.util.hash_pandas_object(norm.to_pandas(), index=False)
    return table.num_rows, int(np.sum(hashes.to_numpy(), dtype=np.uint64))


class Oracle:
    """DuckDB over the generated Parquet (``bench.<table>``)."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute("CREATE SCHEMA bench")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE TABLE bench.{t} AS "
                             f"SELECT * FROM read_parquet('{path}')")

    def set_table(self, name: str, table: pa.Table) -> None:
        """Point ``bench.<name>`` at an in-memory Arrow table."""
        self.con.register(f"__{name}", table)
        self.con.execute(f"CREATE OR REPLACE VIEW bench.{name} AS "
                         f"SELECT * FROM __{name}")

    def expect(self, text: str, params: list) -> tuple[int, int]:
        return fingerprint(self.con.execute(text, params or None).arrow())

    def close(self) -> None:
        self.con.close()
