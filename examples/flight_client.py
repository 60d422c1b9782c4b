#!/usr/bin/env python
"""End-to-end Flight SQL walkthrough — the exact workflow the stock
``flight_sql_client`` CLI runs against the reference
(iceberg-datafusion-arrow-flight/README.md:15-34), against this engine.

    FLIGHT_USER=admin FLIGHT_PASSWORD=secret python examples/flight_client.py

Starts an in-process server over the sf0.001 fixtures, then speaks the
real Flight SQL wire protocol (Any-wrapped arrow.flight.protocol.sql
messages, no shim): handshake (basic auth → bearer) → DoAction
CreatePreparedStatement → DoPut parameter bind → GetFlightInfo →
DoGet(FetchResults ticket) → ClosePreparedStatement.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from iceberg_datafusion_arrow_flight_spark import get_spark
from iceberg_datafusion_arrow_flight_spark.service import EngineService
from iceberg_datafusion_arrow_flight_spark.service.flight_server import (
    SparkFlightServer)
from iceberg_datafusion_arrow_flight_spark.service.flightsql_client import (
    FlightSqlClient)
from iceberg_datafusion_arrow_flight_spark.sources.registry import register_tables


def main():
    os.environ.setdefault("FLIGHT_USER", "admin")
    os.environ.setdefault("FLIGHT_PASSWORD", "secret")
    spark = get_spark(master="local[4]")
    # table registration, once per service — the catalog-injection analogue
    # (on an Iceberg cluster the catalog is global and this is not needed)
    svc = EngineService(
        spark,
        session_init=lambda s: register_tables(s, "/root/testdata/sf0.001"))
    server = SparkFlightServer(svc, "grpc://127.0.0.1:0")
    print(f"server on port {server.port}")

    client = FlightSqlClient(f"grpc://127.0.0.1:{server.port}",
                             os.environ["FLIGHT_USER"],
                             os.environ["FLIGHT_PASSWORD"])

    # DataFusion-dialect SQL, exactly as a reference client would write it
    st = client.prepare(
        "SELECT o_orderpriority, COUNT(*)::bigint AS n "
        "FROM orders WHERE o_totalprice > $1 "
        "GROUP BY o_orderpriority ORDER BY n DESC")
    print("prepared:", st.handle)
    client.bind(st, [150000.0])
    table = client.execute(st)
    print(table.to_pandas().to_string(index=False))
    client.close(st)

    # ad-hoc one-liner through the same protocol
    print(client.query("SELECT current_database() AS db").to_pydict())

    server.shutdown()
    spark.stop()


if __name__ == "__main__":
    main()
