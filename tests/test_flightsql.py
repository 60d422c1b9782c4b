"""Flight SQL wire protocol: golden-byte codec checks + end-to-end.

The codec (service/flightsql_proto.py) is hand-rolled — so the encoding
is pinned against protobuf wire bytes computed BY HAND from the public
spec, not against its own round-trip.  The end-to-end test then runs the
full Flight SQL conversation (prepare → bind → execute → fetch → close)
between the protocol client and the server, mirroring how the stock
``flight_sql_client`` CLI exercises the reference (README.md:15-34).
"""

from __future__ import annotations

import pytest

from iceberg_datafusion_arrow_flight_spark.service.flightsql_proto import (
    Any as PbAny,
    decode_message,
    encode_message,
    pack_any,
    unpack_any,
)


# ------------------------------------------------------------ golden bytes
def test_command_statement_query_wire_bytes():
    # field 1 (query, string) → tag 0x0A, len 8, "SELECT 1"
    assert encode_message("CommandStatementQuery", {"query": "SELECT 1"}) == \
        b"\x0a\x08SELECT 1"


def test_prepared_statement_handle_wire_bytes():
    # field 1 (bytes) → tag 0x0A
    assert encode_message("CommandPreparedStatementQuery",
                          {"prepared_statement_handle": b"h1"}) == \
        b"\x0a\x02h1"


def test_do_put_update_result_negative_varint():
    # int64 -1 → 10-byte two's-complement varint (proto3 int64)
    assert encode_message("DoPutUpdateResult", {"record_count": -1}) == \
        b"\x08" + b"\xff" * 9 + b"\x01"
    out = decode_message("DoPutUpdateResult",
                         b"\x08" + b"\xff" * 9 + b"\x01")
    assert out["record_count"] == -1


def test_fetch_results_any_matches_reference_type_url():
    """lib.rs:800-802: FetchResults uses the reference's own proto
    package — the ticket bytes must carry that exact type_url."""
    buf = pack_any("FetchResults", handle="abc")
    a = PbAny.decode(buf)
    assert a.type_url == \
        "type.googleapis.com/datafusion.example.com.sql.FetchResults"
    assert a.value == b"\x0a\x03abc"


def test_any_wrapping_wire_shape():
    # Any = {1: type_url, 2: value}; hand-compute for a tiny message
    inner = encode_message("ActionClosePreparedStatementRequest",
                           {"prepared_statement_handle": b"h"})
    assert inner == b"\x0a\x01h"
    url = b"type.googleapis.com/arrow.flight.protocol.sql." \
          b"ActionClosePreparedStatementRequest"
    expected = (b"\x0a" + bytes([len(url)]) + url
                + b"\x12" + bytes([len(inner)]) + inner)
    assert pack_any("ActionClosePreparedStatementRequest",
                    prepared_statement_handle=b"h") == expected


def test_repeated_and_bool_fields():
    buf = encode_message("CommandGetTables",
                         {"table_types": ["TABLE", "VIEW"],
                          "include_schema": True,
                          "catalog": "c"})
    # catalog(1), then repeated table_types(4) in order, then bool(5)
    assert buf == (b"\x0a\x01c"
                   b"\x22\x05TABLE" b"\x22\x04VIEW"
                   b"\x28\x01")
    out = decode_message("CommandGetTables", buf)
    assert out["table_types"] == ["TABLE", "VIEW"]
    assert out["include_schema"] is True
    assert out["db_schema_filter_pattern"] == ""


def test_unknown_fields_skipped_and_garbage_rejected():
    # unknown field 9 (string) is skipped — forward compat
    buf = b"\x4a\x03xyz" + encode_message("CommandStatementQuery",
                                          {"query": "q"})
    assert decode_message("CommandStatementQuery", buf)["query"] == "q"
    # a raw UUID handle is not a known Any → rejected as unknown
    name, _ = unpack_any(b"550e8400-e29b-41d4-a716-446655440000")
    assert name is None


# ------------------------------------------------------------ end-to-end
@pytest.fixture()
def sql_server(spark, monkeypatch):
    monkeypatch.setenv("FLIGHT_USER", "admin")
    monkeypatch.setenv("FLIGHT_PASSWORD", "secret")
    from iceberg_datafusion_arrow_flight_spark.service import EngineService
    from iceberg_datafusion_arrow_flight_spark.service.flight_server import (
        serve_background)
    service = EngineService(root=spark)
    # Ephemeral port (bind 0, read back the real one): a fixed port
    # made this suite flaky under any concurrent run of itself (the
    # one failure class ever seen here) — same pattern as the
    # service_flight_roundtrip registry entry.
    server, _ = serve_background(service, port=0)
    yield f"grpc://localhost:{server.port}"
    server.shutdown()


def test_flight_sql_full_conversation(sql_server):
    from iceberg_datafusion_arrow_flight_spark.service.flightsql_client import (
        FlightSqlClient)
    c = FlightSqlClient(sql_server, "admin", "secret")

    # prepare: eager dataset schema arrives as Arrow IPC bytes
    st = c.prepare("SELECT 1 AS a, 'x' AS b")
    assert st.dataset_schema is not None
    assert st.dataset_schema.names == ["a", "b"]

    # execute via CommandPreparedStatementQuery → FetchResults ticket
    table = c.execute(st)
    assert table.column("a").to_pylist() == [1]
    assert table.column("b").to_pylist() == ["x"]
    c.close(st)

    # parameterized: bind via DoPut(CommandPreparedStatementQuery)
    st2 = c.prepare("SELECT $1 + $2 AS s")
    c.bind(st2, [40, 2])
    assert c.execute(st2).column("s").to_pylist() == [42]
    c.close(st2)

    # DataFusion dialect through the same door
    t = c.query("SELECT 42::bigint AS x, strpos('hello', 'll') AS p")
    assert t.column("x").to_pylist() == [42]
    assert t.column("p").to_pylist() == [3]

    # rollback literal: constant result, never planned (lib.rs:677)
    rb = c.query("rollback")
    assert rb.column("rollback").to_pylist() == ["ROLLBACK"]

    # update path: DoPut(CommandStatementUpdate) → DoPutUpdateResult(-1)
    assert c.execute_update(
        "CREATE OR REPLACE TEMPORARY VIEW fsql_v AS SELECT 7 AS x") == -1


def test_flight_sql_unimplemented_surface_mirrors_reference(sql_server):
    """get_flight_info_statement & catalog metadata are unimplemented in
    the reference (lib.rs:298-306, 382-427) — same failure here."""
    import pyarrow.flight as flight
    from iceberg_datafusion_arrow_flight_spark.service.flightsql_client import (
        _BasicAuth)
    client = flight.FlightClient(sql_server)
    client.authenticate(_BasicAuth("admin", "secret"))
    with pytest.raises(flight.FlightServerError,
                       match="Implement get_flight_info_statement"):
        client.get_flight_info(flight.FlightDescriptor.for_command(
            pack_any("CommandStatementQuery", query="SELECT 1")))
    with pytest.raises(flight.FlightServerError,
                       match="Implement get_flight_info_catalogs"):
        client.get_flight_info(flight.FlightDescriptor.for_command(
            pack_any("CommandGetCatalogs")))


def test_flight_sql_invalid_ticket_mirrors_reference(sql_server):
    """lib.rs:266-271: a DoGet ticket that is an Any of the wrong type
    is rejected with the reference's message shape."""
    import pyarrow.flight as flight
    from iceberg_datafusion_arrow_flight_spark.service.flightsql_client import (
        _BasicAuth)
    client = flight.FlightClient(sql_server)
    client.authenticate(_BasicAuth("admin", "secret"))
    with pytest.raises(flight.FlightServerError,
                       match="The defined request is invalid"):
        list(client.do_get(flight.Ticket(
            pack_any("CommandGetCatalogs"))))


# ------------------------------------------------------------ TLS
def test_flight_sql_over_tls(spark, monkeypatch):
    """sql/main.rs:83-94: TLS_DOMAIN ⇒ self-signed TLS endpoint.  The
    full Flight SQL conversation must work over it."""
    monkeypatch.setenv("FLIGHT_USER", "admin")
    monkeypatch.setenv("FLIGHT_PASSWORD", "secret")
    monkeypatch.setenv("TLS_DOMAIN", "localhost")
    import threading
    from iceberg_datafusion_arrow_flight_spark.service import EngineService
    from iceberg_datafusion_arrow_flight_spark.service.flight_server import (
        SparkFlightServer)
    from iceberg_datafusion_arrow_flight_spark.service.flightsql_client import (
        FlightSqlClient)
    service = EngineService(root=spark)
    server = SparkFlightServer(service, "grpc://localhost:0")
    assert server.tls_certificate is not None
    threading.Thread(target=server.serve, daemon=True).start()
    try:
        c = FlightSqlClient(f"grpc+tls://localhost:{server.port}",
                            "admin", "secret",
                            tls_root_certs=server.tls_certificate)
        t = c.query("SELECT 'secure' AS s")
        assert t.column("s").to_pylist() == ["secure"]
    finally:
        server.shutdown()


def test_plaintext_without_tls_domain(spark, monkeypatch):
    monkeypatch.delenv("TLS_DOMAIN", raising=False)
    monkeypatch.setenv("FLIGHT_USER", "admin")
    monkeypatch.setenv("FLIGHT_PASSWORD", "secret")
    from iceberg_datafusion_arrow_flight_spark.service import EngineService
    from iceberg_datafusion_arrow_flight_spark.service.flight_server import (
        SparkFlightServer)
    server = SparkFlightServer(EngineService(root=spark),
                               "grpc://localhost:0")
    assert server.tls_certificate is None
    server.shutdown()
