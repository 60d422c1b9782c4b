"""Arrow Flight SQL front door for :class:`.engine.EngineService`.

Speaks the actual Flight SQL wire protocol, method-for-method with the
reference (iceberg-datafusion-arrow-flight/src/lib.rs, inventory at
SURVEY §2.12):

- handshake → :class:`BasicAuthHandler` (Basic → bearer, lib.rs:198-259)
- DoAction ``CreatePreparedStatement`` / ``ClosePreparedStatement`` with
  ``google.protobuf.Any``-wrapped ``arrow.flight.protocol.sql`` request/
  result messages (lib.rs:667-716 / 718-730); the create result carries
  the dataset schema as Arrow IPC bytes, like SchemaAsIpc (lib.rs:704-708)
- DoPut with ``CommandPreparedStatementQuery`` descriptor → parameter
  bind, ``DoPutPreparedStatementResult`` in the put metadata
  (lib.rs:601-643); ``CommandPreparedStatementUpdate`` /
  ``CommandStatementUpdate`` → DDL/DML, ``DoPutUpdateResult{-1}``
  (lib.rs:645-654)
- GetFlightInfo with ``CommandPreparedStatementQuery`` → plans, returns
  the schema; endpoint ticket = Any-wrapped ``FetchResults{handle}`` (the
  reference's own fetch message, custom type_url lib.rs:793-810), no
  location = single node (lib.rs:346-361)
- DoGet with that ticket → runs the plan, streams Arrow (lib.rs:261-296)
- every method the reference leaves unimplemented raises the same
  "Implement …" unimplemented error (get_flight_info_statement,
  catalogs/schemas/tables/sql_info, transactions — lib.rs:298-316,
  382-482, 732-788), so a client porting over sees the identical surface.

Protobuf encode/decode is :mod:`.flightsql_proto` (pure-Python wire
format; no protobuf dependency exists in this environment).
"""

from __future__ import annotations

import threading

import pyarrow as pa
import pyarrow.flight as flight

from .engine import AuthError, EngineService
from .flightsql_proto import Any as PbAny
from .flightsql_proto import pack_any, unpack_any


class BasicAuthHandler(flight.ServerAuthHandler):
    """Basic-auth handshake issuing bearer tokens (lib.rs:198-259)."""

    def __init__(self, service: EngineService):
        super().__init__()
        self.service = service

    def authenticate(self, outgoing, incoming):
        buf = incoming.read()
        auth = flight.BasicAuth.deserialize(buf)
        try:
            token = self.service.handshake(
                auth.username.decode(), auth.password.decode())
        except AuthError as exc:
            raise flight.FlightUnauthenticatedError(str(exc)) from exc
        outgoing.write(token.encode())

    def is_valid(self, token):
        if not token or token.decode() not in self.service.sessions:
            raise flight.FlightUnauthenticatedError("invalid bearer token")
        return token


def _flight_status(verb):
    """``verb`` raising AuthError as unauthorized and any other non-Flight
    error (a Spark analysis or execution error included) as a server
    error carrying only its message — never the server's traceback."""
    def mapped(*args):
        try:
            return verb(*args)
        except flight.FlightError:
            raise
        except AuthError as exc:
            raise flight.FlightUnauthorizedError(str(exc)) from exc
        except Exception as exc:
            raise flight.FlightServerError(str(exc)) from exc
    return mapped


class SparkFlightServer(flight.FlightServerBase):
    def __init__(self, service: EngineService,
                 location: str = "grpc://0.0.0.0:31337",
                 tls_domain: str | None = None):
        """``tls_domain`` (default: the TLS_DOMAIN env var, the
        reference's contract — sql/main.rs:83-94) switches the endpoint
        to TLS with a startup-generated self-signed certificate; the
        cert is kept on ``self.tls_certificate`` so test clients can
        pin it as their root."""
        # default port matches the reference binary (sql/main.rs:43)
        self.service = service
        from .tls import self_signed_pair
        from .tls import tls_domain as env_tls_domain
        domain = tls_domain if tls_domain is not None else env_tls_domain()
        self.tls_certificate: bytes | None = None
        kwargs = {}
        if domain:
            cert_pem, key_pem = self_signed_pair(domain)
            self.tls_certificate = cert_pem
            kwargs["tls_certificates"] = [(cert_pem, key_pem)]
            if location.startswith("grpc://"):
                location = "grpc+tls://" + location.removeprefix("grpc://")
        super().__init__(location, auth_handler=BasicAuthHandler(service),
                         **kwargs)

    # token of the calling connection
    @staticmethod
    def _token(context) -> str:
        return context.peer_identity().decode()

    # --------------------------------------------------------- actions
    @_flight_status
    def do_action(self, context, action):
        token = self._token(context)
        raw = action.body.to_pybytes() if action.body else b""
        # arrow-rs FlightSqlService action names; payloads are Any-wrapped
        # protobuf messages
        if action.type == "CreatePreparedStatement":
            name, fields = unpack_any(raw)
            if name != "ActionCreatePreparedStatementRequest":
                raise flight.FlightServerError(
                    f"CreatePreparedStatement: unexpected payload {name!r}")
            handle = self.service.create_prepared_statement(
                token, fields["query"])
            # the schema as Arrow IPC bytes (SchemaAsIpc, lib.rs:704-708);
            # empty while analysis waits for bound parameters
            schema = self.service.statement_schema(handle)
            return [pack_any(
                "ActionCreatePreparedStatementResult",
                prepared_statement_handle=handle.encode(),
                dataset_schema=b"" if schema is None
                else schema.serialize().to_pybytes(),
                parameter_schema=b"")]
        if action.type == "ClosePreparedStatement":
            name, fields = unpack_any(raw)
            if name != "ActionClosePreparedStatementRequest":
                raise flight.FlightServerError(
                    f"ClosePreparedStatement: unexpected payload {name!r}")
            self.service.close_prepared_statement(
                token, fields["prepared_statement_handle"].decode())
            return []
        if action.type in ("BeginTransaction", "EndTransaction",
                           "BeginSavepoint", "EndSavepoint", "CancelQuery",
                           "CreatePreparedSubstraitPlan"):
            # lib.rs:732-788: transactions/savepoints/substrait are
            # explicitly unimplemented in the reference
            raise flight.FlightServerError(
                f"Implement do_action_{action.type}")
        raise flight.FlightServerError(
            f"action {action.type!r} not implemented "
            "(matches reference unimplemented surface, lib.rs:732-788)")

    def list_actions(self, context):
        return [("CreatePreparedStatement",
                 "Any(ActionCreatePreparedStatementRequest) -> "
                 "Any(ActionCreatePreparedStatementResult)"),
                ("ClosePreparedStatement",
                 "Any(ActionClosePreparedStatementRequest)")]

    # --------------------------------------------------------- bind
    @staticmethod
    def _param_values(batch_table: pa.Table) -> list:
        """lib.rs:613-622 reads the FIRST column's first value of each
        batch; the common JDBC shape is one batch with $1..$n as columns.
        Accept both: multi-column single batch → column order."""
        if batch_table.num_columns > 1:
            return [col.to_pylist()[0] for col in batch_table.columns]
        return [v for v in batch_table.column(0).to_pylist()]

    @_flight_status
    def do_put(self, context, descriptor, reader, writer):
        token = self._token(context)
        name, fields = unpack_any(descriptor.command)
        if name == "CommandPreparedStatementQuery":
            handle = fields["prepared_statement_handle"].decode()
            values = self._param_values(reader.read_all())
            self.service.bind_parameters(token, handle, values)
            # DoPutPreparedStatementResult in the put metadata, echoing
            # the (possibly re-keyed) handle — lib.rs:639-642
            writer.write(pa.py_buffer(pack_any(
                "DoPutPreparedStatementResult",
                prepared_statement_handle=handle.encode())))
            return
        if name == "CommandPreparedStatementUpdate":
            handle = fields["prepared_statement_handle"].decode()
            n = self.service.execute_update(token, handle)
            writer.write(pa.py_buffer(pack_any(
                "DoPutUpdateResult", record_count=n)))
            return
        if name == "CommandStatementUpdate":
            handle = self.service.create_prepared_statement(
                token, fields["query"])
            try:
                n = self.service.execute_update(token, handle)
            finally:
                self.service.close_prepared_statement(token, handle)
            writer.write(pa.py_buffer(pack_any(
                "DoPutUpdateResult", record_count=n)))
            return
        if name == "CommandStatementSubstraitPlan":  # pragma: no cover
            raise flight.FlightServerError(
                "Implement do_put_prepared_statement_update")  # lib.rs:656-665
        raise flight.FlightServerError(
            f"Implement do_put for {name or 'an unknown command'}")

    # --------------------------------------------------------- execute
    @_flight_status
    def get_flight_info(self, context, descriptor):
        token = self._token(context)
        name, fields = unpack_any(descriptor.command)
        if name == "CommandPreparedStatementQuery":
            handle = fields["prepared_statement_handle"].decode()
        elif name == "CommandStatementQuery":
            # mirrored unimplemented surface (lib.rs:298-306): the
            # reference routes all execution through prepared statements
            raise flight.FlightServerError(
                "Implement get_flight_info_statement")
        elif name in ("CommandGetCatalogs", "CommandGetDbSchemas",
                      "CommandGetTables", "CommandGetTableTypes",
                      "CommandGetSqlInfo"):
            # lib.rs:382-427: catalog metadata via Flight SQL is
            # unimplemented in the reference (clients use
            # information_schema SQL instead — supported here too)
            raise flight.FlightServerError(
                f"Implement get_flight_info_{name.removeprefix('CommandGet').lower()}")
        else:
            raise flight.FlightServerError(
                f"Implement get_flight_info for {name or 'an unknown command'}")
        ticket_handle = self.service.execute(token, handle)
        # ticket = Any-wrapped FetchResults{handle}, byte-compatible with
        # the reference's fetch ticket (lib.rs:351-355)
        ticket = flight.Ticket(pack_any("FetchResults", handle=ticket_handle))
        endpoint = flight.FlightEndpoint(ticket, [])
        # total_records/bytes -1: the reference never computes them
        # (lib.rs:368-370)
        return flight.FlightInfo(self.service.statement_schema(ticket_handle),
                                 descriptor, [endpoint], -1, -1)

    # --------------------------------------------------------- fetch
    @_flight_status
    def do_get(self, context, ticket):
        raw = ticket.ticket
        name, fields = unpack_any(raw)
        if name == "FetchResults":
            handle = fields["handle"]
        elif name == "TicketStatementQuery":
            handle = fields["statement_handle"].decode()
        else:
            # lib.rs:266-271: any other payload is rejected
            raise flight.FlightServerError(
                f"do_get: The defined request is invalid: {PbAny.decode(raw).type_url}")
        return flight.RecordBatchStream(
            self.service.fetch(self._token(context), handle))

    # ------------------------------------------------- not implemented
    def list_flights(self, context, criteria):
        raise flight.FlightServerError(
            "list_flights not implemented (reference: ad-hoc statement "
            "surface unimplemented, lib.rs:298-306)")


def serve_background(service: EngineService, port: int = 31337,
                     ready_timeout: float = 10.0,
                     ) -> tuple[SparkFlightServer, threading.Thread]:
    """Start the server on a daemon thread; returns (server, thread).

    Blocks until the endpoint actually ACCEPTS a TCP connection (or
    ``ready_timeout`` elapses, raising): pyarrow's FlightClient does
    not retry a refused dial, and under a loaded host the gap between
    construction and a reachable listener was observed once as a
    Connection refused flake in the full suite — the probe closes the
    race for every caller instead of each test retrying."""
    server = SparkFlightServer(service, f"grpc://0.0.0.0:{port}")
    thread = threading.Thread(target=server.serve, daemon=True)
    thread.start()
    # pyarrow's official readiness wait: performs real gRPC round-trips
    # until the service answers (a raw TCP probe proved insufficient —
    # the acceptor can be up while the gRPC service still refuses).
    probe = flight.FlightClient(f"grpc://localhost:{server.port}")
    try:
        probe.wait_for_available(timeout=int(ready_timeout))
    except flight.FlightUnauthenticatedError:
        pass  # service is up and answering (auth is the next layer)
    finally:
        probe.close()
    return server, thread
