"""Service-layer tests: the reference's session / prepared-statement /
ticket state machine (lib.rs:80-82, 198-259, 601-730) over Spark, plus
the Arrow Flight front door end-to-end on localhost.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from iceberg_datafusion_arrow_flight_spark.service import AuthError, EngineService
from iceberg_datafusion_arrow_flight_spark.sources.registry import register_tables


@pytest.fixture()
def creds(monkeypatch):
    monkeypatch.setenv("FLIGHT_USER", "admin")
    monkeypatch.setenv("FLIGHT_PASSWORD", "secret")


@pytest.fixture()
def service(spark, sf_dir, creds):
    register_tables(spark, sf_dir)
    return EngineService(spark)


def test_handshake_good_and_bad(service):
    token = service.handshake("admin", "secret")
    assert token in service.sessions
    with pytest.raises(AuthError):
        service.handshake("admin", "wrong")


def test_handshake_requires_env(spark, monkeypatch):
    monkeypatch.delenv("FLIGHT_USER", raising=False)
    monkeypatch.delenv("FLIGHT_PASSWORD", raising=False)
    with pytest.raises(AuthError):
        EngineService(spark).handshake("x", "y")


def test_prepare_execute_fetch_close(service, spark):
    token = service.handshake("admin", "secret")
    # temp views live on the root session; child sessions don't see them —
    # use a standalone query (the reference's sessions share only catalog
    # tables, identically).
    handle = service.create_prepared_statement(
        token, "SELECT 1 AS a UNION ALL SELECT 2")
    assert service.statement_schema(handle) is not None
    ticket = service.execute(token, handle)
    table = service.fetch(token, ticket)
    assert isinstance(table, pa.Table)
    assert sorted(table.column("a").to_pylist()) == [1, 2]
    service.close_prepared_statement(token, handle)
    with pytest.raises(KeyError):
        service.fetch(token, ticket)


def test_rollback_special_case(service):
    """lib.rs:677,683-696: literal 'rollback' → constant single-row
    result, never touches the planner."""
    token = service.handshake("admin", "secret")
    handle = service.create_prepared_statement(token, "rollback")
    # its schema ships at prepare like any other statement's
    assert service.statement_schema(handle) == pa.schema(
        [("rollback", pa.string())])
    service.execute(token, handle)
    table = service.fetch(token, handle)
    assert table.column_names == ["rollback"]
    assert table.column("rollback").to_pylist() == ["ROLLBACK"]


def test_datafusion_dialect_accepted(service):
    token = service.handshake("admin", "secret")
    handle = service.create_prepared_statement(
        token, "SELECT 42::bigint AS x, strpos('hello', 'll') AS p")
    service.execute(token, handle)
    t = service.fetch(token, handle)
    assert t.column("x").to_pylist() == [42]
    assert t.column("p").to_pylist() == [3]


def test_bind_parameters(service):
    token = service.handshake("admin", "secret")
    handle = service.create_prepared_statement(
        token, "SELECT $1 + $2 AS s, $1 AS again")
    service.bind_parameters(token, handle, [40, 2])
    service.execute(token, handle)
    t = service.fetch(token, handle)
    assert t.column("s").to_pylist() == [42]
    assert t.column("again").to_pylist() == [40]


def test_execute_update_returns_minus_one(service):
    token = service.handshake("admin", "secret")
    handle = service.create_prepared_statement(
        token, "CREATE OR REPLACE TEMPORARY VIEW svc_v AS SELECT 7 AS x")
    assert service.execute_update(token, handle) == -1
    h2 = service.create_prepared_statement(token, "SELECT x FROM svc_v")
    service.execute(token, h2)
    assert service.fetch(token, h2).column("x").to_pylist() == [7]


def test_session_isolation_between_tokens(service, spark):
    spark.range(1).createOrReplaceTempView("only_in_root")
    t1 = service.handshake("admin", "secret")
    t2 = service.handshake("admin", "secret")
    # a root temp view is invisible to every session
    assert spark.catalog.tableExists("only_in_root")
    assert not service.sessions[t1].catalog.tableExists("only_in_root")
    h = service.create_prepared_statement(
        t1, "CREATE OR REPLACE TEMPORARY VIEW iso_v AS SELECT 1 AS x")
    service.execute_update(t1, h)
    h = service.create_prepared_statement(
        t1, "SET datafusion.execution.target_partitions = 7")
    service.execute_update(t1, h)
    assert service.sessions[t1].conf.get("spark.sql.shuffle.partitions") == "7"
    # sessions are clones of one template: what t1 changes reaches
    # neither a sibling nor a session handshaken afterwards
    t3 = service.handshake("admin", "secret")
    for other in (t2, t3):
        assert service.sessions[other].conf.get(
            "spark.sql.shuffle.partitions") != "7"
        with pytest.raises(Exception):  # analysis fails: not visible
            service.create_prepared_statement(other, "SELECT * FROM iso_v")


def test_template_built_once_per_service(spark, creds, monkeypatch):
    """Dialect functions and session_init run once per service, on the
    template every handshake clones — never per handshake."""
    from iceberg_datafusion_arrow_flight_spark.service import engine

    calls = {"functions": 0, "init": 0}
    register = engine.register_dialect_functions

    def counted_register(session):
        calls["functions"] += 1
        return register(session)

    def init(session):
        calls["init"] += 1
        session.range(3).createOrReplaceTempView("init_v")

    monkeypatch.setattr(engine, "register_dialect_functions",
                        counted_register)
    service = EngineService(spark, session_init=init)
    tokens = [service.handshake("admin", "secret") for _ in range(5)]
    assert calls == {"functions": 1, "init": 1}
    for token in tokens:  # session_init's views reach every session
        h = service.create_prepared_statement(
            token, "SELECT COUNT(*) AS n FROM init_v")
        service.execute(token, h)
        assert service.fetch(token, h).column("n").to_pylist() == [3]


def test_functions_resolve_after_use_database(service, spark):
    token = service.handshake("admin", "secret")
    try:
        for sql in ("CREATE DATABASE IF NOT EXISTS svc_use_db",
                    "USE svc_use_db"):
            service.execute_update(
                token, service.create_prepared_statement(token, sql))
        h = service.create_prepared_statement(
            token, "SELECT df_strpos('abc', 'c') AS p, gcd(12, 18) AS g")
        service.execute(token, h)
        row = service.fetch(token, h).to_pylist()[0]
        assert (row["p"], row["g"]) == (3, 6)
    finally:
        spark.sql("DROP DATABASE IF EXISTS svc_use_db CASCADE")


def test_close_session_scan_holds_lock_against_prepare(service):
    """close_session scans the statements map while gRPC threads insert
    into it.  The scan below starts a concurrent prepare partway
    through; without the lock the insert lands mid-iteration and the
    scan raises "dictionary changed size during iteration"."""
    import threading

    closing = service.handshake("admin", "secret")
    other = service.handshake("admin", "secret")
    for _ in range(2):
        service.create_prepared_statement(closing, "rollback")
    threads = []

    class InsertDuringScan(dict):
        def items(self):
            it = iter(super().items())
            yield next(it)
            th = threading.Thread(target=service.create_prepared_statement,
                                  args=(other, "rollback"))
            threads.append(th)
            th.start()
            th.join(timeout=0.2)
            yield from it

    service.statements = InsertDuringScan(service.statements)
    service.close_session(closing)
    for th in threads:
        th.join(timeout=10)
        assert not th.is_alive()
    assert [st.token for st in service.statements.values()] == [other]


def test_current_database_env_override(service, monkeypatch):
    """lib.rs:106-128: env-driven current_database/current_schema with
    defaults 'datafusion'/'public'."""
    monkeypatch.delenv("CURRENT_DATABASE", raising=False)
    token = service.handshake("admin", "secret")
    h = service.create_prepared_statement(
        token, "SELECT current_database() AS d, current_schema() AS s")
    service.execute(token, h)
    t = service.fetch(token, h)
    assert t.column("d").to_pylist() == ["datafusion"]
    assert t.column("s").to_pylist() == ["public"]
    monkeypatch.setenv("CURRENT_DATABASE", "mydb")
    h2 = service.create_prepared_statement(
        token, "SELECT current_database() AS d")
    service.execute(token, h2)
    assert service.fetch(token, h2).column("d").to_pylist() == ["mydb"]
    # inside a string literal the call is text, not substituted
    h3 = service.create_prepared_statement(
        token, "SELECT 'current_database()' AS s")
    service.execute(token, h3)
    assert service.fetch(token, h3).column("s").to_pylist() == [
        "current_database()"]


def test_current_database_any_case(service, monkeypatch):
    """DataFusion folds unquoted function names to lower case, so every
    spelling reaches the env-driven UDF — Spark's builtins would answer
    'default' for the spellings a case-sensitive replace misses.  A
    quoted spelling stays text."""
    monkeypatch.delenv("CURRENT_DATABASE", raising=False)
    monkeypatch.delenv("CURRENT_SCHEMA", raising=False)
    token = service.handshake("admin", "secret")

    def one_row(sql):
        h = service.create_prepared_statement(token, sql)
        service.execute(token, h)
        return service.fetch(token, h).to_pylist()[0]

    for db, schema in (("current_database", "current_schema"),
                       ("CURRENT_DATABASE", "CURRENT_SCHEMA"),
                       ("Current_Database", "Current_Schema")):
        assert one_row(f"SELECT {db}() AS d, {schema} ( ) AS s") == \
            {"d": "datafusion", "s": "public"}, db
    assert one_row("SELECT 'CURRENT_DATABASE()' AS s, "
                   "current_schema() AS t -- current_database()") == \
        {"s": "CURRENT_DATABASE()", "t": "public"}


def test_ddl_and_dml_without_parameters_run_once(service, spark, tmp_path):
    """A statement without parameters is planned, and so run, once at
    prepare (lib.rs:699-700); execute_update must not run it again."""
    token = service.handshake("admin", "secret")

    def update(sql):
        h = service.create_prepared_statement(token, sql)
        assert service.execute_update(token, h) == -1

    def count(h):
        return service.fetch(token, service.execute(token, h)).column(
            "n").to_pylist()

    try:
        update("CREATE TABLE IF NOT EXISTS once_t (x INT) USING parquet "
               f"LOCATION '{tmp_path / 'once_t'}'")
        h = service.create_prepared_statement(
            token, "SELECT COUNT(*) AS n FROM once_t")
        assert count(h) == [0]
        update("INSERT INTO once_t VALUES (1)")
        # executed again, the prepared query sees the write
        assert count(h) == [1]
        # without IF NOT EXISTS: a second run would find the table
        update("CREATE TABLE once_t2 (x INT) USING parquet "
               f"LOCATION '{tmp_path / 'once_t2'}'")
        assert spark.catalog.tableExists("once_t2")
    finally:
        spark.sql("DROP TABLE IF EXISTS once_t")
        spark.sql("DROP TABLE IF EXISTS once_t2")


def test_execute_plans_and_fetch_runs(service, spark):
    """GetFlightInfo (execute) plans the statement and runs no Spark job,
    with or without parameters; DoGet (fetch) runs it.  The server keeps
    a plan per ticket, never an Arrow table of a SQL statement."""
    token = service.handshake("admin", "secret")
    h = service.create_prepared_statement(
        token, "SELECT CAST(SUM(id) AS BIGINT) AS n FROM range(10)")
    hp = service.create_prepared_statement(
        token, "SELECT CAST(SUM(id) AS BIGINT) + $1 AS n FROM range(10)")
    service.bind_parameters(token, hp, [1])
    sc = spark.sparkContext
    prior = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "engine-execute")
    try:
        tracker = sc.statusTracker()
        for handle in (h, hp):
            service.execute(token, handle)
        assert tracker.getJobIdsForGroup("engine-execute") == []
        assert not any(isinstance(source, pa.Table)
                       for source in service.results.values())
        assert service.fetch(token, h).column("n").to_pylist() == [45]
        assert service.fetch(token, hp).column("n").to_pylist() == [46]
        assert tracker.getJobIdsForGroup("engine-execute")  # control
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prior)


def test_refused_set_value_is_not_listed(service):
    """A ``SET datafusion.*`` value the mapped Spark key refuses raises
    and sets nothing: the conf and SHOW ALL keep the previous value.
    Sent on the query path, a SET maps its Spark key too."""
    token = service.handshake("admin", "secret")
    key = "datafusion.execution.target_partitions"

    def settings():
        h = service.create_prepared_statement(token, "SHOW ALL")
        return {r["name"]: r["value"] for r in
                service.fetch(token, service.execute(token, h)).to_pylist()}

    service.execute_update(token, service.create_prepared_statement(
        token, f"SET {key} = 6"))
    with pytest.raises(Exception, match="INVALID_CONF_VALUE"):
        service.execute_update(token, service.create_prepared_statement(
            token, f"SET {key} = abc"))
    session = service.sessions[token]
    assert session.conf.get("spark.sql.shuffle.partitions") == "6"
    assert settings()[key] == "6"
    h = service.create_prepared_statement(token, f"SET {key} = 5")
    assert service.fetch(token, service.execute(token, h)).num_rows == 0
    assert session.conf.get("spark.sql.shuffle.partitions") == "5"
    assert settings()[key] == "5"


# ----------------------------------------------------------------- flight
def test_flight_server_rejects_legacy_surface(spark, creds):
    """Only Flight SQL messages are served: a JSON action name, or a raw
    handle as descriptor or ticket, is rejected like any other unknown
    command — even when the handle names a live statement."""
    fl = pytest.importorskip("pyarrow.flight")
    from iceberg_datafusion_arrow_flight_spark.service.flight_server import (
        serve_background)
    from iceberg_datafusion_arrow_flight_spark.service.flightsql_client import (
        FlightSqlClient)

    server, _ = serve_background(EngineService(spark), port=0)
    try:
        c = FlightSqlClient(f"grpc://localhost:{server.port}",
                            "admin", "secret")
        st = c.prepare("SELECT 1 AS one")
        raw = st.handle.encode()
        assert [a.type for a in c.client.list_actions()] == [
            "CreatePreparedStatement", "ClosePreparedStatement"]
        with pytest.raises(fl.FlightServerError, match="not implemented"):
            list(c.client.do_action(
                fl.Action("create_prepared_statement", b"SELECT 1")))
        with pytest.raises(fl.FlightServerError,
                           match="Implement get_flight_info"):
            c.client.get_flight_info(fl.FlightDescriptor.for_command(raw))
        with pytest.raises(fl.FlightServerError,
                           match="The defined request is invalid"):
            c.client.do_get(fl.Ticket(raw)).read_all()
        batch = pa.table({"p1": [1]})
        writer, _ = c.client.do_put(fl.FlightDescriptor.for_command(raw),
                                    batch.schema)
        with pytest.raises(fl.FlightServerError, match="Implement do_put"):
            writer.write_table(batch)
            writer.close()
        # the statement itself is untouched and runs over Flight SQL
        assert c.execute(st).column("one").to_pylist() == [1]
        c.close(st)
    finally:
        server.shutdown()


@pytest.fixture()
def served(spark, creds):
    """(service, url) of a Flight SQL server on an ephemeral port."""
    from iceberg_datafusion_arrow_flight_spark.service.flight_server import (
        serve_background)
    service = EngineService(spark)
    server, _ = serve_background(service, port=0)
    yield service, f"grpc://localhost:{server.port}"
    server.shutdown()


def _client(url):
    from iceberg_datafusion_arrow_flight_spark.service.flightsql_client import (
        FlightSqlClient)
    return FlightSqlClient(url, "admin", "secret")


def _query_descriptor(st):
    from pyarrow import flight
    from iceberg_datafusion_arrow_flight_spark.service.flightsql_proto import (
        pack_any)
    return flight.FlightDescriptor.for_command(pack_any(
        "CommandPreparedStatementQuery",
        prepared_statement_handle=st.handle.encode()))


def test_flight_info_schema_is_the_streamed_schema(served):
    """The client builds its table from DoGet's batches under
    FlightInfo's schema, so the two must agree exactly — for decimal,
    timestamp, nullable, nested, empty, bound and constant results."""
    _, url = served
    c = _client(url)
    cases = [
        ("SELECT CAST(1.5 AS DECIMAL(12, 3)) AS d,"
         " CAST(NULL AS DECIMAL(38, 10)) AS dn", []),
        ("SELECT TIMESTAMP '2024-01-02 03:04:05' AS ts,"
         " TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ntz", []),
        ("SELECT id, IF(id > 0, id, NULL) AS maybe FROM range(3)", []),
        ("SELECT map('a', 1) AS m, array(1, NULL) AS a,"
         " named_struct('x', 1, 'y', array('z')) AS s", []),
        ("SELECT 1 AS a, 'x' AS b, CAST(NULL AS DATE) AS d WHERE 1 = 0", []),
        ("SELECT CAST($1 AS DECIMAL(10, 2)) AS p, $2 AS s", [3, "x"]),
        ("SHOW ALL", []),
    ]
    for sql, args in cases:
        st = c.prepare(sql)
        if args:
            c.bind(st, args)
        info = c.client.get_flight_info(_query_descriptor(st))
        streamed = c.client.do_get(info.endpoints[0].ticket).read_all()
        assert info.schema.equals(streamed.schema, check_metadata=True), sql
        if st.dataset_schema is not None:
            assert st.dataset_schema.equals(info.schema), sql
        c.close(st)


def test_execution_error_arrives_at_do_get(served):
    """GetFlightInfo only plans: a statement that fails while running
    still returns its schema there, and DoGet raises the error — its
    message, without the server's traceback or source paths."""
    from pyarrow import flight
    _, url = served
    c = _client(url)
    st = c.prepare("SELECT id, IF(id = 2, raise_error('boom'), id) AS v"
                   " FROM range(3)")
    info = c.client.get_flight_info(_query_descriptor(st))
    assert info.schema.names == ["id", "v"]
    with pytest.raises(flight.FlightError, match="boom") as err:
        c.client.do_get(info.endpoints[0].ticket).read_all()
    assert "Traceback" not in str(err.value)
    assert "flight_server.py" not in str(err.value)
    c.close(st)


def test_failed_statement_update_leaves_no_statement(served):
    """CommandStatementUpdate closes its statement even when the update
    raises: a refused SET value, an unbound parameter."""
    from pyarrow import flight
    service, url = served
    c = _client(url)
    for sql in ("SET datafusion.execution.target_partitions = abc",
                "SELECT $1 AS unbound"):
        with pytest.raises(flight.FlightError):
            c.execute_update(sql)
    assert service.statements == {}


def test_foreign_handle_is_unauthorized_on_every_verb(served):
    """Another session's handle is refused as unauthorized by
    GetFlightInfo, bind (DoPut), close (DoAction) and DoGet alike, and
    the owner's statement is untouched."""
    from pyarrow import flight
    _, url = served
    owner, other = _client(url), _client(url)
    st = owner.prepare("SELECT $1 AS v")
    owner.bind(st, [1])
    ticket = owner.client.get_flight_info(
        _query_descriptor(st)).endpoints[0].ticket
    for call in (lambda: other.client.get_flight_info(_query_descriptor(st)),
                 lambda: other.bind(st, [2]),
                 lambda: other.close(st),
                 lambda: other.client.do_get(ticket).read_all()):
        with pytest.raises(flight.FlightUnauthorizedError):
            call()
    assert owner.execute(st).column("v").to_pylist() == [1]


def test_set_statement_maps_datafusion_conf(service):
    """SURVEY §3.3: SET datafusion.* maps onto the session conf; unknown
    DataFusion keys are accepted and ignored (compat)."""
    token = service.handshake("admin", "secret")
    h = service.create_prepared_statement(
        token, "SET datafusion.execution.target_partitions = 7")
    assert service.execute_update(token, h) == -1
    sess = service.sessions[token]
    assert sess.conf.get("spark.sql.shuffle.partitions") == "7"
    h2 = service.create_prepared_statement(
        token, "SET datafusion.some.unknown.knob = true")
    assert service.execute_update(token, h2) == -1  # ignored, no error


def test_empty_result_keeps_schema(service):
    """lib.rs:282-286/339-342: an empty result still carries its schema
    through the execute and fetch path."""
    token = service.handshake("admin", "secret")
    h = service.create_prepared_statement(
        token, "SELECT 1 AS a, 'x' AS b WHERE 1 = 0")
    service.execute(token, h)
    t = service.fetch(token, h)
    assert t.num_rows == 0
    assert t.column_names == ["a", "b"]


def test_show_all_and_df_settings(service):
    token = service.handshake("admin", "secret")
    # SET a mapped knob and an unmapped (accepted-and-ignored) knob
    for stmt in ("SET datafusion.execution.target_partitions = 8",
                 "SET datafusion.explain.logical_plan_only = true"):
        h = service.create_prepared_statement(token, stmt)
        assert service.execute_update(token, h) == -1
    ticket = service.execute(
        token, service.create_prepared_statement(token, "SHOW ALL"))
    settings = {r["name"]: r["value"]
                for r in service.fetch(token, ticket).to_pylist()}
    assert settings["datafusion.execution.target_partitions"] == "8"
    assert settings["datafusion.explain.logical_plan_only"] == "true"
    # information_schema spelling, filtered
    ticket2 = service.execute(token, service.create_prepared_statement(
        token, "SELECT value FROM information_schema.df_settings "
               "WHERE name = 'datafusion.execution.batch_size'"))
    assert service.fetch(token, ticket2).num_rows == 1


def test_cross_session_handle_denied(service):
    """ADVICE r1: a handle leaked across sessions must not execute in —
    or expose results to — another session (the reference keys
    all statement state per session, lib.rs:87-132)."""
    t1 = service.handshake("admin", "secret")
    t2 = service.handshake("admin", "secret")
    h = service.create_prepared_statement(t1, "SELECT 1 AS x")
    service.execute(t1, h)
    with pytest.raises(AuthError):
        service.execute(t2, h)
    with pytest.raises(AuthError):
        service.execute_update(t2, h)
    with pytest.raises(AuthError):
        service.fetch(t2, h)
    with pytest.raises(AuthError):
        service.bind_parameters(t2, h, [1])
    with pytest.raises(AuthError):
        service.close_prepared_statement(t2, h)
    # the owner is unaffected by the denied attempts
    assert service.fetch(t1, h).column("x").to_pylist() == [1]


def test_literal_dollar_does_not_defer_schema(service):
    """ADVICE r1: 'costs $5' is not a parameter — schema must be
    available eagerly at prepare time."""
    token = service.handshake("admin", "secret")
    h = service.create_prepared_statement(
        token, "SELECT 'costs $5' AS price")
    assert service.statement_schema(h) is not None
    service.execute(token, h)
    assert service.fetch(token, h).column("price").to_pylist() == ["costs $5"]


def _view_k(service, token):
    """dq_t(k, `it's`): k = 0, 1, 2 and `it's` = 10 * k."""
    service.execute_update(token, service.create_prepared_statement(
        token, "CREATE OR REPLACE TEMPORARY VIEW dq_t AS "
               "SELECT id AS k, id * 10 AS `it's` FROM range(3)"))


def test_double_quoted_identifier_reads_the_column(service):
    """DataFusion reads "k" as an identifier; Spark alone would read it
    as the string 'k'."""
    token = service.handshake("admin", "secret")
    _view_k(service, token)
    h = service.create_prepared_statement(token,
                                          'SELECT "k" FROM dq_t ORDER BY k')
    t = service.fetch(token, service.execute(token, h))
    assert t.column(0).to_pylist() == [0, 1, 2]


def test_apostrophe_in_quoted_identifier_opens_no_literal(service):
    """The apostrophe in "it's" must not hide $1 from parameter
    detection: the statement waits for its value instead of failing
    to parse at prepare."""
    token = service.handshake("admin", "secret")
    _view_k(service, token)
    h = service.create_prepared_statement(
        token, "SELECT \"it's\" AS c, k FROM dq_t WHERE k = $1 AND 'a' = 'a'")
    service.bind_parameters(token, h, [1])
    t = service.fetch(token, service.execute(token, h))
    assert t.to_pylist() == [{"c": 10, "k": 1}]


@pytest.mark.parametrize("sql, columns", [
    ("-- set\nSET datafusion.execution.target_partitions = 7", []),
    ("SHOW ALL /* c */", ["name", "value"]),
    ("-- list\nSHOW TABLES", ["table_catalog", "table_schema",
                              "table_name", "table_type"]),
    ("SHOW TABLES -- x", ["table_catalog", "table_schema", "table_name",
                          "table_type"]),
    ("SHOW COLUMNS FROM orders -- x",
     ["table_catalog", "table_schema", "table_name", "column_name",
      "data_type", "is_nullable"]),
    ("/* c */ DESCRIBE orders", ["column_name", "data_type",
                                 "is_nullable"]),
    ("-- plan\nEXPLAIN SELECT 1", ["plan_type", "plan"]),
], ids=["set", "show_all", "show_tables_leading", "show_tables_trailing",
        "show_columns", "describe", "explain"])
def test_comment_does_not_hide_engine_answered_statement(
        table_service, sql, columns):
    """A comment around SET / SHOW / DESCRIBE / EXPLAIN still gets the
    engine's DataFusion-shaped answer, not Spark's own command."""
    token = table_service.handshake("admin", "secret")
    h = table_service.create_prepared_statement(token, sql)
    assert table_service.statement_schema(h).names == columns
    if sql.startswith("-- set"):
        assert table_service.sessions[token].conf.get(
            "spark.sql.shuffle.partitions") == "7"


def test_show_tables_and_columns(service):
    """DataFusion answers SHOW TABLES / SHOW COLUMNS from
    information_schema (enabled in the reference, lib.rs:92) — same
    spellings and output shapes here."""
    token = service.handshake("admin", "secret")
    session = service.sessions[token]
    for view, body in (("shown_v", "SELECT 1 AS a, 'x' AS b"),
                       ("other_v", "SELECT CAST(2 AS BIGINT) AS c")):
        h = service.create_prepared_statement(
            token, f"CREATE OR REPLACE TEMPORARY VIEW {view} AS {body}")
        service.execute_update(token, h)

    def temp_views():
        return {t.name for t in session.catalog.listTables()
                if t.isTemporary}

    views = temp_views()
    # answering EXPLAIN / DESCRIBE leaves nothing behind in the session
    for sql in ("EXPLAIN SELECT 1", "DESCRIBE shown_v"):
        h = service.create_prepared_statement(token, sql)
        service.execute(token, h)
        service.close_prepared_statement(token, h)
    t1 = service.execute(token,
                         service.create_prepared_statement(token,
                                                           "SHOW TABLES"))
    tables = service.fetch(token, t1).to_pylist()
    assert [r["table_name"] for r in tables if r["table_type"] == "VIEW"] \
        == ["other_v", "shown_v"]
    assert all(set(r) == {"table_catalog", "table_schema", "table_name",
                          "table_type"} for r in tables)
    # interleaved prepares each keep their own table's columns
    h_shown = service.create_prepared_statement(
        token, "SHOW COLUMNS FROM shown_v")
    h_other = service.create_prepared_statement(
        token, "SHOW COLUMNS FROM other_v")
    cols = service.fetch(token, service.execute(token, h_shown)).to_pylist()
    assert [(c["column_name"], c["data_type"]) for c in cols] == \
        [("a", "int"), ("b", "string")]
    assert all(c["is_nullable"] in ("YES", "NO") for c in cols)
    other = service.fetch(token, service.execute(token, h_other)).to_pylist()
    assert [(c["table_name"], c["column_name"], c["data_type"])
            for c in other] == [("other_v", "c", "bigint")]
    assert temp_views() == views


@pytest.fixture()
def table_service(spark, sf_dir, creds):
    """Service whose sessions see the fixture tables (sessions do not
    inherit root temp views — session_init is the same hook a deployment
    uses)."""
    return EngineService(
        spark, session_init=lambda s: register_tables(s, sf_dir))


def test_explain_statement_shapes(table_service):
    """EXPLAIN returns DataFusion's (plan_type, plan) rows; ANALYZE
    executes and returns the metrics plan (lib.rs:678 passes both
    through ctx.sql)."""
    service = table_service
    token = service.handshake("admin", "secret")
    h = service.create_prepared_statement(
        token, "EXPLAIN SELECT o_orderstatus, COUNT(*) FROM orders GROUP BY 1")
    rows = service.fetch(token, service.execute(token, h)).to_pylist()
    assert [r["plan_type"] for r in rows] == ["logical_plan",
                                              "physical_plan"]
    assert "Aggregate" in rows[0]["plan"]
    h2 = service.create_prepared_statement(
        token, "EXPLAIN ANALYZE SELECT COUNT(*) FROM orders")
    rows2 = service.fetch(token, service.execute(token, h2)).to_pylist()
    assert [r["plan_type"] for r in rows2] == ["Plan with Metrics"]


def test_describe_statement_shape(table_service):
    service = table_service
    token = service.handshake("admin", "secret")
    h = service.create_prepared_statement(token, "DESCRIBE orders")
    rows = service.fetch(token, service.execute(token, h)).to_pylist()
    cols = {r["column_name"]: (r["data_type"], r["is_nullable"])
            for r in rows}
    assert "o_orderkey" in cols and "o_totalprice" in cols
    assert set(rows[0].keys()) == {"column_name", "data_type",
                                   "is_nullable"}


def test_concurrent_clients_stress_cache_and_sessions(service):
    """The Flight front door dispatches from a gRPC THREAD POOL: eight
    client threads hammer handshake → prepare → execute → fetch →
    close concurrently, so inserts into and pops from the shared
    statement and ticket maps interleave constantly.  Every thread must
    read back ITS OWN correct result every iteration (no
    cross-contamination, no exceptions), and closing leaves no ticket."""
    import threading

    errors: list[str] = []

    def client(i: int) -> None:
        try:
            token = service.handshake("admin", "secret")
            for j in range(6):
                n = 10 + (i * 6 + j) % 17
                h = service.create_prepared_statement(
                    token, f"SELECT CAST(SUM(id) AS BIGINT) AS n"
                           f" FROM range({n})")
                service.execute(token, h)
                got = service.fetch(token, h).column("n")[0].as_py()
                want = n * (n - 1) // 2
                if got != want:
                    errors.append(f"client {i} iter {j}: {got} != {want}")
                service.close_prepared_statement(token, h)
            service.close_session(token)
        except Exception as exc:           # noqa: BLE001 — surface it
            errors.append(f"client {i}: {exc!r}")

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors[:5]
    assert not service.sessions            # every session closed
    assert not service.statements
    assert not service.results
