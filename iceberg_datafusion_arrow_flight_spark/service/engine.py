"""Protocol-agnostic engine service: sessions, prepared statements,
tickets — the reference's own state machine re-expressed over Spark.

Reference parity map (iceberg-datafusion-arrow-flight/src/lib.rs):

- handshake: Basic creds vs env ``FLIGHT_USER``/``FLIGHT_PASSWORD``
  (lib.rs:223-226, README.md:9-10) → UUIDv4 bearer token (lib.rs:88),
  one isolated engine session per token (``create_ctx`` lib.rs:87-132 →
  a clone of one template session that carries the dialect functions and
  ``session_init``: shared catalog/cache, isolated temp views, UDFs and
  conf).
- prepare: SQL → handle (lib.rs:667-716); the statement keeps the
  source of its result, and its Arrow schema is known at once
  (lib.rs:702-708).  The literal query ``"rollback"`` never reaches the
  planner; it becomes a constant single-row result
  ``rollback='ROLLBACK'`` (lib.rs:677, 683-696 — transactions don't
  exist; JDBC clients issuing ROLLBACK get a fake success).  SHOW ALL /
  TABLES / COLUMNS, DESCRIBE, EXPLAIN [ANALYZE] and SET datafusion.* are
  likewise answered as constant Arrow tables, built here.  Any other
  statement without ``$n`` parameters is parsed and analyzed once, here,
  like the reference's ``ctx.sql`` (lib.rs:699-700; Catalyst analysis ≡
  DF ``into_optimized_plan``), and its DataFrame kept: a DDL/DML
  statement without parameters therefore runs exactly once, at prepare.
  With parameters, planning waits for execute.
- bind: positional ``$n`` values (lib.rs:601-643, ``with_param_values``
  lib.rs:630-633) → Spark named-parameter binding via the dialect pass.
- execute (GetFlightInfo): plan the kept analyzed statement afresh — or,
  with parameters, the statement with its bound values — and keep the
  plan, not its result, under the handle, which is the ticket.  The
  reference runs the statement here and holds its batches until DoGet
  (lib.rs:82, 332-344).
- fetch (DoGet): run that plan, or return a constant result as is.  Each
  fetch runs the plan and each execute plans again: execution errors
  arrive at fetch, analysis errors at prepare or execute.
- execute_update: DDL/DML path; returns -1 like the reference
  (lib.rs:645-654).  A statement with parameters runs here, at each
  call; one without already ran at prepare.
- close: drop the statement and its ticket (lib.rs:718-730).

Everything DataFusion-dialect entering this layer passes through
:func:`..dialect.rewrite_sql`, and each session inherits the SQL-UDF
shims from the template — so a reference client's SQL works unchanged.
"""

from __future__ import annotations

import os
import re
import threading
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..dialect import rewrite_sql, split_params
from ..dialect.rewrite import _mask_literals, _unmask_literals, find_params
from ..functions import register_dialect_functions

ROLLBACK_LITERAL = "rollback"  # exact match, like lib.rs:677

# SET datafusion.* → Spark conf mapping (SURVEY §3.3: the reference
# accepts DataFusion config via SQL SET and DATAFUSION_* env,
# lib.rs:89).  Unknown keys are accepted and ignored — compat behavior:
# clients tuning a DataFusion knob must not break against this engine.
DATAFUSION_CONF_MAP: dict[str, str] = {
    "datafusion.execution.batch_size":
        "spark.sql.parquet.columnarReaderBatchSize",
    "datafusion.execution.target_partitions":
        "spark.sql.shuffle.partitions",
    "datafusion.optimizer.repartition_joins":
        "spark.sql.adaptive.enabled",
    "datafusion.execution.parquet.pushdown_filters":
        "spark.sql.parquet.filterPushdown",
}

_SET_RE = re.compile(
    r"^\s*SET\s+([\w.]+)\s*(?:=|\s+TO\s+)\s*'?([^';]*)'?\s*;?\s*$",
    re.IGNORECASE)
_SHOW_ALL_RE = re.compile(r"^\s*SHOW\s+ALL\s*;?\s*$", re.IGNORECASE)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*;?\s*$", re.IGNORECASE)
_SHOW_COLUMNS_RE = re.compile(
    r"^\s*SHOW\s+COLUMNS\s+FROM\s+([\w.]+)\s*;?\s*$", re.IGNORECASE)
_DESCRIBE_RE = re.compile(r"^\s*DESCRIBE\s+([A-Za-z_][\w.]*)\s*;?\s*$",
                          re.IGNORECASE)
_EXPLAIN_RE = re.compile(r"^\s*EXPLAIN\s+(ANALYZE\s+)?(.+)$",
                         re.IGNORECASE | re.DOTALL)
_DF_SETTINGS_RE = re.compile(r"\binformation_schema\.df_settings\b",
                             re.IGNORECASE)


# DataFusion folds unquoted function names to lower case, so every
# spelling (CURRENT_DATABASE(), Current_Schema ( )) reaches its UDF.
_CURRENT_DATABASE_RE = re.compile(r"\bcurrent_database\s*\(\s*\)", re.I)
_CURRENT_SCHEMA_RE = re.compile(r"\bcurrent_schema\s*\(\s*\)", re.I)


def _env_identity() -> tuple[str, str]:
    """(current database, current schema): env at call time, defaults
    'datafusion' / 'public' (lib.rs:106-128, README.md:12)."""
    return (os.environ.get("CURRENT_DATABASE", "datafusion"),
            os.environ.get("CURRENT_SCHEMA", "public"))


def _strings(names: str, rows: list[tuple]) -> pa.Table:
    """A constant result: ``rows`` under the ``string`` columns named in
    ``names`` (space-separated)."""
    schema = pa.schema([(n, pa.string()) for n in names.split()])
    return pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                schema=schema)


class AuthError(Exception):
    pass


@dataclass
class PreparedStatement:
    """A prepared statement and the source of its result, fixed at
    prepare: the engine's own constant answer (``result``), the
    DataFrame analyzed at prepare (``df``), or neither — a statement with
    ``$n`` parameters, whose ``translated_sql`` is planned at each
    execute with the bound ``args``."""
    token: str
    translated_sql: str
    args: dict | None = None
    result: pa.Table | None = None
    df: DataFrame | None = None


@dataclass
class EngineService:
    """One instance fronts one root SparkSession (≈ the server process)."""

    root: SparkSession
    # init run once per service, on the template every handshake clones
    # — the analogue of the reference injecting its catalog list into
    # every new SessionContext (lib.rs:94-103).  On an Iceberg deployment
    # the catalog is session-global and this is None; for temp-view-backed
    # tables pass e.g. ``lambda s: register_tables(s, sf_dir)``.
    session_init: Callable[[SparkSession], None] | None = None
    # Iceberg catalog (SqliteCatalog or RestCatalog — same duck type).
    # When set, every handshake registers each catalog table as a view
    # and qualified ``ns.table`` identifiers in incoming SQL resolve to
    # it — the Spark analogue of the reference injecting its catalog
    # list into each new SessionContext (lib.rs:94-103; the rest binary
    # swaps in a RestCatalogList, -rest/src/main.rs:90).  Views pin the
    # table's CURRENT snapshot at handshake: a session reads a
    # consistent snapshot for its lifetime; new sessions see new
    # commits.
    catalog: object | None = None
    sessions: dict[str, SparkSession] = field(default_factory=dict)
    statements: dict[str, PreparedStatement] = field(default_factory=dict)
    # ticket → the constant result, or the DataFrame its fetch runs
    results: dict[str, pa.Table | DataFrame] = field(default_factory=dict)
    # gRPC threads share every map here: each insert, pop and scan holds
    # this lock (unlocked, a scan racing an insert raises).  Spark work
    # stays OUTSIDE it, so long queries never serialize sessions.
    _lock: threading.Lock = field(default_factory=threading.Lock,
                                  repr=False)
    # qualified-name → view mapping per token
    _catalog_names_by_token: dict[str, dict[str, str]] = field(
        default_factory=dict, repr=False)

    def __post_init__(self) -> None:
        # the template every handshake clones; never changed after this,
        # as a change would leak into every later session
        self._template = self.root.newSession()
        register_dialect_functions(self._template)
        if self.session_init is not None:
            self.session_init(self._template)

    # ------------------------------------------------------------ auth
    def handshake(self, username: str, password: str) -> str:
        """Basic-auth check against env, exactly like lib.rs:223-242;
        returns the bearer token for all subsequent calls."""
        exp_user = os.environ.get("FLIGHT_USER")
        exp_pass = os.environ.get("FLIGHT_PASSWORD")
        if exp_user is None or exp_pass is None:
            raise AuthError("FLIGHT_USER/FLIGHT_PASSWORD not set")
        if username != exp_user or password != exp_pass:
            raise AuthError("invalid credentials")
        token = str(uuid.uuid4())
        session = self.root.__class__(
            self.root.sparkContext,
            self._template._jsparkSession.cloneSession())
        if self.catalog is not None:
            self._register_catalog_views(session, token)
        with self._lock:
            self.sessions[token] = session
        return token

    def _register_catalog_views(self, session: SparkSession,
                                token: str) -> None:
        """One temp view per catalog table (``ns__name``), reading the
        table's current snapshot.  The qualified-name → view mapping is
        kept PER TOKEN: a table created between two handshakes must not
        leak into the earlier session's rewrites (its session has no
        view for it)."""
        names: dict[str, str] = {}
        for ns, name in self.catalog.list_tables():
            view = f"{ns}__{name}"
            self.catalog.load_table(ns, name).read(session) \
                .createOrReplaceTempView(view)
            names[f"{ns}.{name}"] = view
        with self._lock:
            self._catalog_names_by_token[token] = names

    def _service_passes(self, sql: str, token: str) -> str:
        """The service's two textual passes, OUTSIDE string literals (same
        masking discipline as the dialect passes):

        - qualified ``ns.table`` identifiers → the caller's session views.
          Boundaries exclude '.' so a longer dotted spelling
          (``db.ns.table``) is never corrupted from the middle.
        - ``current_database()`` / ``current_schema()`` → the env-driven
          values.  The reference's two custom UDFs read env at call time
          (lib.rs:106-128, udf.rs:23-104); Spark's builtins answer from
          the catalog."""
        masked, saved = _mask_literals(sql)
        for qualified, view in self._catalog_names_by_token.get(
                token, {}).items():
            masked = re.sub(
                rf"(?<![\w.]){re.escape(qualified)}(?![\w.])",
                view, masked)
        db, schema = _env_identity()
        masked = _CURRENT_DATABASE_RE.sub(lambda _: f"'{db}'", masked)
        masked = _CURRENT_SCHEMA_RE.sub(lambda _: f"'{schema}'", masked)
        return _unmask_literals(masked, saved)

    def _session(self, token: str) -> SparkSession:
        try:
            return self.sessions[token]
        except KeyError:
            raise AuthError(f"unknown token: {token}") from None

    # ------------------------------------------ statements answered here
    @staticmethod
    def _df_settings_rows(session: SparkSession) -> list[tuple[str, str]]:
        """(name, value) rows of SHOW ALL and
        ``information_schema.df_settings`` (the reference enables
        information_schema incl. df_settings at lib.rs:92): every mapped
        DataFusion knob with its CURRENT Spark-side value, overlaid with
        any `SET datafusion.*` this session issued (including
        accepted-and-ignored unmapped keys — faithful to SHOW ALL listing
        whatever was set), sorted by name."""
        rows = {}
        for df_key, spark_key in DATAFUSION_CONF_MAP.items():
            try:
                rows[df_key] = str(session.conf.get(spark_key))
            except Exception:
                rows[df_key] = ""
        rows.update((k, v) for k, v in session.conf.getAll.items()
                    if k.startswith("datafusion."))
        return sorted(rows.items())

    def _columns(self, token: str, session: SparkSession,
                 name: str) -> list[tuple[str, str, str]]:
        """(column_name, data_type, is_nullable) of a table or view, its
        name resolved like any statement's (qualified catalog names)."""
        fields = session.table(self._service_passes(name, token)).schema.fields
        return [(f.name, f.dataType.simpleString(),
                 "YES" if f.nullable else "NO") for f in fields]

    def _engine_result(self, token: str, session: SparkSession,
                       sql: str) -> pa.Table | None:
        """The constant result of a statement the engine answers itself,
        in DataFusion's shape; None for any other statement.  DataFusion
        answers SHOW from information_schema (enabled in the reference at
        lib.rs:92) and runs EXPLAIN / DESCRIBE through ctx.sql
        (lib.rs:678): EXPLAIN returns (plan_type, plan) rows —
        'logical_plan' + 'physical_plan', or 'Plan with Metrics' for
        EXPLAIN ANALYZE (which executes the query) — and DESCRIBE returns
        (column_name, data_type, is_nullable), here from Catalyst."""
        if sql == ROLLBACK_LITERAL:
            return _strings("rollback", [("ROLLBACK",)])
        m = _SET_RE.match(sql)
        if m and (key := m.group(1).lower()).startswith("datafusion."):
            # the mapped Spark key first, so a refused value sets
            # nothing; each key also lands as-is, for df_settings
            if key in DATAFUSION_CONF_MAP:
                session.conf.set(DATAFUSION_CONF_MAP[key], m.group(2))
            session.conf.set(key, m.group(2))
            return pa.table({})
        if _SHOW_ALL_RE.match(sql):
            return _strings("name value", self._df_settings_rows(session))
        db, schema = _env_identity()
        if _SHOW_TABLES_RE.match(sql):
            rows = [(db, schema, t.name,
                     "VIEW" if t.tableType in ("TEMPORARY", "VIEW")
                     else "BASE TABLE")
                    for t in session.catalog.listTables()
                    if t.name != "df_settings"]
            return _strings("table_catalog table_schema table_name "
                            "table_type", sorted(rows, key=lambda r: r[2]))
        if m := _SHOW_COLUMNS_RE.match(sql):
            return _strings(
                "table_catalog table_schema table_name column_name "
                "data_type is_nullable",
                [(db, schema, m.group(1), *c)
                 for c in self._columns(token, session, m.group(1))])
        if m := _DESCRIBE_RE.match(sql):
            return _strings("column_name data_type is_nullable",
                            self._columns(token, session, m.group(1)))
        if m := _EXPLAIN_RE.match(sql):
            df = session.sql(rewrite_sql(
                self._service_passes(m.group(2), token)))
            qe = df._jdf.queryExecution()
            if m.group(1):
                df.collect()  # EXPLAIN ANALYZE runs the plan, like DF
                rows = [("Plan with Metrics", qe.executedPlan().toString())]
            else:
                rows = [("logical_plan", qe.optimizedPlan().toString()),
                        ("physical_plan", qe.executedPlan().toString())]
            return _strings("plan_type plan", rows)
        return None

    # ------------------------------------------------------------ prepare
    def create_prepared_statement(self, token: str, sql: str) -> str:
        """Prepare ``sql``, keeping the source of its result.  Spark runs
        commands (DDL, DML, CACHE) inside ``sql()``, so a statement
        without ``$n`` parameters runs here, once; for a query this is
        Catalyst analysis only."""
        session = self._session(token)
        handle = str(uuid.uuid4())
        result = self._engine_result(token, session, sql)
        if result is not None:
            st = PreparedStatement(token, sql, result=result)
        else:
            if _DF_SETTINGS_RE.search(sql):
                # the client's own SQL runs over the settings, so this
                # spelling alone reads them through a temp view
                session.createDataFrame(self._df_settings_rows(session),
                                        "name STRING, value STRING"
                                        ).createOrReplaceTempView("df_settings")
                sql = _DF_SETTINGS_RE.sub("df_settings", sql)
            translated = rewrite_sql(self._service_passes(sql, token))
            st = PreparedStatement(token, translated)
            # parameters are counted OUTSIDE string literals — a literal
            # like 'costs $5' must not defer analysis (ADVICE r1)
            if not find_params(sql):
                st.df = session.sql(translated)
        with self._lock:
            self.statements[handle] = st
        return handle

    def statement_schema(self, handle: str) -> pa.Schema | None:
        """The Arrow schema fetch returns: the last execute's plan's, else
        the one known at prepare (lib.rs:702-708); None while analysis
        waits for bound parameters."""
        st = self.statements[handle]
        with self._lock:
            source = self.results.get(
                handle, st.df if st.result is None else st.result)
        if isinstance(source, DataFrame):  # the schema toArrow casts to
            return to_arrow_schema(source.schema, prefers_large_types=(
                source.sparkSession._jconf.arrowUseLargeVarTypes()))
        return None if source is None else source.schema

    def _owned(self, token: str, handle: str) -> PreparedStatement:
        """Resolve a handle AND verify it belongs to the caller's session
        — every post-prepare verb goes through here (the reference keys
        all statement state per-session, lib.rs:87-132; a handle leaked
        across sessions must not execute in, or expose results to,
        another session)."""
        st = self.statements[handle]
        if st.token != token:
            raise AuthError("statement belongs to another session")
        return st

    # ------------------------------------------------------------ bind
    def bind_parameters(self, token: str, handle: str, values: list) -> None:
        st = self._owned(token, handle)
        st.args = split_params(values)

    # ------------------------------------------------------------ execute
    def _dataframe(self, st: PreparedStatement,
                   session: SparkSession) -> DataFrame:
        """A Dataset over the plan analyzed at prepare, or — with ``$n``
        parameters — the statement planned now with its bound values."""
        if st.df is not None:
            # a new Dataset is optimized and planned afresh, as the
            # reference plans its stored logical plan at each execute;
            # re-running the kept one would reuse its file listing and
            # shuffle output and miss writes made since the last execute
            return st.df.select("*")
        return session.sql(st.translated_sql, args=st.args)

    def execute(self, token: str, handle: str) -> str:
        """Plan the statement without running it and return the fetch
        ticket (the handle itself, like FetchResults{handle} at
        lib.rs:351-361); the plan replaces the ticket's previous one."""
        st = self._owned(token, handle)
        source = st.result
        if source is None:
            source = self._dataframe(st, self._session(token))
        with self._lock:
            self.results[handle] = source
        return handle

    def execute_update(self, token: str, handle: str) -> int:
        """DDL / SET / DML path — returns -1 like
        do_put_prepared_statement_update (lib.rs:645-654).  A statement
        without parameters already ran at prepare (collecting a command's
        DataFrame reads its stored output, it does not run it again); one
        with parameters runs here."""
        st = self._owned(token, handle)
        if st.result is None:
            self._dataframe(st, self._session(token)).collect()
        return -1

    # ------------------------------------------------------------ fetch
    def fetch(self, token: str, handle: str) -> pa.Table:
        """Run the plan the ticket's last execute made (a constant result
        is returned as is), keyed by the owner's session: a ticket
        obtained by one session is not redeemable by another."""
        self._owned(token, handle)
        with self._lock:
            source = self.results[handle]
        return source if isinstance(source, pa.Table) else source.toArrow()

    # ------------------------------------------------------------ close
    def close_prepared_statement(self, token: str, handle: str) -> None:
        if handle in self.statements:
            self._owned(token, handle)
        with self._lock:
            self.statements.pop(handle, None)
            self.results.pop(handle, None)

    def close_session(self, token: str) -> None:
        with self._lock:
            self.sessions.pop(token, None)
            self._catalog_names_by_token.pop(token, None)
            for h in [h for h, s in self.statements.items()
                      if s.token == token]:
                del self.statements[h]
                self.results.pop(h, None)
