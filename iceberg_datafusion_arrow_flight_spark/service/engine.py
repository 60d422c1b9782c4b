"""Protocol-agnostic engine service: sessions, prepared statements,
result cache — the reference's own state machine re-expressed over Spark.

Reference parity map (iceberg-datafusion-arrow-flight/src/lib.rs):

- handshake: Basic creds vs env ``FLIGHT_USER``/``FLIGHT_PASSWORD``
  (lib.rs:223-226, README.md:9-10) → UUIDv4 bearer token (lib.rs:88),
  one isolated engine session per token (``create_ctx`` lib.rs:87-132 →
  a clone of one template session that carries the dialect functions and
  ``session_init``: shared catalog/cache, isolated temp views, UDFs and
  conf).
- prepare: SQL → handle (lib.rs:667-716).  The literal query
  ``"rollback"`` never reaches the planner; it becomes a constant
  single-row result ``rollback='ROLLBACK'`` (lib.rs:677, 683-696 —
  transactions don't exist; JDBC clients issuing ROLLBACK get a fake
  success).  Otherwise the statement is analyzed eagerly (Catalyst
  analysis ≡ DF ``into_optimized_plan``) and the result schema is
  available immediately (lib.rs:702-708), except when ``$n`` parameters
  are present — then analysis defers to bind time.
- bind: positional ``$n`` values (lib.rs:601-643, ``with_param_values``
  lib.rs:630-633) → Spark named-parameter binding via the dialect pass.
- execute: run + materialize the FULL result server-side keyed by handle
  (lib.rs:332-344) — here as a pyarrow Table (Arrow end-to-end like the
  reference).  Unlike the reference's unbounded cache (lib.rs:82 — OOM
  by design at scale), the cache is LRU-bounded and evicts oldest
  results; SURVEY §7.1 step 7 calls out exactly this fix.
- execute_update: DDL/DML path; returns -1 like the reference
  (lib.rs:645-654).
- close: evict statement + result (lib.rs:718-730).

Everything DataFusion-dialect entering this layer passes through
:func:`..dialect.rewrite_sql`, and each session inherits the SQL-UDF
shims from the template — so a reference client's SQL works unchanged.
"""

from __future__ import annotations

import os
import re
import threading
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field

import pyarrow as pa
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..dialect import rewrite_sql, split_params
from ..dialect.rewrite import find_params
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


class AuthError(Exception):
    pass


@dataclass
class PreparedStatement:
    token: str
    raw_sql: str
    translated_sql: str
    is_rollback: bool = False
    has_params: bool = False
    args: dict | None = None
    schema: object | None = None  # pyspark StructType once analyzed


@dataclass
class EngineService:
    """One instance fronts one root SparkSession (≈ the server process)."""

    root: SparkSession
    max_cached_results: int = 64
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
    results: OrderedDict = field(default_factory=OrderedDict)
    # gRPC threads share every map here: each insert, pop and scan holds
    # this lock (unlocked, a scan racing an insert raises and concurrent
    # move_to_end/popitem corrupt the OrderedDict).  Spark work stays
    # OUTSIDE it, so long queries never serialize sessions.
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

    def _qualified_names_pass(self, sql: str, token: str) -> str:
        """Rewrite qualified ``ns.table`` identifiers to the caller's
        session views — OUTSIDE string literals (same masking discipline
        as the dialect passes).  Boundaries exclude '.' so a longer
        dotted spelling (``db.ns.table``) is never corrupted from the
        middle."""
        names = self._catalog_names_by_token.get(token)
        if not names:
            return sql
        from ..dialect.rewrite import _mask_literals, _unmask_literals
        masked, saved = _mask_literals(sql)
        for qualified, view in names.items():
            masked = re.sub(
                rf"(?<![\w.]){re.escape(qualified)}(?![\w.])",
                view, masked)
        return _unmask_literals(masked, saved)

    def _session(self, token: str) -> SparkSession:
        try:
            return self.sessions[token]
        except KeyError:
            raise AuthError(f"unknown token: {token}") from None

    # ------------------------------------------------- current db/schema
    # The reference's two custom UDFs read env at call time with defaults
    # 'datafusion' / 'public' (lib.rs:106-128, udf.rs:23-104,
    # README.md:12).  Spark's builtin current_database() answers from the
    # catalog, so the service substitutes the env-driven values textually.
    @staticmethod
    def _env_identity_pass(sql: str) -> str:
        db = os.environ.get("CURRENT_DATABASE", "datafusion")
        schema = os.environ.get("CURRENT_SCHEMA", "public")
        return (sql.replace("current_database()", f"'{db}'")
                   .replace("current_schema()", f"'{schema}'"))

    # ------------------------------------------------- df_settings view
    def _materialize_df_settings(self, session: SparkSession) -> None:
        """(Re)build the ``df_settings`` temp view (the reference enables
        information_schema incl. df_settings at lib.rs:92): every mapped
        DataFusion knob with its CURRENT Spark-side value, overlaid
        with any `SET datafusion.*` this session issued (including
        accepted-and-ignored unmapped keys — faithful to SHOW ALL
        listing whatever was set)."""
        rows = {}
        for df_key, spark_key in DATAFUSION_CONF_MAP.items():
            try:
                rows[df_key] = str(session.conf.get(spark_key))
            except Exception:
                rows[df_key] = ""
        rows.update((k, v) for k, v in session.conf.getAll.items()
                    if k.startswith("datafusion."))
        session.createDataFrame(sorted(rows.items()),
                                "name STRING, value STRING"
                                ).createOrReplaceTempView("df_settings")

    # --------------------------------------------- SHOW TABLES / COLUMNS
    def _materialize_tables_view(self, session: SparkSession) -> None:
        """``df_tables`` temp view in DataFusion's information_schema
        .tables shape (the reference enables information_schema at
        lib.rs:92; DataFusion's SHOW TABLES reads it)."""
        db = os.environ.get("CURRENT_DATABASE", "datafusion")
        schema = os.environ.get("CURRENT_SCHEMA", "public")
        rows = [(db, schema, t.name,
                 "VIEW" if t.tableType in ("TEMPORARY", "VIEW")
                 else "BASE TABLE")
                for t in session.catalog.listTables()
                if t.name not in ("df_tables", "df_columns", "df_settings")]
        session.createDataFrame(
            rows or [("", "", "", "")],
            "table_catalog STRING, table_schema STRING, "
            "table_name STRING, table_type STRING"
        ).where("table_name <> ''").createOrReplaceTempView("df_tables")

    def _materialize_columns_view(self, session: SparkSession,
                                  table_name: str) -> None:
        db = os.environ.get("CURRENT_DATABASE", "datafusion")
        schema = os.environ.get("CURRENT_SCHEMA", "public")
        fields = session.table(table_name).schema.fields
        session.createDataFrame(
            [(db, schema, table_name, f.name, f.dataType.simpleString(),
              "YES" if f.nullable else "NO") for f in fields],
            "table_catalog STRING, table_schema STRING, table_name STRING, "
            "column_name STRING, data_type STRING, is_nullable STRING"
        ).createOrReplaceTempView("df_columns")

    _SHOW_COLUMNS_RE = re.compile(
        r"^\s*SHOW\s+COLUMNS\s+FROM\s+([\w.]+)\s*;?\s*$", re.IGNORECASE)

    # ------------------------------------------- EXPLAIN / DESCRIBE shims
    # DataFusion executes both as ordinary statements through ctx.sql
    # (lib.rs:678): EXPLAIN returns (plan_type, plan) rows —
    # 'logical_plan' + 'physical_plan', or 'Plan with Metrics' for
    # EXPLAIN ANALYZE (which executes the query) — and DESCRIBE returns
    # (column_name, data_type, is_nullable).  Same shapes here, answered
    # from Catalyst.
    def _materialize_explain(self, token: str, session: SparkSession,
                             analyze: bool, inner_sql: str,
                             handle: str) -> str:
        translated = rewrite_sql(self._qualified_names_pass(
            self._env_identity_pass(inner_sql), token))
        df = session.sql(translated)
        qe = df._jdf.queryExecution()
        if analyze:
            df.collect()  # EXPLAIN ANALYZE runs the plan, like DF
            rows = [("Plan with Metrics",
                     qe.executedPlan().toString())]
        else:
            rows = [("logical_plan", qe.optimizedPlan().toString()),
                    ("physical_plan", qe.executedPlan().toString())]
        # per-HANDLE view: interleaved prepares on one session must not
        # clobber each other's results between prepare and execute
        view = f"df_explain_{handle.replace('-', '')[:16]}"
        session.createDataFrame(rows, "plan_type STRING, plan STRING") \
            .createOrReplaceTempView(view)
        return f"SELECT plan_type, plan FROM {view}"

    def _materialize_describe(self, token: str, session: SparkSession,
                              name: str, handle: str) -> str:
        resolved = self._qualified_names_pass(name, token)
        fields = session.table(resolved).schema.fields
        view = f"df_describe_{handle.replace('-', '')[:16]}"
        session.createDataFrame(
            [(f.name, f.dataType.simpleString(),
              "YES" if f.nullable else "NO") for f in fields],
            "column_name STRING, data_type STRING, is_nullable STRING"
        ).createOrReplaceTempView(view)
        return ("SELECT column_name, data_type, is_nullable "
                f"FROM {view}")

    # ------------------------------------------------------------ prepare
    def create_prepared_statement(self, token: str, sql: str) -> str:
        session = self._session(token)
        handle = str(uuid.uuid4())
        if sql == ROLLBACK_LITERAL:
            with self._lock:
                self.statements[handle] = PreparedStatement(
                    token, sql, sql, is_rollback=True)
            return handle
        # SHOW ALL / SHOW TABLES / SHOW COLUMNS / information_schema —
        # DataFusion answers these from information_schema, enabled in
        # the reference at lib.rs:92; same shapes here.
        if re.match(r"^\s*SHOW\s+ALL\s*;?\s*$", sql, re.IGNORECASE):
            sql = "SELECT name, value FROM df_settings ORDER BY name"
            self._materialize_df_settings(session)
        elif re.match(r"^\s*SHOW\s+TABLES\s*;?\s*$", sql, re.IGNORECASE):
            sql = ("SELECT table_catalog, table_schema, table_name, "
                   "table_type FROM df_tables ORDER BY table_name")
            self._materialize_tables_view(session)
        elif (m_cols := self._SHOW_COLUMNS_RE.match(sql)):
            sql = ("SELECT table_catalog, table_schema, table_name, "
                   "column_name, data_type, is_nullable FROM df_columns")
            self._materialize_columns_view(session, m_cols.group(1))
        elif (m_ex := re.match(r"^\s*EXPLAIN\s+(ANALYZE\s+)?(.+)$", sql,
                               re.IGNORECASE | re.DOTALL)):
            sql = self._materialize_explain(
                token, session, bool(m_ex.group(1)), m_ex.group(2), handle)
        elif (m_desc := re.match(r"^\s*DESCRIBE\s+([A-Za-z_][\w.]*)\s*;?\s*$",
                                 sql, re.IGNORECASE)):
            sql = self._materialize_describe(token, session,
                                             m_desc.group(1), handle)
        elif re.search(r"\binformation_schema\.df_settings\b", sql,
                       re.IGNORECASE):
            sql = re.sub(r"\binformation_schema\.df_settings\b",
                         "df_settings", sql, flags=re.IGNORECASE)
            self._materialize_df_settings(session)
        translated = rewrite_sql(
            self._qualified_names_pass(self._env_identity_pass(sql), token))
        # parameters are counted OUTSIDE string literals — a literal like
        # 'costs $5' must not defer schema analysis (ADVICE r1)
        has_params = bool(find_params(sql))
        st = PreparedStatement(token, sql, translated, has_params=has_params)
        if not has_params:
            # eager analysis: schema available at prepare time, like the
            # reference shipping the plan schema (lib.rs:702-708);
            # spark.sql is lazy — .schema runs Catalyst analysis only.
            df = session.sql(translated)
            st.schema = df.schema
        with self._lock:
            self.statements[handle] = st
        return handle

    def statement_schema(self, handle: str):
        return self.statements[handle].schema

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
        if st.args is not None:
            return session.sql(st.translated_sql, args=st.args)
        return session.sql(st.translated_sql)

    def execute(self, token: str, handle: str) -> str:
        """Run the statement, cache the FULL result (Arrow), return the
        fetch ticket (the handle itself, like FetchResults{handle} at
        lib.rs:351-361)."""
        st = self._owned(token, handle)
        session = self._session(token)
        if st.is_rollback:
            table = pa.table({"rollback": pa.array(["ROLLBACK"], pa.string())})
        else:
            df = self._dataframe(st, session)
            st.schema = df.schema
            table = df.toArrow()
        with self._lock:
            self.results[handle] = table
            self.results.move_to_end(handle)
            while len(self.results) > self.max_cached_results:
                self.results.popitem(last=False)
        return handle

    def execute_update(self, token: str, handle: str) -> int:
        """DDL / SET / DML path — executes the side effect, returns -1
        like do_put_prepared_statement_update (lib.rs:645-654).

        ``SET datafusion.x = v`` maps through DATAFUSION_CONF_MAP onto
        the session conf; unmapped keys are accepted and ignored (compat)
        — each key also lands as-is in the conf, for ``df_settings``."""
        st = self._owned(token, handle)
        session = self._session(token)
        if st.is_rollback:
            return -1
        m = _SET_RE.match(st.raw_sql)
        if m and (key := m.group(1).lower()).startswith("datafusion."):
            if key in DATAFUSION_CONF_MAP:
                session.conf.set(DATAFUSION_CONF_MAP[key], m.group(2))
            session.conf.set(key, m.group(2))
            return -1
        self._dataframe(st, session).collect()
        return -1

    # ------------------------------------------------------------ fetch
    def fetch(self, token: str, handle: str) -> pa.Table:
        """Cached-result fetch, keyed by the owner's session: a ticket
        obtained by one session is not redeemable by another."""
        if handle in self.statements:
            self._owned(token, handle)
        try:
            with self._lock:
                return self.results[handle]
        except KeyError:
            raise KeyError(f"no cached result for handle {handle}") from None

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
