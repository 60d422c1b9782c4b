"""Load generator: Flight SQL client threads and the Iceberg writer.

Each client thread owns one connection and runs a closed loop — it
sends its next statement only after the previous reply, as a JDBC
caller does.  A statement is the full Flight SQL round trip: prepare →
DoPut bind → GetFlightInfo → DoGet → close, each RPC timed.  Results
are kept and checked against the oracle after the measured window.

The writer is an open loop: commit ``i`` is due at ``start + i / rate``
and its latency counts from that moment, so a stall shows up in every
later commit.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.flight as flight

from iceberg_datafusion_arrow_flight_spark.service.flightsql_client import (
    FlightSqlClient)
from iceberg_datafusion_arrow_flight_spark.service.flightsql_proto import (
    pack_any)

USER, PASSWORD = "bench", "bench-secret"


@dataclass
class Exec:
    """One executed statement."""
    statement: str
    params: list
    start: float  # time.time() when prepare was sent
    total_s: float
    rpc_s: dict[str, float]
    result_bytes: int
    result: pa.Table | None
    error: str | None = None


class Connection:
    """A Flight SQL connection whose RPCs are timed one by one."""

    def __init__(self, location: str) -> None:
        t0 = time.perf_counter()
        self.sql = FlightSqlClient(location, USER, PASSWORD)
        self.handshake_s = time.perf_counter() - t0

    def run(self, name: str, text: str, params: list) -> Exec:
        start = time.time()
        rpc: dict[str, float] = {}
        t = time.perf_counter()
        try:
            st = self.sql.prepare(text)
            t = _lap(rpc, "prepare", t)
            if params:
                self.sql.bind(st, params)
                t = _lap(rpc, "bind", t)
            cmd = pack_any("CommandPreparedStatementQuery",
                           prepared_statement_handle=st.handle.encode())
            info = self.sql.client.get_flight_info(
                flight.FlightDescriptor.for_command(cmd))
            t = _lap(rpc, "get_flight_info", t)
            batches = [chunk.data for ep in info.endpoints
                       for chunk in self.sql.client.do_get(ep.ticket)]
            table = pa.Table.from_batches(batches, schema=info.schema)
            t = _lap(rpc, "do_get", t)
            self.sql.close(st)
            _lap(rpc, "close", t)
        except flight.FlightError as exc:
            return Exec(name, params, start, sum(rpc.values()), rpc, 0, None,
                        error=f"{type(exc).__name__}: {exc}")
        return Exec(name, params, start, sum(rpc.values()), rpc,
                    table.nbytes, table)

    def close(self) -> None:
        self.sql.client.close()


def _lap(rpc: dict[str, float], name: str, t: float) -> float:
    now = time.perf_counter()
    rpc[name] = now - t
    return now


@dataclass
class ClientLog:
    handshakes_s: list[float] = field(default_factory=list)
    execs: list[Exec] = field(default_factory=list)
    # ingest readers: (first, last) writer commit count around each
    # handshake, and the execs of that session
    sessions: list[tuple[int, int, list[Exec]]] = field(default_factory=list)


def closed_loop(conn: Connection, cycle, deadline: float, log: ClientLog,
                rng: np.random.Generator) -> None:
    """A persistent connection running whole cycles until ``deadline``;
    ``cycle(rng)`` yields (name, text, params) for one cycle."""
    while time.time() < deadline:
        for name, text, params in cycle(rng):
            log.execs.append(conn.run(name, text, params))


def reconnecting_loop(location: str, cycle, per_session: int,
                      deadline: float, log: ClientLog, writer: "Writer",
                      rng: np.random.Generator) -> None:
    """Reader of ``ingest_and_read``: a new connection (so a new pinned
    snapshot) every ``per_session`` statements; stops at ``deadline``
    even inside a session."""
    while time.time() < deadline:
        first = writer.commits_done
        conn = Connection(location)
        last = writer.commits_done
        log.handshakes_s.append(conn.handshake_s)
        session: list[Exec] = []
        try:
            for name, text, params in cycle(rng, per_session):
                if time.time() >= deadline:
                    break
                session.append(conn.run(name, text, params))
        finally:
            conn.close()
        log.sessions.append((first, last, session))
        log.execs.extend(session)


# --------------------------------------------------------------- writer

KEY = "event_id"


@dataclass
class Commit:
    op: str
    due: float
    start: float
    end: float
    retries: int
    error: str | None = None


class Writer:
    """Commits pre-generated ``events`` batches to the shared catalog at
    a fixed rate, keeping the expected table state after every commit.
    ``plan`` lists (op, parquet path, batch) in commit order; each
    :meth:`loop` call goes on where the previous one stopped."""

    def __init__(self, spark, table,
                 plan: list[tuple[str, str | None, pa.Table | None]],
                 initial: pa.Table, rate_per_s: float) -> None:
        self.spark, self.table, self.plan = spark, table, plan
        self.rate = rate_per_s
        self.states = [initial]  # states[i]: table after i commits
        self.commits: list[Commit] = []
        self.commits_done = 0

    def run_one(self, op: str, path: str | None) -> int:
        """Apply one commit, retrying lost CAS races; returns retries."""
        from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
            CommitFailedError)
        retries = 0
        while True:
            try:
                if op == "compact":
                    self.table.compact(self.spark)
                else:
                    df = self.spark.read.parquet(path)
                    if op == "append":
                        self.table.append(df)
                    elif op == "merge_upsert_mor":
                        self.table.merge_upsert_mor(self.spark, df, [KEY])
                    else:
                        self.table.delete_keys_mor_equality(
                            self.spark, df, [KEY])
                return retries
            except CommitFailedError:
                retries += 1

    def model(self, op: str, batch: pa.Table | None) -> None:
        state = self.states[-1]
        if op in ("merge_upsert_mor", "delete_keys_mor_equality"):
            state = state.filter(pc.invert(pc.is_in(state[KEY],
                                                    batch[KEY])))
        if op in ("append", "merge_upsert_mor"):
            state = pa.concat_tables([state, batch.select(state.column_names)])
        self.states.append(state)

    def loop(self, start: float, deadline: float) -> None:
        for i, (op, path, batch) in enumerate(
                self.plan[len(self.commits):]):
            due = start + i / self.rate
            if due >= deadline:
                break
            time.sleep(max(0.0, due - time.time()))
            t = time.time()
            try:
                retries = self.run_one(op, path)
            except Exception as exc:  # reported as a failed commit
                self.commits.append(Commit(op, due, t, time.time(), 0,
                                           f"{type(exc).__name__}: {exc}"))
                return
            self.model(op, batch)
            self.commits_done += 1
            self.commits.append(Commit(op, due, t, time.time(), retries))


def start_threads(targets: list) -> list[threading.Thread]:
    threads = [threading.Thread(target=fn, args=args, daemon=True)
               for fn, args in targets]
    for t in threads:
        t.start()
    return threads
