"""In-memory spans around the package's public entry points.

:func:`install` wraps, from outside the package, the calls into each
layer: the ``EngineService`` verbs, ``dialect.rewrite_sql``,
``functions.register_dialect_functions``, the ``SqliteCatalog`` /
``IcebergTable`` verbs, the Flight SQL protobuf codec and
``DataFrame.toArrow``.  A span records name, start, end, parent span
and request id (the id of the outermost span on the thread); spans stay
in memory until :meth:`Tracer.dump` writes them out at exit.  Counters
are recorded at the same boundaries.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, name, start, end, parent, rid)
        self.counts: list[tuple] = []  # (name, time, n)
        self._ids = itertools.count(1)
        self._local = threading.local()

    def count(self, name: str, n: float = 1) -> None:
        self.counts.append((name, time.time(), n))

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` recording one span per call; ``on_result(result)``
        may update counters from the returned value."""
        local = self._local

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = local.__dict__.setdefault("stack", [])
            sid = next(self._ids)
            parent, rid = stack[-1] if stack else (None, sid)
            stack.append((sid, rid))
            start = time.time()
            try:
                result = fn(*args, **kwargs)
            finally:
                end = time.time()
                stack.pop()
                self.spans.append((sid, name, start, end, parent, rid))
            if on_result is not None:
                on_result(result)
            return result
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def span_cost_s(n: int = 20000) -> float:
    """Seconds one span adds to a call (wrapped minus bare no-op call)."""
    def noop():
        return None
    traced = Tracer().wrap("calibrate", noop)
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        traced()
    return max(0.0, (time.perf_counter() - t0 - bare) / n)


def _patch(tracer: Tracer, owner, attr: str, name: str, on_result=None):
    setattr(owner, attr, tracer.wrap(name, getattr(owner, attr), on_result))


def install(tracer: Tracer) -> None:
    """Wrap every traced entry point in this process."""
    from pyspark.sql.classic.dataframe import DataFrame

    from iceberg_datafusion_arrow_flight_spark import dialect
    from iceberg_datafusion_arrow_flight_spark.service import (
        engine, flight_server, flightsql_client)
    from iceberg_datafusion_arrow_flight_spark.sources import iceberg_lite

    svc = engine.EngineService
    for attr, name in [
            ("handshake", "engine.handshake"),
            ("_register_catalog_views", "engine.catalog_views"),
            ("create_prepared_statement", "engine.prepare"),
            ("bind_parameters", "engine.bind"),
            ("_dataframe", "engine.analyze"),
            ("execute", "engine.execute"),
            ("fetch", "engine.fetch"),
            ("close_prepared_statement", "engine.close")]:
        _patch(tracer, svc, attr, name)
    _patch(tracer, DataFrame, "toArrow", "engine.to_arrow")

    # modules that imported the function by name are patched too
    rewrite = tracer.wrap("dialect.rewrite", dialect.rewrite_sql)
    dialect.rewrite_sql = engine.rewrite_sql = rewrite
    engine.register_dialect_functions = tracer.wrap(
        "functions.register", engine.register_dialect_functions,
        lambda names: tracer.count("functions.udfs_created", len(names)))

    def timed_proto(module, attr, name):
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.count(f"proto.{name}_s", time.perf_counter() - t0)
                tracer.count(f"proto.{name}_n")
        setattr(module, attr, timed)
    for module in (flight_server, flightsql_client):
        timed_proto(module, "pack_any", "pack")
        timed_proto(module, "unpack_any", "unpack")

    cat, tbl = iceberg_lite.SqliteCatalog, iceberg_lite.IcebergTable
    for attr in ("create_table", "load_table", "list_tables"):
        _patch(tracer, cat, attr, f"iceberg.{attr}")
    _patch(tracer, cat, "_swap_pointer", "iceberg.cas")
    for attr in ("append", "merge_upsert_mor", "delete_keys_mor_equality",
                 "compact", "read"):
        _patch(tracer, tbl, attr, f"iceberg.{attr}")
    _patch(tracer, tbl, "plan_files", "iceberg.plan_files",
           lambda entries: tracer.count("iceberg.files_planned",
                                        len(entries)))
    _patch(tracer, tbl, "_load_metadata", "iceberg.load_metadata")
    manifests = iceberg_lite._read_manifest_paths
    iceberg_lite._read_manifest_paths = lambda snap: _counted(
        tracer, "iceberg.manifests_read", manifests(snap))
    read_df = iceberg_lite._read_entries_df

    @functools.wraps(read_df)
    def read_entries(*args, **kwargs):
        tracer.count("iceberg.delete_files_applied",
                     len(kwargs.get("delete_files") or []))
        return read_df(*args, **kwargs)
    iceberg_lite._read_entries_df = read_entries


def _counted(tracer: Tracer, name: str, items: list) -> list:
    tracer.count(name, len(items))
    return items


def load(path: str) -> tuple[list[tuple], list[tuple]]:
    with open(path) as f:
        data = json.load(f)
    return ([tuple(s) for s in data["spans"]],
            [tuple(c) for c in data["counts"]])


def count_totals(counts: list[tuple], t0: float, t1: float
                 ) -> dict[str, float]:
    """Counter sums over events recorded in [t0, t1]."""
    out: dict[str, float] = defaultdict(float)
    for name, at, n in counts:
        if t0 <= at <= t1:
            out[name] += n
    return dict(out)


def summarize(spans: list[tuple], t0: float, t1: float
              ) -> dict[str, dict[str, float]]:
    """Per span name over spans that started in [t0, t1]: calls, total
    and self seconds (self = duration minus what child spans cover)."""
    child_time: dict[int, float] = defaultdict(float)
    for _sid, _name, start, end, parent, _rid in spans:
        if parent is not None:
            child_time[parent] += end - start
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
    for sid, name, start, end, _parent, _rid in spans:
        if t0 <= start <= t1:
            row = out[name]
            row["calls"] += 1
            row["total_s"] += end - start
            row["self_s"] += max(0.0, end - start - child_time[sid])
    return dict(out)
