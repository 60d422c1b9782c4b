"""Iceberg table lifecycle — catalog-managed snapshots, exercised for real.

The reference's identity is Iceberg tables behind a SQL catalog: tables are
registered in a JDBC (SQLite/Postgres/MySQL) catalog and every write commits
a new snapshot atomically through it
(iceberg-datafusion-arrow-flight/src/lib.rs:94-103 wires the catalog into the
session; iceberg-datafusion-arrow-flight-sql/src/main.rs:73 builds the
``SqlCatalog``; writes go through ``commit_transaction`` so readers see
either the old or the new snapshot, never a torn state).

The Iceberg Spark runtime jar is not available in this container (no
network; see GAPS.md), so this module implements the *table format
semantics* directly from the public Iceberg spec
(https://iceberg.apache.org/spec/), sized for the pieces the reference
exercises:

- **Catalog**: a SQLite database with Iceberg's JDBC-catalog table layout
  (``iceberg_tables(catalog_name, table_namespace, table_name,
  metadata_location, previous_metadata_location)``).  Commits are an
  atomic compare-and-swap on ``metadata_location`` — exactly the JDBC
  catalog's optimistic-concurrency protocol; a lost race raises
  :class:`CommitFailedError` instead of corrupting the table.
- **Metadata**: immutable, versioned ``vN-<uuid>.metadata.json`` files
  (uuid-suffixed like Iceberg's own, so concurrent writers racing from
  the same base can never publish into each other's file; format-version
  2 field names: table-uuid, schemas/schema-id, current-snapshot-id,
  snapshots, snapshot-log).
- **Snapshots**: every ``append``/``overwrite`` writes new Parquet data
  files, a manifest listing them *with per-file row counts and per-column
  min/max stats*, and a new metadata version pointing at the new snapshot.
  Old snapshots stay readable → time travel by snapshot id or timestamp.
- **Manifests**: JSON rather than the spec's Avro encoding (no Avro
  library in the container — documented deviation; the *content* matches
  the spec's manifest entries: file path, record count, file size, column
  bounds).  Everything else round-trips the spec shape.
- **Commits**: every metadata change — writes, deletes, schema and
  partition evolution, refs, rollback, expiry — goes through one method,
  :meth:`IcebergTable._commit`, on the ``(location, metadata)`` its
  caller loaded and validated.  In order it applies the caller's
  changes, adds the snapshot (fresh id, next sequence number, stamped
  delete files, then ``current-snapshot-id`` + ``snapshot-log`` or the
  branch ref), appends the prior location to ``metadata-log``, writes
  the next version file and CASes the catalog pointer from the loaded
  location — so a check made on that load holds at the commit, or the
  commit raises :class:`CommitFailedError`.

Scale: the data path is pure Spark — ``df.write.parquet`` on the executors,
``spark.read.schema(<write schema from metadata>).parquet(paths)`` on read
(the schema is never inferred from the files, so building a read plan runs
no Spark job); only file *names and stats* pass through the committer
(KB per snapshot, like Iceberg's manifest lists), so a 100 TB table costs
the driver the same as a 100 MB one.  ``plan_files``
does manifest-level min/max pruning, the same skip-scan Iceberg's
``ManifestEvaluator`` performs, so selective reads open a subset of files.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sqlite3
import time
import uuid
import dataclasses
from dataclasses import dataclass
from dataclasses import field as dataclass_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

__all__ = [
    "SqliteCatalog",
    "IcebergTable",
    "CommitFailedError",
    "NoSuchTableError",
    "TableAlreadyExistsError",
]


class CommitFailedError(RuntimeError):
    """Optimistic-concurrency CAS on metadata_location lost the race."""


class NoSuchTableError(KeyError):
    pass


class TableAlreadyExistsError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Catalog — Iceberg JDBC-catalog table layout over stdlib sqlite3.
# ---------------------------------------------------------------------------

_DDL = """
CREATE TABLE IF NOT EXISTS iceberg_tables (
    catalog_name TEXT NOT NULL,
    table_namespace TEXT NOT NULL,
    table_name TEXT NOT NULL,
    metadata_location TEXT,
    previous_metadata_location TEXT,
    PRIMARY KEY (catalog_name, table_namespace, table_name)
)
"""


class SqliteCatalog:
    """Iceberg JDBC catalog semantics on a SQLite file.

    Mirrors ``SqlCatalog::new(&format!("sqlite://{path}"), name)`` in the
    reference (iceberg-datafusion-arrow-flight-sql/src/main.rs:73): table
    pointers live in the database, table *data* lives in the warehouse, and
    the only mutable state is the ``metadata_location`` column, swapped
    under a transaction.
    """

    def __init__(self, db_path: str, name: str = "lake",
                 warehouse: str | None = None) -> None:
        # abspath for the same cwd-divergence reason as the warehouse:
        # a later os.chdir must not re-point the catalog at a fresh db
        self.db_path = os.path.abspath(db_path)
        self.name = name
        # Canonicalize up front: a relative warehouse would otherwise
        # resolve against the PYTHON cwd in the committer (os.listdir,
        # manifest paths) but against the JVM's start cwd in the Spark
        # read/write path — two different trees, silently.
        self.warehouse = os.path.abspath(warehouse or os.path.join(
            os.path.dirname(db_path) or ".", "warehouse"))
        with self._conn() as conn:
            conn.execute(_DDL)

    def _conn(self) -> sqlite3.Connection:
        conn = sqlite3.connect(self.db_path, timeout=30.0)
        conn.isolation_level = None  # explicit BEGIN IMMEDIATE below
        return conn

    # -- table lifecycle ----------------------------------------------------

    def create_table(self, namespace: str, name: str, df: DataFrame,
                     partition_by: list[str] | None = None,
                     ) -> "IcebergTable":
        """CREATE TABLE: write metadata v1 (no snapshot), register pointer.
        ``partition_by`` accepts Iceberg transform syntax per field:
        ``"lang"`` (identity), ``"day(ts)"``, ``"bucket(8, user_id)"``,
        ``"truncate(3, name)"``."""
        location = os.path.join(self.warehouse, namespace, name)
        metadata_location = _write_new_table(location, df, partition_by)
        with self._conn() as conn:
            conn.execute("BEGIN IMMEDIATE")
            try:
                conn.execute(
                    "INSERT INTO iceberg_tables VALUES (?,?,?,?,NULL)",
                    (self.name, namespace, name, metadata_location))
                conn.execute("COMMIT")
            except sqlite3.IntegrityError:
                conn.execute("ROLLBACK")
                raise TableAlreadyExistsError(f"{namespace}.{name}")
        return IcebergTable(self, namespace, name)

    def load_table(self, namespace: str, name: str) -> "IcebergTable":
        if self._metadata_location(namespace, name) is None:
            raise NoSuchTableError(f"{namespace}.{name}")
        return IcebergTable(self, namespace, name)

    def drop_table(self, namespace: str, name: str) -> None:
        with self._conn() as conn:
            conn.execute("BEGIN IMMEDIATE")
            conn.execute(
                "DELETE FROM iceberg_tables WHERE catalog_name=? AND "
                "table_namespace=? AND table_name=?",
                (self.name, namespace, name))
            conn.execute("COMMIT")

    def list_tables(self, namespace: str | None = None) -> list[tuple[str, str]]:
        q = ("SELECT table_namespace, table_name FROM iceberg_tables "
             "WHERE catalog_name=?")
        args: tuple = (self.name,)
        if namespace is not None:
            q += " AND table_namespace=?"
            args += (namespace,)
        with self._conn() as conn:
            return [tuple(r) for r in conn.execute(q + " ORDER BY 1, 2", args)]

    # -- pointer CAS --------------------------------------------------------

    def _metadata_location(self, namespace: str, name: str) -> str | None:
        with self._conn() as conn:
            row = conn.execute(
                "SELECT metadata_location FROM iceberg_tables WHERE "
                "catalog_name=? AND table_namespace=? AND table_name=?",
                (self.name, namespace, name)).fetchone()
        return row[0] if row else None

    def _swap_pointer(self, namespace: str, name: str,
                      expected: str, new: str) -> None:
        """Atomic CAS: the heart of the catalog commit protocol."""
        with self._conn() as conn:
            conn.execute("BEGIN IMMEDIATE")
            cur = conn.execute(
                "UPDATE iceberg_tables SET metadata_location=?, "
                "previous_metadata_location=? WHERE catalog_name=? AND "
                "table_namespace=? AND table_name=? AND metadata_location=?",
                (new, expected, self.name, namespace, name, expected))
            if cur.rowcount != 1:
                conn.execute("ROLLBACK")
                raise CommitFailedError(
                    f"{namespace}.{name}: metadata_location moved from "
                    f"{expected!r}; retry on the new base")
            conn.execute("COMMIT")


# ---------------------------------------------------------------------------
# Table handle — snapshot-producing writes and snapshot-pinned reads.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DataFileEntry:
    """One manifest entry (spec: manifest-entry → data_file struct).
    ``partition`` holds the file's partition-field values (spec:
    data_file.partition) — empty for unpartitioned tables and for
    manifests written before partitioning existed."""
    file_path: str
    record_count: int
    file_size_in_bytes: int
    lower_bounds: dict[str, object]
    upper_bounds: dict[str, object]
    partition: dict[str, str] = dataclass_field(default_factory=dict)
    # schema the file was WRITTEN under (spec: manifest schema-id) —
    # the read path maps its column names to the current schema by
    # field id, which is what makes rename/drop evolution safe
    schema_id: int = 0
    # data sequence number (spec: sequence_number): the commit order
    # position the file's rows entered the table at.  EQUALITY deletes
    # apply only to rows with a STRICTLY SMALLER sequence — a deleted
    # key re-appended later must survive.  0 for pre-sequencing
    # manifests (every equality delete applies to them).
    sequence_number: int = 0


class IcebergTable:
    def __init__(self, catalog: SqliteCatalog, namespace: str,
                 name: str) -> None:
        self.catalog = catalog
        self.namespace = namespace
        self.name = name

    # -- metadata access ----------------------------------------------------

    def _load_metadata(self) -> tuple[str, dict]:
        loc = self.catalog._metadata_location(self.namespace, self.name)
        if loc is None:
            raise NoSuchTableError(f"{self.namespace}.{self.name}")
        with open(loc) as f:
            return loc, json.load(f)

    def current_snapshot_id(self) -> int | None:
        return self._load_metadata()[1]["current-snapshot-id"]

    def snapshots(self) -> list[dict]:
        return self._load_metadata()[1]["snapshots"]

    def history(self) -> list[dict]:
        return self._load_metadata()[1]["snapshot-log"]

    def schema_fields(self) -> list[dict]:
        md = self._load_metadata()[1]
        return _schema_of(md, md["current-schema-id"])

    # -- write path ---------------------------------------------------------

    def append(self, df: DataFrame,
               summary_extra: dict[str, str] | None = None) -> int:
        """INSERT INTO semantics: new snapshot = old files + new files.
        ``summary_extra`` lands in the snapshot summary — streaming
        sinks stamp their batch id there to make replays detectable."""
        return self._commit_write(df, operation="append",
                                  summary_extra=summary_extra)

    def append_to_branch(self, df: DataFrame, branch: str,
                         summary_extra: dict[str, str] | None = None
                         ) -> int:
        """Write-audit-publish staging (Iceberg's spark.wap.branch
        workflow): append ONTO a branch ref — the snapshot chains off
        the branch head (created from the current snapshot on first
        use) and only the ref moves, so main readers see nothing until
        :meth:`publish_branch` fast-forwards.  Audit the staged state
        with ``read(spark, snapshot_id=resolve_ref(branch))``."""
        return self._commit_write(df, operation="append",
                                  summary_extra=summary_extra,
                                  to_branch=branch)

    def publish_branch(self, branch: str, drop_ref: bool = True) -> int:
        """Publish a staged branch: FAST-FORWARD main to the branch
        head.  Requires the current snapshot to be an ancestor of the
        head — if main advanced independently since staging, the
        histories diverged and this raises (re-stage on a fresh branch
        instead of silently dropping main's commits).  The branch's
        snapshots join the main snapshot-log in chain order; the ref is
        dropped by default once published."""
        base_location, metadata = self._load_metadata()
        ref = metadata.get("refs", {}).get(branch)
        if ref is None or ref["type"] != "branch":
            raise ValueError(f"no branch named {branch!r}")
        head = ref["snapshot-id"]
        cur = metadata["current-snapshot-id"]
        chain = []
        walk = head
        while walk is not None and walk != cur:
            snap = _snapshot(metadata, walk)
            chain.append(snap)
            walk = snap.get("parent-snapshot-id")
        if walk != cur:
            raise CommitFailedError(
                f"branch {branch!r} does not descend from the current "
                f"snapshot — main advanced since staging; re-stage")
        now = _now_ms()
        changes = {
            "current-snapshot-id": head,
            "snapshot-log": metadata["snapshot-log"] + [
                {"timestamp-ms": now, "snapshot-id": s["snapshot-id"]}
                for s in reversed(chain)]}
        if drop_ref:
            changes["refs"] = {k: r for k, r in metadata["refs"].items()
                               if k != branch}
        self._commit(base_location, metadata, changes)
        return head

    def overwrite(self, df: DataFrame) -> int:
        """INSERT OVERWRITE semantics: new snapshot = new files only."""
        return self._commit_write(df, operation="overwrite")

    _ANY_BASE = object()  # sentinel: commit on top of whatever is current

    def _commit_write(self, df: DataFrame, operation: str,
                      kept_entries: list[DataFileEntry] | None = None,
                      summary_extra: dict[str, str] | None = None,
                      expect_snapshot=_ANY_BASE,
                      delete_files: list[dict] | None = None,
                      to_branch: str | None = None) -> int:
        base_location, metadata = self._load_metadata()
        # Row-level DML plans its kept/rewritten file split against a
        # specific base snapshot; if another writer committed since, that
        # split is stale and committing it would silently drop the
        # concurrent writer's files.  The CAS alone can't catch this
        # (the pointer is re-read here), so the base is checked
        # explicitly — losers raise and must re-plan, same contract as
        # a lost pointer swap.
        if (expect_snapshot is not self._ANY_BASE
                and metadata["current-snapshot-id"] != expect_snapshot):
            raise CommitFailedError(
                f"{self.namespace}.{self.name}: base snapshot moved "
                f"({expect_snapshot} -> {metadata['current-snapshot-id']});"
                " re-plan the operation")
        parent_id = _branch_head(metadata, to_branch)
        # Reads trust metadata (each file is read under the schema it is
        # stamped with), so a frame that does not match the current
        # schema by (name, type) is refused before any file is written.
        fields = _schema_of(metadata, metadata["current-schema-id"])
        want = DataType.fromDDL(_ddl(fields))
        if (sorted((f.name, f.dataType.simpleString()) for f in df.schema)
                != sorted((f.name, f.dataType.simpleString()) for f in want)):
            raise ValueError(
                f"{self.namespace}.{self.name}: columns "
                f"{df.schema.simpleString()} do not match the table schema "
                f"{want.simpleString()}")
        df = df.select(*[F.col(f"`{f['name']}`") for f in fields])
        location = metadata["location"]
        write_id = uuid.uuid4().hex[:12]
        data_dir = os.path.join(location, "data", write_id)
        # Executors write the Parquet; the driver only ever sees file names
        # and footer stats below.  Partitioned tables fan the write out by
        # the spec's transform values (hive-layout dirs carry the values;
        # data files keep every SOURCE column, as the Iceberg spec does) —
        # the values land in each file's manifest entry for pruning.
        spec_fields = _spec_fields(metadata)
        if spec_fields:
            pcols = [f"__p_{f['name']}" for f in spec_fields]
            out = df
            for f, pc in zip(spec_fields, pcols):
                out = out.withColumn(pc, _transform_col(f))
            (out.write.mode("errorifexists")
             .partitionBy(*pcols).parquet(data_dir))
        else:
            df.write.mode("errorifexists").parquet(data_dir)
        entries = [dataclasses.replace(
            e, schema_id=metadata["current-schema-id"],
            sequence_number=metadata["last-sequence-number"] + 1)
            for e in _collect_entries(data_dir)]

        parent = (_snapshot(metadata, parent_id)
                  if operation == "append" and parent_id else None)
        manifest_path = os.path.join(
            location, "metadata", f"manifest-{write_id}.json")
        # Row-level DML (merge/delete) keeps the untouched files by copying
        # their entries into the new manifest verbatim — the copy-on-write
        # contract: surviving files are referenced, never rewritten.
        manifest_entries = entries + list(kept_entries or [])
        _write_json(manifest_path, {
            "schema-id": metadata["current-schema-id"],
            "content": "data",
            "entries": [e.__dict__ for e in manifest_entries],
            "prior-manifests": (_read_manifest_paths(parent)
                                if parent else []),
        })
        summary = {
            "operation": operation,
            "added-data-files": str(len(entries)),
            "added-records": str(sum(e.record_count for e in entries)),
            **(summary_extra or {}),
        }
        # Merge-on-read delete files carry forward: appends cannot
        # invalidate a positional delete (new files have new paths), so
        # they inherit the parent's list; every REWRITE operation must
        # decide explicitly — overwrite/replace drop them (files the
        # positions point into are gone or rewritten with deletes
        # applied), row-level DML passes the carried list itself.
        if delete_files is None:
            delete_files = parent.get("delete-files", []) if parent else []
        # Atomic publish: losers raise CommitFailedError and must re-read +
        # re-apply (their already-written data files are unreferenced, i.e.
        # orphans — same cleanup story as real Iceberg).
        return self._commit(base_location, metadata,
                            manifest_list=manifest_path, summary=summary,
                            delete_files=delete_files, branch=to_branch)

    def _commit(self, base_location: str, metadata: dict,
                changes: dict | None = None,
                manifest_list: str | None = None,
                summary: dict | None = None,
                delete_files: list[dict] | None = None,
                branch: str | None = None) -> int | None:
        """The one commit path for every metadata change.  ``metadata``
        is what the caller loaded from ``base_location`` and validated
        against; the CAS swaps the pointer only if it still names that
        location, so every check made on the load holds at the commit
        (else :class:`CommitFailedError`, and the caller re-plans).

        In order: ``changes`` (top-level metadata keys) replace their
        loaded values; with a ``manifest_list`` a new snapshot is added
        — fresh id, the next sequence number, ``summary`` and
        ``delete_files``, parented on the head of ``branch`` (None:
        main) — and becomes ``current-snapshot-id`` with a
        ``snapshot-log`` entry, or moves the branch ref only (write-
        audit-publish: main is untouched until publish_branch); the
        loaded location joins ``metadata-log``; the next version file
        is written and the pointer swapped.  Returns the new snapshot
        id, or None for a commit without one."""
        now = _now_ms()
        new = {**metadata, **(changes or {}), "last-updated-ms": now}
        snapshot_id = None
        if manifest_list is not None:
            snapshot_id = int(uuid.uuid4().int % (1 << 62)) + 1
            seq = metadata["last-sequence-number"] + 1
            # Delete files committed WITH this snapshot carry
            # sequence=None: stamped here from the load the snapshot's
            # own sequence derives from.  A value pre-computed from an
            # earlier load can be one low (a branch-targeted commit
            # bumps last-sequence-number without moving the current
            # snapshot), and a too-low equality-delete sequence erases
            # rows it must spare.
            new["snapshots"] = new["snapshots"] + [{
                "snapshot-id": snapshot_id,
                "parent-snapshot-id": _branch_head(metadata, branch),
                "sequence-number": seq,
                "timestamp-ms": now,
                "manifest-list": manifest_list,
                "summary": summary,
                "schema-id": new["current-schema-id"],
                "delete-files": [
                    {**f, "sequence": seq}
                    if "sequence" in f and f["sequence"] is None else f
                    for f in delete_files or []],
            }]
            new["last-sequence-number"] = seq
            if branch is not None:
                new["refs"] = {**new.get("refs", {}), branch: {
                    "snapshot-id": snapshot_id, "type": "branch"}}
            else:
                new["current-snapshot-id"] = snapshot_id
                new["snapshot-log"] = new["snapshot-log"] + [
                    {"timestamp-ms": now, "snapshot-id": snapshot_id}]
        new["metadata-log"] = new["metadata-log"] + [
            {"timestamp-ms": now, "metadata-file": base_location}]
        new_location = _write_metadata(
            new["location"], _next_version(base_location), new)
        self.catalog._swap_pointer(
            self.namespace, self.name, base_location, new_location)
        return snapshot_id

    # -- schema evolution ---------------------------------------------------

    def add_column(self, name: str, spark_type: str) -> int:
        """Metadata-only schema evolution (Iceberg add-column): a new
        schema version is committed through the same CAS — NO data files
        are rewritten; old files surface NULL for the new column at read
        time.  Returns the new schema id."""
        base_location, metadata = self._load_metadata()
        fields = _schema_of(metadata, metadata["current-schema-id"])
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name!r} already exists")
        # max over ALL schemas, not just current: a retired (dropped)
        # field's id must never be reused or old data would resurrect
        max_field = max((f["id"] for s in metadata["schemas"]
                         for f in s["fields"]), default=0)
        return self._commit_schema(
            base_location, metadata,
            fields + [{"id": max_field + 1, "name": name,
                       "required": False, "type": spark_type}])

    def update_partition_spec(self, partition_by: list[str]) -> int:
        """Partition-spec evolution (Iceberg REPLACE PARTITION FIELD /
        add-field): a metadata-only commit — NO data files move.  Files
        already written keep their old spec's values; new writes fan out
        by the new spec; partition pruning stays correct across both
        generations via the inclusive-projection rule in plan_files
        (files lacking a filtered field are conservatively kept).
        Returns the new spec id."""
        base_location, metadata = self._load_metadata()
        fields = _parse_partition_spec(partition_by)
        known = {f["name"] for f in
                 _schema_of(metadata, metadata["current-schema-id"])}
        for pf in fields:
            if pf["source"] not in known:
                raise ValueError(
                    f"partition source column {pf['source']!r} "
                    "not in schema")
        new_id = max(s["spec-id"]
                     for s in metadata["partition-specs"]) + 1
        self._commit(base_location, metadata, {
            "partition-specs": metadata["partition-specs"] + [
                {"spec-id": new_id, "fields": fields}],
            "default-spec-id": new_id})
        return new_id

    # -- maintenance --------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg table maintenance (expire_snapshots): drop all but the
        newest ``keep_last`` snapshots from metadata, then delete every
        manifest and data file no surviving snapshot can reach.

        Ordering matters and mirrors real Iceberg: the metadata commit
        goes through the catalog CAS FIRST, file deletion happens after
        the pointer swap — a crash in between leaves harmless orphans,
        never a broken table.  Manifests chain (``prior-manifests``), so
        reachability is computed from the kept snapshots' full chains —
        a manifest created for an expired snapshot stays on disk while
        any kept snapshot still links it.  Time travel to an expired id
        fails loudly afterwards (NoSuchTableError)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        base_location, metadata = self._load_metadata()
        snaps = metadata["snapshots"]
        # retention honors refs: a tagged/branched snapshot never expires
        ref_ids = {r["snapshot-id"]
                   for r in metadata.get("refs", {}).values()}
        keep_ids = ({s["snapshot-id"] for s in snaps[-keep_last:]}
                    | ref_ids)
        # ...and a BRANCH keeps its whole unpublished ancestor chain:
        # publish_branch() fast-forwards by walking head → current, so
        # expiring an intermediate staged snapshot would strand the
        # branch unpublishable.  Walk each ref's parents until a kept
        # snapshot (or the root) and keep everything on the way.
        by_id = {s["snapshot-id"]: s for s in snaps}
        for rid in ref_ids:
            walk = by_id.get(rid)
            while walk is not None:
                parent = walk.get("parent-snapshot-id")
                if parent is None or parent in keep_ids:
                    break
                keep_ids.add(parent)
                walk = by_id.get(parent)
        keep = [s for s in snaps if s["snapshot-id"] in keep_ids]
        expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
        if not expired:
            return {"expired": 0, "deleted_data_files": 0,
                    "deleted_manifests": 0}
        live_manifests: set[str] = set()
        live_files: set[str] = set()
        for s in keep:
            live_manifests.update(_read_manifest_paths(s))
            live_files.update(e.file_path for e in _read_all_entries(s))
            # merge-on-read delete files are snapshot state like any
            # data file: reachable from a kept snapshot → must survive
            live_files.update(d["path"]
                              for d in s.get("delete-files", []))
        dead_manifests: set[str] = set()
        dead_files: set[str] = set()
        for s in expired:
            dead_manifests.update(m for m in _read_manifest_paths(s)
                                  if m not in live_manifests)
            dead_files.update(e.file_path for e in _read_all_entries(s)
                              if e.file_path not in live_files)
            dead_files.update(d["path"]
                              for d in s.get("delete-files", [])
                              if d["path"] not in live_files)
        self._commit(base_location, metadata, {
            "snapshots": keep,
            "snapshot-log": [h for h in metadata["snapshot-log"]
                             if h["snapshot-id"] in keep_ids]})
        for path in sorted(dead_manifests | dead_files):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass  # already gone — deletion is idempotent
        return {"expired": len(expired),
                "deleted_data_files": len(dead_files),
                "deleted_manifests": len(dead_manifests)}

    def remove_orphan_files(self,
                            older_than_ms: int = 3 * 24 * 3600 * 1000,
                            ) -> dict:
        """Iceberg's remove_orphan_files: delete data files under the
        table location that NO snapshot (current metadata, any id)
        references — the debris a crashed writer or a CAS-race loser
        leaves behind (_commit_write documents exactly that failure
        mode).  Metadata is never touched; only unreachable bytes go.

        ``older_than_ms`` is the in-flight-writer guard (Iceberg's
        ``older_than``, same 3-day default): a concurrent writer's
        directory exists BEFORE its commit CAS, so an unguarded sweep
        would delete files whose commit is about to succeed.  Only
        directories whose newest file is older than the cutoff are
        candidates; pass 0 to force immediate cleanup when no writer
        can be live (tests, single-writer maintenance windows)."""
        cutoff_ms = _now_ms() - older_than_ms
        _, metadata = self._load_metadata()
        referenced: set[str] = set()
        for s in metadata["snapshots"]:
            referenced.update(e.file_path for e in _read_all_entries(s))
            referenced.update(d["path"]
                              for d in s.get("delete-files", []))
        data_root = os.path.join(metadata["location"], "data")
        # the unit is the per-commit write directory (data/<write_id>/):
        # manifests reference its parquet files but not Spark's
        # _SUCCESS/.crc markers, so per-file deletion would strip live
        # directories' markers — a directory is orphaned iff none of its
        # parquet files are referenced
        removed_dirs, removed_files = 0, 0
        for entry in sorted(os.listdir(data_root)):
            wdir = os.path.join(data_root, entry)
            if not os.path.isdir(wdir):
                continue
            parquet = [os.path.join(dp, f)
                       for dp, _d, fs in os.walk(wdir)
                       for f in fs if f.endswith(".parquet")]
            newest_ms = max((os.path.getmtime(os.path.join(dp, f))
                             for dp, _d, fs in os.walk(wdir)
                             for f in fs), default=os.path.getmtime(wdir))
            if (parquet and not any(p in referenced for p in parquet)
                    and newest_ms * 1000 <= cutoff_ms):
                removed_files += len(parquet)
                shutil.rmtree(wdir)
                removed_dirs += 1
        return {"deleted_orphan_dirs": removed_dirs,
                "deleted_orphan_files": removed_files}

    def rewrite_manifests(self) -> dict:
        """Iceberg's rewriteManifests: fold the current snapshot's
        append-chained manifest list into ONE consolidated manifest and
        commit it as a METADATA-ONLY replace snapshot — zero data or
        delete files move, scan results are bit-identical, history and
        refs are untouched.  The third standard maintenance verb next
        to rewrite_data_files (compact) and expire_snapshots: N small
        appends leave a chain of N manifests that every scan planning
        pass must walk; at 100 TB with thousands of commits the chain
        IS the planning bottleneck, and folding it restores O(1)
        manifest reads without paying a data rewrite.

        Entries keep their original per-entry schema_id and
        sequence_number (so schema evolution reads and strict-sequence
        equality deletes keep working across the fold), and the
        parent's delete-files carry verbatim — positional deletes point
        at untouched paths, equality deletes compare against unchanged
        entry sequences.  Same CAS commit contract as every other
        write: a concurrent committer makes the pointer swap raise and
        the rewrite must re-read and re-apply."""
        base_location, metadata = self._load_metadata()
        current = metadata.get("current-snapshot-id")
        if current is None:
            return {"manifests_before": 0, "manifests_after": 0,
                    "rewritten": False}
        snap = _snapshot(metadata, current)
        n_before = len(_read_manifest_paths(snap))
        if n_before <= 1:
            return {"manifests_before": n_before,
                    "manifests_after": n_before, "rewritten": False}
        manifest_path = os.path.join(
            metadata["location"], "metadata",
            f"manifest-{uuid.uuid4().hex[:12]}.json")
        _write_json(manifest_path, {
            "schema-id": metadata["current-schema-id"],
            "content": "data",
            "entries": [e.__dict__ for e in _read_all_entries(snap)],
            "prior-manifests": [],
        })
        self._commit(base_location, metadata, manifest_list=manifest_path,
                     summary={"operation": "replace",
                              "rewritten-manifests": str(n_before),
                              "added-manifests": "1",
                              "added-data-files": "0",
                              "added-records": "0"},
                     delete_files=snap.get("delete-files", []))
        return {"manifests_before": n_before, "manifests_after": 1,
                "rewritten": True}

    def compact(self, spark: SparkSession, target_files: int = 1,
                sort_by: list[str] | None = None,
                zorder_by: list[str] | None = None) -> int:
        """Rewrite the current file set into ``target_files`` files and
        commit as a replace snapshot — Iceberg's rewrite_data_files
        compaction.  Readers pinned to older snapshots are unaffected;
        time travel still reaches the pre-compaction files.

        ``sort_by`` performs a CLUSTERING rewrite (Iceberg's sort-order
        rewrite): rows are range-partitioned then sorted on the keys, so
        each output file covers a narrow, disjoint key range and the
        manifest min/max prune skips far more files on selective reads —
        the skip-scan payoff that matters at 100 TB.

        ``zorder_by`` performs Iceberg's Z-ORDER rewrite (the
        rewrite_data_files(strategy => 'sort', sort_order => zorder(..))
        spelling): each numeric key is min-max-normalized to a 16-bit
        rank (one tiny agg for the bounds — 2·d scalars, the k-means-init
        precedent), the ranks are bit-INTERLEAVED into one z-value as a
        single codegen'd expression, and the rewrite range-partitions +
        sorts on that z-value.  Files then cover small hyper-rectangles
        of the key space instead of slabs along one axis, so manifest
        min/max pruning bites on EVERY z-dimension at once — the layout
        a multi-dimensional filter workload needs at 100 TB, where a
        linear sort serves only its leading column.  Numeric/date/
        timestamp keys only (rank needs an order-preserving number);
        strings raise."""
        # Pin the plan AND the commit to the same base snapshot: the
        # rewrite reads one file set, and if any writer commits between
        # this load and the CAS, the replace would silently throw that
        # commit's rows away — the pointer CAS alone cannot catch it
        # because _commit_write re-reads the pointer.  Same
        # expect_snapshot contract as row-level DML; losers raise
        # CommitFailedError and the caller re-runs compact().  The base
        # snapshot's files are read under the CURRENT schema — the one
        # _commit_write stamps on the rewritten files — so a rename or
        # drop since that snapshot is carried into the rewrite.
        _, md = self._load_metadata()
        base_snapshot = md["current-snapshot-id"]
        df = self.read(spark, _metadata=md)
        if zorder_by:
            if sort_by:
                raise ValueError("sort_by and zorder_by are exclusive")
            keyed = _with_zorder_key(df, zorder_by)
            helper = [c for c in keyed.columns if c not in df.columns]
            df = (keyed.repartitionByRange(target_files, "__z")
                  .sortWithinPartitions("__z")
                  .drop(*helper))
        elif sort_by:
            df = (df.repartitionByRange(target_files, *sort_by)
                  .sortWithinPartitions(*sort_by))
        else:
            df = df.coalesce(target_files)
        return self._commit_write(df, operation="replace",
                                  expect_snapshot=base_snapshot)

    def _commit_schema(self, base_location: str, metadata: dict,
                       new_fields: list[dict],
                       specs: list[dict] | None = None) -> int:
        """Append a new schema version and point current-schema-id at it
        (metadata-only commit on the caller's load, shared by all
        evolution ops).  ``specs`` replaces the partition specs in the
        same commit (rename uses it)."""
        new_id = max(s["schema-id"] for s in metadata["schemas"]) + 1
        changes = {
            "schemas": metadata["schemas"] + [
                {"schema-id": new_id, "type": "struct",
                 "fields": new_fields}],
            "current-schema-id": new_id}
        if specs is not None:
            changes["partition-specs"] = specs
        self._commit(base_location, metadata, changes)
        return new_id

    def rename_column(self, old: str, new: str) -> int:
        """Iceberg rename: metadata-only — the field keeps its ID, so
        every already-written file's data follows the new name at read
        time (the id map in _read_entries_df).  No data files move.
        Partition-spec fields referencing the column follow the rename
        (specs here bind sources by name; updating them preserves the
        by-id semantics real Iceberg gets for free)."""
        base_location, metadata = self._load_metadata()
        fields = _schema_of(metadata, metadata["current-schema-id"])
        if not any(f["name"] == old for f in fields):
            raise ValueError(f"column {old!r} does not exist")
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new!r} already exists")
        _guard_equality_delete_column(metadata, old, "rename")
        return self._commit_schema(
            base_location, metadata,
            [{**f, "name": new} if f["name"] == old else f
             for f in fields],
            [{**s, "fields": [
                {**pf, "source": new} if pf["source"] == old else pf
                for pf in s["fields"]]}
             for s in metadata["partition-specs"]])

    def drop_column(self, name: str) -> int:
        """Iceberg drop: metadata-only — the field id is retired, so the
        column vanishes from reads WITHOUT rewriting files, and a later
        add_column with the same name (new id) never resurrects the old
        data (the per-file projection by id never selects a retired
        id).  Refuses to drop a column the CURRENT partition spec
        transforms (real Iceberg's rule — the write path would break)."""
        base_location, metadata = self._load_metadata()
        _guard_equality_delete_column(metadata, name, "drop")
        fields = _schema_of(metadata, metadata["current-schema-id"])
        if not any(f["name"] == name for f in fields):
            raise ValueError(f"column {name!r} does not exist")
        if len(fields) == 1:
            raise ValueError("cannot drop the last column")
        for pf in _spec_fields(metadata):
            if pf["source"] == name:
                raise ValueError(
                    f"column {name!r} is a partition source of the "
                    "current spec — update_partition_spec first")
        return self._commit_schema(
            base_location, metadata,
            [f for f in fields if f["name"] != name])

    # -- snapshot refs (tags / branches) ------------------------------------

    def set_ref(self, name: str, snapshot_id: int | None = None,
                kind: str = "tag") -> None:
        """Iceberg named refs: pin a name to a snapshot (``tag`` for an
        immutable release pointer, ``branch`` for a movable head).
        Metadata-only CAS commit.  ``expire_snapshots`` keeps every
        ref'd snapshot alive regardless of ``keep_last`` (retention
        honors refs, as real Iceberg's does).  Re-setting a tag raises;
        re-setting a branch moves it."""
        if kind not in ("tag", "branch"):
            raise ValueError(f"ref kind must be tag|branch, got {kind!r}")
        base_location, metadata = self._load_metadata()
        sid = snapshot_id or metadata["current-snapshot-id"]
        if sid is None:
            raise ValueError("table has no snapshot to reference")
        _snapshot(metadata, sid)  # loud if unknown
        refs = dict(metadata.get("refs", {}))
        if name in refs:
            if refs[name]["type"] == "tag":
                raise ValueError(f"tag {name!r} already exists (immutable)")
            if refs[name]["type"] != kind:
                raise ValueError(
                    f"ref {name!r} is a {refs[name]['type']}; pass "
                    f"kind={refs[name]['type']!r} to move it")
        refs[name] = {"snapshot-id": sid, "type": kind}
        self._commit(base_location, metadata, {"refs": refs})

    def resolve_ref(self, name: str) -> int:
        _, metadata = self._load_metadata()
        refs = metadata.get("refs", {})
        if name not in refs:
            raise NoSuchTableError(f"ref {name!r} not found")
        return refs[name]["snapshot-id"]

    def rollback_to(self, snapshot_id: int) -> None:
        """Iceberg rollback (SetSnapshotOperation semantics): move
        ``current-snapshot-id`` back to an EXISTING snapshot in a
        metadata-only CAS commit.  No snapshot is created or deleted —
        the rolled-past snapshots stay in ``snapshots`` (time travel to
        them keeps working, and ``expire_snapshots`` remains the one
        way history is ever dropped) and the snapshot-log gains one
        entry pointing at the target, so timestamp-travel after the
        rollback resolves to the restored state exactly as real
        Iceberg's history table shows it."""
        base_location, metadata = self._load_metadata()
        _snapshot(metadata, snapshot_id)  # loud if unknown
        self._commit(base_location, metadata, {
            "current-snapshot-id": snapshot_id,
            "snapshot-log": metadata["snapshot-log"] + [
                {"timestamp-ms": _now_ms(), "snapshot-id": snapshot_id}]})

    # -- incremental scan ---------------------------------------------------

    def read_incremental(self, spark: SparkSession,
                         from_snapshot: int | None,
                         to_snapshot: int | None = None) -> DataFrame:
        """Incremental append scan (Iceberg's incremental read): rows in
        data files ADDED strictly after ``from_snapshot`` up to
        ``to_snapshot`` (default: current) — the downstream-consumer
        primitive: checkpoint a snapshot id, wake up, read only the
        delta, advance the checkpoint.

        Only append deltas are well-defined: if any snapshot in the
        range rewrote files (overwrite / replace / delete), the file
        diff is not a row diff and this raises loudly instead of
        returning wrong increments.  ``from_snapshot=None`` means "from
        empty" — the delta is the target snapshot's whole file set (the
        first-refresh case for a consumer that checkpointed before any
        data existed), valid regardless of intervening operations."""
        _, metadata = self._load_metadata()
        empty = spark.createDataFrame([], _ddl(
            _schema_of(metadata, metadata["current-schema-id"])))
        to_id = to_snapshot or metadata["current-snapshot-id"]
        if to_id is None:
            if from_snapshot is not None:
                # a checkpoint id against a table with no snapshots is a
                # lineage break (e.g. drop+recreate) — surface it, don't
                # mask it as an empty delta
                raise NoSuchTableError(
                    f"snapshot {from_snapshot} not found (table has no "
                    "snapshots — stale checkpoint?)")
            return empty
        if from_snapshot == to_id:
            return empty
        to_snap = _snapshot(metadata, to_id)
        if from_snapshot is None:
            # from empty: the delta IS the target's file set, valid
            # regardless of intervening operations (with the target's
            # merge-on-read deletes applied — the delta is its ROWS)
            entries = _read_all_entries(to_snap)
            if not entries:
                return empty
            return _read_entries_df(
                spark, metadata, entries,
                delete_files=to_snap.get("delete-files", []))
        from_snap = _snapshot(metadata, from_snapshot)
        # walk the parent chain from to_snap back to from_snap
        chain: list[dict] = []
        cur = to_snap
        while cur is not None and cur["snapshot-id"] != from_snapshot:
            chain.append(cur)
            parent = cur.get("parent-snapshot-id")
            if parent is None:
                cur = None
                continue
            try:
                cur = _snapshot(metadata, parent)
            except NoSuchTableError:
                raise ValueError(
                    f"history gap: snapshot {parent} in the ancestry "
                    f"of {to_id} was expired — the delta from "
                    f"{from_snapshot} is no longer reconstructible; "
                    "re-read the full table") from None
        if cur is None:
            raise ValueError(
                f"snapshot {from_snapshot} is not an ancestor of {to_id}")
        non_append = [s["snapshot-id"] for s in chain
                      if s["summary"]["operation"] != "append"]
        if non_append:
            raise ValueError(
                "incremental scan undefined across non-append snapshots "
                f"{non_append}: files were rewritten; re-read the full "
                "table or consume the CDC stream instead")
        base_files = {e.file_path for e in _read_all_entries(from_snap)}
        new_entries = [e for e in _read_all_entries(to_snap)
                       if e.file_path not in base_files]
        if not new_entries:
            return empty
        return _read_entries_df(spark, metadata, new_entries)

    # -- row-level DML (copy-on-write) --------------------------------------

    def merge_upsert(self, spark: SparkSession, source: DataFrame,
                     key_cols: list[str],
                     summary_extra: dict[str, str] | None = None) -> dict:
        """MERGE INTO target USING source ON keys — WHEN MATCHED UPDATE
        all columns, WHEN NOT MATCHED INSERT — with Iceberg's
        copy-on-write file granularity: only data files that actually
        contain a matched key are rewritten; every other file's manifest
        entry is carried into the new snapshot untouched.

        Scale shape: (1) manifest min/max stats prune the candidate file
        set against the source's key span before any data is read (the
        manifest-evaluator skip — a point-key merge into a 100 TB table
        reads only the overlapping files); (2) matched files are found
        with one semi-join against the source keys, grouped by
        ``input_file_name`` — the driver collects FILE PATHS, never rows;
        (3) survivors + source are written as new files and committed
        through the same CAS as every other snapshot, so a concurrent
        writer loses cleanly with CommitFailedError.

        Raises ``ValueError`` if the source has duplicate non-null keys
        (a target row may match at most one source row — the MERGE
        cardinality rule real engines enforce; null-key rows match
        nothing and are legal inserts).
        """
        _, metadata = self._load_metadata()
        base_snapshot = metadata["current-snapshot-id"]
        fields = _schema_of(metadata, metadata["current-schema-id"])
        names = [f["name"] for f in fields]
        # The source lineage may be an arbitrary query (e.g. the CDC
        # window collapse); it feeds the cardinality check, the key-span
        # agg, the semi-join probe, and the final write — cache so the
        # lineage is paid once (released in the finally, including on
        # the expected CommitFailedError retry path).
        src = source.select(*names).cache()
        try:
            return self._merge_planned(spark, src, key_cols, metadata,
                                       base_snapshot, names,
                                       summary_extra or {})
        finally:
            src.unpersist()

    def _merge_planned(self, spark, src, key_cols, metadata,
                       base_snapshot, names, summary_extra) -> dict:
        nonnull_key = None
        for k in key_cols:
            c = F.col(k).isNotNull()
            nonnull_key = c if nonnull_key is None else (nonnull_key & c)
        card = (src.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("n"),
                     F.first(nonnull_key).alias("keyed"))
                .agg(F.count(F.lit(1)).alias("n_groups"),
                     F.max(F.when(F.col("keyed"), F.col("n")))
                      .alias("max_dup")).first())
        if card["n_groups"] == 0:      # empty source: nothing to commit
            return {"snapshot_id": None, "rewritten_files": 0,
                    "kept_files": len(self.plan_files(_metadata=metadata))}
        if (card["max_dup"] or 0) > 1:
            raise ValueError(
                "MERGE source has duplicate keys on "
                f"{key_cols} — each target row may match at most one "
                "source row")
        keys = src.select(*key_cols).distinct()
        entries = self.plan_files(_metadata=metadata)
        # pending merge-on-read deletes: rewritten files must be read
        # with them applied (else deleted rows resurrect as survivors),
        # and kept files still need them at read time, so the list
        # carries into the new snapshot
        pending_dels = ([] if base_snapshot is None else
                        _snapshot(metadata, base_snapshot)
                        .get("delete-files", []))
        affected: list[DataFileEntry] = []
        kept: list[DataFileEntry] = list(entries)
        if entries:
            k0 = key_cols[0]
            row = src.agg(F.min(k0).alias("lo"), F.max(k0).alias("hi")).first()
            lo, hi = row["lo"], row["hi"]
            cand = [] if lo is None else [
                e for e in entries if _bounds_overlap(e, k0, lo, hi)]
            if cand:
                tgt = _read_entries_df(spark, metadata, cand,
                                       include_file=True,
                                       delete_files=pending_dels)
                hit_paths = {
                    _local_path(r["__file"]) for r in
                    tgt.join(keys, key_cols, "left_semi")
                       .select("__file").distinct().collect()}
                # manifests may store relative paths (relative warehouse)
                # while input_file_name() is always absolute — compare
                # canonicalized
                affected = [e for e in cand
                            if os.path.abspath(e.file_path) in hit_paths]
                hit_set = {e.file_path for e in affected}
                kept = [e for e in entries if e.file_path not in hit_set]
        if affected:
            old = _read_entries_df(spark, metadata, affected,
                                   delete_files=pending_dels)
            survivors = old.join(keys, key_cols, "left_anti")
            new_df = survivors.select(*names).unionByName(src)
        else:
            new_df = src
        snapshot_id = self._commit_write(
            new_df, operation="overwrite", kept_entries=kept,
            summary_extra={"replaced-data-files": str(len(affected)),
                           "kept-data-files": str(len(kept)),
                           **summary_extra},
            expect_snapshot=base_snapshot,
            delete_files=pending_dels)
        return {"snapshot_id": snapshot_id,
                "rewritten_files": len(affected),
                "kept_files": len(kept)}

    def delete_where(self, spark: SparkSession, condition,
                     partition_filter: dict[str, object] | None = None,
                     ) -> dict:
        """Row-level DELETE with copy-on-write: files containing at least
        one matching row are rewritten without those rows; all other
        files carry over by manifest entry.  ``condition`` is a Spark
        Column predicate (or SQL string).  Same CAS commit + concurrent
        -writer semantics as merge_upsert.

        ``partition_filter`` restricts the CANDIDATE files by manifest
        partition values (a day-aligned delete scans one day's files,
        not the table).  It is the caller's contract that the predicate
        only matches rows inside the filtered partitions — rows outside
        are never examined (same optimization contract as Iceberg's
        partition-scoped deletes)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        _, md = self._load_metadata()
        base_snapshot = md["current-snapshot-id"]
        names = [f["name"]
                 for f in _schema_of(md, md["current-schema-id"])]
        pending_dels = ([] if base_snapshot is None else
                        _snapshot(md, base_snapshot)
                        .get("delete-files", []))
        all_entries = self.plan_files(_metadata=md)
        entries = (self.plan_files(partition_filter=partition_filter,
                                   _metadata=md)
                   if partition_filter else all_entries)
        in_paths = {e.file_path for e in entries}
        outside = [e for e in all_entries if e.file_path not in in_paths]
        if not entries:
            return {"snapshot_id": None, "rewritten_files": 0,
                    "kept_files": len(outside)}
        tgt = _read_entries_df(spark, md, entries, include_file=True,
                               delete_files=pending_dels)
        hit_paths = {
            _local_path(r["__file"]) for r in
            tgt.where(cond).select("__file").distinct().collect()}
        affected = [e for e in entries
                    if os.path.abspath(e.file_path) in hit_paths]
        hit_set = {e.file_path for e in affected}
        # kept = unexamined partitions (carried verbatim) + examined
        # files with no matching row
        kept = outside + [e for e in entries
                          if e.file_path not in hit_set]
        if not affected:
            return {"snapshot_id": None, "rewritten_files": 0,
                    "kept_files": len(kept)}
        # DELETE removes rows where the predicate is TRUE; rows where it
        # is NULL (three-valued logic) are NOT matched and must survive —
        # a bare ~cond would silently drop them in rewritten files only.
        # Pending MOR deletes apply to the rewrite read for the same
        # reason they do in _merge_planned: survivors must be live rows.
        survivors = (_read_entries_df(spark, md, affected,
                                      delete_files=pending_dels)
                     .where(~F.coalesce(cond, F.lit(False)))
                     .select(*names))
        snapshot_id = self._commit_write(
            survivors, operation="delete", kept_entries=kept,
            summary_extra={"replaced-data-files": str(len(affected)),
                           "kept-data-files": str(len(kept))},
            expect_snapshot=base_snapshot,
            delete_files=pending_dels)
        return {"snapshot_id": snapshot_id,
                "rewritten_files": len(affected),
                "kept_files": len(kept)}

    def delete_where_mor(self, spark: SparkSession, condition,
                         partition_filter: dict[str, object] | None = None,
                         ) -> dict:
        """Row-level DELETE with MERGE-ON-READ positional delete files —
        Iceberg v2's other delete strategy: instead of rewriting data
        files (copy-on-write, :meth:`delete_where`), the commit writes a
        POSITION DELETE file of (file, row-position) pairs and leaves
        every data file untouched; readers apply the deletes with an
        anti-join at scan time.

        The write-amplification trade real tables tune per workload:
        MOR makes a delete of k rows cost O(k) written bytes regardless
        of the size of the files the rows live in (a 10-row delete
        against 1 GB files writes KBs, not gigabytes), at the price of a
        per-read anti-join until :meth:`compact` folds the deletes into
        rewritten files and clears the list.  Positions are Spark's own
        ``_metadata.row_index``, recorded with the scan's
        ``_metadata.file_path`` rendering so read-time application needs
        no path normalization.  Already-deleted rows are excluded before
        matching, so re-issuing an identical predicate is a no-op commit
        (delete files never accumulate duplicate positions).

        Same CAS + explicit base-snapshot guard as the other row-level
        DML: losers raise CommitFailedError and re-plan."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        base_location, md = self._load_metadata()
        base_snapshot = md["current-snapshot-id"]
        if base_snapshot is None:
            return {"snapshot_id": None, "delete_files": 0,
                    "deleted_rows": 0}
        snap = _snapshot(md, base_snapshot)
        prior_deletes = snap.get("delete-files", [])
        entries = self.plan_files(partition_filter=partition_filter,
                                  _metadata=md)
        if not entries:
            return {"snapshot_id": None, "delete_files": 0,
                    "deleted_rows": 0}
        live = _read_entries_df(spark, md, entries,
                                delete_files=prior_deletes,
                                include_pos=True)
        # DELETE matches rows where the predicate is TRUE; NULL is not
        # matched (same three-valued contract as delete_where)
        matches = (live.where(F.coalesce(cond, F.lit(False)))
                   .select(F.col("__dfile").alias("file_uri"),
                           F.col("__dpos").alias("pos")))
        return self._commit_mor_deletes(base_location, md, matches)

    def delete_keys_mor(self, spark: SparkSession, keys: DataFrame,
                        key_cols: list[str]) -> dict:
        """Merge-on-read DELETE by KEY SET: every live row whose
        ``key_cols`` match a row of ``keys`` gets a position-delete
        entry.  The key-set form :meth:`delete_where_mor`'s Column
        predicate cannot express when the keys come from another
        DataFrame (a CDC tombstone batch, an audit's removal list) —
        matching is one semi-join, fully distributed, never an
        ``isin`` literal collected to the driver."""
        base_location, md = self._load_metadata()
        base_snapshot = md["current-snapshot-id"]
        if base_snapshot is None:
            return {"snapshot_id": None, "delete_files": 0,
                    "deleted_rows": 0}
        snap = _snapshot(md, base_snapshot)
        entries = self.plan_files(_metadata=md)
        if not entries:
            return {"snapshot_id": None, "delete_files": 0,
                    "deleted_rows": 0}
        live = _read_entries_df(spark, md, entries,
                                delete_files=snap.get("delete-files", []),
                                include_pos=True)
        matches = (live.join(keys.select(*key_cols).distinct(),
                             key_cols, "left_semi")
                   .select(F.col("__dfile").alias("file_uri"),
                           F.col("__dpos").alias("pos")))
        return self._commit_mor_deletes(base_location, md, matches)

    def merge_upsert_mor(self, spark: SparkSession, source: DataFrame,
                         key_cols: list[str],
                         delete_keys: DataFrame | None = None) -> dict:
        """Merge-on-read UPSERT in ONE atomic snapshot — the Flink-
        writer pattern: the commit adds the source rows as new data
        files AND an equality-delete file over the source keys, both at
        the same sequence number.  The strict-sequence rule does the
        rest: the delete erases any OLDER row of an upserted key while
        the new rows (same sequence, not strictly older) survive — so
        update-or-insert needs no table read, no file rewrite, and no
        second commit.  O(source) end to end vs. copy-on-write MERGE's
        O(affected files) rewrite; reads pay the key anti-join until
        compact() folds it.

        ``delete_keys`` folds pure tombstones into the SAME commit (keys
        to erase without replacement — a CDC batch's deletes): they join
        the equality file alongside the upsert keys, making a whole
        change batch one atomic snapshot.

        Overlap rule: a key present in BOTH ``source`` and
        ``delete_keys`` resolves as UPSERT WINS — both land at the same
        sequence number, and an equality delete only erases strictly
        OLDER rows, so the new row survives.  That is exactly right for
        latest-state-per-key CDC batches (stream_cdc_apply compacts each
        batch to its final per-key state first: a later tombstone never
        shares a batch with an earlier upsert of the same key), but a
        direct caller expecting the tombstone to beat the upsert must
        order the two into separate commits.

        Same duplicate-source-key rule as merge_upsert: each target row
        may match at most one source row."""
        _, md = self._load_metadata()
        base_snapshot = md["current-snapshot-id"]
        names = [f["name"]
                 for f in _schema_of(md, md["current-schema-id"])]
        src = source.select(*names).cache()
        try:
            no_dups = (src.groupBy(*key_cols)
                       .agg(F.count(F.lit(1)).alias("n"))
                       .where(F.col("n") > 1).isEmpty())
            if not no_dups:
                raise ValueError(
                    f"MERGE source has duplicate keys on {key_cols}")
            if src.isEmpty():
                if delete_keys is not None and not delete_keys.isEmpty():
                    return self.delete_keys_mor_equality(
                        spark, delete_keys, key_cols)
                return {"snapshot_id": None, "upserted_rows": 0}
            all_keys = src.select(*key_cols)
            if delete_keys is not None:
                all_keys = all_keys.unionByName(
                    delete_keys.select(*key_cols))
            location = md["location"]
            write_id = uuid.uuid4().hex[:12]
            del_dir = os.path.join(location, "data", write_id)
            (_keys_as(all_keys, md, key_cols).distinct()
             .write.mode("errorifexists").parquet(del_dir))
            # sequence=None: stamped by _commit from the metadata
            # _commit_write reloads — a value computed from THIS load
            # could be one low if a concurrent branch-targeted commit
            # bumped the counter without moving current-snapshot-id.
            eq_files = [{"path": e.file_path,
                         "record_count": e.record_count,
                         "equality_cols": list(key_cols), "sequence": None}
                        for e in _collect_entries(del_dir) if e.record_count]
            kept = self.plan_files(_metadata=md)
            prior = ([] if base_snapshot is None else
                     _snapshot(md, base_snapshot).get("delete-files", []))
            n_rows = src.count()
            snapshot_id = self._commit_write(
                src, operation="overwrite", kept_entries=kept,
                summary_extra={"merge-mode": "merge-on-read",
                               "added-equality-deletes":
                               str(sum(f["record_count"]
                                       for f in eq_files))},
                expect_snapshot=base_snapshot,
                delete_files=prior + eq_files)
            return {"snapshot_id": snapshot_id, "upserted_rows": n_rows}
        finally:
            src.unpersist()

    def delete_keys_mor_equality(self, spark: SparkSession,
                                 keys: DataFrame,
                                 key_cols: list[str]) -> dict:
        """Merge-on-read EQUALITY delete files — the second delete-file
        kind in the Iceberg v2 spec, and the true CDC fast path: the
        commit writes only the KEY VALUES themselves and never reads
        the table at all (a positional delete must scan to find row
        positions; an equality delete is O(keys) end to end).

        Sequence semantics per the spec: an equality delete applies
        only to rows whose data file carries a STRICTLY SMALLER
        sequence number, so a deleted key re-appended later survives —
        the property that makes delete-then-reinsert CDC streams
        correct without any coordination.  NULL key values match
        nothing (SQL equality), mirroring ``WHERE k = NULL``.

        Readers apply these as a column anti-join against the
        broadcastable key set, guarded by the per-file sequence; the
        positional and equality kinds coexist on one table and
        :meth:`compact` folds both away."""
        base_location, md = self._load_metadata()
        names = {f["name"]
                 for f in _schema_of(md, md["current-schema-id"])}
        missing = [c for c in key_cols if c not in names]
        if missing:
            raise ValueError(
                f"equality delete key column(s) {missing} not in the "
                f"table schema — a commit would only fail at read time")
        if md["current-snapshot-id"] is None:
            return {"snapshot_id": None, "delete_files": 0,
                    "deleted_keys": 0}
        return self._commit_mor_deletes(
            base_location, md, _keys_as(keys, md, key_cols).distinct(),
            key_cols)

    def _commit_mor_deletes(self, base_location: str, md: dict,
                            rows: DataFrame,
                            equality_cols: list[str] | None = None
                            ) -> dict:
        """Write ``rows`` as merge-on-read delete files and commit them
        as a delete snapshot on the caller's load (shared tail of
        delete_where_mor / delete_keys_mor / delete_keys_mor_equality):
        (file_uri, pos) rows are position deletes; with
        ``equality_cols`` the rows are key values of an equality delete,
        sequenced by the commit.  Data manifests are UNCHANGED (the
        point of MOR) — the new snapshot reuses the parent's manifest
        list and only the delete-file list grows.  No matched row → no
        files, no commit."""
        snap = _snapshot(md, md["current-snapshot-id"])
        del_dir = os.path.join(md["location"], "data", uuid.uuid4().hex[:12])
        rows.write.mode("errorifexists").parquet(del_dir)
        if equality_cols is None:
            kind, mode, counted, eq = ("position", "merge-on-read",
                                       "deleted_rows", {})
        else:
            kind, mode, counted, eq = (
                "equality", "merge-on-read-equality", "deleted_keys",
                {"equality_cols": list(equality_cols), "sequence": None})
        new_files = [{"path": e.file_path, "record_count": e.record_count,
                      **eq}
                     for e in _collect_entries(del_dir) if e.record_count]
        n_rows = sum(f["record_count"] for f in new_files)
        if not new_files:
            shutil.rmtree(del_dir, ignore_errors=True)
            return {"snapshot_id": None, "delete_files": 0, counted: 0}
        snapshot_id = self._commit(
            base_location, md, manifest_list=snap["manifest-list"],
            summary={"operation": "delete", "delete-mode": mode,
                     "added-delete-files": str(len(new_files)),
                     f"added-{kind}-deletes": str(n_rows)},
            delete_files=snap.get("delete-files", []) + new_files)
        return {"snapshot_id": snapshot_id, "delete_files": len(new_files),
                counted: n_rows}

    # -- read path ----------------------------------------------------------

    def plan_files(self, snapshot_id: int | None = None,
                   as_of_timestamp_ms: int | None = None,
                   prune: tuple[str, object, object]
                   | list[tuple[str, object, object]] | None = None,
                   partition_filter: dict[str, object] | None = None,
                   _metadata: dict | None = None,
                   ) -> list[DataFileEntry]:
        """Resolve the file set for a snapshot, with manifest-stat pruning.

        ``prune=(col, lo, hi)`` keeps only files whose [min,max] range for
        ``col`` intersects [lo, hi] — Iceberg's manifest-evaluator skip-scan.
        A LIST of such tuples prunes on every range (AND semantics — the
        multi-dimensional skip-scan a z-ordered layout exists to serve).
        ``partition_filter={field: value | [values]}`` keeps only files
        whose manifest partition values match — Iceberg's partition
        pruning, exact (not stats-based), applied before the stat prune.
        Values compare as their string rendering (the transform output).
        """
        metadata = _metadata or self._load_metadata()[1]
        sid = _resolve_sid(metadata, snapshot_id, as_of_timestamp_ms)
        if sid is None:
            return []
        entries = _read_all_entries(_snapshot(metadata, sid))
        if partition_filter:
            ever_fields = {f["name"] for s in metadata["partition-specs"]
                           for f in s["fields"]}
            for pf_name, allowed in partition_filter.items():
                if pf_name not in ever_fields:
                    raise ValueError(
                        f"unknown partition field {pf_name!r}")
                vals = ({str(v) for v in allowed}
                        if isinstance(allowed, (list, tuple, set))
                        else {str(allowed)})
                # Inclusive projection across spec evolution: a file
                # written under a spec WITHOUT this field cannot be
                # proven non-matching, so it is kept (Iceberg's
                # conservative evaluator); only files that carry the
                # field and mismatch are skipped.
                entries = [e for e in entries
                           if pf_name not in e.partition
                           or e.partition[pf_name] in vals]
        if prune is not None:
            ranges = [prune] if isinstance(prune, tuple) else list(prune)
            for col, lo, hi in ranges:
                entries = [e for e in entries
                           if _bounds_overlap(e, col, lo, hi)]
        return entries

    def read(self, spark: SparkSession, snapshot_id: int | None = None,
             as_of_timestamp_ms: int | None = None,
             prune: tuple[str, object, object]
             | list[tuple[str, object, object]] | None = None,
             partition_filter: dict[str, object] | None = None,
             _metadata: dict | None = None,
             ) -> DataFrame:
        """Snapshot-pinned read: the returned plan scans exactly the files
        the manifest (after pruning) lists — Spark still does its own
        row-group pushdown within each file."""
        metadata = _metadata or self._load_metadata()[1]
        sid = _resolve_sid(metadata, snapshot_id, as_of_timestamp_ms)
        entries = self.plan_files(snapshot_id, as_of_timestamp_ms, prune,
                                  partition_filter, _metadata=metadata)
        # Time travel reads under the SNAPSHOT's recorded schema (a later
        # rename/drop must not retroactively rewrite history); current
        # reads use the CURRENT schema — which can be newer than the
        # last snapshot's, since evolution commits are metadata-only and
        # create no snapshot.  Columns map by field id from each file's
        # write schema (add → typed NULL, rename → data follows the id,
        # drop → never resurrected).
        pinned = snapshot_id is not None or as_of_timestamp_ms is not None
        schema_id = (_snapshot(metadata, sid)["schema-id"]
                     if pinned and sid is not None
                     else metadata["current-schema-id"])
        if not entries:
            return spark.createDataFrame(
                [], _ddl(_schema_of(metadata, schema_id)))
        # Merge-on-read deletes are snapshot-scoped: a time-travel read
        # applies exactly the delete files THAT snapshot recorded (none
        # before the delete committed), the same way it pins its schema.
        dels = (_snapshot(metadata, sid).get("delete-files", [])
                if sid is not None else [])
        return _read_entries_df(spark, metadata, entries,
                                to_schema_id=schema_id,
                                delete_files=dels)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _now_ms() -> int:
    return int(time.time() * 1000)


def _local_path(uri: str) -> str:
    """input_file_name() yields a file: URI; manifests store plain paths."""
    if uri.startswith("file:"):
        from urllib.parse import unquote, urlparse
        return unquote(urlparse(uri).path)
    return uri


_Z_BITS = 16  # rank resolution per z-dimension


def _with_zorder_key(df: DataFrame, cols: list[str]) -> DataFrame:
    """Add a ``__z`` bit-interleaved sort key over ``cols``.

    Each key is mapped to an order-preserving DOUBLE (numerics as-is,
    date → epoch days, timestamp → epoch micros), min-max-normalized to
    a 16-bit rank against bounds gathered in ONE tiny aggregate (2·d
    scalars to the driver), then the ranks' bits are interleaved —
    bit j of column c lands at position j·d + c — as one flat
    projection over NAMED rank columns (``__r{c}``), so each rank
    expression is evaluated once, not 16× per bit term.  NULL keys rank
    0 (sort first, like NULLS FIRST).  Constant columns contribute rank
    0 everywhere — harmless, their bits carry no information anyway."""
    dtypes = dict(df.dtypes)
    num_sql: list[str] = []
    for c in cols:
        t = dtypes.get(c)
        if t is None:
            raise ValueError(f"zorder_by: unknown column {c!r}")
        if t == "date":
            num_sql.append(f"CAST(datediff(`{c}`, DATE '1970-01-01')"
                           " AS DOUBLE)")
        elif t.startswith("timestamp"):
            num_sql.append(f"CAST(unix_micros(`{c}`) AS DOUBLE)")
        elif t in ("tinyint", "smallint", "int", "bigint", "float",
                   "double") or t.startswith("decimal"):
            num_sql.append(f"CAST(`{c}` AS DOUBLE)")
        else:
            raise ValueError(
                f"zorder_by: column {c!r} has type {t} — z-order needs"
                " an order-preserving numeric rank (numeric/date/"
                "timestamp); truncate or hash string keys first")
    bounds = df.selectExpr(
        *(f"{e} AS n{i}" for i, e in enumerate(num_sql))).agg(
        *(f for i in range(len(cols))
          for f in (F.min(f"n{i}"), F.max(f"n{i}")))).first()
    d, top = len(cols), (1 << _Z_BITS) - 1
    ranks = {}
    for i, e in enumerate(num_sql):
        lo, hi = bounds[2 * i], bounds[2 * i + 1]
        if lo is None or hi is None or hi <= lo:
            ranks[f"__r{i}"] = F.expr("CAST(0 AS BIGINT)")
        else:
            ranks[f"__r{i}"] = F.expr(
                f"CAST(LEAST({top}, GREATEST(0, FLOOR("
                f"(COALESCE({e}, {lo!r}) - {lo!r}) * {top}.0"
                f" / ({hi!r} - {lo!r})))) AS BIGINT)")
    terms = " | ".join(
        f"(((`__r{c}` >> {j}) & 1) << {j * d + c})"
        for j in range(_Z_BITS) for c in range(d))
    return df.withColumns(ranks).withColumn("__z", F.expr(terms))


def _bounds_overlap(e: DataFileEntry, col: str, lo, hi) -> bool:
    """Does the file's [min, max] for ``col`` intersect [lo, hi]?
    Manifest bounds are JSON scalars (_plain renders timestamps/decimals
    as strings); if they are not comparable with the probe values, the
    file is KEPT — pruning is an optimization, never a correctness
    gate.  Shared by plan_files and the MERGE candidate prune."""
    elo, ehi = e.lower_bounds.get(col), e.upper_bounds.get(col)
    if elo is None or ehi is None:
        return True
    try:
        return not (ehi < lo or elo > hi)
    except TypeError:
        return True


def _resolve_sid(metadata: dict, snapshot_id: int | None,
                 as_of_timestamp_ms: int | None) -> int | None:
    """Snapshot-id resolution shared by plan_files and read: explicit id
    wins, else the SNAPSHOT-LOG entry at-or-before the timestamp, else
    current.  The log is the table-STATE history, not the snapshot
    creation times — the distinction real Iceberg's FOR SYSTEM_TIME AS
    OF makes and that only shows after a rollback: rolling back appends
    a log entry pointing at the restored snapshot, so a later timestamp
    resolves to the restored state, while the rolled-past snapshot's
    own (newer) creation time no longer decides anything.  For tables
    that never rolled back the two resolutions coincide (one log entry
    per commit)."""
    sid = snapshot_id
    if sid is None and as_of_timestamp_ms is not None:
        eligible = [h for h in metadata["snapshot-log"]
                    if h["timestamp-ms"] <= as_of_timestamp_ms]
        if not eligible:
            raise NoSuchTableError(
                f"no snapshot at or before {as_of_timestamp_ms}")
        sid = max(eligible, key=lambda h: h["timestamp-ms"])["snapshot-id"]
    return metadata["current-snapshot-id"] if sid is None else sid


def _branch_head(metadata: dict, branch: str | None) -> int | None:
    """The snapshot a commit to ``branch`` chains off: the branch head,
    or the current snapshot for main (None) and for a branch's first
    commit.  Write-audit-publish stages on a branch; a tag cannot take
    commits."""
    ref = metadata.get("refs", {}).get(branch) if branch else None
    if ref is None:
        return metadata["current-snapshot-id"]
    if ref["type"] != "branch":
        raise ValueError(f"ref {branch!r} is a {ref['type']}, not a branch")
    return ref["snapshot-id"]


def _guard_equality_delete_column(metadata: dict, name: str,
                                  op: str) -> None:
    """Live equality-delete files bind key columns by NAME (a
    documented simplification of the spec's field-id binding): a
    rename/drop of a named column would silently orphan the deletes,
    so it fails loudly instead — compact() folds the deletes away
    first."""
    sid = metadata["current-snapshot-id"]
    if sid is None:
        return
    hit = [d for d in _snapshot(metadata, sid).get("delete-files", [])
           if name in d.get("equality_cols", [])]
    if hit:
        raise ValueError(
            f"cannot {op} column {name!r}: {len(hit)} live equality"
            " delete file(s) bind it by name — run compact() first"
            " to fold the deletes, then evolve the schema")


def _schema_of(metadata: dict, schema_id: int) -> list[dict]:
    (schema,) = [s for s in metadata["schemas"]
                 if s["schema-id"] == schema_id]
    return schema["fields"]


def _ddl(fields: list[dict]) -> str:
    """Schema fields → the DDL string Spark readers and frames take."""
    return ", ".join(f"`{f['name']}` {f['type']}" for f in fields)


def _keys_as(df: DataFrame, metadata: dict,
             key_cols: list[str]) -> DataFrame:
    """Equality-delete key columns cast to the current schema's types,
    the types the files are read back under."""
    types = {f["name"]: f["type"]
             for f in _schema_of(metadata, metadata["current-schema-id"])}
    return df.select(*[F.col(c).cast(types[c]).alias(c) for c in key_cols])


def _read_entries_df(spark: SparkSession, metadata: dict,
                     entries: list[DataFileEntry],
                     include_file: bool = False,
                     to_schema_id: int | None = None,
                     delete_files: list[dict] | None = None,
                     include_pos: bool = False) -> DataFrame:
    """Read a set of data files under a target schema (default: the
    current one; time travel passes the snapshot's recorded schema-id),
    mapping each file's columns by FIELD ID from the schema it was
    written with — the Iceberg rule that makes rename/drop evolution
    safe: a renamed column's data follows its id; a dropped-then-readded
    name never resurrects old data (different id).  No schema is ever
    inferred from the files: each file group is read under its write
    schema from metadata, and ONE projection maps it to the target —
    a field the write schema has is selected by its written name, any
    other field is a typed NULL — then the groups union by name.

    ``delete_files`` applies MERGE-ON-READ positional deletes: each is a
    ``{"path": ...}`` entry whose parquet rows are (file_uri, pos) pairs
    exactly as Spark's ``_metadata`` columns render them, so the
    anti-join needs no path normalization.  This is the distributed form
    of Iceberg's per-file delete application: a keyed anti-join on
    (file, position) instead of the single-reader sorted merge — at
    100 TB the delete side is ∝ deleted rows, shuffled once on the same
    composite key the scan rows already carry.  ``include_pos`` keeps
    the ``__dfile``/``__dpos`` columns for writers of new delete files."""
    cur_fields = _schema_of(
        metadata, (metadata["current-schema-id"]
                   if to_schema_id is None else to_schema_id))
    pos_dels = [d for d in (delete_files or [])
                if "equality_cols" not in d]
    eq_dels = [d for d in (delete_files or []) if "equality_cols" in d]
    need_pos = include_pos or bool(pos_dels)
    # Equality deletes apply per FILE SEQUENCE (strictly older rows
    # only), so scan groups split by (schema, sequence) and each group
    # carries its sequence as a literal column — no per-row metadata
    # lookup needed.
    groups: dict[tuple[int, int], list[DataFileEntry]] = {}
    for e in entries:
        seq_key = e.sequence_number if eq_dels else 0
        groups.setdefault((e.schema_id, seq_key), []).append(e)
    parts = []
    for (sid, fseq), es in sorted(groups.items()):
        write_fields = _schema_of(metadata, sid)
        written = {f["id"]: f["name"] for f in write_fields}
        proj = [F.col(f"`{written[f['id']]}`").alias(f["name"])
                if f["id"] in written
                else F.lit(None).cast(f["type"]).alias(f["name"])
                for f in cur_fields]
        if include_file:
            proj.append(F.input_file_name().alias("__file"))
        if need_pos:
            # _metadata must be projected at the scan, before any union
            proj += [F.col("_metadata.file_path").alias("__dfile"),
                     F.col("_metadata.row_index").alias("__dpos")]
        if eq_dels:
            proj.append(F.lit(fseq).alias("__fseq"))
        parts.append(spark.read.schema(_ddl(write_fields))
                     .parquet(*[e.file_path for e in es]).select(*proj))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if pos_dels:
        dels = (spark.read.schema("file_uri STRING, pos BIGINT")
                .parquet(*[d["path"] for d in pos_dels]))
        out = out.join(
            dels,
            (out["__dfile"] == dels["file_uri"])
            & (out["__dpos"] == dels["pos"]),
            "left_anti")
    # Equality deletes: anti-join on the named key columns, guarded by
    # the strict sequence rule (delete seq > row's file seq) — grouped
    # by key-column set so files naming different keys never union.
    # Key files are read under the key columns' target types (rename
    # and drop of a bound key column are refused while the file lives).
    by_name = {f["name"]: f for f in cur_fields}
    by_cols: dict[tuple[str, ...], list[dict]] = {}
    for d in eq_dels:
        by_cols.setdefault(tuple(d["equality_cols"]), []).append(d)
    for cols, ds in sorted(by_cols.items()):
        key_ddl = _ddl([by_name[c] for c in cols])
        dels = None
        for d in ds:
            one = (spark.read.schema(key_ddl).parquet(d["path"])
                   .select(*[F.col(f"`{c}`").alias(f"__eq_{c}")
                             for c in cols],
                           F.lit(d["sequence"]).alias("__dseq")))
            dels = one if dels is None else dels.unionByName(one)
        cond = F.col("__fseq") < F.col("__dseq")
        for c in cols:
            cond = cond & (out[c] == F.col(f"__eq_{c}"))
        out = out.join(F.broadcast(dels), cond, "left_anti")
    if need_pos and not include_pos:
        out = out.drop("__dfile", "__dpos")
    if eq_dels:
        out = out.drop("__fseq")
    return out


# Iceberg partition transforms (spec §Partitioning), the subset the
# fixtures exercise: identity, temporal buckets, hash bucket, string
# truncate.  Values are rendered as strings — they become hive-layout
# directory names on write and manifest partition values for pruning.
_SPEC_FIELD = re.compile(r"(\w+)\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)")
_TEMPORAL_FMT = {"year": "yyyy", "month": "yyyy-MM",
                 "day": "yyyy-MM-dd", "hour": "yyyy-MM-dd-HH"}


def _parse_partition_spec(specs: list[str]) -> list[dict]:
    """``["lang", "day(ts)", "bucket(8, user_id)", "truncate(3, name)"]``
    → spec fields [{name, transform, source, param}]."""
    fields = []
    for s in specs:
        s = s.strip()
        if re.fullmatch(r"\w+", s):
            fields.append({"name": s, "transform": "identity",
                           "source": s, "param": None})
            continue
        m = _SPEC_FIELD.fullmatch(s)
        if not m:
            raise ValueError(f"unparseable partition field: {s!r}")
        transform, param, source = m.group(1), m.group(2), m.group(3)
        if transform in _TEMPORAL_FMT and param is None:
            pass
        elif transform in ("bucket", "truncate") and param is not None:
            pass
        else:
            raise ValueError(f"unsupported partition transform: {s!r}")
        fields.append({"name": f"{source}_{transform}",
                       "transform": transform, "source": source,
                       "param": int(param) if param else None})
    return fields


def _transform_col(f: dict):
    """Partition-field spec → string-typed Spark Column."""
    c = F.col(f["source"])
    t = f["transform"]
    if t == "identity":
        return c.cast("string")
    if t in _TEMPORAL_FMT:
        return F.date_format(c, _TEMPORAL_FMT[t])
    if t == "bucket":
        return F.pmod(F.hash(c), F.lit(f["param"])).cast("string")
    if t == "truncate":
        return F.substring(c.cast("string"), 1, f["param"])
    raise ValueError(f"unknown transform {t!r}")  # pragma: no cover


def _spec_fields(metadata: dict) -> list[dict]:
    (spec,) = [s for s in metadata["partition-specs"]
               if s["spec-id"] == metadata["default-spec-id"]]
    return spec["fields"]


def _write_new_table(location: str, df: DataFrame,
                     partition_by: list[str] | None = None) -> str:
    """Write a fresh table's directory skeleton + v1 metadata (no
    snapshot); returns the metadata location.  Shared by the SQLite
    catalog's CREATE TABLE and the REST client's register flow — the
    metadata file is identical no matter which catalog points at it."""
    os.makedirs(os.path.join(location, "metadata"), exist_ok=True)
    os.makedirs(os.path.join(location, "data"), exist_ok=True)
    spec_fields = _parse_partition_spec(partition_by or [])
    known = {f.name for f in df.schema.fields}
    for pf in spec_fields:
        if pf["source"] not in known:
            raise ValueError(
                f"partition source column {pf['source']!r} not in schema")
    metadata = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": location,
        "last-sequence-number": 0,
        "last-updated-ms": _now_ms(),
        "schemas": [{"schema-id": 0, "type": "struct",
                     "fields": _schema_fields(df)}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "current-snapshot-id": None,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    return _write_metadata(location, 1, metadata)


def _write_json(path: str, obj: dict) -> None:
    # unique tmp name: two writers racing toward the same final path must
    # never share a staging file (one's os.replace would consume it and
    # the other would crash — or worse, publish the wrong bytes)
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)  # atomic on POSIX


def _write_metadata(location: str, version: int, metadata: dict) -> str:
    """Write an immutable metadata file.  The name carries a uuid AFTER
    the version (Iceberg's own ``00000-<uuid>.metadata.json`` scheme,
    spec §Table Metadata) because the version alone is NOT unique under
    concurrency: two writers racing from the same base both derive vN+1,
    and with bare ``vN.metadata.json`` names the CAS winner's pointer
    could reference a file whose bytes the LOSER wrote last — a silent
    lost update.  Distinct names make the race harmless: the loser's
    file is simply never pointed at (and is orphaned, like its data)."""
    path = os.path.join(
        location, "metadata",
        f"v{version}-{uuid.uuid4().hex[:8]}.metadata.json")
    _write_json(path, metadata)
    return path


def _next_version(metadata_location: str) -> int:
    base = os.path.basename(metadata_location)  # vN[-uuid].metadata.json
    return int(base.split(".")[0].split("-")[0][1:]) + 1


def _snapshot(metadata: dict, snapshot_id: int) -> dict:
    for s in metadata["snapshots"]:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise NoSuchTableError(f"snapshot {snapshot_id} not found")


def _read_manifest_paths(snapshot: dict) -> list[str]:
    """All manifest files reachable from a snapshot (itself + priors)."""
    with open(snapshot["manifest-list"]) as f:
        manifest = json.load(f)
    return [snapshot["manifest-list"]] + manifest.get("prior-manifests", [])


def _read_all_entries(snapshot: dict) -> list[DataFileEntry]:
    entries: list[DataFileEntry] = []
    for path in _read_manifest_paths(snapshot):
        with open(path) as f:
            manifest = json.load(f)
        # legacy manifests predate per-entry schema ids: fall back to
        # the manifest-level schema-id (correct for their own entries)
        default_sid = manifest.get("schema-id", 0)
        entries.extend(
            DataFileEntry(**{"schema_id": default_sid, **e})
            for e in manifest["entries"])
    return entries


def _schema_fields(df: DataFrame) -> list[dict]:
    return [{"id": i + 1, "name": f.name, "required": not f.nullable,
             "type": f.dataType.simpleString()}
            for i, f in enumerate(df.schema.fields)]


def _collect_entries(data_dir: str) -> list[DataFileEntry]:
    """Parquet footer stats → manifest entries (driver cost: one footer
    read per written file, no data rows)."""
    import pyarrow.parquet as pq

    from urllib.parse import unquote

    paths = []
    for dirpath, _dirs, files in os.walk(data_dir):
        for fname in files:
            if fname.endswith(".parquet"):
                paths.append(os.path.join(dirpath, fname))
    entries = []
    for path in sorted(paths):
        # hive-layout components (__p_<field>=<value>) → partition values
        partition: dict[str, str] = {}
        for comp in os.path.relpath(path, data_dir).split(os.sep)[:-1]:
            if "=" in comp and comp.startswith("__p_"):
                k, _, v = comp.partition("=")
                partition[k[len("__p_"):]] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__"
                    else unquote(v))
        meta = pq.ParquetFile(path).metadata
        lower: dict[str, object] = {}
        upper: dict[str, object] = {}
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                stats = col.statistics
                if stats is None or not stats.has_min_max:
                    continue
                name = col.path_in_schema
                mn, mx = _plain(stats.min), _plain(stats.max)
                if mn is None or mx is None:
                    continue
                lower[name] = mn if name not in lower else min(lower[name], mn)
                upper[name] = mx if name not in upper else max(upper[name], mx)
        entries.append(DataFileEntry(
            file_path=path,
            record_count=meta.num_rows,
            file_size_in_bytes=os.path.getsize(path),
            lower_bounds=lower,
            upper_bounds=upper,
            partition=partition,
        ))
    return entries


def _plain(value):
    """JSON-encodable scalar (dates/timestamps/decimals → ISO strings)."""
    if isinstance(value, (int, float, str, bool)) or value is None:
        return value
    if isinstance(value, bytes):
        try:
            return value.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return str(value)


def sql_catalog_from_env(warehouse: str | None = None) -> SqliteCatalog:
    """The sql binary's environment contract (README.md:6, main.rs:45):
    ``CATALOG_URL`` names the Iceberg SQL catalog, scheme-prefixed —
    ``sqlite://<path>`` is what the reference constructs its SqlCatalog
    from.  Other schemes (postgres:// etc.) need a JDBC deployment and
    fail loudly here.  ``BUCKET``/``ICEBERG_WAREHOUSE`` pick the data
    root (a filesystem path in this container — no object store)."""
    url = os.environ["CATALOG_URL"]
    if not url.startswith("sqlite://"):
        raise ValueError(
            f"unsupported CATALOG_URL scheme: {url!r} — this build "
            "implements the sqlite:// SQL catalog (the reference's "
            "default, main.rs:45); point postgres:// at a real JDBC "
            "catalog deployment")
    path = url[len("sqlite://"):]
    # same default as the REST sibling — never None, which would defer
    # the failure to an opaque os.path.join TypeError at create_table
    wh = (warehouse or os.environ.get("ICEBERG_WAREHOUSE")
          or os.environ.get("BUCKET") or "/tmp/warehouse")
    return SqliteCatalog(path, warehouse=wh)
