"""Iceberg lifecycle: catalog CAS commits, snapshots, time travel, pruning.

Covers the reference's table-format identity (lib.rs:94-103 catalog wiring,
sql/main.rs:73 SqlCatalog, atomic snapshot commits on INSERT) through
``sources/iceberg_lite.py``.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
    CommitFailedError,
    NoSuchTableError,
    SqliteCatalog,
    TableAlreadyExistsError,
)


@pytest.fixture()
def catalog(tmp_path) -> SqliteCatalog:
    return SqliteCatalog(str(tmp_path / "catalog.db"),
                         warehouse=str(tmp_path / "warehouse"))


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def test_create_insert_read_roundtrip(catalog, spark, orders):
    t = catalog.create_table("sales", "orders", orders)
    assert t.current_snapshot_id() is None          # v1: table, no data yet
    t.append(orders)
    got = t.read(spark)
    assert got.count() == orders.count()
    assert set(got.columns) == set(orders.columns)
    # exactly one snapshot, operation recorded
    (snap,) = t.snapshots()
    assert snap["summary"]["operation"] == "append"
    assert int(snap["summary"]["added-records"]) == orders.count()


def test_append_accumulates_and_time_travel(catalog, spark, orders):
    even = orders.where(F.col("o_orderkey") % 2 == 0)
    odd = orders.where(F.col("o_orderkey") % 2 == 1)
    t = catalog.create_table("sales", "orders_tt", orders)
    s1 = t.append(even)
    s2 = t.append(odd)
    assert t.current_snapshot_id() == s2
    assert t.read(spark).count() == orders.count()
    # pinned read sees only the first commit
    assert t.read(spark, snapshot_id=s1).count() == even.count()
    # as-of-timestamp resolution picks the right snapshot
    snaps = {s["snapshot-id"]: s for s in t.snapshots()}
    assert t.read(
        spark, as_of_timestamp_ms=snaps[s1]["timestamp-ms"]
    ).count() == even.count()
    # snapshot log is a parent chain
    assert snaps[s2]["parent-snapshot-id"] == s1
    assert [h["snapshot-id"] for h in t.history()] == [s1, s2]


def test_overwrite_replaces_file_set(catalog, spark, orders):
    even = orders.where(F.col("o_orderkey") % 2 == 0)
    t = catalog.create_table("sales", "orders_ow", orders)
    t.append(orders)
    t.overwrite(even)
    assert t.read(spark).count() == even.count()


def test_commit_cas_conflict_is_loud(catalog, spark, orders):
    t = catalog.create_table("sales", "orders_cas", orders)
    stale_location = catalog._metadata_location("sales", "orders_cas")
    t.append(orders)  # moves the pointer
    with pytest.raises(CommitFailedError):
        catalog._swap_pointer("sales", "orders_cas",
                              stale_location, "/nowhere/v9.metadata.json")
    # loser's failure did not corrupt the table
    assert t.read(spark).count() == orders.count()


def test_create_duplicate_and_missing(catalog, orders):
    catalog.create_table("sales", "dup", orders)
    with pytest.raises(TableAlreadyExistsError):
        catalog.create_table("sales", "dup", orders)
    with pytest.raises(NoSuchTableError):
        catalog.load_table("sales", "absent")
    assert ("sales", "dup") in catalog.list_tables()


def test_manifest_stats_pruning_skips_files(catalog, spark, orders):
    """Each append = disjoint o_orderkey range → selective read must plan
    a strict subset of files (Iceberg manifest-evaluator behavior)."""
    t = catalog.create_table("sales", "orders_prune",
                             orders.coalesce(1))
    keys = [r[0] for r in orders.select(F.max("o_orderkey")).collect()]
    cut = keys[0] // 2
    t.append(orders.where(F.col("o_orderkey") <= cut).coalesce(1))
    t.append(orders.where(F.col("o_orderkey") > cut).coalesce(1))
    all_files = t.plan_files()
    pruned = t.plan_files(prune=("o_orderkey", 0, cut))
    assert len(pruned) < len(all_files)
    got = t.read(spark, prune=("o_orderkey", 0, cut)).where(
        F.col("o_orderkey") <= cut)
    assert got.count() == orders.where(F.col("o_orderkey") <= cut).count()


def test_metadata_files_are_versioned_immutably(catalog, orders, tmp_path):
    t = catalog.create_table("sales", "orders_meta", orders)
    t.append(orders)
    meta_dir = os.path.join(str(tmp_path), "warehouse", "sales",
                            "orders_meta", "metadata")
    versions = sorted(f for f in os.listdir(meta_dir)
                      if f.endswith(".metadata.json"))
    # vN-<uuid>.metadata.json: version prefix orders the history, the
    # uuid suffix keeps concurrent writers out of each other's files
    assert [v.split("-")[0] for v in versions] == ["v1", "v2"]
    assert all(len(v.split("-")[1].split(".")[0]) == 8 for v in versions)


def test_empty_table_read_has_schema(catalog, spark, orders):
    t = catalog.create_table("sales", "orders_empty", orders)
    got = t.read(spark)
    assert got.count() == 0
    assert "o_orderkey" in got.columns


def test_schema_evolution_add_column(catalog, spark, orders):
    """Iceberg add-column: metadata-only commit; old files read NULL for
    the new column, new files carry it."""
    from pyspark.sql import functions as F
    t = catalog.create_table("sales", "orders_evo", orders)
    t.append(orders.limit(10))
    t.add_column("channel", "string")
    assert any(f["name"] == "channel" for f in t.schema_fields())
    t.append(orders.limit(5).withColumn("channel", F.lit("web")))
    got = t.read(spark)
    assert "channel" in got.columns
    assert got.where("channel IS NULL").count() == 10
    assert got.where("channel = 'web'").count() == 5
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("channel", "string")


def test_compaction_preserves_content_and_history(catalog, spark, orders):
    """rewrite_data_files: fewer files, identical rows; pre-compaction
    snapshots still readable (time travel unaffected)."""
    t = catalog.create_table("sales", "orders_compact", orders)
    s1 = t.append(orders.where("o_orderkey % 2 = 0").repartition(4))
    t.append(orders.where("o_orderkey % 2 = 1").repartition(4))
    files_before = len(t.plan_files())
    t.compact(spark, target_files=1)
    assert len(t.plan_files()) < files_before
    assert t.read(spark).count() == orders.count()
    (last,) = [s for s in t.snapshots()
               if s["snapshot-id"] == t.current_snapshot_id()]
    assert last["summary"]["operation"] == "replace"
    # old snapshot still resolves its original files
    assert t.read(spark, snapshot_id=s1).count() == \
        orders.where("o_orderkey % 2 = 0").count()


def test_read_plan_scans_exactly_manifest_files(catalog, spark, orders):
    """The scan must read precisely the snapshot's (pruned) file list —
    pruned-out files never enter the plan."""
    t = catalog.create_table("sales", "orders_plan", orders.coalesce(1))
    keys = [r[0] for r in orders.select(F.max("o_orderkey")).collect()]
    cut = keys[0] // 2
    t.append(orders.where(F.col("o_orderkey") <= cut).coalesce(1))
    t.append(orders.where(F.col("o_orderkey") > cut).coalesce(1))
    pruned = t.plan_files(prune=("o_orderkey", 0, cut))
    scanned = {f.removeprefix("file://")
               for f in t.read(spark, prune=("o_orderkey", 0, cut))
               .inputFiles()}
    kept = {e.file_path for e in pruned}
    dropped = {e.file_path for e in t.plan_files()} - kept
    assert scanned == kept
    assert not scanned & dropped


def test_expire_snapshots_prunes_history_and_orphans(spark, tmp_path):
    """expire_snapshots(keep_last=2) after three appends + a compaction:
    kept reads are byte-identical, expired time travel fails loudly,
    and every file unreachable from the kept snapshots is gone while
    every reachable one survives (manifest chains included)."""
    import os
    import pytest as _pytest
    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        NoSuchTableError, SqliteCatalog, _read_all_entries,
        _read_manifest_paths)
    cat = SqliteCatalog(str(tmp_path / "cat.db"),
                        warehouse=str(tmp_path / "wh"))
    df1 = spark.range(0, 100).withColumnRenamed("id", "k")
    t = cat.create_table("maint", "t", df1)
    s1 = t.append(df1)
    s2 = t.append(spark.range(100, 150).withColumnRenamed("id", "k"))
    s3 = t.compact(spark, target_files=1)  # replace: references new files only
    pre_total = t.read(spark).count()
    s2_count = t.read(spark, snapshot_id=s2).count()
    stats = t.expire_snapshots(keep_last=2)
    assert stats["expired"] == 1 and stats["deleted_data_files"] == 0
    # s1's files are still reachable through s2's manifest chain
    assert t.read(spark, snapshot_id=s2).count() == s2_count
    assert t.read(spark).count() == pre_total
    with _pytest.raises(NoSuchTableError):
        t.read(spark, snapshot_id=s1)
    # expiring down to just the compacted snapshot orphans the
    # pre-compaction data files; they must be deleted from disk
    old_files = {e.file_path for e in t.plan_files(snapshot_id=s2)}
    stats2 = t.expire_snapshots(keep_last=1)
    assert stats2["expired"] == 1 and stats2["deleted_data_files"] > 0
    live = {e.file_path for e in t.plan_files()}
    for f in old_files - live:
        assert not os.path.exists(f)
    for f in live:
        assert os.path.exists(f)
    assert t.read(spark).count() == pre_total
    assert t.expire_snapshots(keep_last=5) == {
        "expired": 0, "deleted_data_files": 0, "deleted_manifests": 0}


def test_remove_orphan_files_deletes_only_unreferenced_dirs(spark, tmp_path):
    """A simulated crashed-writer directory (parquet on disk, never
    committed) is removed; every live write directory — markers
    included — survives and reads are unchanged."""
    import os
    import shutil as _sh
    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        SqliteCatalog)
    cat = SqliteCatalog(str(tmp_path / "cat.db"),
                        warehouse=str(tmp_path / "wh"))
    df = spark.range(0, 80).withColumnRenamed("id", "k")
    t = cat.create_table("maint", "orph", df)
    t.append(df)
    t.append(spark.range(80, 120).withColumnRenamed("id", "k"))
    pre = t.read(spark).count()
    loc = t._load_metadata()[1]["location"]
    # crashed writer: wrote parquet, never committed a snapshot
    orphan_dir = os.path.join(loc, "data", "deadbeef0000")
    spark.range(5).write.parquet(orphan_dir)
    live_dirs = {d for d in os.listdir(os.path.join(loc, "data"))
                 if d != "deadbeef0000"}
    # the default 3-day age guard protects what could be an IN-FLIGHT
    # writer (its directory exists before its commit CAS): fresh
    # unreferenced files are kept
    assert t.remove_orphan_files()["deleted_orphan_dirs"] == 0
    assert os.path.exists(orphan_dir)
    # forced sweep (no writer can be live): the debris goes
    stats = t.remove_orphan_files(older_than_ms=0)
    assert stats["deleted_orphan_dirs"] == 1
    assert not os.path.exists(orphan_dir)
    assert {d for d in os.listdir(os.path.join(loc, "data"))} == live_dirs
    assert t.read(spark).count() == pre
    # idempotent
    assert t.remove_orphan_files(older_than_ms=0)["deleted_orphan_dirs"] == 0


def _kv_table(cat, spark, name):
    """Three appends with disjoint key ranges -> >= 3 data files."""
    mk = lambda lo, hi: (spark.range(lo, hi).withColumnRenamed("id", "k")
                         .withColumn("v", F.col("k") * 10))
    t = cat.create_table("dml", name, mk(0, 10))
    t.append(mk(0, 10).coalesce(1))
    t.append(mk(10, 20).coalesce(1))
    t.append(mk(20, 30).coalesce(1))
    return t


def test_merge_upsert_updates_and_inserts(catalog, spark):
    t = _kv_table(catalog, spark, "m1")
    pre_snap = t.current_snapshot_id()
    src = spark.createDataFrame([(5, -1), (15, -2), (99, -3)], "k long, v long")
    stats = t.merge_upsert(spark, src, ["k"])
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 31                      # 30 original + 1 insert
    assert got[5] == -1 and got[15] == -2 and got[99] == -3
    assert got[6] == 60                        # untouched row intact
    # copy-on-write: only the two files holding k=5 and k=15 rewrote
    assert stats["rewritten_files"] == 2 and stats["kept_files"] >= 1
    # time travel: pre-merge snapshot still shows the old values
    old = {r["k"]: r["v"] for r in t.read(spark, snapshot_id=pre_snap).collect()}
    assert old[5] == 50 and 99 not in old


def test_merge_upsert_kept_files_not_rewritten(catalog, spark):
    t = _kv_table(catalog, spark, "m2")
    pre_paths = {e.file_path for e in t.plan_files()}
    src = spark.createDataFrame([(25, -1)], "k long, v long")
    t.merge_upsert(spark, src, ["k"])
    post_paths = {e.file_path for e in t.plan_files()}
    # manifest stats pruned the merge to the 20-30 file; the 0-10 and
    # 10-20 files appear in the new snapshot BY THE SAME PATH
    # (copy-on-write carried their manifest entries, no rewrite)
    assert len(pre_paths & post_paths) >= 2
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[25] == -1 and got[5] == 50 and len(got) == 30


def test_merge_upsert_rejects_duplicate_source_keys(catalog, spark):
    t = _kv_table(catalog, spark, "m3")
    src = spark.createDataFrame([(5, -1), (5, -2)], "k long, v long")
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_upsert(spark, src, ["k"])


def test_merge_into_empty_table_is_insert_all(catalog, spark):
    df = spark.range(0, 4).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k"))
    t = catalog.create_table("dml", "m4", df)
    stats = t.merge_upsert(spark, df, ["k"])
    assert stats["rewritten_files"] == 0
    assert t.read(spark).count() == 4


def test_delete_where_copy_on_write(catalog, spark):
    t = _kv_table(catalog, spark, "d1")
    pre_paths = {e.file_path for e in t.plan_files()}
    pre_snap = t.current_snapshot_id()
    stats = t.delete_where(spark, F.col("k").between(12, 14))
    assert stats["rewritten_files"] == 1
    ks = {r["k"] for r in t.read(spark).collect()}
    assert ks == set(range(0, 30)) - {12, 13, 14}
    # untouched files carried by path; history intact
    assert len(pre_paths & {e.file_path for e in t.plan_files()}) == 2
    assert t.read(spark, snapshot_id=pre_snap).count() == 30
    # no-match delete commits nothing
    stats2 = t.delete_where(spark, F.col("k") > 10_000)
    assert stats2["snapshot_id"] is None and stats2["rewritten_files"] == 0


def test_partitioned_write_and_partition_pruning(catalog, spark):
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], float(i)) for i in range(30)],
        "k long, lang string, v double")
    t = catalog.create_table("part", "docs", df, partition_by=["lang"])
    t.append(df)
    everything = t.plan_files()
    en = t.plan_files(partition_filter={"lang": "en"})
    assert 0 < len(en) < len(everything)
    assert all(e.partition["lang"] == "en" for e in en)
    got = t.read(spark, partition_filter={"lang": "en"})
    assert got.count() == 10
    assert {r["lang"] for r in got.collect()} == {"en"}
    # the derived partition dirs never leak into the read schema
    assert got.columns == ["k", "lang", "v"]
    # multi-value filter, and loud unknown field
    assert t.read(spark, partition_filter={"lang": ["en", "fr"]}).count() == 20
    with pytest.raises(ValueError, match="unknown partition field"):
        t.plan_files(partition_filter={"nope": 1})


def test_partitioned_temporal_and_bucket_transforms(catalog, spark):
    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3} 12:00:00") for i in range(12)],
        "user_id long, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")).drop("ts_s")
    t = catalog.create_table("part", "ev", df,
                             partition_by=["day(ts)", "bucket(4, user_id)"])
    t.append(df)
    day2 = t.plan_files(partition_filter={"ts_day": "2024-01-02"})
    assert day2 and all(e.partition["ts_day"] == "2024-01-02" for e in day2)
    assert t.read(spark,
                  partition_filter={"ts_day": "2024-01-02"}).count() == 4
    buckets = {e.partition["user_id_bucket"] for e in t.plan_files()}
    assert buckets <= {"0", "1", "2", "3"} and len(buckets) > 1


def test_partitioned_merge_rewrites_only_touched_partitions(catalog, spark):
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], float(i)) for i in range(30)],
        "k long, lang string, v double")
    t = catalog.create_table("part", "m", df, partition_by=["lang"])
    t.append(df)
    pre = {e.file_path for e in t.plan_files()}
    other_pre = {e.file_path for e in t.plan_files()
                 if e.partition["lang"] != "en"}
    src = spark.createDataFrame([(0, "en", -1.0), (99, "en", -2.0)],
                                "k long, lang string, v double")
    t.merge_upsert(spark, src, ["k"])
    post = {e.file_path for e in t.plan_files()}
    # every non-en file carried over untouched, by the same path
    assert other_pre <= post
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[0] == -1.0 and got[99] == -2.0 and len(got) == 31
    # new files landed with partition values too
    new_en = [e for e in t.plan_files(partition_filter={"lang": "en"})
              if e.file_path not in pre]
    assert new_en


def test_invalid_partition_specs_are_loud(catalog, spark):
    df = spark.createDataFrame([(1, "x")], "k long, s string")
    with pytest.raises(ValueError, match="unparseable|unsupported"):
        catalog.create_table("part", "bad1", df, partition_by=["day(3, k)"])
    with pytest.raises(ValueError, match="not in schema"):
        catalog.create_table("part", "bad2", df, partition_by=["missing"])


def test_partition_spec_evolution_conservative_pruning(catalog, spark):
    """Evolving the spec is metadata-only; files from the old generation
    are conservatively KEPT when filtered on a field they never had, and
    new-generation files prune exactly."""
    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], ["a", "b"][i % 2]) for i in range(8)],
        "k long, lang string, src string")
    t = catalog.create_table("part", "evo", df, partition_by=["lang"])
    t.append(df)                      # generation 1: lang partitions
    old_files = {e.file_path for e in t.plan_files()}
    spec_id = t.update_partition_spec(["src"])
    assert spec_id == 1
    assert {e.file_path for e in t.plan_files()} == old_files  # no rewrite
    t.append(df)                      # generation 2: src partitions
    # filter on the NEW field: gen-1 files (no src value) must survive
    picked = t.plan_files(partition_filter={"src": "a"})
    assert old_files <= {e.file_path for e in picked}
    gen2 = [e for e in picked if e.file_path not in old_files]
    assert gen2 and all(e.partition["src"] == "a" for e in gen2)
    # filter on the OLD field symmetrically keeps gen-2 files
    picked_lang = t.plan_files(partition_filter={"lang": "en"})
    assert all(e.partition.get("lang", "en") == "en" for e in picked_lang)
    with pytest.raises(ValueError, match="not in schema"):
        t.update_partition_spec(["missing"])


def test_sorted_compaction_tightens_pruning(catalog, spark):
    """Clustering rewrite: after compact(sort_by=k), each file covers a
    narrow disjoint key range, so a selective stat-prune plans fewer
    files than the same prune over the shuffled originals."""
    import random
    rnd = random.Random(7)
    keys = list(range(400))
    rnd.shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    t = catalog.create_table("maint", "sorted", df)
    for i in range(4):                # 4 files, each spanning ~full range
        t.append(spark.createDataFrame(
            [(k,) for k in keys[i * 100:(i + 1) * 100]], "k long")
            .coalesce(1))
    before = len(t.plan_files(prune=("k", 10, 20)))
    assert before == 4                # every unsorted file overlaps
    t.compact(spark, target_files=4, sort_by=["k"])
    after = t.plan_files(prune=("k", 10, 20))
    assert len(after) < before
    got = t.read(spark, prune=("k", 10, 20)).where(
        F.col("k").between(10, 20))
    assert got.count() == 11


def test_concurrent_appends_cas_race_yields_linear_history(catalog, spark,
                                                           orders):
    """Four threads race appends on ONE table through the real commit
    path (fresh metadata load → file write → BEGIN IMMEDIATE CAS);
    losers see CommitFailedError and retry on the new base.  Every row
    must land exactly once, and the snapshot chain must be LINEAR —
    each append's parent is its predecessor, no fork, no lost update.
    This is the multi-writer guarantee the catalog exists to provide."""
    import threading

    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        CommitFailedError,
    )

    t = catalog.create_table("race", "orders", orders)
    slices = [orders.where(F.col("o_orderkey") % 4 == i).localCheckpoint()
              for i in range(4)]
    errors: list[str] = []

    def worker(df):
        try:
            for _ in range(20):
                try:
                    t.append(df)
                    return
                except CommitFailedError:
                    continue
            errors.append("gave up after 20 CAS retries")
        except Exception as exc:             # noqa: BLE001 — surface it
            errors.append(repr(exc))

    threads = [threading.Thread(target=worker, args=(s,)) for s in slices]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors
    assert t.read(spark).count() == orders.count()
    snaps = t.snapshots()
    assert len(snaps) == 4
    # linear parent chain in commit order, starting from the empty table
    assert snaps[0].get("parent-snapshot-id") in (None, 0)
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent-snapshot-id"] == prev["snapshot-id"]
    # sequence numbers strictly increase along the chain
    seqs = [int(s["sequence-number"]) for s in snaps]
    assert seqs == sorted(seqs) and len(set(seqs)) == 4


def test_concurrent_append_vs_delete_linearizes(catalog, spark):
    """An appender and a COW deleter race the same table; each retries
    on CommitFailedError (the deleter RE-PLANS from fresh metadata, as
    the docstring demands).  Whatever interleaving the CAS serialized,
    replaying the committed snapshot order against a model must
    reproduce the final table exactly — the linearizability contract:
    if the delete committed before the append, appended rows matching
    the predicate survive; if after, they are gone."""
    import threading

    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        CommitFailedError,
    )

    base = spark.createDataFrame([(k, k) for k in range(100)],
                                 "k long, v long")
    extra = spark.createDataFrame([(k, k) for k in range(100, 200)],
                                  "k long, v long").localCheckpoint()
    t = catalog.create_table("race", "dml", base)
    t.append(base)
    errors: list[str] = []

    def run(fn):
        try:
            for _ in range(20):
                try:
                    fn()
                    return
                except CommitFailedError:
                    continue
            errors.append("gave up after 20 CAS retries")
        except Exception as exc:             # noqa: BLE001 — surface it
            errors.append(repr(exc))

    ths = [threading.Thread(target=run, args=(lambda: t.append(extra),)),
           threading.Thread(target=run, args=(
               lambda: t.delete_where(spark, F.col("k") % 3 == 0),))]
    for th in ths:
        th.start()
    for th in ths:
        th.join(timeout=300)
    assert not errors, errors

    # replay the serialized commit order against a python model
    model: set[int] = set()
    for s in t.snapshots():
        op = s["summary"]["operation"]
        if op == "append":
            added = int(s["summary"]["added-records"])
            model |= set(range(100) if added == 100 and not model
                         else range(100, 200))
        else:                                # the COW delete
            model -= {k for k in model if k % 3 == 0}
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == sorted(model)


def test_concurrent_compact_vs_append_loses_no_rows(catalog, spark):
    """Maintenance racing ingestion: compact() reads the current file
    set and commits a replace — if an append lands in between, the CAS
    must reject the stale rewrite and the retried compaction must carry
    the appended rows.  Final table = all rows, exactly once, whichever
    side won each race."""
    import threading

    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        CommitFailedError,
    )

    df = spark.createDataFrame([(k,) for k in range(300)], "k long")
    extra = spark.createDataFrame([(k,) for k in range(300, 400)],
                                  "k long").localCheckpoint()
    t = catalog.create_table("race", "compact", df)
    for i in range(3):                       # several small files
        t.append(df.where((F.col("k") % 3) == i).coalesce(1))
    errors: list[str] = []

    def run(fn):
        try:
            for _ in range(20):
                try:
                    fn()
                    return
                except CommitFailedError:
                    continue
            errors.append("gave up after 20 CAS retries")
        except Exception as exc:             # noqa: BLE001 — surface it
            errors.append(repr(exc))

    ths = [threading.Thread(
               target=run,
               args=(lambda: t.compact(spark, target_files=2,
                                       sort_by=["k"]),)),
           threading.Thread(target=run, args=(lambda: t.append(extra),))]
    for th in ths:
        th.start()
    for th in ths:
        th.join(timeout=300)
    assert not errors, errors
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == list(range(400))


def test_zorder_compaction_beats_linear_sort_on_second_dim(catalog, spark):
    """The z-order payoff: a linear sort on x leaves every file spanning
    the FULL y range (a y-only or 2-D selective read opens all of them),
    while the bit-interleaved rewrite gives each file a small (x, y)
    hyper-rectangle — the same y-range prune then plans a strict subset.
    Content must survive the rewrite bit-for-bit."""
    import random
    rnd = random.Random(11)
    rows = [(x, y) for x in range(40) for y in range(40)]
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "x long, y long")

    lin = catalog.create_table("maint", "lin", df)
    zor = catalog.create_table("maint", "zor", df)
    for t in (lin, zor):
        for i in range(4):            # 4 shuffled files, full range each
            t.append(spark.createDataFrame(
                rows[i * 400:(i + 1) * 400], "x long, y long").coalesce(1))
    lin.compact(spark, target_files=16, sort_by=["x"])
    zor.compact(spark, target_files=16, zorder_by=["x", "y"])

    y_range = ("y", 0, 4)
    lin_files = len(lin.plan_files(prune=y_range))
    zor_files = len(zor.plan_files(prune=y_range))
    assert lin_files == 16            # x-sorted files all span y fully
    assert zor_files < lin_files      # z-layout prunes the 2nd dimension
    box = [("x", 0, 4), ("y", 0, 4)]
    assert len(zor.plan_files(prune=box)) <= zor_files
    # the pruned read still returns every qualifying row, and the
    # rewrite preserved the table's content exactly
    got = zor.read(spark, prune=box).where(
        (F.col("x") <= 4) & (F.col("y") <= 4))
    assert got.count() == 25
    assert sorted(map(tuple, zor.read(spark).collect())) == sorted(rows)


def test_zorder_key_bit_layout_matches_reference(spark):
    """The interleave contract, pinned bit-for-bit against a python
    model: 16-bit min-max ranks (floor semantics, clamped), bit j of
    column c at position j·d + c, NULL keys ranked 0.  Any drift in the
    rank formula or bit placement silently degrades clustering quality
    — this makes it loud instead."""
    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        _with_zorder_key,
    )

    rows = [(x, y) for x in [0, 1, 7, 13, 40] for y in [3, None, 29]]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {(r["x"], r["y"]): r["__z"]
           for r in _with_zorder_key(df, ["x", "y"]).collect()}

    xs = [x for x, _ in rows]
    ys = [y for _, y in rows if y is not None]
    lo_x, hi_x = min(xs), max(xs)
    lo_y, hi_y = min(ys), max(ys)

    def rank(v, lo, hi):
        if v is None:
            v = lo
        return max(0, min(65535, int((v - lo) * 65535 / (hi - lo))))

    for x, y in rows:
        rx, ry = rank(x, lo_x, hi_x), rank(y, lo_y, hi_y)
        want = 0
        for j in range(16):
            want |= ((rx >> j) & 1) << (2 * j)      # col 0 at j*d+0
            want |= ((ry >> j) & 1) << (2 * j + 1)  # col 1 at j*d+1
        assert got[(x, y)] == want, (x, y, rx, ry)


def test_plan_files_multi_range_prune_is_and(catalog, spark):
    """A list of prune ranges applies every range (AND): each added
    range can only shrink the plan, and a single tuple stays the
    backward-compatible spelling."""
    df = spark.createDataFrame([(i, i % 7) for i in range(200)],
                               "a long, b long")
    t = catalog.create_table("maint", "multi", df)
    t.append(df.repartitionByRange(4, "a").sortWithinPartitions("a"))
    one = t.plan_files(prune=("a", 0, 49))
    both = t.plan_files(prune=[("a", 0, 49), ("b", 0, 6)])
    assert len(both) <= len(one) < len(t.plan_files())
    assert t.plan_files(prune=[("a", 0, 49)]) == one


def test_zorder_guards(catalog, spark, orders):
    """String keys and sort_by+zorder_by are rejected loudly."""
    t = catalog.create_table("maint", "guards", orders)
    t.append(orders)
    with pytest.raises(ValueError, match="order-preserving numeric"):
        t.compact(spark, zorder_by=["o_orderstatus"])
    with pytest.raises(ValueError, match="exclusive"):
        t.compact(spark, sort_by=["o_orderkey"],
                  zorder_by=["o_orderkey", "o_custkey"])


def test_dml_model_based_random_ops(catalog, spark):
    """Randomized merge/delete sequence vs a dict model: after every op
    the table equals the model exactly, and earlier snapshots replay
    their recorded states (later DML never disturbs history)."""
    import random
    rnd = random.Random(42)
    model = {k: rnd.randrange(100) for k in range(40)}
    df = spark.createDataFrame(sorted(model.items()), "k long, v long")
    t = catalog.create_table("dml", "model", df)
    t.append(df)
    history = [(t.current_snapshot_id(), dict(model))]
    for _ in range(5):
        if rnd.random() < 0.6:
            src = [(k, rnd.randrange(100))
                   for k in rnd.sample(range(60), rnd.randrange(1, 8))]
            t.merge_upsert(
                spark, spark.createDataFrame(src, "k long, v long"), ["k"])
            model.update(dict(src))
        else:
            lo = rnd.randrange(0, 50)
            hi = lo + rnd.randrange(0, 10)
            t.delete_where(spark, F.col("k").between(lo, hi))
            for k in [k for k in model if lo <= k <= hi]:
                del model[k]
        history.append((t.current_snapshot_id(), dict(model)))
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == model
    for sid, snap_model in rnd.sample(history, 3):
        got = {r["k"]: r["v"]
               for r in t.read(spark, snapshot_id=sid).collect()}
        assert got == snap_model


def test_delete_where_null_predicate_rows_survive(catalog, spark):
    """DELETE removes rows where the predicate is TRUE; NULL-predicate
    rows (three-valued logic) are not matched and must survive the
    rewrite of their file."""
    df = spark.createDataFrame(
        [(1, None), (2, 10), (3, 2)], "k long, v long")
    t = catalog.create_table("dml", "nulls", df)
    t.append(df.coalesce(1))            # one file: rewrite hits all rows
    t.delete_where(spark, F.col("v") > 5)
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: None, 3: 2}       # k=1 (NULL predicate) survived


def test_merge_with_relative_warehouse_path(spark, tmp_path, monkeypatch):
    """input_file_name() is always absolute while a relative warehouse
    stores relative paths in the manifest — matched-file detection must
    canonicalize or MERGE silently degrades to insert-only."""
    monkeypatch.chdir(tmp_path)
    cat = SqliteCatalog("cat.db", warehouse="wh")
    df = spark.createDataFrame([(k, 0) for k in range(6)], "k long, v long")
    t = cat.create_table("dml", "rel", df)
    t.append(df.coalesce(1))
    stats = t.merge_upsert(
        spark, spark.createDataFrame([(2, -1)], "k long, v long"), ["k"])
    assert stats["rewritten_files"] == 1     # the match was detected
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[2] == -1 and len(got) == 6    # updated, not duplicated


def test_merge_null_keys_insert_and_empty_source_noop(catalog, spark):
    """Null-key source rows match nothing → legal inserts (no spurious
    cardinality error); an empty source commits no snapshot."""
    df = spark.createDataFrame([(1, 0), (2, 0)], "k long, v long")
    t = catalog.create_table("dml", "nullkeys", df)
    t.append(df)
    src = spark.createDataFrame([(None, 7), (None, 8), (1, -1)],
                                "k long, v long")
    t.merge_upsert(spark, src, ["k"])
    rows = t.read(spark).collect()
    assert len(rows) == 4                     # 2 kept/updated + 2 inserts
    assert {r["v"] for r in rows if r["k"] is None} == {7, 8}
    assert {r["v"] for r in rows if r["k"] == 1} == {-1}
    pre = t.current_snapshot_id()
    stats = t.merge_upsert(
        spark, spark.createDataFrame([], "k long, v long"), ["k"])
    assert stats["snapshot_id"] is None
    assert t.current_snapshot_id() == pre     # no snapshot churn


def test_refs_tag_branch_and_retention(catalog, spark, orders):
    even = orders.where("o_orderkey % 2 = 0")
    odd = orders.where("o_orderkey % 2 = 1")
    t = catalog.create_table("refs", "t", orders)
    s1 = t.append(even)
    t.set_ref("v1", kind="tag")                     # pins current (s1)
    s2 = t.append(odd)
    t.set_ref("main_head", kind="branch")
    assert t.resolve_ref("v1") == s1
    assert t.resolve_ref("main_head") == s2
    # tag immutable, branch movable
    with pytest.raises(ValueError, match="immutable"):
        t.set_ref("v1", snapshot_id=s2)
    t.set_ref("main_head", snapshot_id=s1, kind="branch")
    assert t.resolve_ref("main_head") == s1
    # read through the ref
    assert t.read(spark, snapshot_id=t.resolve_ref("v1")).count() == \
        even.count()
    # retention keeps the tagged snapshot alive past keep_last
    t.append(odd)
    stats = t.expire_snapshots(keep_last=1)
    assert stats["expired"] >= 1
    assert t.read(spark, snapshot_id=s1).count() == even.count()
    with pytest.raises(NoSuchTableError):
        t.resolve_ref("absent")


def test_incremental_scan_reads_only_the_delta(catalog, spark):
    mk = lambda lo, hi: (spark.range(lo, hi).withColumnRenamed("id", "k"))
    t = catalog.create_table("inc", "t", mk(0, 5))
    s1 = t.append(mk(0, 5))
    s2 = t.append(mk(5, 9))
    s3 = t.append(mk(9, 12))
    delta = t.read_incremental(spark, from_snapshot=s1)
    assert {r["k"] for r in delta.collect()} == set(range(5, 12))
    mid = t.read_incremental(spark, from_snapshot=s1, to_snapshot=s2)
    assert {r["k"] for r in mid.collect()} == set(range(5, 9))
    # same-snapshot delta is empty with the right schema
    empty = t.read_incremental(spark, s3, s3)
    assert empty.count() == 0 and empty.columns == ["k"]
    # non-append snapshot in range -> loud
    t.compact(spark)
    with pytest.raises(ValueError, match="non-append"):
        t.read_incremental(spark, from_snapshot=s1)
    # non-ancestor -> loud
    with pytest.raises(ValueError, match="not an ancestor"):
        t.read_incremental(spark, from_snapshot=s2, to_snapshot=s1)


def test_rename_column_data_follows_field_id(catalog, spark):
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    t = catalog.create_table("evo", "ren", df)
    t.append(df)
    t.rename_column("v", "val")
    assert [f["name"] for f in t.schema_fields()] == ["k", "val"]
    got = {r["k"]: r["val"] for r in t.read(spark).collect()}
    assert got == {1: 10, 2: 20}          # old files' data follows the id
    t.compact(spark)                      # rewrite under the new name
    got = {r["k"]: r["val"] for r in t.read(spark).collect()}
    assert got == {1: 10, 2: 20}
    # writes + DML under the new name work across both file generations
    t.append(spark.createDataFrame([(3, 30)], "k long, val long"))
    t.merge_upsert(spark, spark.createDataFrame(
        [(1, -1)], "k long, val long"), ["k"])
    got = {r["k"]: r["val"] for r in t.read(spark).collect()}
    assert got == {1: -1, 2: 20, 3: 30}
    with pytest.raises(ValueError, match="does not exist"):
        t.rename_column("v", "w")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("k", "val")


def test_drop_and_readd_never_resurrects(catalog, spark):
    df = spark.createDataFrame([(1, 111), (2, 222)], "k long, v long")
    t = catalog.create_table("evo", "drop", df)
    t.append(df)
    t.drop_column("v")
    assert t.read(spark).columns == ["k"]
    t.compact(spark)                      # rewrite without the dropped id
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2]
    t.add_column("v", "bigint")           # same NAME, new field id
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: None, 2: None}      # old 111/222 never resurrect
    t.append(spark.createDataFrame([(3, 3)], "k long, v long"))
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: None, 2: None, 3: 3}
    with pytest.raises(ValueError, match="last column"):
        t2 = catalog.create_table(
            "evo", "one", spark.createDataFrame([(1,)], "k long"))
        t2.drop_column("k")


def test_rename_swap_via_temp_is_readable(catalog, spark):
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    t = catalog.create_table("evo", "swap", df)
    t.append(df)
    t.rename_column("a", "tmp")
    t.rename_column("b", "a")
    t.rename_column("tmp", "b")
    (row,) = t.read(spark).collect()
    assert row["a"] == 2 and row["b"] == 1   # swapped, data followed ids


def test_rename_partition_source_keeps_writes_working(catalog, spark):
    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2]) for i in range(8)], "k long, lang string")
    t = catalog.create_table("evo", "psrc", df, partition_by=["lang"])
    t.append(df)
    t.rename_column("lang", "language")
    # the spec followed the rename: the next write fans out fine
    t.append(spark.createDataFrame([(100, "fr")], "k long, language string"))
    assert t.read(spark).count() == 9
    picked = t.plan_files(partition_filter={"lang": "fr"})
    assert picked and all(e.partition.get("lang") in (None, "fr")
                          for e in picked)
    # dropping a current partition source is refused
    with pytest.raises(ValueError, match="partition source"):
        t.drop_column("language")


def test_set_ref_kind_mismatch_is_loud(catalog, spark, orders):
    t = catalog.create_table("refs", "kinds", orders)
    t.append(orders.limit(5))
    t.set_ref("dev", kind="branch")
    with pytest.raises(ValueError, match="is a branch"):
        t.set_ref("dev")                  # kind defaults to tag
    t.set_ref("dev", kind="branch")       # explicit branch move is fine


def test_dml_commit_rejects_stale_base_snapshot(catalog, spark):
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    t = catalog.create_table("dml", "stale", df)
    stale_base = t.append(df)
    t.append(spark.createDataFrame([(2, 2)], "k long, v long"))
    with pytest.raises(CommitFailedError, match="base snapshot moved"):
        t._commit_write(df, operation="overwrite", kept_entries=[],
                        expect_snapshot=stale_base)


def test_time_travel_reads_snapshot_schema(catalog, spark):
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    t = catalog.create_table("evo", "tt_schema", df)
    s1 = t.append(df)
    t.rename_column("v", "val")
    t.drop_column("val")
    # current read: only k; historical read: the original k, v — a later
    # rename/drop must not retroactively rewrite history
    assert t.read(spark).columns == ["k"]
    old = t.read(spark, snapshot_id=s1)
    assert old.columns == ["k", "v"]
    assert old.collect()[0]["v"] == 10


def test_incremental_scan_history_gap_is_loud(catalog, spark):
    mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")
    t = catalog.create_table("inc", "gap", mk(0, 2))
    s1 = t.append(mk(0, 2))
    t.set_ref("ckpt", snapshot_id=s1)     # keeps s1 past expiration
    t.append(mk(2, 4))
    t.append(mk(4, 6))
    t.expire_snapshots(keep_last=1)       # middle snapshot expires
    with pytest.raises(ValueError, match="history gap"):
        t.read_incremental(spark, from_snapshot=s1)


def test_delete_partition_scoped_scans_only_the_partition(catalog, spark):
    """A partition-scoped DELETE examines only the filtered partitions'
    files; everything else carries over by manifest entry untouched."""
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3]) for i in range(30)],
        "k long, lang string")
    t = catalog.create_table("dml", "pdel", df, partition_by=["lang"])
    t.append(df)
    other_pre = {e.file_path for e in t.plan_files()
                 if e.partition["lang"] != "de"}
    stats = t.delete_where(spark, F.col("k") % 2 == 1,
                           partition_filter={"lang": "de"})
    assert stats["rewritten_files"] >= 1
    ks = {r["k"] for r in t.read(spark).collect()}
    # only de rows (k % 3 == 1) with odd k disappeared
    assert ks == set(range(30)) - {k for k in range(30)
                                   if k % 3 == 1 and k % 2 == 1}
    # non-de files carried by the same path
    assert other_pre <= {e.file_path for e in t.plan_files()}


# -- merge-on-read positional deletes ---------------------------------------


def _mk(spark, n=100):
    return spark.range(n).select(F.col("id"), (F.col("id") % 10).alias("k"))


def test_mor_delete_rows_gone_files_untouched(catalog, spark):
    """MOR delete: rows disappear from reads, but NO data file is
    rewritten — the new snapshot reuses the parent's manifest and only
    gains a positional delete file; the pre-delete snapshot still sees
    every row (deletes are snapshot-scoped, like schema)."""
    t = catalog.create_table("ns", "mor", _mk(spark))
    t.append(_mk(spark))
    pre = t.current_snapshot_id()
    pre_files = {e.file_path for e in t.plan_files()}
    r = t.delete_where_mor(spark, F.col("k") == 3)
    assert r["deleted_rows"] == 10 and r["delete_files"] >= 1
    assert t.read(spark).count() == 90
    assert t.read(spark).where(F.col("k") == 3).count() == 0
    assert {e.file_path for e in t.plan_files()} == pre_files  # untouched
    assert t.read(spark, snapshot_id=pre).count() == 100       # time travel
    md = t._load_metadata()[1]
    cur = [s for s in md["snapshots"]
           if s["snapshot-id"] == md["current-snapshot-id"]][0]
    assert cur["summary"]["delete-mode"] == "merge-on-read"


def test_mor_delete_idempotent_and_null_semantics(catalog, spark):
    """Re-issuing the same predicate is a no-op commit (already-deleted
    rows are excluded before matching); NULL-predicate rows are not
    matched (three-valued DELETE semantics, same as copy-on-write)."""
    df = spark.createDataFrame(
        [(1, 1), (2, None), (3, 3)], "id long, k long")
    t = catalog.create_table("ns", "mor_null", df)
    t.append(df)
    r1 = t.delete_where_mor(spark, F.col("k") == 3)
    assert r1["deleted_rows"] == 1
    assert t.read(spark).count() == 2          # NULL row survives
    r2 = t.delete_where_mor(spark, F.col("k") == 3)
    assert r2 == {"snapshot_id": None, "delete_files": 0,
                  "deleted_rows": 0}


def test_mor_deletes_carry_across_append_and_cow_dml(catalog, spark):
    """Deletes ride along appends (old rows stay deleted, new rows are
    untouched), and later copy-on-write DML must not resurrect them:
    its rewrite reads apply the pending delete files and the list
    carries into the DML snapshot."""
    t = catalog.create_table("ns", "mor_carry", _mk(spark))
    t.append(_mk(spark))
    t.delete_where_mor(spark, F.col("k") == 3)
    t.append(spark.range(100, 120).select(
        F.col("id"), (F.col("id") % 10).alias("k")))
    assert t.read(spark).count() == 110
    assert t.read(spark).where(F.col("k") == 3).count() == 2  # new only
    # COW delete of a different key: k=3 must STAY deleted afterwards
    t.delete_where(spark, F.col("k") == 4)
    assert t.read(spark).where(F.col("k") == 4).count() == 0
    assert t.read(spark).where(F.col("k") == 3).count() == 2
    assert t.read(spark).count() == 98
    # merge touching a MOR-deleted id treats it as NOT MATCHED (insert)
    src = spark.createDataFrame([(3, 99)], "id long, k long")
    t.merge_upsert(spark, src, ["id"])
    got = t.read(spark).where(F.col("id") == 3).collect()
    assert [(r["id"], r["k"]) for r in got] == [(3, 99)]


def test_mor_compact_folds_deletes_and_maintenance_keeps_them(
        catalog, spark):
    """compact() rewrites live rows and CLEARS the delete list; until
    then expire/orphan maintenance treats delete files as referenced
    snapshot state (never collected while a snapshot lists them)."""
    t = catalog.create_table("ns", "mor_compact", _mk(spark))
    t.append(_mk(spark))
    t.delete_where_mor(spark, F.col("k") < 2)
    md = t._load_metadata()[1]
    cur = [s for s in md["snapshots"]
           if s["snapshot-id"] == md["current-snapshot-id"]][0]
    del_paths = [d["path"] for d in cur["delete-files"]]
    assert del_paths and all(os.path.exists(p) for p in del_paths)
    assert t.remove_orphan_files()["deleted_orphan_files"] == 0
    assert all(os.path.exists(p) for p in del_paths)
    before = sorted((r["id"], r["k"]) for r in t.read(spark).collect())
    assert len(before) == 80
    t.compact(spark, target_files=1)
    md = t._load_metadata()[1]
    cur = [s for s in md["snapshots"]
           if s["snapshot-id"] == md["current-snapshot-id"]][0]
    assert cur["delete-files"] == []
    after = sorted((r["id"], r["k"]) for r in t.read(spark).collect())
    assert after == before
    # once no snapshot references them, expire+orphan may collect them
    t.expire_snapshots(keep_last=1)
    assert not any(os.path.exists(p) for p in del_paths)
    assert sorted((r["id"], r["k"])
                  for r in t.read(spark).collect()) == before


def test_mor_incremental_scan_raises_across_delete(catalog, spark):
    """An incremental append scan crossing a MOR delete snapshot raises
    (the file diff is no longer a row diff), same contract as crossing
    any rewrite; the from-empty read applies the deletes."""
    t = catalog.create_table("ns", "mor_inc", _mk(spark))
    ck = t.append(_mk(spark))
    t.delete_where_mor(spark, F.col("k") == 0)
    with pytest.raises(ValueError, match="non-append"):
        t.read_incremental(spark, from_snapshot=ck)
    assert t.read_incremental(spark, from_snapshot=None).count() == 90


def test_mor_read_plan_is_anti_join_jvm_only(catalog, spark):
    """The delete application is a keyed ANTI join, entirely JVM-side:
    no cartesian, no Python eval in the read plan of a table carrying
    position deletes."""
    t = catalog.create_table("ns", "mor_plan", _mk(spark))
    t.append(_mk(spark))
    t.delete_where_mor(spark, F.col("k") == 1)
    df = t.read(spark)
    em = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = df._jdf.queryExecution().explainString(em)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dml_model_based_random_ops_with_mor(catalog, spark):
    """The randomized DML model extended with merge-on-read ops: a
    sequence of {merge, COW delete, MOR predicate delete, MOR key
    delete, append, compact} must equal the dict model after every op,
    and every recorded snapshot must replay its state — the strongest
    interaction check for COW rewrites over pending position deletes."""
    import random
    rnd = random.Random(1337)
    model = {k: rnd.randrange(100) for k in range(40)}
    df = spark.createDataFrame(sorted(model.items()), "k long, v long")
    t = catalog.create_table("dml", "model_mor", df)
    t.append(df)
    history = [(t.current_snapshot_id(), dict(model))]
    next_new = 1000
    for _ in range(8):
        p = rnd.random()
        if p < 0.30:
            src = [(k, rnd.randrange(100))
                   for k in rnd.sample(range(60), rnd.randrange(1, 8))]
            t.merge_upsert(
                spark, spark.createDataFrame(src, "k long, v long"), ["k"])
            model.update(dict(src))
        elif p < 0.45:
            lo = rnd.randrange(0, 50)
            hi = lo + rnd.randrange(0, 10)
            t.delete_where(spark, F.col("k").between(lo, hi))
            for k in [k for k in model if lo <= k <= hi]:
                del model[k]
        elif p < 0.65:
            lo = rnd.randrange(0, 50)
            hi = lo + rnd.randrange(0, 10)
            t.delete_where_mor(spark, F.col("k").between(lo, hi))
            for k in [k for k in model if lo <= k <= hi]:
                del model[k]
        elif p < 0.80:
            ks = rnd.sample(range(60), rnd.randrange(1, 6))
            t.delete_keys_mor(
                spark,
                spark.createDataFrame([(k,) for k in ks], "k long"),
                ["k"])
            for k in ks:
                model.pop(k, None)
        elif p < 0.92:
            rows = [(next_new + i, rnd.randrange(100))
                    for i in range(rnd.randrange(1, 5))]
            next_new += len(rows)
            t.append(spark.createDataFrame(rows, "k long, v long"))
            model.update(dict(rows))
        else:
            t.compact(spark, target_files=2)
        history.append((t.current_snapshot_id(), dict(model)))
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == model, f"divergence after op {_}"
    for sid, snap_model in rnd.sample(history, 4):
        got = {r["k"]: r["v"]
               for r in t.read(spark, snapshot_id=sid).collect()}
        assert got == snap_model


def test_mor_delete_over_rest_catalog(spark, tmp_path):
    """Merge-on-read deletes work unchanged through the REST catalog
    mode (same IcebergTable handle, pointer CAS over HTTP)."""
    from iceberg_datafusion_arrow_flight_spark.sources.rest_catalog import (
        RestCatalog, RestCatalogServer)
    backing = SqliteCatalog(str(tmp_path / "cat.db"),
                            warehouse=str(tmp_path / "wh"))
    with RestCatalogServer(backing, bearer_token="tok") as srv:
        client = RestCatalog(srv.url, warehouse=backing.warehouse,
                             bearer_token="tok")
        t = client.create_table("ns", "mor_rest", _mk(spark))
        t.append(_mk(spark))
        r = t.delete_where_mor(spark, F.col("k") == 2)
        assert r["deleted_rows"] == 10
        assert t.read(spark).count() == 90
        assert t.read(spark).where(F.col("k") == 2).count() == 0


def test_equality_delete_strict_sequence_and_coexistence(catalog, spark):
    """Equality deletes: commit writes ONLY the key values (no table
    scan); rows strictly older than the delete vanish; a re-appended
    key SURVIVES (the spec's strict-sequence rule); positional and
    equality kinds coexist and compact() folds both."""
    t = catalog.create_table("ns", "eq", _mk(spark))
    t.append(_mk(spark))
    r = t.delete_keys_mor_equality(
        spark, spark.createDataFrame([(1,), (3,)], "k long"), ["k"])
    assert r["deleted_keys"] == 2 and r["delete_files"] >= 1
    assert t.read(spark).count() == 80
    t.append(spark.createDataFrame([(100, 1)], "id long, k long"))
    assert t.read(spark).where("k = 1").count() == 1   # re-append lives
    t.delete_where_mor(spark, F.col("id") == 100)      # positional on top
    assert t.read(spark).where("k = 1").count() == 0
    before = sorted((r["id"], r["k"]) for r in t.read(spark).collect())
    t.compact(spark, target_files=1)
    md = t._load_metadata()[1]
    cur = [s for s in md["snapshots"]
           if s["snapshot-id"] == md["current-snapshot-id"]][0]
    assert cur["delete-files"] == []
    assert sorted((r["id"], r["k"])
                  for r in t.read(spark).collect()) == before


def test_equality_delete_null_keys_match_nothing(catalog, spark):
    """NULL key values in an equality delete match no rows (SQL
    equality), mirroring WHERE k = NULL."""
    df = spark.createDataFrame([(1, 1), (2, None)], "id long, k long")
    t = catalog.create_table("ns", "eq_null", df)
    t.append(df)
    t.delete_keys_mor_equality(
        spark, spark.createDataFrame([(None,)], "k long"), ["k"])
    assert t.read(spark).count() == 2                  # nothing matched


def test_equality_delete_blocks_schema_evolution_of_key(catalog, spark):
    """Live equality deletes bind key columns by name, so renaming or
    dropping a bound column fails loudly until compact() folds the
    deletes — then evolution proceeds."""
    t = catalog.create_table("ns", "eq_evo", _mk(spark))
    t.append(_mk(spark))
    t.delete_keys_mor_equality(
        spark, spark.createDataFrame([(1,)], "k long"), ["k"])
    with pytest.raises(ValueError, match="equality"):
        t.rename_column("k", "k2")
    with pytest.raises(ValueError, match="equality"):
        t.drop_column("k")
    t.rename_column("id", "rid")        # unbound columns still evolve
    t.compact(spark, target_files=1)
    t.rename_column("k", "k2")          # folded → free to evolve
    assert {f["name"] for f in t.schema_fields()} == {"rid", "k2"}


def test_merge_upsert_mor_single_commit(catalog, spark):
    """Single-snapshot merge-on-read upsert: one commit adds the source
    rows AND the equality delete over their keys at the same sequence —
    updated keys show only the new row, inserts appear, untouched rows
    survive, no data file is rewritten, and exactly ONE snapshot was
    created.  A second upsert of the same key keeps only the newest."""
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                               "id long, v string")
    t = catalog.create_table("ns", "upmor", df)
    t.append(df)
    pre_files = {e.file_path for e in t.plan_files()}
    n_snaps = len(t.snapshots())
    r = t.merge_upsert_mor(
        spark, spark.createDataFrame([(2, "B"), (4, "d")],
                                     "id long, v string"), ["id"])
    assert r["upserted_rows"] == 2
    assert len(t.snapshots()) == n_snaps + 1          # ONE commit
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    assert pre_files <= {e.file_path for e in t.plan_files()}  # no rewrite
    t.merge_upsert_mor(
        spark, spark.createDataFrame([(2, "BB")], "id long, v string"),
        ["id"])
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "BB", 3: "c", 4: "d"}
    with pytest.raises(ValueError, match="duplicate"):
        t.merge_upsert_mor(
            spark, spark.createDataFrame([(9, "x"), (9, "y")],
                                         "id long, v string"), ["id"])
    before = sorted(map(tuple, t.read(spark).collect()))
    t.compact(spark, target_files=1)
    assert sorted(map(tuple, t.read(spark).collect())) == before


def test_equality_delete_unknown_key_column_is_loud(catalog, spark):
    """Keying an equality delete on a column the table lacks fails at
    COMMIT time, not at some later read."""
    t = catalog.create_table("ns", "eq_badkey", _mk(spark))
    t.append(_mk(spark))
    with pytest.raises(ValueError, match="not in the table schema"):
        t.delete_keys_mor_equality(
            spark, spark.createDataFrame([(1,)], "nope long"), ["nope"])


def test_wap_stage_audit_publish(catalog, spark):
    """Write-audit-publish: branch appends are invisible to main, the
    branch head is auditable by snapshot id, publish fast-forwards main
    atomically, and a diverged main refuses the fast-forward."""
    base = spark.createDataFrame([(1, "a")], "id long, v string")
    t = catalog.create_table("ns", "wap", base)
    t.append(base)
    t.append_to_branch(
        spark.createDataFrame([(2, "b")], "id long, v string"), "audit")
    t.append_to_branch(
        spark.createDataFrame([(3, "c")], "id long, v string"), "audit")
    assert t.read(spark).count() == 1                 # main untouched
    staged = t.read(spark, snapshot_id=t.resolve_ref("audit"))
    assert staged.count() == 3                        # audit sees all
    t.publish_branch("audit")
    assert t.read(spark).count() == 3                 # fast-forwarded
    assert "audit" not in t._load_metadata()[1].get("refs", {})
    # diverged: stage on a branch, then main advances independently
    t.append_to_branch(
        spark.createDataFrame([(4, "d")], "id long, v string"), "audit2")
    t.append(spark.createDataFrame([(5, "e")], "id long, v string"))
    with pytest.raises(CommitFailedError, match="descend"):
        t.publish_branch("audit2")
    assert t.read(spark).count() == 4                 # main kept its own


def test_concurrent_wap_publish_vs_main_append_never_drops_commits(
        catalog, spark):
    """A publisher fast-forwarding a staged branch races a writer
    appending to main.  Whichever serialization the CAS picks, main
    must NEVER lose the appender's commit: if the publish landed first
    the append chains onto the published head (both visible); if the
    append landed first the histories diverged and the publish must
    refuse loudly (staged rows stay invisible).  Silent row loss on
    either side is the bug this guards against."""
    import threading

    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        CommitFailedError,
    )

    base = spark.createDataFrame([(k,) for k in range(10)], "id long")
    staged = spark.createDataFrame([(k,) for k in range(100, 110)],
                                   "id long").localCheckpoint()
    mextra = spark.createDataFrame([(k,) for k in range(200, 210)],
                                   "id long").localCheckpoint()
    t = catalog.create_table("ns", "wap_race", base)
    t.append(base)
    t.append_to_branch(staged, "audit")
    errors: list[str] = []
    outcome = {"published": False}

    def appender():
        try:
            for _ in range(20):
                try:
                    t.append(mextra)
                    return
                except CommitFailedError:
                    continue
            errors.append("appender gave up")
        except Exception as exc:             # noqa: BLE001
            errors.append(repr(exc))

    def publisher():
        try:
            for _ in range(5):
                try:
                    t.publish_branch("audit")
                    outcome["published"] = True
                    return
                except CommitFailedError as e:
                    if "descend" in str(e):   # diverged: the loud path
                        return
            errors.append("publisher: CAS thrash without divergence")
        except Exception as exc:             # noqa: BLE001
            errors.append(repr(exc))

    ths = [threading.Thread(target=appender),
           threading.Thread(target=publisher)]
    for th in ths:
        th.start()
    for th in ths:
        th.join(timeout=300)
    assert not errors, errors
    ids = sorted(r.id for r in t.read(spark).collect())
    main_expected = list(range(10)) + list(range(200, 210))
    if outcome["published"]:
        assert ids == list(range(10)) + list(range(100, 110)) \
            + list(range(200, 210))
    else:
        assert ids == main_expected           # staged rows stayed out
        # the branch is intact and re-publishable from a fresh base:
        assert t.resolve_ref("audit") is not None


def test_wap_branch_carries_mor_deletes(catalog, spark):
    """A branch append inherits the BRANCH head's merge-on-read delete
    state, and publishing carries it to main intact."""
    t = catalog.create_table("ns", "wap_mor", _mk(spark))
    t.append(_mk(spark))
    t.delete_where_mor(spark, F.col("k") == 3)
    t.append_to_branch(spark.createDataFrame([(200, 3)],
                                             "id long, k long"), "b")
    staged = t.read(spark, snapshot_id=t.resolve_ref("b"))
    assert staged.where("k = 3").count() == 1         # only the new row
    t.publish_branch("b")
    assert t.read(spark).where("k = 3").count() == 1
    assert t.read(spark).count() == 91


def test_expire_keeps_staged_branch_chain_publishable(catalog, spark):
    """Snapshot expiration must not strand a staged branch: the whole
    unpublished ancestor chain survives expiry (publish walks it), and
    the publish still fast-forwards afterwards."""
    base = spark.createDataFrame([(1,)], "id long")
    t = catalog.create_table("ns", "wap_exp", base)
    t.append(base)
    t.append(spark.createDataFrame([(2,)], "id long"))   # history depth
    t.append_to_branch(spark.createDataFrame([(3,)], "id long"), "b")
    t.append_to_branch(spark.createDataFrame([(4,)], "id long"), "b")
    t.expire_snapshots(keep_last=1)
    t.publish_branch("b")
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3, 4]


def test_delete_strategies_converge_random(catalog, spark):
    """Randomized convergence of the three delete strategies: the same
    key-range deletes applied as copy-on-write, positional
    merge-on-read, and equality merge-on-read keep three tables
    row-identical through every round."""
    import random
    rnd = random.Random(99)
    df = spark.range(80).select(F.col("id"), (F.col("id") % 20).alias("k"))
    tables = []
    for name in ("cow", "pos", "eq"):
        t = catalog.create_table("conv", name, df)
        t.append(df)
        tables.append(t)
    cow, pos, eq = tables
    for _ in range(4):
        lo = rnd.randrange(0, 18)
        hi = lo + rnd.randrange(0, 4)
        pred = F.col("k").between(lo, hi)
        cow.delete_where(spark, pred)
        pos.delete_where_mor(spark, pred)
        eq.delete_keys_mor_equality(
            spark,
            spark.createDataFrame([(v,) for v in range(lo, hi + 1)],
                                  "k long"),
            ["k"])
        reads = [sorted((r["id"], r["k"]) for r in t.read(spark).collect())
                 for t in tables]
        assert reads[0] == reads[1] == reads[2], (lo, hi)


def test_mor_upsert_delete_sequence_survives_branch_race(catalog, spark):
    """A branch-targeted commit landing between merge_upsert_mor's
    metadata load and its commit bumps last-sequence-number WITHOUT
    moving current-snapshot-id, so the expect_snapshot guard passes.
    The equality-delete file committed with the upsert snapshot must
    still carry that snapshot's OWN sequence number (the spec invariant
    the strict-sequence delete rule depends on) — a value pre-computed
    from the earlier metadata load would be one low (ADVICE r3), and a
    too-low equality sequence erases rows it must spare."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = catalog.create_table("ns", "upmor_race", df)
    orig = t._commit_write

    def race(*a, **k):
        t._commit_write = orig          # un-patch before the branch write
        t.append_to_branch(
            spark.createDataFrame([(9, "z")], "id long, v string"), "audit")
        return orig(*a, **k)

    t.merge_upsert_mor(spark, df, ["id"])     # seed main data files
    t._commit_write = race
    t.merge_upsert_mor(
        spark, spark.createDataFrame([(2, "B")], "id long, v string"),
        ["id"])
    snap = _snapshot_by_id(t, t.current_snapshot_id())
    parent = _snapshot_by_id(t, snap["parent-snapshot-id"])
    carried = {f["path"] for f in parent.get("delete-files", [])}
    new_eq = [f for f in snap["delete-files"]
              if f.get("equality_cols") and f["path"] not in carried]
    assert new_eq, "upsert commit must add an equality-delete file"
    assert all(f["sequence"] == snap["sequence-number"] for f in new_eq), (
        [(f["sequence"], snap["sequence-number"]) for f in new_eq])
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B"}            # branch row invisible


def _snapshot_by_id(t, sid):
    return next(s for s in t.snapshots() if s["snapshot-id"] == sid)


def test_rewrite_manifests_folds_chain_preserves_mor_and_history(
        catalog, spark, orders):
    """rewrite_manifests is metadata-only: the planned file set is
    identical, MOR delete files (positional AND the rows they hide)
    survive the fold with their sequences intact, time travel still
    walks the OLD chain, and a later expire can finally drop the old
    manifests without touching data the consolidated manifest
    references."""
    t = catalog.create_table("sales", "orders_rm", orders)
    for i in range(3):
        t.append(orders.where(F.col("o_orderkey") % 3 == i))
    # hide some rows via merge-on-read BEFORE the fold: the fold must
    # not resurrect them (delete files and entry sequences carry)
    t.delete_where_mor(spark, "o_orderkey % 10 = 0")
    pre_rows = sorted(r.o_orderkey for r in
                      t.read(spark).select("o_orderkey").collect())
    assert pre_rows and all(k % 10 != 0 for k in pre_rows)
    pre_files = sorted(e.file_path for e in t.plan_files())
    pre_snap = t.current_snapshot_id()

    stats = t.rewrite_manifests()
    assert stats["rewritten"] and stats["manifests_after"] == 1
    assert stats["manifests_before"] > 1

    post_rows = sorted(r.o_orderkey for r in
                       t.read(spark).select("o_orderkey").collect())
    assert post_rows == pre_rows            # MOR deletes still apply
    assert sorted(e.file_path for e in t.plan_files()) == pre_files
    # pre-fold snapshot still readable (its own manifest chain intact)
    travel = sorted(r.o_orderkey for r in
                    t.read(spark, snapshot_id=pre_snap)
                    .select("o_orderkey").collect())
    assert travel == pre_rows

    # idempotence: a second call is a no-op (already one manifest)
    again = t.rewrite_manifests()
    assert again == {"manifests_before": 1, "manifests_after": 1,
                     "rewritten": False}

    # expire now drops the old chain; data must still read in full
    t.expire_snapshots(keep_last=1)
    assert sorted(r.o_orderkey for r in
                  t.read(spark).select("o_orderkey").collect()) == pre_rows
    sweep = t.remove_orphan_files(older_than_ms=0)
    assert sweep["deleted_orphan_files"] == 0


def test_rollback_restores_state_and_log_resolution(spark, tmp_path):
    """rollback_to: pointer moves back in a metadata-only commit, all
    snapshots survive (forward travel still works), and timestamp
    travel resolves through the SNAPSHOT-LOG — after the rollback a
    now-timestamp reads the restored state, not the rolled-past
    snapshot whose creation time is newer (the real-Iceberg
    FOR SYSTEM_TIME AS OF contract)."""
    import time

    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        SqliteCatalog)

    cat = SqliteCatalog(str(tmp_path / "cat.db"),
                        warehouse=str(tmp_path / "wh"))
    df1 = spark.range(10).selectExpr("id AS k", "id * 2 AS v")
    df2 = spark.range(10, 15).selectExpr("id AS k", "id * 2 AS v")
    t = cat.create_table("ns", "rb", df1)
    t.append(df1)
    t.append(df2)
    s1, s2 = [s["snapshot-id"] for s in t.snapshots()]
    t.rollback_to(s1)
    assert t.read(spark).count() == 10          # restored state
    assert len(t.snapshots()) == 2              # history intact
    assert t.read(spark, snapshot_id=s2).count() == 15  # forward travel
    now_ms = int(time.time() * 1000) + 1000
    assert t.read(spark, as_of_timestamp_ms=now_ms).count() == 10
    # the log gained exactly one entry, pointing at s1
    assert t.history()[-1]["snapshot-id"] == s1
    # rolling back to an unknown id raises loudly
    import pytest as _pytest
    with _pytest.raises(Exception):
        t.rollback_to(999999)


def test_commit_refuses_frame_that_differs_from_schema(catalog, spark):
    """Reads trust the schema in metadata, so a write whose (name, type)
    columns differ from the current schema is refused before any file
    is written: no snapshot, rows and readability unchanged.  The same
    columns in another order are written in schema order, and
    equality-delete keys of another type are cast to the key's type."""
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    t = catalog.create_table("ns", "typed", df)
    s1 = t.append(df)
    data_dir = os.path.join(catalog.warehouse, "ns", "typed", "data")
    n_dirs = len(os.listdir(data_dir))
    for bad in ("k bigint, v string", "k int", "k int, v string, x int"):
        row = {"k bigint, v string": (2, "b"), "k int": (2,)}.get(
            bad, (2, "b", 2))
        with pytest.raises(ValueError, match="do not match the table"):
            t.append(spark.createDataFrame([row], bad))
    assert len(os.listdir(data_dir)) == n_dirs
    assert [s["snapshot-id"] for s in t.snapshots()] == [s1]
    assert [tuple(r) for r in t.read(spark).collect()] == [(1, "a")]
    t.append(spark.createDataFrame([("c", 3)], "v string, k int"))
    assert t.read(spark).columns == ["k", "v"]
    assert sorted(map(tuple, t.read(spark).collect())) == [
        (1, "a"), (3, "c")]
    t.delete_keys_mor_equality(
        spark, spark.createDataFrame([(3,)], "k bigint"), ["k"])
    assert [tuple(r) for r in t.read(spark).collect()] == [(1, "a")]


def test_snapshot_read_plan_runs_no_spark_job(catalog, spark):
    """Building a snapshot read runs no Spark job: every file is read
    under its write schema from metadata, never by inferring one from
    footers — across appends, a rename, an added column and both
    merge-on-read delete kinds.  (Under 32 files: Spark lists more
    paths than that in a job of its own.)"""
    def frame(rows, ddl):
        return spark.createDataFrame(rows, ddl).coalesce(1)
    t = catalog.create_table("ns", "nojob", frame([], "id long, k long"))
    t.append(frame([(i, i % 5) for i in range(10)], "id long, k long"))
    t.append(frame([(i, i % 5) for i in range(10, 20)], "id long, k long"))
    t.rename_column("k", "key")
    t.add_column("tag", "string")
    t.append(frame([(20, 2, "x"), (21, 1, "y")],
                   "id long, key long, tag string"))
    t.delete_where_mor(spark, F.col("id") == 3)                # positional
    t.delete_keys_mor_equality(                                # equality
        spark, frame([(4,)], "key long"), ["key"])
    assert len(t.plan_files()) < 32
    sc = spark.sparkContext
    prior = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "iceberg-read-plan")
    try:
        df = t.read(spark)
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup("iceberg-read-plan") == []
        rows = sorted(map(tuple, df.collect()))
        assert tracker.getJobIdsForGroup("iceberg-read-plan")  # control
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prior)
    assert df.columns == ["id", "key", "tag"]
    expected = [(i, i % 5, None) for i in range(20)
                if i != 3 and i % 5 != 4] + [(20, 2, "x"), (21, 1, "y")]
    assert rows == sorted(expected)


# -- one commit path: invariants every metadata change keeps ---------------

_COMMIT_KINDS = [
    "append", "overwrite", "merge_upsert_mor", "delete_keys_mor_equality",
    "delete_where_mor", "compact", "rewrite_manifests", "add_column",
    "rename_column", "drop_column", "update_partition_spec", "set_ref",
    "rollback_to", "append_to_branch", "publish_branch", "expire_snapshots",
]


@pytest.mark.parametrize("kind", _COMMIT_KINDS)
def test_every_commit_kind_logs_prior_version_and_sequences_snapshot(
        catalog, spark, kind):
    """Each kind of commit writes exactly the next metadata version,
    logs the location it replaced in ``metadata-log``, and a snapshot
    it adds takes the next sequence number — as do the equality-delete
    files that snapshot adds."""
    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        _next_version)

    def rows(keys):
        return spark.createDataFrame([(k, k * 10) for k in keys],
                                     "k long, v long")

    def keys(ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    t = catalog.create_table("log", kind, rows([1]))
    first = t.append(rows(range(1, 6)))
    t.append(rows(range(6, 11)))
    prepare, commit = {
        "append": (None, lambda: t.append(rows([100]))),
        "overwrite": (None, lambda: t.overwrite(rows([100]))),
        "merge_upsert_mor": (None, lambda: t.merge_upsert_mor(
            spark, rows([1, 100]), ["k"], delete_keys=keys([2]))),
        "delete_keys_mor_equality": (None, lambda: (
            t.delete_keys_mor_equality(spark, keys([3]), ["k"]))),
        "delete_where_mor": (None, lambda: t.delete_where_mor(spark,
                                                              "k = 4")),
        "compact": (None, lambda: t.compact(spark)),
        "rewrite_manifests": (None, t.rewrite_manifests),
        "add_column": (None, lambda: t.add_column("x", "string")),
        "rename_column": (None, lambda: t.rename_column("v", "val")),
        "drop_column": (None, lambda: t.drop_column("v")),
        "update_partition_spec": (None, lambda: t.update_partition_spec(
            ["bucket(2, k)"])),
        "set_ref": (None, lambda: t.set_ref("release")),
        "rollback_to": (None, lambda: t.rollback_to(first)),
        "append_to_branch": (None, lambda: t.append_to_branch(
            rows([200]), "audit")),
        "publish_branch": (lambda: t.append_to_branch(rows([200]), "audit"),
                           lambda: t.publish_branch("audit")),
        "expire_snapshots": (None, lambda: t.expire_snapshots(keep_last=1)),
    }[kind]
    if prepare is not None:
        prepare()
    before_loc, before = t._load_metadata()
    commit()
    after_loc, after = t._load_metadata()
    assert _next_version(after_loc) == _next_version(before_loc) + 1
    assert after["metadata-log"][-1]["metadata-file"] == before_loc
    old_ids = {s["snapshot-id"] for s in before["snapshots"]}
    added = [s for s in after["snapshots"] if s["snapshot-id"] not in old_ids]
    for snap in added:
        assert snap["sequence-number"] == before["last-sequence-number"] + 1
        assert after["last-sequence-number"] == snap["sequence-number"]
        carried = {d["path"] for s in before["snapshots"]
                   for d in s.get("delete-files", [])}
        new_eq = [d for d in snap["delete-files"]
                  if "equality_cols" in d and d["path"] not in carried]
        assert all(d["sequence"] == snap["sequence-number"]
                   for d in new_eq), new_eq
        if kind in ("merge_upsert_mor", "delete_keys_mor_equality"):
            assert new_eq


@pytest.mark.parametrize("op", ["add", "rename", "drop"])
def test_schema_change_commits_on_the_load_it_checked(catalog, spark, op):
    """A schema change commits against the metadata it validated: a
    concurrent commit landing between its checks and its commit makes
    it raise CommitFailedError — it never rebuilds on the newer load.
    Otherwise a concurrent add_column would vanish from the schema (and
    its field id be reused), and a rename or drop would pass the
    equality-delete guard while a delete binding the column committed
    — after which every read fails."""
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    t1 = catalog.create_table("race", op, df)
    t1.append(df)
    t2 = catalog.load_table("race", op)
    orig = t1._commit_schema

    def racing(*a, **k):
        if op == "add":
            t2.add_column("x", "string")
        else:
            t2.delete_keys_mor_equality(
                spark, spark.createDataFrame([(10,)], "v long"), ["v"])
        return orig(*a, **k)

    t1._commit_schema = racing
    change = {"add": lambda: t1.add_column("y", "string"),
              "rename": lambda: t1.rename_column("v", "val"),
              "drop": lambda: t1.drop_column("v")}[op]
    with pytest.raises(CommitFailedError):
        change()
    t1._commit_schema = orig
    if op == "add":
        assert [(f["name"], f["id"]) for f in t1.schema_fields()] == [
            ("k", 1), ("v", 2), ("x", 3)]
        change()                          # a retry takes a fresh id
        assert t1.schema_fields()[-1]["name"] == "y"
        assert t1.schema_fields()[-1]["id"] == 4
    else:
        assert [f["name"] for f in t1.schema_fields()] == ["k", "v"]
        assert [(r["k"], r["v"]) for r in t1.read(spark).collect()] == [
            (2, 20)]
        with pytest.raises(ValueError, match="live equality"):
            change()                      # the retry sees the delete
