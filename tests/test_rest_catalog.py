"""Iceberg REST catalog client/server (SURVEY §2.1 — the reference's
rest-binary catalog mode, -rest/src/main.rs:46-90): spec routes, auth,
lifecycle over HTTP, CAS conflict semantics, env-contract construction.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
    CommitFailedError, NoSuchTableError, SqliteCatalog,
    TableAlreadyExistsError)
from iceberg_datafusion_arrow_flight_spark.sources.rest_catalog import (
    RestCatalog, RestCatalogServer, catalog_from_env)


@pytest.fixture()
def backing():
    root = tempfile.mkdtemp(prefix="rest_cat_test_")
    return SqliteCatalog(os.path.join(root, "cat.db"),
                         warehouse=os.path.join(root, "wh"))


@pytest.fixture()
def served(backing):
    with RestCatalogServer(backing, bearer_token="tok") as srv:
        yield srv, RestCatalog(srv.url, warehouse=backing.warehouse,
                               bearer_token="tok")


def test_config_and_endpoint_listing(served):
    _, cat = served
    cfg = cat.config()
    assert "GET /v1/config" in cfg["endpoints"]
    assert cfg["defaults"] == {} and cfg["overrides"] == {}


def test_auth_required_and_precedence(backing):
    with RestCatalogServer(backing, bearer_token="tok") as srv:
        with pytest.raises(ConnectionError):
            RestCatalog(srv.url, warehouse=backing.warehouse).config()
        with pytest.raises(ConnectionError):
            RestCatalog(srv.url, warehouse=backing.warehouse,
                        bearer_token="wrong").config()
        # oauth token is sent as Bearer too (reference precedence)
        assert RestCatalog(srv.url, warehouse=backing.warehouse,
                           oauth_token="tok").config()["endpoints"]


def test_basic_auth_mode(backing):
    with RestCatalogServer(backing, username="u", password="p") as srv:
        ok = RestCatalog(srv.url, warehouse=backing.warehouse,
                         username="u", password="p")
        assert ok.config()["endpoints"]
        with pytest.raises(ConnectionError):
            RestCatalog(srv.url, warehouse=backing.warehouse,
                        username="u", password="nope").config()


def test_lifecycle_over_http(spark, served):
    _, cat = served
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    t = cat.create_table("ns", "t", df)
    s1 = t.append(df)
    t.append(spark.range(5).selectExpr("id + 100 AS id", "id AS v"))
    assert t.read(spark).count() == 15
    assert t.read(spark, snapshot_id=s1).count() == 10
    assert cat.list_tables() == [("ns", "t")]
    assert cat.list_tables("ns") == [("ns", "t")]
    with pytest.raises(TableAlreadyExistsError):
        cat.create_table("ns", "t", df)
    cat.drop_table("ns", "t")
    with pytest.raises(NoSuchTableError):
        cat.load_table("ns", "t")


def test_commit_conflict_is_409_commitfailed(spark, served):
    _, cat = served
    df = spark.range(4).selectExpr("id", "id AS v")
    t = cat.create_table("ns", "racy", df)
    stale, _meta = t._load_metadata()
    t.append(df)  # moves the pointer
    with pytest.raises(CommitFailedError):
        cat._swap_pointer("ns", "racy", stale, "/elsewhere")


def test_sql_and_rest_catalogs_interoperate(spark, backing, served):
    """Same pointer store: a table created over REST is visible (and
    readable) through the SQL catalog and vice versa — the two binaries
    front one lake."""
    _, rest = served
    df = spark.range(6).selectExpr("id", "id AS v")
    rest.create_table("ns", "via_rest", df).append(df)
    assert backing.load_table("ns", "via_rest").read(spark).count() == 6
    backing.create_table("ns", "via_sql", df).append(df)
    assert rest.load_table("ns", "via_sql").read(spark).count() == 6


def test_catalog_from_env_contract(backing, monkeypatch):
    with RestCatalogServer(backing, bearer_token="envtok") as srv:
        monkeypatch.setenv("ICEBERG_CATALOG_URL", srv.url)
        monkeypatch.setenv("ICEBERG_CATALOG_BEARER_TOKEN", "envtok")
        monkeypatch.setenv("ICEBERG_WAREHOUSE", backing.warehouse)
        cat = catalog_from_env()
        assert cat.config()["endpoints"]
        assert cat.warehouse == backing.warehouse
    monkeypatch.delenv("ICEBERG_CATALOG_URL")
    with pytest.raises(KeyError):
        catalog_from_env()


def test_flight_service_reads_catalog_tables(spark, backing, served,
                                             monkeypatch):
    """The reference's full rest-binary shape: Flight-door sessions see
    catalog tables under their qualified names, pinned to the snapshot
    current at handshake; later commits appear only to new sessions."""
    from iceberg_datafusion_arrow_flight_spark.service import EngineService

    monkeypatch.setenv("FLIGHT_USER", "admin")
    monkeypatch.setenv("FLIGHT_PASSWORD", "secret")
    _, rest = served
    df = spark.range(8).selectExpr("id", "id * 3 AS v")
    rest.create_table("sales", "items", df).append(df)

    svc = EngineService(spark, catalog=rest)
    tok1 = svc.handshake("admin", "secret")
    h = svc.create_prepared_statement(
        tok1, "SELECT COUNT(*) AS n, 'sales.items' AS lit FROM sales.items")
    res = svc.fetch(tok1, svc.execute(tok1, h))
    row = res.to_pylist()[0]
    assert row["n"] == 8
    assert row["lit"] == "sales.items"  # literal NOT rewritten
    # SHOW COLUMNS resolves the qualified name like DESCRIBE does
    described, shown = (
        svc.fetch(tok1, svc.execute(tok1, svc.create_prepared_statement(
            tok1, sql))).select(["column_name", "data_type", "is_nullable"])
        for sql in ("DESCRIBE sales.items", "SHOW COLUMNS FROM sales.items"))
    assert described.column("column_name").to_pylist() == ["id", "v"]
    assert shown.equals(described)

    # commit after handshake: session 1 keeps its snapshot…
    rest.load_table("sales", "items").append(
        spark.range(2).selectExpr("id + 50 AS id", "id AS v"))
    h1b = svc.create_prepared_statement(
        tok1, "SELECT COUNT(*) AS n FROM sales.items")
    assert svc.fetch(tok1, svc.execute(tok1, h1b)).to_pylist()[0]["n"] == 8
    # …a fresh session sees the new snapshot
    tok2 = svc.handshake("admin", "secret")
    h2 = svc.create_prepared_statement(
        tok2, "SELECT COUNT(*) AS n FROM sales.items")
    assert svc.fetch(tok2, svc.execute(tok2, h2)).to_pylist()[0]["n"] == 10


def test_engine_catalog_env_precedence(backing, monkeypatch, tmp_path):
    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        SqliteCatalog, sql_catalog_from_env)
    from iceberg_datafusion_arrow_flight_spark.sources.rest_catalog import (
        engine_catalog_from_env)

    monkeypatch.delenv("ICEBERG_CATALOG_URL", raising=False)
    monkeypatch.delenv("CATALOG_URL", raising=False)
    assert engine_catalog_from_env() is None

    # sql mode: CATALOG_URL with the reference's sqlite:// scheme
    monkeypatch.setenv("CATALOG_URL", f"sqlite://{tmp_path}/cat.db")
    monkeypatch.setenv("BUCKET", str(tmp_path / "wh"))
    cat = engine_catalog_from_env()
    assert isinstance(cat, SqliteCatalog)
    assert cat.warehouse == str(tmp_path / "wh")
    with monkeypatch.context() as m:
        m.setenv("CATALOG_URL", "postgres://host/db")
        with pytest.raises(ValueError, match="postgres"):
            sql_catalog_from_env()

    # rest mode wins over sql mode when both are set
    with RestCatalogServer(backing, bearer_token="t") as srv:
        monkeypatch.setenv("ICEBERG_CATALOG_URL", srv.url)
        monkeypatch.setenv("ICEBERG_CATALOG_BEARER_TOKEN", "t")
        monkeypatch.setenv("ICEBERG_WAREHOUSE", backing.warehouse)
        rest = engine_catalog_from_env()
        assert type(rest).__name__ == "RestCatalog"
        assert rest.config()["endpoints"]


def test_review_fixes_catalog_surface(spark, backing):
    """Round-2 review findings: bad credentials surface as errors from
    list_tables (not a silent empty catalog), and a lost register race
    is a 409 from the INSERT's primary-key conflict — exercised via
    direct POSTs so both requests reach the same transaction path."""
    with RestCatalogServer(backing, bearer_token="tok") as srv:
        bad = RestCatalog(srv.url, warehouse=backing.warehouse,
                          bearer_token="nope")
        with pytest.raises(ConnectionError):
            bad.list_tables()
        good = RestCatalog(srv.url, warehouse=backing.warehouse,
                           bearer_token="tok")
        df = spark.range(3).selectExpr("id", "id AS v")
        good.create_table("ns", "raced", df)
        loc = good._metadata_location("ns", "raced")
        # a second register of the same identifier (what the loser of a
        # concurrent race sends) must come back as the spec's 409
        status, body = good._request(
            "POST", "/v1/namespaces/ns/register",
            {"name": "raced", "metadata-location": loc})
        assert status == 409
        assert body["error"]["type"] == "AlreadyExistsException"


def test_explain_results_survive_interleaved_prepares(spark, backing,
                                                     monkeypatch):
    """Per-handle EXPLAIN views: prepare A, prepare B, execute A must
    return A's plan."""
    from iceberg_datafusion_arrow_flight_spark.service import EngineService
    monkeypatch.setenv("FLIGHT_USER", "u"); monkeypatch.setenv("FLIGHT_PASSWORD", "p")
    svc = EngineService(spark)
    tok = svc.handshake("u", "p")
    ha = svc.create_prepared_statement(tok, "EXPLAIN SELECT 1 AS a_marker")
    hb = svc.create_prepared_statement(tok, "EXPLAIN SELECT 2 AS b_marker")
    rows_a = svc.fetch(tok, svc.execute(tok, ha)).to_pylist()
    assert any("a_marker" in r["plan"] for r in rows_a)
    assert not any("b_marker" in r["plan"] for r in rows_a)
    rows_b = svc.fetch(tok, svc.execute(tok, hb)).to_pylist()
    assert any("b_marker" in r["plan"] for r in rows_b)


def test_partitioned_table_over_http(spark, served):
    """Partition spec flows through the REST register + commit path: the
    spec lands in the registered metadata, writes fan out by value, and
    partition pruning works on the table loaded back over HTTP."""
    from pyspark.sql import functions as F
    _, cat = served
    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2]) for i in range(8)],
        "k long, lang string")
    t = cat.create_table("part", "docs", df, partition_by=["lang"])
    t.append(df)
    t2 = cat.load_table("part", "docs")
    en = t2.plan_files(partition_filter={"lang": "en"})
    assert en and all(e.partition["lang"] == "en" for e in en)
    assert t2.read(spark, partition_filter={"lang": "en"}).count() == 4


def test_merge_and_delete_over_http(spark, served):
    """Row-level DML composes with the REST catalog: the merge and
    delete snapshots commit as HTTP CAS pointer swaps, copy-on-write
    file carrying included."""
    from pyspark.sql import functions as F
    _, cat = served
    df = spark.createDataFrame([(k, 0) for k in range(10)],
                               "k long, v long")
    t = cat.create_table("dml", "kv", df)
    t.append(df.coalesce(1))
    t.append(spark.createDataFrame([(k, 0) for k in range(10, 20)],
                                   "k long, v long").coalesce(1))
    stats = t.merge_upsert(spark, spark.createDataFrame(
        [(3, -1), (99, -2)], "k long, v long"), ["k"])
    assert stats["rewritten_files"] == 1 and stats["kept_files"] == 1
    t.delete_where(spark, F.col("k").between(10, 12))
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[3] == -1 and got[99] == -2
    assert set(got) == (set(range(10)) | {13, 14, 15, 16, 17, 18, 19, 99})


def test_concurrent_appends_over_http_linearize(spark, served):
    """The wire version of the multi-writer CAS race: four threads
    append through the REST catalog (ThreadingHTTPServer, so requests
    genuinely interleave); losers get HTTP 409 -> CommitFailedError and
    retry on the fresh base.  Every row lands exactly once and the
    snapshot chain is linear — the server's BEGIN IMMEDIATE CAS is the
    only serialization point."""
    import threading

    from pyspark.sql import functions as F

    _, cat = served
    base = spark.range(0, 200).withColumnRenamed("id", "k")
    t = cat.create_table("race", "http", base)
    slices = [base.where(F.col("k") % 4 == i).localCheckpoint()
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
    assert t.read(spark).count() == 200
    snaps = t.snapshots()
    assert len(snaps) == 4
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent-snapshot-id"] == prev["snapshot-id"]
