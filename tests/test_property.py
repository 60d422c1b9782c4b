"""Property-style randomized correctness (SURVEY §5 item 4): random
predicates/aggregations generated by hypothesis, executed on Spark and
DuckDB over the same Parquet, results compared exactly.

Deterministic profile (fixed seed derivation, no shrinking time bombs):
each example is a full Spark job, so the example budget is small but
every example is an end-to-end engine comparison.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table

_COLS_NUM = ["o_totalprice", "o_orderkey", "o_custkey"]
_COLS_STR = ["o_orderstatus", "o_orderpriority"]
_AGGS = ["COUNT(*)", "SUM(o_totalprice)", "MIN(o_totalprice)",
         "MAX(o_orderkey)", "AVG(o_totalprice)"]
_OPS = ["<", "<=", ">", ">=", "="]


@pytest.fixture(scope="module")
def ctx(spark, sf_dir):
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{sf_dir}/orders.parquet')")
    yield spark, con
    con.close()


def _both(ctx, sql: str):
    spark, con = ctx
    s_rows = sorted(tuple(r) for r in spark.sql(sql).collect())
    o_rows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    return s_rows, o_rows


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(col=st.sampled_from(_COLS_NUM), op=st.sampled_from(_OPS),
       val=st.integers(min_value=0, max_value=300_000),
       agg=st.sampled_from(_AGGS), grp=st.sampled_from(_COLS_STR))
def test_random_filter_groupby_agg(ctx, col, op, val, agg, grp):
    # COUNT/MIN/MAX are exact in both engines → compared exactly.  SUM/
    # AVG over doubles accumulate in engine-specific order, so a random
    # filter can land the true value within an ulp of a ROUND() digit
    # boundary and flip the last rounded digit (hypothesis found
    # AVG(o_totalprice)=…23525 rounding to …2352 vs …2353) — those are
    # compared under an absolute tolerance instead, which still catches
    # any semantic bug (wrong rows aggregated, wrong grouping) by orders
    # of magnitude.
    is_float = "AVG" in agg or "SUM" in agg
    sql = (f"SELECT {grp} AS g, {agg} AS a FROM orders "
           f"WHERE {col} {op} {val} GROUP BY {grp}")
    s_rows, o_rows = _both(ctx, sql)
    if not is_float:
        assert s_rows == o_rows, sql
        return
    assert [r[0] for r in s_rows] == [r[0] for r in o_rows], sql
    for (g, sv), (_, ov) in zip(s_rows, o_rows):
        if sv is None or ov is None:
            assert sv is None and ov is None, (sql, g)
        else:
            # absolute floor for small values, relative term for large
            # SUMs (a 1e10 sum legitimately accumulates ~1e-2 of float
            # error); a semantic bug differs by at least one row (~1e4)
            assert abs(sv - ov) <= max(1e-3, 1e-9 * abs(ov)), \
                (sql, g, sv, ov)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(c1=st.sampled_from(_COLS_NUM), c2=st.sampled_from(_COLS_NUM),
       v1=st.integers(min_value=0, max_value=200_000),
       v2=st.integers(min_value=0, max_value=6_000),
       conj=st.sampled_from(["AND", "OR"]))
def test_random_conjunctive_filters(ctx, c1, c2, v1, v2, conj):
    sql = (f"SELECT COUNT(*) AS n FROM orders "
           f"WHERE ({c1} > {v1}) {conj} ({c2} < {v2})")
    s_rows, o_rows = _both(ctx, sql)
    assert s_rows == o_rows, sql


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n=st.integers(min_value=1, max_value=50),
       off=st.integers(min_value=0, max_value=30))
def test_random_order_limit_offset(ctx, n, off):
    sql = (f"SELECT o_orderkey FROM orders ORDER BY o_orderkey "
           f"LIMIT {n} OFFSET {off}")
    s_rows, o_rows = _both(ctx, sql)
    assert s_rows == o_rows, sql


# ----------------------------------------------------- literal opacity
# ADVICE r1: no rewrite pass may alter the inside of a string literal.
# Property: for ANY literal content (including $n, ::, SIMILAR TO,
# function names, quotes doubled), rewriting a query that embeds it
# leaves the literal recoverable verbatim.
_LITERAL_ALPHABET = st.text(
    alphabet="abz $:()%_'0129,.|sertwhcA",  # quote included → '' escapes
    min_size=0, max_size=25)


@given(_LITERAL_ALPHABET)
@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rewrite_never_touches_literal_content(content):
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_sql)
    lit = content.replace("'", "''")  # SQL-escape embedded quotes
    sql = f"SELECT '{lit}' AS a, strpos(x, y) AS b FROM t WHERE c = $1"
    out = rewrite_sql(sql)
    assert f"'{lit}'" in out, (sql, out)
    # the passes still fired OUTSIDE the literal
    assert "df_strpos(x, y)" in out
    assert ":p1" in out


# --- dialect-rewriter string properties (no Spark jobs: big budgets) ----

from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (  # noqa: E402
    find_params, rewrite_sql)

# Literal contents chosen to look like every dialect construct the
# rewriter handles: $n params, ::casts, function names, SIMILAR TO,
# AT TIME ZONE, regexp flags, to_char formats, embedded ('' escaped)
# quotes.  "SIMILAR TO ''" and a literal ending in "AT TIME ZONE " match
# the raw passes' own patterns.
_LIT_ATOMS = ["costs $5", "$1", "a::int", "upper(", "array_length(x)",
              "x SIMILAR TO y", "z AT TIME ZONE utc", "YYYY-MM-DD",
              "it''s", "''", "(", ")", ",", " ", "select", "to_char(",
              "regexp_replace(a, b, c, g)", "encode", "100%",
              "a::int4", "SIMILAR TO ''", "x AT TIME ZONE "]


@st.composite
def _literal(draw):
    parts = draw(st.lists(st.sampled_from(_LIT_ATOMS), min_size=0,
                          max_size=5))
    return "'" + "".join(parts) + "'"


# Comment bodies add a lone quote (outside a literal it opens nothing)
# and a call of each raw pass, literal included.
_COMMENT_ATOMS = _LIT_ATOMS + [
    "don't", "'", "to_char(ts, '%Y')", "x SIMILAR TO 'y'",
    "x AT TIME ZONE 'UTC'", "arrow_cast(x, 'Int64')", "get_field(s, 'a')",
    "d + INTERVAL '1 month 2 days'", "regexp_replace(a, 'b', 'c', 'g')"]


@st.composite
def _comment(draw):
    body = "".join(draw(st.lists(st.sampled_from(_COMMENT_ATOMS),
                                 min_size=0, max_size=5)))
    return draw(st.sampled_from([f" -- {body}\n", f" /* {body} */"]))


# Quoted-identifier contents: dialect lookalikes and both quote marks.
_IDENT_ATOMS = ["$3", "a::int4", "upper(", "it's", '"', "`", " ", "--",
                "x SIMILAR TO 'y'", "to_char(ts, '%Y')"]


@st.composite
def _ident(draw):
    """(DataFusion spelling, Spark spelling) of a quoted identifier: a
    double-quoted one becomes a backtick identifier."""
    name = "".join(draw(st.lists(st.sampled_from(_IDENT_ATOMS), min_size=1,
                                 max_size=4)))
    spark = "`" + name.replace("`", "``") + "`"
    return draw(st.sampled_from(
        [('"' + name.replace('"', '""') + '"', spark), (spark, spark)]))


@settings(max_examples=300, deadline=None)
@given(lits=st.lists(_literal(), min_size=1, max_size=4),
       comments=st.lists(_comment(), min_size=0, max_size=4),
       idents=st.lists(_ident(), min_size=0, max_size=4))
@example(lits=["'to_char(,'", "')'"], comments=[], idents=[])
@example(lits=["'x'"], comments=[" -- it's\n"], idents=[])
@example(lits=["'x SIMILAR TO ''a%'''"], comments=[], idents=[])
@example(lits=["'x'"], comments=[" -- x SIMILAR TO 'y'\n"], idents=[])
@example(lits=["'x AT TIME ZONE '", "'y'"], comments=[], idents=[])
@example(lits=["'x'"], comments=[], idents=[('"it\'s $3"', "`it's $3`")])
def test_rewrite_is_identity_on_literal_only_statements(lits, comments,
                                                        idents):
    """A statement whose only dialect-looking content sits INSIDE string
    literals, comments or quoted identifiers must pass through the whole
    rewrite pipeline unchanged — no pass may fire on their contents —
    except that a double-quoted identifier takes Spark's backticks."""
    items, want = [], []
    for i, lit in enumerate(lits):
        src, spark = idents[i] if i < len(idents) else (f"c{i}", f"c{i}")
        tail = comments[i] if i < len(comments) else ""
        items.append(f"{lit} AS {src}{tail}")
        want.append(f"{lit} AS {spark}{tail}")
    sql = "SELECT " + ", ".join(items) + " FROM t"
    assert rewrite_sql(sql) == "SELECT " + ", ".join(want) + " FROM t"


@settings(max_examples=300, deadline=None)
@given(lits=st.lists(_literal(), min_size=0, max_size=3),
       idents=st.lists(_ident(), min_size=0, max_size=3),
       real_params=st.sets(st.integers(min_value=1, max_value=9),
                           min_size=0, max_size=3))
def test_find_params_sees_real_only(lits, idents, real_params):
    """$n in code is a parameter; $n inside a literal or a quoted
    identifier never is."""
    clauses = [f"{lit} AS c{i}" for i, lit in enumerate(lits)]
    clauses += [f"1 AS {src}" for src, _ in idents]
    clauses += [f"col{n} = ${n}" for n in sorted(real_params)]
    sql = "SELECT " + (", ".join(clauses) or "1") + " FROM t"
    assert find_params(sql) == [str(n) for n in sorted(real_params)]


@settings(max_examples=200, deadline=None)
@given(lits=st.lists(_literal(), min_size=0, max_size=2),
       n=st.integers(min_value=1, max_value=9),
       fn=st.sampled_from(["encode(x, 'hex')", "array_length(a)",
                           "btrim(s)", "to_timestamp_nanos(t)"]),
       cast_ty=st.sampled_from(["int", "bigint", "date", "decimal(10,2)"]))
def test_rewrite_idempotent(lits, n, fn, cast_ty):
    """Applying the pipeline twice equals applying it once — rewrites
    must not re-fire on their own output."""
    clauses = [f"{lit} AS c{i}" for i, lit in enumerate(lits)]
    clauses += [f"{fn} AS f", f"x::{cast_ty} AS x2", f"y = ${n}"]
    sql = "SELECT " + ", ".join(clauses) + " FROM t"
    once = rewrite_sql(sql)
    assert rewrite_sql(once) == once


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(m=st.integers(min_value=2, max_value=7),
       r=st.integers(min_value=0, max_value=6))
def test_hdr_sketch_merge_invariant_any_split(spark, sf_dir, m, r):
    """For ANY two-way modulus split of lineitem, merging the part
    sketches equals sketching the whole — bin counts are integers, so
    the identity is exact, not approximate."""
    from iceberg_datafusion_arrow_flight_spark.operators.percentile import (
        hdr_merge, hdr_sketch)
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(f"l_orderkey % {m} = {r % m}")
    b = li.where(f"l_orderkey % {m} != {r % m}")
    merged = hdr_merge(hdr_sketch(a, "l_extendedprice", ["l_returnflag"]),
                       hdr_sketch(b, "l_extendedprice", ["l_returnflag"]))
    whole = hdr_sketch(li, "l_extendedprice", ["l_returnflag"])
    key = lambda x: (x.l_returnflag, x.n_digits, x.mantissa, x.bin_count)
    assert sorted(map(key, merged.collect())) == \
        sorted(map(key, whole.collect()))


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(
    st.tuples(st.one_of(st.none(),
                        st.integers(min_value=-2**62, max_value=2**62)),
              st.one_of(st.none(),
                        st.floats(allow_nan=False, allow_infinity=False,
                                  width=64)),
              st.one_of(st.none(), st.text(max_size=40))),
    min_size=0, max_size=25))
def test_avro_lite_roundtrip_property(rows, tmp_path_factory):
    """Any flat (long?, double?, string?) row set round-trips through
    the pure-Python Avro OCF codec value-exactly."""
    import os
    import uuid as _uuid
    from iceberg_datafusion_arrow_flight_spark.sources import avro_lite
    fields = [("k", "long"), ("x", "double"), ("s", "string")]
    d = tmp_path_factory.mktemp("avro")
    p = os.path.join(str(d), f"{_uuid.uuid4().hex}.avro")
    avro_lite.write_avro(p, fields, rows)
    got_fields, got_rows = avro_lite.read_avro(p)
    assert got_fields == fields and got_rows == rows


_WFUNCS_EXACT = ["ROW_NUMBER()", "RANK()", "DENSE_RANK()",
                 "COUNT(*)", "MIN(o_orderkey)", "MAX(o_orderkey)",
                 "LAG(o_orderkey, 1)", "LEAD(o_orderkey, 1)",
                 "NTILE(4)"]
_FRAMES = ["", "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
           "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
           "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"]


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fn=st.sampled_from(_WFUNCS_EXACT), part=st.sampled_from(_COLS_STR),
       frame=st.sampled_from(_FRAMES),
       lim=st.integers(min_value=200, max_value=2000))
def test_random_window_functions(ctx, fn, part, frame, lim):
    """Random window fn × partition × frame over a unique total order
    (o_orderkey): every result is deterministic on both engines, so the
    compare is exact.  Frames only attach to aggregate windows —
    ranking/offset functions take the bare OVER clause."""
    framed = frame and fn.split("(")[0] in ("COUNT", "MIN", "MAX")
    over = (f"PARTITION BY {part} ORDER BY o_orderkey"
            + (f" {frame}" if framed else ""))
    sql = (f"SELECT o_orderkey, {fn} OVER ({over}) AS w "
           f"FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT {lim}) "
           f"ORDER BY o_orderkey")
    s_rows, o_rows = _both(ctx, sql)
    assert s_rows == o_rows, sql


_JOIN_TYPES = ["INNER JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN",
               "SEMI JOIN", "ANTI JOIN"]


@settings(max_examples=18, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(jt=st.sampled_from(_JOIN_TYPES),
       mod=st.integers(min_value=2, max_value=9),
       lim=st.integers(min_value=100, max_value=1500))
def test_random_join_shapes(ctx, jt, mod, lim):
    """Random join type over two derived sides of orders, keyed by a
    residue class so match rates vary: count + exact key aggregates must
    agree cross-engine for every join type including outer null-padding
    and (anti) semantics.  Aggregated output keeps the compare exact
    (no float columns, no row-order sensitivity)."""
    # the bare SEMI JOIN / ANTI JOIN spelling parses on BOTH engines
    # (DuckDB rejects Spark's LEFT SEMI variant)
    proj = ("COUNT(*) AS n, SUM(a.k) AS sk"
            if "SEMI" in jt or "ANTI" in jt
            else "COUNT(*) AS n, SUM(a.k) AS sk, SUM(b.k2) AS sk2")
    sql = (f"SELECT {proj} FROM "
           f"(SELECT o_orderkey AS k FROM orders "
           f" ORDER BY o_orderkey LIMIT {lim}) a "
           f"{jt} "
           f"(SELECT o_orderkey * {mod} AS k2 FROM orders "
           f" ORDER BY o_orderkey LIMIT {lim}) b "
           f"ON a.k = b.k2")
    s_rows, o_rows = _both(ctx, sql)
    assert s_rows == o_rows, sql


_SETOPS = ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
           "EXCEPT", "EXCEPT ALL"]


@settings(max_examples=18, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(op=st.sampled_from(_SETOPS),
       m1=st.integers(min_value=2, max_value=7),
       m2=st.integers(min_value=2, max_value=7),
       lim=st.integers(min_value=100, max_value=1500))
def test_random_set_operations(ctx, op, m1, m2, lim):
    """Random set op over two overlapping residue-classed projections:
    bag semantics (ALL) vs set semantics must agree cross-engine,
    including duplicate multiplicities.  Integer-only columns keep the
    compare exact."""
    sql = (f"SELECT * FROM ("
           f"SELECT o_orderkey % {m1} AS g, o_orderkey % 10 AS r "
           f"FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT {lim}) "
           f"{op} "
           f"SELECT o_orderkey % {m2} AS g, o_orderkey % 10 AS r "
           f"FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT {lim})"
           f") ORDER BY g, r")
    s_rows, o_rows = _both(ctx, sql)
    assert s_rows == o_rows, sql


_STR_FNS = ["UPPER({x})", "LOWER({x})", "REVERSE({x})", "TRIM({x})",
            "SUBSTR({x}, 2, 5)", "REPLACE({x}, 'E', '_')",
            "{x} || '-t'"]


def _both_nullsafe(ctx, sql: str):
    """Exact compare under a None-safe sort key (GROUPING SETS rows
    carry NULL group markers; Python can't order None against str)."""
    spark, con = ctx
    key = lambda r: tuple((x is None, x) for x in r)
    s_rows = sorted((tuple(r) for r in spark.sql(sql).collect()), key=key)
    o_rows = sorted((tuple(r) for r in con.execute(sql).fetchall()), key=key)
    return s_rows, o_rows


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(f1=st.sampled_from(_STR_FNS), f2=st.sampled_from(_STR_FNS),
       col=st.sampled_from(_COLS_STR), lim=st.integers(200, 2000))
def test_random_scalar_string_compositions(ctx, f1, f2, col, lim):
    """Random depth-2 compositions from the shared string-function pool
    (identical semantics in Spark SQL and DuckDB) over a deterministic
    row subset — exact byte compare; catches argument-order, NULL, and
    multi-byte divergences the hand-written func_string_* entries'
    fixed expressions can't."""
    expr = f1.format(x=f2.format(x=col))
    sql = (f"SELECT o_orderkey, {expr} AS s "
           f"FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT {lim}) "
           f"ORDER BY o_orderkey")
    s_rows, o_rows = _both(ctx, sql)
    assert s_rows == o_rows, sql


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(shape=st.sampled_from(["GROUPING SETS ((o_orderstatus), "
                              "(o_orderpriority), ())",
                              "GROUPING SETS ((o_orderstatus, "
                              "o_orderpriority), (o_orderstatus), ())",
                              "ROLLUP (o_orderstatus, o_orderpriority)",
                              "CUBE (o_orderstatus, o_orderpriority)"]),
       val=st.integers(min_value=0, max_value=300_000))
def test_random_grouping_set_shapes(ctx, shape, val):
    """Random multi-dimensional aggregation structure × random filter:
    the super-aggregate NULL markers, per-set row multiplicities, and
    integer totals must agree exactly cross-engine.

    Non-empty inputs only (filter clamped below the fixture's max key):
    over an EMPTY input the engines genuinely diverge on the () set —
    see test_grouping_sets_empty_input_divergence."""
    spark, con = ctx
    max_key = con.execute("SELECT MAX(o_orderkey) FROM orders").fetchone()[0]
    sql = (f"SELECT o_orderstatus, o_orderpriority, "
           f"CAST(COUNT(*) AS BIGINT) AS n, "
           f"CAST(SUM(o_orderkey % 1000) AS BIGINT) AS s "
           f"FROM orders WHERE o_orderkey > {val % (max_key // 2)} "
           f"GROUP BY {shape}")
    s_rows, o_rows = _both_nullsafe(ctx, sql)
    assert s_rows == o_rows, sql


def test_grouping_sets_empty_input_divergence(ctx):
    """ENGINE DIVERGENCE, now CLOSED at the dialect layer (r7 verdict
    ask #4): over an empty input, a grouping-set list containing the
    grand-total () set yields ONE row (COUNT=0, SQL-standard /
    Postgres / DuckDB / DataFusion semantics) — but RAW Spark's
    Expand-based implementation yields ZERO rows.  This test pins all
    three behaviors: raw Spark still diverges (so a Spark version that
    fixes it upstream surfaces here), DuckDB holds the standard, and
    the dialect path (rewrite_grouping_sets_empty's HAVING COUNT(*)=0
    sentinel union) restores parity."""
    from iceberg_datafusion_arrow_flight_spark.dialect import rewrite_sql

    spark, con = ctx
    sql = ("SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n "
           "FROM orders WHERE o_orderkey < 0 "
           "GROUP BY GROUPING SETS ((o_orderstatus), ())")
    assert spark.sql(sql).collect() == []            # raw Spark: no rows
    assert con.execute(sql).fetchall() == [(None, 0)]  # standard: 1 row
    shimmed = [tuple(r) for r in spark.sql(rewrite_sql(sql)).collect()]
    assert shimmed == [(None, 0)]                    # dialect path: parity


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.text(alphabet="abcdef123", min_size=1, max_size=8),
       n_shards=st.sampled_from([4, 8, 16]))
def test_seeded_shuffle_reproducible_and_seed_sensitive(ctx, seed, n_shards):
    """The seeded-shuffle primitive's contract, property-style: the
    (shard, position) assignment is a pure function of (seed, key) —
    identical across reruns — and balanced-ish across shards; a
    different seed yields a different permutation (md5 avalanche)."""
    spark, _ = ctx
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    df = spark.range(500).select(F.col("id").alias("doc_id"))

    def assign(s):
        keyed = df.select(
            "doc_id",
            F.md5(F.concat(F.lit(s + ":"),
                           F.col("doc_id").cast("string"))).alias("h"))
        sh = keyed.withColumn(
            "shard", (F.instr(F.lit("0123456789abcdef"),
                              F.substring("h", 1, 1)) - 1) % n_shards)
        w = Window.partitionBy("shard").orderBy("h", "doc_id")
        return {r["doc_id"]: (r["shard"], r["pos"]) for r in
                sh.select("doc_id", "shard",
                          F.row_number().over(w).alias("pos")).collect()}

    a, b = assign(seed), assign(seed)
    assert a == b                                    # reproducible
    other = assign(seed + "x")
    assert other != a                                # seed-sensitive
    sizes = {}
    for shard, _pos in a.values():
        sizes[shard] = sizes.get(shard, 0) + 1
    assert max(sizes.values()) <= 3 * (500 // n_shards)  # no shard hogs
