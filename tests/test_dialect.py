"""Unit tests for the DataFusion→Spark dialect layer (rewrites + SQL UDFs)."""

from __future__ import annotations

import pytest

from iceberg_datafusion_arrow_flight_spark.dialect import rewrite_sql, split_params
from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
    rewrite_distinct_on, rewrite_params, rewrite_pg_casts,
    rewrite_regexp_flags, rewrite_similar_to, rewrite_to_char)
from iceberg_datafusion_arrow_flight_spark.functions import (
    register_dialect_functions)


# Spark parses ``::`` itself: a cast to a Spark type name is left as is.
def test_pg_cast_simple():
    assert rewrite_pg_casts("SELECT a::bigint FROM t") == \
        "SELECT a::bigint FROM t"


def test_pg_cast_parenthesized_and_call():
    out = rewrite_pg_casts("SELECT (x + y)::decimal(10,2), f(z)::string")
    assert out == "SELECT (x + y)::decimal(10,2), f(z)::string"


def test_pg_cast_literal():
    assert rewrite_pg_casts("SELECT '1995-01-01'::date") == \
        "SELECT '1995-01-01'::date"


def test_pg_cast_bare_type_names_normalized():
    # DataFusion accepts bare VARCHAR/TEXT/INT4/... in casts; Spark's
    # parser rejects length-less VARCHAR — the rewrite maps the Postgres
    # spellings to Spark types (found by tests/test_dialect_fuzz.py).
    out = rewrite_pg_casts("SELECT a::varchar, b::text, c::int4, d::float8")
    assert out == "SELECT a::STRING, b::STRING, c::INT, d::DOUBLE"
    # parameterized forms are already Spark-legal and pass through
    assert rewrite_pg_casts("SELECT a::varchar(10)") == \
        "SELECT a::varchar(10)"


def test_every_mapped_pg_type_name_runs_on_spark(spark):
    """Each Postgres type name, in either case and after a number or a
    string, reaches Spark as a type it parses."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        _PG_TYPE_NAMES)
    names = sorted(_PG_TYPE_NAMES)
    row = spark.sql(rewrite_sql("SELECT " + ", ".join(
        f"1::{n} AS c_{n}, '1'::{n.upper()} AS u_{n}" for n in names))
    ).head()
    want = {"STRING": "1", "SMALLINT": 1, "INT": 1, "BIGINT": 1,
            "FLOAT": 1.0, "DOUBLE": 1.0, "BOOLEAN": True}
    for n in names:
        assert row[f"c_{n}"] == row[f"u_{n}"] == want[_PG_TYPE_NAMES[n]], n


def test_params_named_and_repeated():
    out = rewrite_params("WHERE a = $1 AND b > $2 AND a <> $1")
    assert out == "WHERE a = :p1 AND b > :p2 AND a <> :p1"
    assert split_params([1, "x"]) == {"p1": 1, "p2": "x"}


def test_similar_to():
    assert rewrite_similar_to("x SIMILAR TO 'ab%'") == "x RLIKE '^(?:ab.*)$'"
    assert rewrite_similar_to("x NOT SIMILAR TO 'a_b'") == \
        "x NOT RLIKE '^(?:a.b)$'"
    # a '' escape is part of the pattern, not its end
    assert rewrite_similar_to("x SIMILAR TO 'a''b%'") == \
        "x RLIKE '^(?:a''b.*)$'"


def test_similar_to_escaped_quote_runs_on_spark(spark):
    sql = rewrite_sql("SELECT 'it''s ok' SIMILAR TO 'it''s%' AS m, "
                      "'its ok' SIMILAR TO 'it''s%' AS n")
    assert tuple(spark.sql(sql).head()) == (True, False)


def test_regexp_flag_stripped():
    assert rewrite_regexp_flags("regexp_replace(s, 'a+', 'b', 'g')") == \
        "regexp_replace(s, 'a+', 'b')"
    # only the 'g' flag form is touched
    assert rewrite_regexp_flags("regexp_replace(s, 'a', 'b')") == \
        "regexp_replace(s, 'a', 'b')"


def test_to_char_token_translation():
    assert rewrite_to_char("to_char(ts, '%Y-%m-%d %H:%M:%S')") == \
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss')"


def test_distinct_on_rewrite_shape():
    out = rewrite_distinct_on(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC")
    assert "row_number() OVER (PARTITION BY k ORDER BY k, v DESC" in out
    # Postgres guarantees the statement-level ORDER BY on the OUTPUT too
    # (ADVICE r1) — the rewrite must keep an outer ORDER BY.
    assert out.endswith("WHERE __rn = 1 ORDER BY k, v DESC")


def test_rename_only_at_call_sites():
    # a column named strpos_x must not be rewritten
    out = rewrite_sql("SELECT strpos_x, strpos(a, b) FROM t")
    assert out == "SELECT strpos_x, df_strpos(a, b) FROM t"


def test_sql_udfs_register_and_run(spark):
    register_dialect_functions(spark)
    row = spark.sql(
        "SELECT df_strpos('hello world', 'world') AS p, "
        "       df_string_to_array('a.b.c', '.') AS arr, "
        "       digest('x', 'sha256') = sha256('x') AS same, "
        "       date_bin(INTERVAL '15' MINUTE, "
        "                TIMESTAMP '2024-01-01 10:37:22', "
        "                TIMESTAMP '2024-01-01 00:00:00') AS b").head()
    assert row.p == 7
    assert row.arr == ["a", "b", "c"]
    assert row.same is True
    assert row.b.minute == 30 and row.b.hour == 10


def test_full_pipeline_runs_on_spark(spark, sf_dir):
    from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    register_dialect_functions(spark)
    df = spark.sql(rewrite_sql(
        "SELECT DISTINCT ON (c_nationkey) c_nationkey, c_acctbal::bigint "
        "FROM customer ORDER BY c_nationkey, c_acctbal DESC"))
    assert df.count() > 0


def test_at_time_zone_rewrite():
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_at_time_zone)
    assert rewrite_at_time_zone("SELECT ts AT TIME ZONE 'UTC' FROM t") == \
        "SELECT from_utc_timestamp(ts, 'UTC') FROM t"
    assert rewrite_at_time_zone(
        "SELECT date_trunc('day', ts) AT TIME ZONE 'Asia/Tokyo'") == \
        "SELECT from_utc_timestamp(date_trunc('day', ts), 'Asia/Tokyo')"


def test_trunc_encode_decode_renames():
    out = rewrite_sql("SELECT trunc(x, 2), encode(s, 'hex'), decode(s, 'hex')")
    assert out == ("SELECT df_trunc(x, 2), df_encode(s, 'hex'), "
                   "df_decode(s, 'hex')")
    # date_trunc must NOT be touched by the numeric-trunc rename
    assert rewrite_sql("SELECT date_trunc('day', ts)") == \
        "SELECT date_trunc('day', ts)"


def test_gcd_lcm_fold_matches_python(spark):
    import math
    register_dialect_functions(spark)
    rows = spark.sql(
        "SELECT id AS a, (id * 7919) % 997 AS b, "
        "       gcd(id, (id * 7919) % 997) AS g, "
        "       lcm(id, (id * 7919) % 997) AS l "
        "FROM range(0, 500)").collect()
    for r in rows:
        assert r.g == math.gcd(r.a, r.b), (r.a, r.b)
        assert r.l == math.lcm(r.a, r.b), (r.a, r.b)
    # worst case for the 96-iteration bound: consecutive Fibonacci numbers
    fib = spark.sql(
        "SELECT gcd(7540113804746346429, 4660046610375530309) AS g").head()
    assert fib.g == 1


def test_trunc_toward_zero_and_nanos(spark):
    register_dialect_functions(spark)
    row = spark.sql(
        "SELECT df_trunc(3.567, 2) AS a, df_trunc(-3.567, 2) AS b, "
        "       df_trunc(3.9) AS c, df_trunc(1234.5, -2) AS d, "
        "       to_timestamp_nanos(1704067200123456789) AS ts").head()
    assert (row.a, row.b, row.c, row.d) == (3.56, -3.56, 3.0, 1200.0)
    assert row.ts.microsecond == 123456  # ns digits truncate to µs


def test_weighted_percentile_matches_bruteforce(spark):
    from iceberg_datafusion_arrow_flight_spark.operators.percentile import (
        weighted_percentile)
    import random
    rng = random.Random(7)
    data = [("g%d" % (i % 3), float(rng.randint(1, 100)), rng.randint(1, 9))
            for i in range(300)]
    df = spark.createDataFrame(data, "grp string, v double, w int")
    got = {r.grp: (r.p50, r.p90)
           for r in weighted_percentile(df, "v", "w",
                                        {"p50": 0.5, "p90": 0.9},
                                        by=("grp",)).collect()}

    def brute(q, rows):
        rows = sorted(rows)
        tot = sum(w for _, w in rows)
        cw = 0
        for v, w in rows:
            cw += w
            if cw >= q * tot:
                return v

    for g in ("g0", "g1", "g2"):
        rows = [(v, w) for grp, v, w in data if grp == g]
        assert got[g] == (brute(0.5, rows), brute(0.9, rows))


def test_regexp_match_semantics(spark):
    register_dialect_functions(spark)
    rows = spark.sql(
        "SELECT df_regexp_match('foobarbaz', 'b..') AS whole, "
        "       df_regexp_match('2024-01-15', '([0-9]+)-([0-9]+)-([0-9]+)') AS groups, "
        "       df_regexp_match('abc', 'z+') AS nomatch, "
        "       df_regexp_match('xab', 'x(?:a)(b)') AS noncapturing").head()
    assert rows.whole == ["bar"]
    assert rows.groups == ["2024", "01", "15"]
    assert rows.nomatch is None
    assert rows.noncapturing == ["b"]


def test_array_remove_first_vs_all(spark):
    register_dialect_functions(spark)
    out = rewrite_sql("SELECT array_remove(a, e), array_remove_all(a, e)")
    assert out == "SELECT df_array_remove(a, e), array_remove(a, e)"
    row = spark.sql(
        "SELECT df_array_remove(array('a','b','a'), 'a') AS first, "
        "       array_remove(array('a','b','a'), 'a') AS al, "
        "       array_replace(array('a','b','a'), 'a', 'X') AS rep, "
        "       array_positions(array('a','b','a'), 'a') AS pos, "
        "       array_resize(array('a'), 3, 'z') AS rs").head()
    assert row.first == ["b", "a"] and row.al == ["b"]
    assert row.rep == ["X", "b", "a"] and row.pos == [1, 3]
    assert row.rs == ["a", "z", "z"]


def test_regexp_match_case_insensitive_flag(spark):
    register_dialect_functions(spark)
    row = spark.sql(
        "SELECT df_regexp_match('FooBar', 'foo(b..)', 'i') AS ci, "
        "       df_regexp_match('FooBar', 'foo(b..)') AS cs").head()
    assert row.ci == ["Bar"] and row.cs is None


# ----------------------------------------------------- ADVICE r1 regressions
def test_literals_are_opaque_to_rewrites():
    """String literals must never be rewritten (the reference parses with
    sqlparser, so its literals are naturally safe)."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import rewrite_sql
    sql = "SELECT 'costs $5' AS a, 'x::y' AS b, 'trunc(1)' AS c FROM t"
    assert rewrite_sql(sql) == sql


def test_find_params_ignores_literals():
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import find_params
    assert find_params("SELECT 'costs $5' AS a") == []
    assert find_params("SELECT $2 + $1, '$9'") == ["1", "2"]


def test_comments_are_opaque_to_literal_masking():
    """A quote inside a ``--`` or ``/* */`` comment opens no literal:
    before comments were masked, the apostrophe in "don't" swallowed the
    rest of the statement, so ``$1`` was not seen and ``to_char`` was
    left untranslated.  A ``$n`` inside a comment is not a parameter."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        find_params, rewrite_sql)
    assert find_params(
        "SELECT a -- don't care\nFROM t WHERE k = $1 AND s = 'x'") == ["1"]
    assert find_params("SELECT /* it's $3 */ a FROM t WHERE k = $2") == ["2"]
    assert rewrite_sql("-- it's\nSELECT to_char(ts, '%Y') FROM t") == \
        "-- it's\nSELECT date_format(ts, 'yyyy') FROM t"
    # comments come back verbatim, and '--' inside a literal is text
    sql = "SELECT x::int /* a::b, $4 */, '-- $5' FROM t -- y::int $6"
    assert rewrite_sql(sql) == \
        "SELECT x::int /* a::b, $4 */, '-- $5' FROM t -- y::int $6"
    assert rewrite_sql("SELECT x::int4 /* a::int4 */ -- y::int4") == \
        "SELECT x::INT /* a::int4 */ -- y::int4"


def test_comment_with_quote_runs_on_spark(spark):
    out = spark.sql(rewrite_sql(
        "-- it's\nSELECT to_char(timestamp'2024-01-02 03:04:05', '%Y') AS y,"
        " 1::bigint AS a /* don't */")).collect()
    assert (out[0].y, out[0].a) == ("2024", 1)


def test_literal_param_lookalike_executes(spark):
    """'costs $5' must run as a plain parameter-less statement."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import rewrite_sql
    out = spark.sql(rewrite_sql("SELECT 'costs $5' AS price")).collect()
    assert out[0].price == "costs $5"


def test_to_char_first_arg_with_commas():
    out = rewrite_to_char(
        "SELECT to_char(make_timestamp(2024, 1, 2, 3, 4, 5), '%Y-%m-%d') AS s")
    assert out == ("SELECT date_format(make_timestamp(2024, 1, 2, 3, 4, 5), "
                   "'yyyy-MM-dd') AS s")


def test_distinct_on_output_order(spark, sf_dir):
    """DISTINCT ON ... ORDER BY must order the OUTPUT rows."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import rewrite_sql
    from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("t_don")
    rows = spark.sql(rewrite_sql(
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_totalprice FROM t_don "
        "ORDER BY o_custkey DESC, o_totalprice DESC")).collect()
    keys = [r.o_custkey for r in rows]
    assert keys == sorted(keys, reverse=True)


def test_u64_overflow_is_loud_not_silent(spark):
    """GAPS.md u64 row: DF40 has UInt64; this engine's integral type
    tops out at BIGINT (Iceberg/Spark have no u64 either).  The contract
    is that values beyond 2^63-1 FAIL LOUDLY rather than wrap:
    - a bare >2^63-1 literal surfaces as DECIMAL(20,0) (lossless),
    - casting it to BIGINT raises CAST_OVERFLOW,
    - arithmetic crossing the boundary raises ARITHMETIC_OVERFLOW."""
    import pytest as _pytest
    assert spark.sql("SELECT 18446744073709551615 AS x").dtypes == \
        [("x", "decimal(20,0)")]
    with _pytest.raises(Exception, match="CAST_OVERFLOW"):
        spark.sql("SELECT CAST(18446744073709551615 AS BIGINT)").collect()
    with _pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        spark.sql("SELECT 9223372036854775807 + 1").collect()
    # max u64 the engine DOES hold exactly, as decimal arithmetic
    row = spark.sql("SELECT 18446744073709551615 % 97 AS m").head()
    assert row.m == 18446744073709551615 % 97


def test_arrow_cast_rewrites():
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import rewrite_arrow_cast
    assert (rewrite_arrow_cast("SELECT arrow_cast(x, 'Int64') FROM t")
            == "SELECT CAST(x AS BIGINT) FROM t")
    # commas inside the first argument
    assert (rewrite_arrow_cast("arrow_cast(round(a, 2), 'Decimal128(10, 3)')")
            == "CAST(round(a, 2) AS DECIMAL(10,3))")
    # tz-less vs zoned timestamps
    assert "TIMESTAMP_NTZ" in rewrite_arrow_cast(
        "arrow_cast(ts, 'Timestamp(Nanosecond, None)')")
    assert rewrite_arrow_cast(
        'arrow_cast(ts, \'Timestamp(Microsecond, Some("UTC"))\')').endswith(
        "AS TIMESTAMP)")
    # unsigned widening
    assert "DECIMAL(20,0)" in rewrite_arrow_cast("arrow_cast(x, 'UInt64')")
    # unknown names left alone (loud unresolved-function error downstream)
    weird = "arrow_cast(x, 'Dictionary(Int32, Utf8)')"
    assert rewrite_arrow_cast(weird) == weird


def test_get_field_rewrites_and_runs(spark):
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_get_field, rewrite_sql)
    assert (rewrite_get_field("SELECT get_field(s, 'a') FROM t")
            == "SELECT (s).`a` FROM t")
    # nested: outer resolves first, inner on the next iteration
    assert (rewrite_get_field("get_field(get_field(s, 'a'), 'b')")
            == "((s).`a`).`b`")
    # malformed (dynamic name) left untouched — loud downstream error
    assert rewrite_get_field("get_field(s, f)") == "get_field(s, f)"
    row = spark.sql(rewrite_sql(
        "SELECT get_field(named_struct('a', named_struct('b', 42)), 'a') AS inner, "
        "get_field(get_field(named_struct('a', named_struct('b', 42)), 'a'), 'b') AS leaf"
    )).first()
    assert row.leaf == 42 and row.inner.b == 42


def test_review_fixes_rewriter_resilience():
    """Round-2 review findings: a non-rewritable occurrence must be
    skipped in place, not abort the pass; nested occurrences inside a
    rewritten first argument must be revisited."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_arrow_cast, rewrite_get_field, rewrite_sql)
    # literal mentioning a non-literal-name get_field does NOT stop the
    # real one from rewriting
    out = rewrite_sql("SELECT 'docs: get_field(s, x)' AS note, "
                      "get_field(t, 'a') AS v FROM t")
    assert "(t).`a`" in out and "get_field(s, x)" in out
    # nested arrow_cast: both layers rewritten
    assert (rewrite_arrow_cast(
        "SELECT arrow_cast(arrow_cast(x, 'Int32'), 'Int64') FROM t")
        == "SELECT CAST(CAST(x AS INT) AS BIGINT) FROM t")
    # dynamic form before a valid one: only the valid one rewrites
    assert (rewrite_get_field("get_field(s, f), get_field(s, 'g')")
            == "get_field(s, f), ((s)).`g`".replace("((s))", "(s)"))


def test_current_time_shim_microseconds_of_day(spark):
    """DF current_time() → µs-of-day BIGINT (the TIME read convention,
    GAPS.md): the dialect renames it onto the SQL UDF and the value is a
    valid time-of-day in microseconds."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_sql)
    from iceberg_datafusion_arrow_flight_spark.functions.aliases import (
        register_dialect_functions)
    register_dialect_functions(spark)
    sql = rewrite_sql("SELECT current_time() AS t")
    assert "df_current_time" in sql
    v = spark.sql(sql).head().t
    assert 0 <= v < 86_400_000_000


def test_regex_operators_rewrite_forms():
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_sql)
    out = rewrite_sql("SELECT * FROM t WHERE a ~ 'x' AND b !~* 'Y'")
    assert "regexp_like(a, 'x')" in out
    assert "NOT regexp_like(b, concat('(?i)', 'Y'))" in out
    # a quoted identifier (double-quoted or backtick, bare or qualified)
    # is an operand too
    assert (rewrite_sql('SELECT "c" ~ \'x\' FROM t')
            == "SELECT regexp_like(`c`, 'x') FROM t")
    assert (rewrite_sql("SELECT t.`c` !~ \"d\" FROM t")
            == "SELECT NOT regexp_like(t.`c`, `d`) FROM t")
    # literals are opaque: an infix ~ inside a string never rewrites
    assert rewrite_sql("SELECT 'a ~ b' AS s") == "SELECT 'a ~ b' AS s"
    # prefix bitwise NOT is untouched (no operand before the operator)
    assert rewrite_sql("SELECT ~5 AS x") == "SELECT ~5 AS x"


def test_qualify_top_level():
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_qualify)
    out = rewrite_qualify(
        "SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rn FROM t "
        "QUALIFY rn = 1 ORDER BY a LIMIT 5")
    assert out.startswith("SELECT * FROM (")
    assert "WHERE rn = 1" in out and out.rstrip().endswith("LIMIT 5")


def test_qualify_inside_subquery_and_cte(spark):
    """QUALIFY nested in a derived table and in a CTE body rewrites too
    (DuckDB/Snowflake accept it anywhere a SELECT appears; previously
    only depth 0 was handled — ADVICE r3).  End-to-end through Spark."""
    sub = ("SELECT * FROM (SELECT id, ROW_NUMBER() OVER (ORDER BY id) "
           "AS rn FROM RANGE(5) QUALIFY rn <= 2) q")
    got = sorted(r["id"] for r in spark.sql(rewrite_sql(sub)).collect())
    assert got == [0, 1]
    cte = ("WITH top AS (SELECT id, ROW_NUMBER() OVER (ORDER BY id DESC) "
           "AS rn FROM RANGE(5) QUALIFY rn = 1) SELECT id FROM top")
    assert [r["id"] for r in spark.sql(rewrite_sql(cte)).collect()] == [4]


def test_qualify_literal_and_nested_parens_untouched():
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_qualify)
    # no QUALIFY keyword → byte-identical
    s = "SELECT 'the QUALIFYING round' AS x FROM (SELECT 1)"
    # the pass runs on MASKED sql in rewrite_sql; raw call here only
    # checks the word-boundary guard (QUALIFYING must not fire)
    assert rewrite_qualify(s) == s


def test_rewrite_external_table_grammar():
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_external_table)
    got = rewrite_external_table(
        "CREATE EXTERNAL TABLE t (a BIGINT, s VARCHAR) STORED AS CSV "
        "WITH HEADER ROW DELIMITER ';' LOCATION '/x'")
    assert got == ("CREATE TABLE t (a BIGINT, s STRING) USING csv "
                   "OPTIONS (path '/x', header 'true', sep ';')")
    assert rewrite_external_table(
        "CREATE EXTERNAL TABLE IF NOT EXISTS p STORED AS PARQUET "
        "LOCATION '/y';") == \
        "CREATE TABLE IF NOT EXISTS p USING parquet OPTIONS (path '/y')"
    # unknown format and non-DDL text pass through untouched
    weird = "CREATE EXTERNAL TABLE t STORED AS ORCX LOCATION '/z'"
    assert rewrite_external_table(weird) == weird
    plain = "SELECT 'CREATE EXTERNAL TABLE x' AS s"
    assert rewrite_external_table(plain) == plain
    # parenthesized column types stay inside the column-list group
    # (one balanced nesting level): DECIMAL(p,s)/VARCHAR(n)/CHAR(n)
    got = rewrite_external_table(
        "CREATE EXTERNAL TABLE m (a DECIMAL(10,2), b VARCHAR(20), "
        "c CHAR(3)) STORED AS PARQUET LOCATION '/m'")
    assert got == ("CREATE TABLE m (a DECIMAL(10,2), b VARCHAR(20), "
                   "c CHAR(3)) USING parquet OPTIONS (path '/m')")


def test_rewrite_mixed_interval_split_and_passthrough():
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_mixed_interval)
    assert rewrite_mixed_interval(
        "SELECT d + INTERVAL '1 month 2 days' FROM t") == \
        "SELECT d + INTERVAL '1 month' + INTERVAL '2 days' FROM t"
    # subtraction distributes the sign (months first, then days — the
    # Postgres evaluation order)
    assert rewrite_mixed_interval(
        "SELECT d - INTERVAL '2 years 3 months 10 days 4 hours' FROM t") == \
        ("SELECT d - INTERVAL '2 years 3 months' "
         "- INTERVAL '10 days 4 hours' FROM t")
    # pure year-month / pure day-time literals are Spark-parsable: untouched
    for ok in ("SELECT d + INTERVAL '3 days' FROM t",
               "SELECT d + INTERVAL '1 month' FROM t",
               "SELECT d + INTERVAL '2 days 3 hours' FROM t"):
        assert rewrite_mixed_interval(ok) == ok


def test_mixed_interval_grid_matches_duckdb(spark, duck):
    """Deterministic grid fuzz for the mixed-interval split: every
    (year-month part) x (day-time part) x sign combination over a fixed
    anchor date must yield the same instant both engines compute for
    the ORIGINAL Postgres-style literal."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_sql)
    ym_parts = ["1 year", "2 months", "1 year 3 months"]
    dt_parts = ["2 days", "5 hours", "10 days 4 hours", "90 minutes"]
    cases = [f"{ym} {dt}" for ym in ym_parts for dt in dt_parts]
    exprs, oracle_exprs = [], []
    for i, lit in enumerate(cases):
        for sign, tag in (("+", "p"), ("-", "m")):
            exprs.append(
                f"CAST(TIMESTAMP '2024-01-31 12:00:00' {sign} "
                f"INTERVAL '{lit}' AS TIMESTAMP) AS c{i}{tag}")
            oracle_exprs.append(
                f"CAST(TIMESTAMP '2024-01-31 12:00:00' {sign} "
                f"INTERVAL '{lit}' AS TIMESTAMP) AS c{i}{tag}")
    got = spark.sql(rewrite_sql("SELECT " + ", ".join(exprs))).first()
    want = duck.sql("SELECT " + ", ".join(oracle_exprs)).fetchone()
    for idx, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"case {exprs[idx]}: spark={g} duckdb={w}"


def test_grouping_sets_empty_shim_shapes():
    """rewrite_grouping_sets_empty text-level contract: shapes with a
    grand-total set gain the HAVING COUNT(*)=0 sentinel union (one per
    () occurrence), shapes without one — or that the pass cannot prove
    — are byte-identical passthrough."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_grouping_sets_empty as rw)

    # explicit () set: one sentinel, WHERE preserved, alias dropped in
    # the twin (UNION ALL names come from the first branch)
    out = rw("SELECT a, COUNT(*) AS n FROM t WHERE b > 0 "
             "GROUP BY GROUPING SETS ((a), ())")
    assert out.count("UNION ALL") == 1
    assert "HAVING COUNT(*) = 0" in out
    assert "SELECT NULL, COUNT(*) FROM t WHERE b > 0" in out.replace("  ", " ")
    # CUBE and ROLLUP imply (): one sentinel each
    assert rw("SELECT a, SUM(x) AS s FROM t GROUP BY CUBE (a)").count(
        "UNION ALL") == 1
    assert rw("SELECT a, SUM(x) AS s FROM t GROUP BY ROLLUP (a)").count(
        "UNION ALL") == 1
    # duplicated () set: one sentinel per occurrence
    assert rw("SELECT COUNT(*) AS n FROM t "
              "GROUP BY GROUPING SETS ((), ())").count("UNION ALL") == 2
    # GROUPING(col) -> literal 1 in the twin
    assert "SELECT NULL, 1, COUNT(*)" in rw(
        "SELECT a, GROUPING(a) AS ga, COUNT(*) AS n FROM t "
        "GROUP BY GROUPING SETS ((a), ())")
    # ORDER BY / LIMIT move after the union
    out = rw("SELECT a, SUM(x) AS s FROM t GROUP BY ROLLUP (a) "
             "ORDER BY a NULLS LAST LIMIT 5")
    assert out.rstrip().endswith("ORDER BY a NULLS LAST LIMIT 5")
    assert out.index("UNION ALL") < out.index("ORDER BY")
    # HAVING is AND-merged into the sentinel guard
    out = rw("SELECT a, SUM(x) AS s FROM t "
             "GROUP BY GROUPING SETS ((a), ()) HAVING SUM(x) IS NULL")
    assert "HAVING COUNT(*) = 0 AND (SUM(x) IS NULL)" in out


def test_grouping_sets_empty_shim_conservative_bails():
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_grouping_sets_empty as rw)

    passthrough = [
        # no grand-total set
        "SELECT a, b, COUNT(*) AS n FROM t GROUP BY GROUPING SETS ((a), (b))",
        # plain group by
        "SELECT a, COUNT(*) AS n FROM t GROUP BY a",
        # window function in the select list
        "SELECT a, SUM(x) OVER () AS s FROM t GROUP BY GROUPING SETS ((a), ())",
        # GROUPING_ID (twin value would need bit math the pass doesn't do)
        "SELECT a, GROUPING_ID(a) AS g FROM t GROUP BY GROUPING SETS ((a), ())",
        # top-level set operation
        "SELECT a, COUNT(*) AS n FROM t GROUP BY GROUPING SETS ((a), ()) "
        "UNION ALL SELECT a, 0 FROM u",
        # non-column grouping expr nested inside another select item
        "SELECT upper(a) || 'x' AS ux, COUNT(*) AS n FROM t "
        "GROUP BY GROUPING SETS ((upper(a)), ())",
        # ungrouped bare column the twin could not resolve
        "SELECT b, COUNT(*) AS n FROM t GROUP BY GROUPING SETS ((a), ())",
    ]
    for sql in passthrough:
        assert rw(sql) == sql, sql
    # exact-match non-column grouping expr IS handled (whole-item match)
    out = rw("SELECT upper(a) AS ua, COUNT(*) AS n FROM t "
             "GROUP BY GROUPING SETS ((upper(a)), ())")
    assert "UNION ALL" in out and "SELECT NULL, COUNT(*)" in out


def test_grouping_sets_empty_shim_r9_bails():
    """ADVICE r8 regressions: (1) a nested CUBE/ROLLUP/GROUPING SETS
    member contributes its OWN grand-total set(s) — treating it as a
    plain grouping expression undercounts the sentinel rows, so the
    pass must bail; (2) the injected UNION ALL moves ORDER BY to where
    it resolves against OUTPUT columns only — 'ORDER BY a' with 'a AS
    x' in the select list is valid raw Spark but fails post-rewrite, so
    the pass must bail unless every order item is a position or an
    output-column identifier."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_grouping_sets_empty as rw)

    nested = [
        "SELECT COUNT(*) AS n FROM t GROUP BY GROUPING SETS (ROLLUP(a), ())",
        "SELECT COUNT(*) AS n FROM t GROUP BY GROUPING SETS (CUBE(a), ())",
        "SELECT COUNT(*) AS n FROM t "
        "GROUP BY GROUPING SETS (GROUPING SETS ((a), ()), ())",
    ]
    for sql in nested:
        assert rw(sql) == sql, sql

    # ORDER BY referencing a grouping column that is ALIASED away in
    # the select list: bail (post-union resolution would fail).
    sql = ("SELECT a AS x, COUNT(*) AS n FROM t "
           "GROUP BY CUBE(a) ORDER BY a")
    assert rw(sql) == sql
    # ORDER BY an expression: bail (post-union ORDER BY COUNT(*) does
    # not resolve).
    sql = ("SELECT a, COUNT(*) AS n FROM t "
           "GROUP BY CUBE(a) ORDER BY COUNT(*) DESC")
    assert rw(sql) == sql
    # Still rewritten: ORDER BY an output alias, a bare select column,
    # or an integer position.
    for ob in ("ORDER BY x", "ORDER BY n DESC", "ORDER BY 1",
               "ORDER BY x NULLS LAST, 2"):
        out = rw(f"SELECT a AS x, COUNT(*) AS n FROM t GROUP BY CUBE(a) {ob}")
        assert "UNION ALL" in out, ob


def test_grouping_sets_empty_shim_order_by_alias_runs_on_spark(spark):
    """The alias-scoped rewrite must actually analyze on Spark: the r8
    shim emitted 'ORDER BY a' after the union for 'a AS x' shapes,
    which raised UNRESOLVED_COLUMN (ADVICE r8 #2) — now it bails, and
    the alias form rewrites AND runs."""
    from iceberg_datafusion_arrow_flight_spark.dialect.rewrite import (
        rewrite_sql)
    spark.range(0).selectExpr("CAST(id AS INT) AS a") \
         .createOrReplaceTempView("gs_empty_r9")
    out = rewrite_sql("SELECT a AS x, COUNT(*) AS n FROM gs_empty_r9 "
                      "GROUP BY CUBE(a) ORDER BY x")
    rows = spark.sql(out).collect()
    assert len(rows) == 1 and rows[0]["n"] == 0  # the sentinel row


def test_grouping_sets_empty_shim_native_cast(spark):
    """The type after a native ``::`` cast is not a column reference, so
    the shim still applies: over an empty input the statement returns
    the grand-total row, as DuckDB does."""
    import duckdb
    sql = "SELECT a, sum(x)::bigint AS s FROM gs_cast GROUP BY ROLLUP(a)"
    spark.range(0).selectExpr("CAST(id AS INT) AS a", "id AS x") \
         .createOrReplaceTempView("gs_cast")
    con = duckdb.connect()
    con.execute("CREATE TABLE gs_cast (a INT, x BIGINT)")
    want = con.execute(sql).fetchall()
    con.close()
    got = [tuple(r) for r in spark.sql(rewrite_sql(sql)).collect()]
    assert got == want == [(None, None)]


@pytest.mark.parametrize("q", ["`", '"'])
def test_grouping_sets_empty_shim_quoted_column(spark, q):
    """A quoted grouping column, repeated in the select list and in
    GROUPING(), is still recognised as the grouping column: over an empty
    input the statement returns DuckDB's grand-total row."""
    import duckdb
    sql = ("SELECT {a}, {a} AS a2, GROUPING({a}) AS g, {a} + 1 AS a1, "
           "count(*) AS n FROM gs_q GROUP BY ROLLUP({a})")
    spark.range(0).selectExpr("CAST(id AS INT) AS a") \
         .createOrReplaceTempView("gs_q")
    con = duckdb.connect()
    con.execute("CREATE TABLE gs_q (a INT)")
    want = con.execute(sql.format(a='"a"')).fetchall()
    con.close()
    rewritten = rewrite_sql(sql.format(a=f"{q}a{q}"))
    assert "UNION ALL" in rewritten
    got = [tuple(r) for r in spark.sql(rewritten).collect()]
    assert got == want == [(None, None, 1, None, 0)]
