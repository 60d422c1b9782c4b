"""Source-to-source rewrites: DataFusion-40 SQL dialect → Spark SQL.

Each pass is a small pure function ``str -> str``; ``rewrite_sql`` runs
them in order.  The pass lists and alias table are module data so tests
can enumerate exactly what is translated.

Dialect facts being translated (all [P] behavior of the pinned
``datafusion 40.0.0`` / ``sqlparser 0.47``, reachable only through
``ctx.sql`` at iceberg-datafusion-arrow-flight/src/lib.rs:678 — SURVEY §2.9):

- ``expr::type``   Postgres cast: Spark parses ``::`` itself; only the
                   Postgres type names it rejects (``int4``, bare
                   ``varchar``, ...) are renamed to Spark types
- ``"name"``       quoted identifier            → the backtick identifier
                   (Spark reads a double-quoted token as a string literal)
- ``$1..$n``       positional prepared params   → ``:p1..:pn`` named params
                   (Spark binds ``?`` strictly left-to-right; ``$n`` may
                   repeat or appear out of order, named params handle both)
- ``DISTINCT ON (keys) ... ORDER BY ...``       → row_number() = 1 rewrite
- ``a SIMILAR TO p``                            → ``a RLIKE '^(?:p)$'`` with
                   SQL-wildcard → regex translation (%→.*, _→.)
- ``regexp_replace(s, p, r, 'g')``              → 3-arg form (Spark is
                   global by default; DF needs the flag)
- ``to_char(ts, 'chrono pattern')``             → ``date_format`` with a
                   Chrono→JDK pattern-token translation
- function renames (same semantics+arg order, different name)

The reference parses SQL with sqlparser, so it never rewrites inside a
string literal, a quoted identifier or a comment.  The passes here get
the same guarantee from one lexer (``_LEX_RE``) and the depth helper
built on it (``_top_level``): passes whose own syntax contains a
literal (SIMILAR TO, to_char formats, ...) run on the raw text but
accept only a match that starts in code; every other pass runs on the
text with each literal, identifier and comment masked by a sentinel.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from itertools import pairwise

# ------------------------------------------------------------------ lexer
# The opaque spans of a statement: a single-quoted literal ('' escapes),
# a double-quoted or backtick identifier ("" and `` escapes), a -- line
# comment and a /* */ block comment.  One left-to-right scan decides which
# starts first, so a quote inside a comment or a -- inside a literal is
# just text.  Everything between two spans is code.  A quote that opens
# no complete span is code too.
_LEX_RE = re.compile(r"""'[^']*(?:''[^']*)*'|"[^"]*(?:""[^"]*)*"|"""
                     r"`[^`]*(?:``[^`]*)*`|--[^\n]*|/\*.*?\*/", re.DOTALL)
_MARK_RE = re.compile(r"(?:'|`|/\*)\x00(\d+)\x00(?:'|`|\*/)")
# a dotted name on masked sql; any part may be a quoted identifier
_NAME = r"(?:[A-Za-z_]\w*|`\x00\d+\x00`)(?:\.(?:[A-Za-z_]\w*|`\x00\d+\x00`))*"
_PAREN_RE = re.compile(r"[()]")
_COMMA_RE = re.compile(",")


def mask(sql: str) -> tuple[str, list[str]]:
    """``sql`` with every opaque span replaced by a sentinel of the same
    shape (literal, identifier or comment) that no pass can match into,
    and the spans' Spark spellings for :func:`unmask`: a double-quoted
    identifier becomes a backtick identifier.  Equal spellings share one
    sentinel, so a pass can compare masked expressions as text."""
    index: dict[str, int] = {}

    def stash(m: re.Match) -> str:
        tok = m.group()
        if tok[0] == '"':
            tok = "`" + tok[1:-1].replace('""', '"').replace("`", "``") + "`"
        mark = f"\x00{index.setdefault(tok, len(index))}\x00"
        return {"'": f"'{mark}'", "`": f"`{mark}`"}.get(tok[0], f"/*{mark}*/")

    return _LEX_RE.sub(stash, sql), list(index)


def unmask(sql: str, saved: list[str]) -> str:
    return _MARK_RE.sub(lambda m: saved[int(m.group(1))], sql)


def strip_comments(sql: str) -> str:
    """``sql`` with each comment replaced by a space."""
    return _LEX_RE.sub(lambda m: " " if m.group()[0] in "-/" else m.group(),
                       sql)


def _code_spans(sql: str, start: int = 0):
    """(a, b) index pairs of the code in ``sql[start:]``."""
    for m in _LEX_RE.finditer(sql, start):
        yield start, m.start()
        start = m.end()
    yield start, len(sql)


def _top_level(sql: str, start: int = 0):
    """(a, b) index pairs of the code in ``sql[start:]`` at paren depth 0.
    A span also ends at a ``(``, and the next one starts after its
    matching ``)``.  An unmatched ``)`` ends the last span and the scan."""
    depth = 0
    for a, b in _code_spans(sql, start):
        for m in _PAREN_RE.finditer(sql, a, b):
            if m.group() == "(":
                if depth == 0:
                    yield a, m.start()
                depth += 1
            else:
                depth -= 1
                if depth < 0:
                    yield a, m.start()
                    return
                a = m.end()
        if depth == 0:
            yield a, b


def _top_matches(sql: str, pattern: re.Pattern, start: int = 0):
    """Matches of ``pattern`` that lie in code at paren depth 0."""
    for a, b in _top_level(sql, start):
        yield from pattern.finditer(sql, a, b)


def _find_top(sql: str, keyword: str) -> int | None:
    """Index of the first depth-0 ``keyword`` (a whole word), or None."""
    m = next(_top_matches(sql, re.compile(rf"\b{keyword}\b", re.I)), None)
    return None if m is None else m.start()


def _split_commas(sql: str) -> list[str]:
    """``sql`` split at its depth-0 commas."""
    cuts = [m.start() for m in _top_matches(sql, _COMMA_RE)]
    return [sql[a + 1:b] for a, b in pairwise([-1, *cuts, len(sql)])]


def _code_matches(pattern: re.Pattern, sql: str):
    """Matches of ``pattern`` in the raw ``sql`` that start in code; a
    match starting inside an opaque span is skipped and the search goes
    on after that span."""
    pos, spans = 0, None
    while (m := pattern.search(sql, pos)) is not None:
        if spans is None:  # lexed only once something matches
            spans = [o.span() for o in _LEX_RE.finditer(sql)]
            starts = [a for a, _ in spans]
        k = bisect_right(starts, m.start()) - 1
        if k >= 0 and m.start() < spans[k][1]:
            pos = spans[k][1]
            continue
        yield m
        pos = m.end()


def _sub_code(pattern: re.Pattern, repl, sql: str) -> str:
    """``pattern.sub(repl, sql)`` for the matches that start in code."""
    out, pos = [], 0
    for m in _code_matches(pattern, sql):
        out += (sql[pos:m.start()], repl(m))
        pos = m.end()
    return "".join(out) + sql[pos:]


def _rewrite_calls(sql: str, open_re: re.Pattern, tail_re: re.Pattern,
                   build) -> str:
    """Rewrite each call ``f(first, <tail>)`` whose ``f(`` (``open_re``)
    starts in code and whose text after the first argument's depth-0
    comma matches ``tail_re``: ``build(first, tail_match)`` gives the
    replacement, or None to leave that call as it is.  Calls are taken
    right to left, so one nested in another's first argument is
    rewritten before it."""
    for m in reversed(list(_code_matches(open_re, sql))):
        comma = next(_top_matches(sql, _COMMA_RE, m.end()), None)
        tail = comma and tail_re.match(sql, comma.end())
        new = build(sql[m.end():comma.start()], tail) if tail else None
        if new is not None:
            sql = sql[:m.start()] + new + sql[tail.end():]
    return sql


# --------------------------------------------------------------- renames
# DataFusion name → Spark name.  Only names with IDENTICAL argument order
# and semantics belong here; arg-order shims live in functions.aliases.
NAME_ALIASES: dict[str, str] = {
    "approx_distinct": "approx_count_distinct",
    "approx_percentile_cont": "approx_percentile",
    "approx_median": "median",
    "make_array": "array",
    "array_cat": "concat",
    "array_concat": "concat",
    "array_has": "array_contains",
    "array_has_any": "arrays_overlap",
    "array_element": "element_at",
    "array_extract": "element_at",
    "array_length": "size",
    "array_ndims": "df_array_ndims",     # SQL UDF (functions.aliases)
    "array_empty": "df_array_empty",     # SQL UDF
    "array_reverse": "reverse",
    "array_to_string": "array_join",
    "list_to_string": "array_join",
    "string_to_array": "df_string_to_array",  # SQL UDF (regex-quoting)
    "generate_series": "sequence",
    "current_time": "df_current_time",   # SQL UDF: µs-of-day BIGINT (no TIME type)
    "substr_index": "substring_index",
    "to_unixtime": "unix_timestamp",
    "to_timestamp_seconds": "timestamp_seconds",
    "to_timestamp_millis": "timestamp_millis",
    "to_timestamp_micros": "timestamp_micros",
    "to_hex": "hex",
    "arrow_typeof": "typeof",
    "strpos": "df_strpos",               # SQL UDF (arg order)
    "iszero": "df_iszero",               # SQL UDF
    # DF numeric trunc / codec encode-decode collide with Spark builtins
    # of the same name but different semantics (date trunc, charset
    # encode); in the DF dialect these spellings are numeric/codec-only,
    # so the rename is unconditional and faithful.
    "trunc": "df_trunc",                 # SQL UDF (s DEFAULT 0)
    "regexp_match": "df_regexp_match",   # SQL UDF (first-match groups)
    # DF array_remove = FIRST occurrence (SQL UDF); DF array_remove_all
    # = Spark's builtin array_remove (removes all).
    "array_remove": "df_array_remove",
    "array_remove_all": "array_remove",
    "encode": "df_encode",               # SQL UDF (hex|base64)
    "decode": "df_decode",               # SQL UDF (hex|base64)
    "datepart": "date_part",
    "list_append": "array_append",
    "list_prepend": "array_prepend",
    # DF40 registers a list_* synonym for the whole array family
    # (datafusion-functions-nested expr_fn) — route each to the same
    # target its array_* twin resolves to, DF-semantics shims included.
    "list_push_back": "array_append",
    "list_push_front": "array_prepend",
    "list_element": "element_at",
    "list_extract": "element_at",
    "list_length": "size",
    "list_cat": "concat",
    "list_concat": "concat",
    "list_has": "array_contains",
    "list_contains": "array_contains",
    "list_has_any": "arrays_overlap",
    "list_has_all": "array_has_all",
    "list_dims": "array_dims",
    "list_ndims": "df_array_ndims",
    "list_empty": "df_array_empty",
    "list_distinct": "array_distinct",
    "list_union": "array_union",
    "list_intersect": "array_intersect",
    "list_except": "array_except",
    "list_sort": "array_sort",
    "list_remove": "df_array_remove",
    "list_remove_all": "array_remove",
    "list_replace": "array_replace",
    "list_replace_all": "array_replace_all",
    "list_position": "array_position",
    "list_indexof": "array_position",
    "list_positions": "array_positions",
    "list_repeat": "array_repeat",
    "list_resize": "array_resize",
    "list_reverse": "reverse",
    "list_join": "array_join",
    "list_slice": "df_array_slice",
    "array_slice": "df_array_slice",
    "list_pop_back": "array_pop_back",
    "list_pop_front": "array_pop_front",
}

_ALIAS_RE = re.compile(
    r"\b(" + "|".join(sorted(NAME_ALIASES, key=len, reverse=True)) + r")\s*\(",
    re.IGNORECASE)


def rename_functions(sql: str) -> str:
    return _ALIAS_RE.sub(lambda m: NAME_ALIASES[m.group(1).lower()] + "(", sql)


# --------------------------------------------------------------- $n params
_PARAM_RE = re.compile(r"\$(\d+)")


def rewrite_params(sql: str) -> str:
    """``$n`` → ``:pn`` (named) so repeated/out-of-order refs bind right."""
    return _PARAM_RE.sub(lambda m: f":p{m.group(1)}", sql)


def split_params(values: list) -> dict[str, object]:
    """Positional values for ``$1..$n`` → the named-arg dict for
    ``spark.sql(sql, args=...)`` after :func:`rewrite_params`."""
    return {f"p{i + 1}": v for i, v in enumerate(values)}


# --------------------------------------------------------------- :: casts
# Spark parses ``expr::type`` itself, with the same precedence and output
# column names as ``CAST(expr AS type)``.  These Postgres/DuckDB type
# spellings are the ones its parser rejects after ``::`` (a bare VARCHAR
# needs a length in Spark); parameterized forms (varchar(10), char(3))
# pass through — Spark accepts those.  Found by the dialect grammar fuzz
# (tests/test_dialect_fuzz.py).
_PG_TYPE_NAMES = {
    "varchar": "STRING", "text": "STRING", "bpchar": "STRING",
    "char": "STRING",
    "int2": "SMALLINT", "int4": "INT", "int8": "BIGINT",
    "float4": "FLOAT", "float8": "DOUBLE",
    "bool": "BOOLEAN",
}
_PG_CAST_RE = re.compile(
    r"::\s*(" + "|".join(_PG_TYPE_NAMES) + r")\b(?!\s*\()", re.IGNORECASE)


def rewrite_pg_casts(sql: str) -> str:
    return _PG_CAST_RE.sub(
        lambda m: "::" + _PG_TYPE_NAMES[m.group(1).lower()], sql)


# --------------------------------------------------------------- SIMILAR TO
_SIMILAR_RE = re.compile(
    r"\b(NOT\s+)?SIMILAR\s+TO\s+'((?:[^']|'')*)'", re.IGNORECASE)


def _sql_pattern_to_regex(pat: str) -> str:
    # SQL SIMILAR TO: % → .*, _ → . ; regex metachars ()|[]{}*+? pass
    # through (SIMILAR TO patterns ARE regex-like per the standard).
    return "^(?:" + pat.replace("%", ".*").replace("_", ".") + ")$"


def rewrite_similar_to(sql: str) -> str:
    def sub(m: re.Match) -> str:
        neg = "NOT " if m.group(1) else ""
        return f"{neg}RLIKE '{_sql_pattern_to_regex(m.group(2))}'"
    return _sub_code(_SIMILAR_RE, sub, sql)


# --------------------------------------------------------------- regexp flags
_REGEXP_G = re.compile(r"(regexp_replace\s*\((?:[^()']|'[^']*'|\([^()]*\))*?)"
                       r",\s*'g'\s*\)", re.IGNORECASE)


def rewrite_regexp_flags(sql: str) -> str:
    """DF ``regexp_replace(s,p,r,'g')`` → Spark 3-arg (global default)."""
    return _sub_code(_REGEXP_G, lambda m: m.group(1) + ")", sql)


# --------------------------------------------------------------- to_char
# Chrono (DF's to_char, strftime-style) → JDK DateTimeFormatter tokens.
_CHRONO_TO_JDK = [
    ("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"), ("%H", "HH"),
    ("%M", "mm"), ("%S", "ss"), ("%y", "yy"), ("%j", "DDD"),
    ("%e", "d"), ("%f", "SSSSSSSSS"), ("%a", "EEE"), ("%A", "EEEE"),
    ("%b", "MMM"), ("%B", "MMMM"), ("%p", "a"), ("%%", "%"),
]
_TO_CHAR_OPEN = re.compile(r"\bto_char\s*\(", re.IGNORECASE)
_TO_CHAR_FMT = re.compile(r"\s*'((?:[^']|'')*)'\s*\)")


def _date_format(first: str, fmt_m: re.Match) -> str:
    fmt = fmt_m.group(1)
    for chrono, jdk in _CHRONO_TO_JDK:
        fmt = fmt.replace(chrono, jdk)
    return f"date_format({first}, '{fmt}')"


def rewrite_to_char(sql: str) -> str:
    return _rewrite_calls(sql, _TO_CHAR_OPEN, _TO_CHAR_FMT, _date_format)


# --------------------------------------------------------------- arrow_cast

# DataFusion's arrow_cast(expr, 'ArrowTypeName') — the Arrow type names a
# DF client writes, mapped to Spark SQL types (unsigned ints widen per
# the documented §1.4 mapping; UInt64 -> DECIMAL(20,0) keeps the full
# range and fails loudly on overflow downstream).
_ARROW_TYPE_MAP = {
    "Int8": "TINYINT", "Int16": "SMALLINT", "Int32": "INT",
    "Int64": "BIGINT",
    "UInt8": "SMALLINT", "UInt16": "INT", "UInt32": "BIGINT",
    "UInt64": "DECIMAL(20,0)",
    "Float16": "FLOAT", "Float32": "FLOAT", "Float64": "DOUBLE",
    "Utf8": "STRING", "LargeUtf8": "STRING", "Utf8View": "STRING",
    "Binary": "BINARY", "LargeBinary": "BINARY",
    "Boolean": "BOOLEAN", "Date32": "DATE", "Date64": "DATE",
}
_ARROW_CAST_OPEN = re.compile(r"\barrow_cast\s*\(", re.IGNORECASE)
_ARROW_CAST_TYPE = re.compile(r"\s*'([^']*)'\s*\)")
_ARROW_TS_RE = re.compile(
    r"^Timestamp\s*\(\s*(Second|Millisecond|Microsecond|Nanosecond)\s*,"
    r"\s*(None|Some\(\s*\"[^\"]*\"\s*\))\s*\)$")
_ARROW_DECIMAL_RE = re.compile(r"^Decimal(?:128|256)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$")


def _arrow_type_to_spark(name: str) -> str | None:
    name = name.strip()
    if name in _ARROW_TYPE_MAP:
        return _ARROW_TYPE_MAP[name]
    if m := _ARROW_DECIMAL_RE.match(name):
        return f"DECIMAL({m.group(1)},{m.group(2)})"
    if m := _ARROW_TS_RE.match(name):
        # tz-less Arrow timestamps are NTZ; Some("...") carries a zone
        return "TIMESTAMP_NTZ" if m.group(2) == "None" else "TIMESTAMP"
    return None


def rewrite_arrow_cast(sql: str) -> str:
    """``arrow_cast(expr, 'Int64')`` → ``CAST(expr AS BIGINT)``.  Runs
    on raw SQL (the type name is a string literal the masked passes
    cannot see); unknown type names are left untouched so the error
    surfaces as an unresolved function, not a silent mis-cast."""
    def cast(first: str, type_m: re.Match) -> str | None:
        spark_ty = _arrow_type_to_spark(type_m.group(1))
        return spark_ty and f"CAST({first} AS {spark_ty})"
    return _rewrite_calls(sql, _ARROW_CAST_OPEN, _ARROW_CAST_TYPE, cast)


# --------------------------------------------------------------- get_field

_GET_FIELD_OPEN = re.compile(r"\bget_field\s*\(", re.IGNORECASE)
_GET_FIELD_NAME = re.compile(r"\s*'([A-Za-z_][\w]*)'\s*\)")


def rewrite_get_field(sql: str) -> str:
    """DF's ``get_field(expr, 'name')`` → ``(expr).`name``` — Spark has
    only dot access for struct fields.  A call whose name is not a
    literal is left as it is (a loud error downstream)."""
    return _rewrite_calls(sql, _GET_FIELD_OPEN, _GET_FIELD_NAME,
                          lambda first, m: f"({first}).`{m.group(1)}`")


# --------------------------------------------------------------- DISTINCT ON
_DISTINCT_ON_RE = re.compile(
    r"^\s*SELECT\s+DISTINCT\s+ON\s*\(([^)]+)\)\s*(.*?)\s+FROM\s+(.*?)"
    r"(?:\s+ORDER\s+BY\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)


def rewrite_distinct_on(sql: str) -> str:
    """Postgres ``SELECT DISTINCT ON (k) cols FROM t ORDER BY k, o`` →
    row_number() window rewrite (SURVEY §2.6).  Handles the single-block
    form; nested DISTINCT ON is out of scope (as in DF40 practice)."""
    m = _DISTINCT_ON_RE.match(sql)
    if not m:
        return sql
    keys, cols, rest, order = m.group(1), m.group(2), m.group(3), m.group(4)
    order_by = order.strip() if order else keys
    # Postgres guarantees the overall ORDER BY on the output, not just
    # within the dedup window — keep it on the outer block (it may
    # reference un-projected subquery columns; SQL resolves those from
    # the FROM relation).
    return (
        f"SELECT {cols} FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {keys} "
        f"ORDER BY {order_by}) AS __rn FROM {rest}) WHERE __rn = 1 "
        f"ORDER BY {order_by}")


# --------------------------------------------------------------- AT TIME ZONE
# DF40 `ts AT TIME ZONE 'Zone'` reinterprets a (UTC-stored) timestamp in
# the target zone → Spark's from_utc_timestamp.  Operand: identifier or
# call/paren expression immediately before the keyword.
_AT_TZ_RE = re.compile(
    r"([A-Za-z_][\w.]*(?:\([^()]*\))?)\s+AT\s+TIME\s+ZONE\s+'([^']+)'",
    re.IGNORECASE)


def rewrite_at_time_zone(sql: str) -> str:
    return _sub_code(
        _AT_TZ_RE,
        lambda m: f"from_utc_timestamp({m.group(1)}, '{m.group(2)}')", sql)


# ---------------------------------------------------- CREATE EXTERNAL TABLE
# DF40 DDL (sqlparser 0.47): CREATE EXTERNAL TABLE [IF NOT EXISTS] name
# [(cols)] STORED AS fmt [WITH HEADER ROW] [DELIMITER 'c'] LOCATION 'path'
# — the reference accepts it through ctx.sql (lib.rs:678) and registers an
# unmanaged listing table.  Spark's spelling of the same thing is
# CREATE TABLE name [(cols)] USING fmt OPTIONS (path ..., header ...,
# sep ...).  Runs RAW (its own syntax carries the path/delimiter
# literals).  Unknown STORED AS formats pass through untouched and fail
# loudly in Spark — same posture as rewrite_arrow_cast.
_EXTERNAL_RE = re.compile(
    r"^\s*CREATE\s+EXTERNAL\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    # the column list balances ONE nesting level so parenthesized types
    # (DECIMAL(10,2), VARCHAR(20), CHAR(n)) stay inside the group
    r"(?P<name>[\w.]+)\s*(?P<cols>\((?:[^()]|\([^()]*\))*\))?\s*"
    r"STORED\s+AS\s+(?P<fmt>\w+)\s*"
    r"(?P<header>WITH\s+HEADER\s+ROW)?\s*"
    r"(?:DELIMITER\s+'(?P<delim>[^']*)')?\s*"
    r"LOCATION\s+'(?P<loc>[^']+)'\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

_EXTERNAL_FMTS = {"CSV": "csv", "PARQUET": "parquet", "JSON": "json",
                  "NDJSON": "json", "AVRO": "avro", "ARROW": "arrow"}


def rewrite_external_table(sql: str) -> str:
    m = _EXTERNAL_RE.match(sql)
    if not m:
        return sql
    fmt = _EXTERNAL_FMTS.get(m.group("fmt").upper())
    if fmt is None:
        return sql  # unknown format: pass through, fail loudly downstream
    opts = [f"path '{m.group('loc')}'"]
    if m.group("header"):
        opts.append("header 'true'")
    if m.group("delim"):
        opts.append(f"sep '{m.group('delim')}'")
    ine = "IF NOT EXISTS " if m.group("ine") else ""
    cols = f" {m.group('cols')}" if m.group("cols") else ""
    # DF/Postgres column types Spark's DDL parser spells differently
    # (bare VARCHAR/TEXT need no length in DF; Spark wants STRING)
    cols = re.sub(r"\bVARCHAR\b(?!\s*\()", "STRING", cols,
                  flags=re.IGNORECASE)
    cols = re.sub(r"\bTEXT\b", "STRING", cols, flags=re.IGNORECASE)
    return (f"CREATE TABLE {ine}{m.group('name')}{cols} USING {fmt} "
            f"OPTIONS ({', '.join(opts)})")



# ------------------------------------------------- mixed interval literals
# DF40/Postgres accept one literal mixing year-month and day-time units
# (INTERVAL '1 month 2 days'); Spark's interval TYPES are split
# (YearMonthIntervalType vs DayTimeIntervalType), so the single literal
# cannot parse.  In ADDITIVE position the literal splits losslessly:
# ``x + INTERVAL 'ym dt'`` == ``x + INTERVAL 'ym' + INTERVAL 'dt'`` —
# months first, then days, exactly Postgres' evaluation order — and the
# subtraction case distributes the sign.  A mixed literal OUTSIDE a +/-
# context passes through untouched and fails loudly (no silent guess).
_YM_UNITS = r"(?:years?|months?)"
_DT_UNITS = r"(?:weeks?|days?|hours?|minutes?|mins?|seconds?|secs?|"            r"milliseconds?|microseconds?)"
_MIXED_INTERVAL_RE = re.compile(
    r"([+-])\s*INTERVAL\s+'\s*"
    r"((?:[+-]?\d+\s+" + _YM_UNITS + r"\s*)+)"
    r"((?:[+-]?\d+\s+" + _DT_UNITS + r"\s*)+)'",
    re.IGNORECASE)


def rewrite_mixed_interval(sql: str) -> str:
    def _split(m: re.Match) -> str:
        sign, ym, dt = m.group(1), m.group(2).strip(), m.group(3).strip()
        return f"{sign} INTERVAL '{ym}' {sign} INTERVAL '{dt}'"
    return _sub_code(_MIXED_INTERVAL_RE, _split, sql)


PASSES_RAW = [
    rewrite_external_table,  # whole-statement DDL, runs first
    rewrite_mixed_interval,  # consumes its interval literal
    rewrite_distinct_on,
    rewrite_similar_to,
    rewrite_regexp_flags,
    rewrite_to_char,
    rewrite_arrow_cast,    # consumes its type-name literal
    rewrite_get_field,     # consumes its field-name literal
    rewrite_at_time_zone,
]


# ------------------------------------------------- Postgres regex operators
# DF40 (sqlparser) accepts ``expr ~ 'pat'`` / ``~*`` (case-insensitive) /
# ``!~`` / ``!~*``; Spark has no infix regex operator.  Runs on MASKED sql:
# the pattern literal is a placeholder token, so the rewrite just
# repositions it into regexp_like.  A PREFIX ``~`` (bitwise not) never
# matches — the pattern requires an operand immediately before the op.
_REGEX_OP_RE = re.compile(
    rf"(?P<lhs>{_NAME}|'\x00\d+\x00')\s*"
    r"(?P<op>!~~\*|!~~|~~\*|~~|!~\*|!~|~\*|~)\s*"
    rf"(?P<rhs>'\x00\d+\x00'|{_NAME})")


def rewrite_regex_operators(sql: str) -> str:
    """Also covers the Postgres LIKE-operator spellings DF40 parses:
    ``~~`` (LIKE), ``~~*`` (ILIKE), and their ``!``-negations — Spark
    has LIKE/ILIKE keywords, so those just re-keyword."""
    def repl(m: re.Match) -> str:
        lhs, op, rhs = m.group("lhs"), m.group("op"), m.group("rhs")
        neg = op.startswith("!")
        core = op.lstrip("!")
        if core.startswith("~~"):
            kw = "ILIKE" if core.endswith("*") else "LIKE"
            call = f"{lhs} {kw} {rhs}"
            return f"NOT ({call})" if neg else call
        pat = rhs if "*" not in op else f"concat('(?i)', {rhs})"
        call = f"regexp_like({lhs}, {pat})"
        return call if not neg else f"NOT {call}"
    return _REGEX_OP_RE.sub(repl, sql)


# ------------------------------------------------------------------ QUALIFY
# DuckDB/BigQuery/Snowflake-style ``QUALIFY <pred>`` filters on window
# results without a subquery.  Spark has no QUALIFY; the exact rewrite
# wraps the statement and filters OUTSIDE, which resolves the predicate
# against the SELECT-list aliases — the idiomatic way QUALIFY is
# written (``QUALIFY rn = 1`` over an aliased row_number()).  A
# predicate repeating a raw window expression instead of its alias
# fails Spark's analysis loudly rather than silently mis-filtering.
# Runs on MASKED sql, so 'QUALIFY' inside string literals never fires.
# QUALIFY inside parenthesized blocks (subqueries, CTE bodies, derived
# tables) is rewritten by recursing into each depth-0 paren group
# before the top-level split — DuckDB/Snowflake accept it anywhere a
# SELECT appears, so the pass must too (ADVICE r3).

def rewrite_qualify(sql: str) -> str:
    if "QUALIFY" not in sql.upper():
        return sql
    out, pos = [], 0
    for (_, i), (j, _) in pairwise(_top_level(sql)):
        if sql[i] == "(":  # a paren group, sql[i+1:j-1], ends this span
            out += (sql[pos:i + 1], rewrite_qualify(sql[i + 1:j - 1]))
            pos = j - 1
    sql = "".join(out) + sql[pos:]
    found = list(_top_matches(sql, re.compile(r"\bQUALIFY\b", re.I)))
    if not found:
        return sql
    return (f"SELECT * FROM ({sql[:found[-1].start()].strip()}) __qualify "
            f"WHERE {sql[found[-1].end():].strip()}")


# ------------------------------------------- GROUPING SETS over empty input
# Engine divergence (GAPS.md, found by the grouping-set fuzz): over an
# EMPTY input, a grouping-set list containing the grand-total () set —
# explicitly, or implicitly via CUBE/ROLLUP — yields one row per () set
# (COUNT=0, other aggregates NULL; SQL-standard / Postgres / DuckDB /
# DataFusion-40 via lib.rs:678), but Spark's Expand-based implementation
# yields ZERO rows.  The exact shim: UNION ALL the statement with a
# GLOBAL-aggregate twin of itself guarded by HAVING COUNT(*) = 0.  Over
# a non-empty input the guard filters the twin's one row out; over an
# empty input the global aggregate produces exactly the standard's
# grand-total row — COUNT(*)=0, every other aggregate NULL, every
# grouping column NULL (grouping-column references in the twin are
# substituted with NULL, which is also their standard value in the ()
# row), GROUPING(col)=1.  The pass is deliberately conservative: any
# shape it cannot prove it rewrites correctly (set operations, window
# functions, GROUPING_ID, non-column grouping expressions nested inside
# other select items, ungrouped references it cannot attribute to an
# aggregate) is returned unchanged, preserving Spark's behavior there.

_AGG_HEADS = frozenset((
    "sum", "count", "min", "max", "avg", "mean", "stddev", "stddev_samp",
    "stddev_pop", "variance", "var_samp", "var_pop", "corr", "covar_samp",
    "covar_pop", "skewness", "kurtosis", "first", "last", "any_value",
    "collect_list", "collect_set", "array_agg", "string_agg", "listagg",
    "approx_count_distinct", "approx_percentile", "percentile",
    "percentile_approx", "median", "mode", "bit_and", "bit_or", "bit_xor",
    "bool_and", "bool_or", "every", "some", "count_if", "max_by", "min_by",
    "regr_slope", "regr_intercept", "regr_r2", "regr_avgx", "regr_avgy",
    "regr_count", "regr_sxx", "regr_syy", "regr_sxy",
))

_EXPR_KEYWORDS = frozenset((
    "null", "true", "false", "and", "or", "not", "case", "when", "then",
    "else", "end", "in", "is", "between", "like", "ilike", "rlike",
    "distinct", "interval", "over", "filter", "where", "asc", "desc",
    "nulls", "first", "last", "escape", "all", "any", "exists", "as",
    "by", "partition", "order", "group", "day", "month", "year",
    "hour", "minute", "second", "week", "quarter",
))


# an identifier, a masked quoted identifier, or a paren
_IDENT_OR_CALL_RE = re.compile(r"[A-Za-z_][\w.]*|`\x00\d+\x00`|\(|\)")


def _has_unattributed_ident(expr: str) -> bool:
    """True if expr contains an identifier that is neither a function
    head nor enclosed (at any depth) in an aggregate call nor a keyword
    — i.e. a column reference a global aggregate cannot resolve."""
    stack: list[str] = []
    prev_kw = ""
    pos = 0
    while True:
        m = _IDENT_OR_CALL_RE.search(expr, pos)
        if m is None:
            return False
        tok = m.group(0)
        pos = m.end()
        if tok == "(":
            stack.append("")
            continue
        if tok == ")":
            if stack:
                stack.pop()
            continue
        nxt = expr[pos:pos + 2].lstrip()[:1]
        low = tok.lower()
        if nxt == "(":
            # function head: remember it for the paren we're about to push
            m2 = _IDENT_OR_CALL_RE.search(expr, pos)
            if m2 is not None and m2.group(0) == "(":
                pos = m2.end()
                stack.append(low)
            prev_kw = low
            continue
        if low in _EXPR_KEYWORDS:
            prev_kw = low
            continue
        if (prev_kw in ("as", "cast", "try_cast")  # cast target type name
                or expr[:m.start()].rstrip().endswith("::")):
            prev_kw = low
            continue
        if not any(h in _AGG_HEADS for h in stack):
            return True
        prev_kw = low
    return False


_GSPEC_RE = re.compile(r"^\s*(GROUPING\s+SETS|CUBE|ROLLUP)\s*\(", re.I)
_GROUPING_CALL_RE = re.compile(r"^GROUPING\s*\((?P<inner>[^()]*)\)$",
                               re.I | re.S)
_SELECT_ALIAS_RE = re.compile(
    r"^(?P<e>.*?)\s+AS\s+(?P<a>[A-Za-z_]\w*)\s*$", re.I | re.S)


def _order_by_resolves_against_output(suffix: str,
                                      select_list: str) -> bool:
    """True when every ORDER BY item in ``suffix`` still resolves after
    the statement is wrapped in a UNION ALL — i.e. it is an integer
    position or an identifier naming one of the select list's OUTPUT
    columns (the alias when aliased, the bare column name otherwise)."""
    ob = _find_top(suffix, "ORDER BY")
    if ob is None:
        return True
    rest = suffix[ob + len("ORDER BY"):]
    end = len(rest)
    for kw in ("LIMIT", "OFFSET"):
        p = _find_top(rest, kw)
        if p is not None:
            end = min(end, p)
    out_names = set()
    for item in _split_commas(select_list):
        am = _SELECT_ALIAS_RE.match(item.strip())
        if am is not None:
            out_names.add(am.group("a").lower())
        elif re.fullmatch(r"[A-Za-z_][\w.]*", item.strip()):
            out_names.add(item.strip().split(".")[-1].lower())
    for item in _split_commas(rest[:end]):
        t = re.sub(r"\s+(ASC|DESC)\b", "", item, flags=re.I)
        t = re.sub(r"\s+NULLS\s+(FIRST|LAST)\b", "", t, flags=re.I).strip()
        if re.fullmatch(r"\d+", t):
            continue
        if (re.fullmatch(r"[A-Za-z_]\w*", t)
                and t.lower() in out_names):
            continue
        return False
    return True


def rewrite_grouping_sets_empty(sql: str) -> str:
    up = sql.upper()
    if ("GROUPING SETS" not in up and "CUBE" not in up
            and "ROLLUP" not in up):
        return sql
    # Top-level set operations make "which branch owns the GROUP BY"
    # ambiguous for a text pass — and an already-shimmed statement
    # contains our own UNION ALL; both bail.
    for kw in ("UNION", "INTERSECT", "EXCEPT"):
        if _find_top(sql, kw) is not None:
            return sql
    gb = _find_top(sql, "GROUP BY")
    if gb is None:
        return sql
    pre, post = sql[:gb], sql[gb + len("GROUP BY"):]
    m = _GSPEC_RE.match(post)
    if m is None:
        return sql
    kind = re.sub(r"\s+", " ", m.group(1).upper())
    *_, (_, j) = _top_level(post, m.end())
    if post[j:j + 1] != ")":  # the spec's closing paren
        return sql
    body, tail = post[m.end():j], post[j + 1:]

    def flatten(member: str) -> list[str]:
        member = member.strip()
        if member.startswith("(") and member.endswith(")"):
            inner = member[1:-1].strip()
            return ([] if not inner
                    else [e.strip() for e in _split_commas(inner)])
        return [member] if member else []

    if kind == "GROUPING SETS":
        sets = [s.strip() for s in _split_commas(body)]
        # A nested CUBE/ROLLUP/GROUPING SETS member contributes its OWN
        # grand-total set(s) — e.g. GROUPING SETS (ROLLUP(a), ()) is TWO
        # ()-sets, not one.  Treating it as a plain grouping expression
        # undercounts n_empty and silently emits too few sentinel rows;
        # the pass's contract is bail-if-unprovable, so bail.
        if any(_GSPEC_RE.match(s) for s in sets):
            return sql
        n_empty = sum(1 for s in sets if s in ("()", "( )")
                      or (s.startswith("(") and s.endswith(")")
                          and not s[1:-1].strip()))
        group_exprs = [e for s in sets for e in flatten(s)]
    else:  # CUBE / ROLLUP always include the grand-total set once
        n_empty = 1
        group_exprs = [e for s in _split_commas(body)
                       for e in flatten(s)]
    if n_empty == 0:
        return sql

    norm = lambda s: re.sub(r"\s+", "", s).lower()  # noqa: E731
    g_norms = {norm(e) for e in group_exprs}
    g_idents = [e.strip() for e in group_exprs
                if re.fullmatch(_NAME, e.strip())]
    g_nonident = [e for e in group_exprs
                  if not re.fullmatch(_NAME, e.strip())]

    # Split pre into head (CTEs) + SELECT list + FROM part.
    sel = _find_top(pre, "SELECT")
    if sel is None:
        return sql
    rest = pre[sel + len("SELECT"):]
    frm = _find_top(rest, "FROM")
    if frm is None:
        return sql
    select_list, from_part = rest[:frm], rest[frm + len("FROM"):]

    def substitute(expr: str) -> str | None:
        """Rewrite one expression for the grand-total twin; None = the
        pass cannot prove the rewrite, caller bails."""
        e = expr.strip()
        gm = _GROUPING_CALL_RE.match(e)
        if gm is not None:
            return "1" if norm(gm.group("inner")) in g_norms else None
        if norm(e) in g_norms:
            return "NULL"
        if "GROUPING_ID" in e.upper() or re.search(r"\bOVER\b", e, re.I):
            return None
        t = e
        for g in g_idents:
            t = re.sub(rf"(?<![\w.]){re.escape(g)}(?![\w.(])", "NULL", t)
        if any(norm(g) in norm(t) for g in g_nonident if g.strip()):
            return None  # non-column grouping expr nested somewhere
        if _has_unattributed_ident(t):
            return None
        return t

    twin_items = []
    for item in _split_commas(select_list):
        am = _SELECT_ALIAS_RE.match(item.strip())
        expr = am.group("e") if am is not None else item.strip()
        sub = substitute(expr)
        if sub is None:
            return sql
        twin_items.append(sub)

    # Tail: [HAVING pred] [ORDER BY ... / LIMIT ... / OFFSET ...]
    suffix_at = len(tail)
    for kw in ("ORDER BY", "LIMIT", "OFFSET"):
        p = _find_top(tail, kw)
        if p is not None:
            suffix_at = min(suffix_at, p)
    clause_part, suffix = tail[:suffix_at], tail[suffix_at:]
    hv = _find_top(clause_part, "HAVING")
    twin_having = "COUNT(*) = 0"
    if hv is not None:
        pred = clause_part[hv + len("HAVING"):].strip()
        if clause_part[:hv].strip():
            return sql  # unexpected clause between GROUP BY and HAVING
        sub = substitute(pred)
        if sub is None:
            return sql
        twin_having += f" AND ({sub})"
    elif clause_part.strip():
        return sql  # unrecognized trailing clause

    # The injected UNION ALL moves the original ORDER BY after the set
    # operation, where Spark resolves it against the union's OUTPUT
    # columns only — 'SELECT a AS x ... ORDER BY a' is valid raw Spark
    # but fails analysis post-rewrite.  Bail unless every ORDER BY item
    # is an integer position or an identifier naming an output column.
    if not _order_by_resolves_against_output(suffix, select_list):
        return sql

    # head (the WITH-clause prefix, if any) is already part of `pre`;
    # the twin goes AFTER the original branch, so CTEs stay visible to
    # both sides of the union.
    base = pre + "GROUP BY" + post[:j + 1] + clause_part
    twin = (f"SELECT {', '.join(twin_items)} FROM{from_part} "
            f"HAVING {twin_having}")
    return (base + ("\nUNION ALL\n" + twin) * n_empty
            + ("\n" + suffix if suffix.strip() else suffix))


PASSES_MASKED = [
    rewrite_qualify,
    rewrite_grouping_sets_empty,
    rewrite_regex_operators,
    rewrite_pg_casts,
    rewrite_params,
    rename_functions,
]


def rewrite_sql(sql: str) -> str:
    """Translate one DataFusion-dialect statement to Spark SQL."""
    for p in PASSES_RAW:
        sql = p(sql)
    masked, saved = mask(sql)
    for p in PASSES_MASKED:
        masked = p(masked)
    return unmask(masked, saved)


def find_params(sql: str) -> list[str]:
    """``$n`` parameter names present in code — the correct basis for
    "does this statement have parameters" decisions (a literal like
    'costs $5' must not count)."""
    masked, _ = mask(sql)
    return sorted({m.group(1) for m in _PARAM_RE.finditer(masked)},
                  key=int)
