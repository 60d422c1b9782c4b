"""DataFusion/Postgres SQL dialect → Spark SQL translation layer.

The reference accepts DataFusion-40 SQL (sqlparser 0.47 generic+Postgres
dialect) through its single gateway ``ctx.sql(user_query)``
(iceberg-datafusion-arrow-flight/src/lib.rs:678).  Spark SQL covers ~95% of that
surface with identical spelling; this package closes the rest:

- :mod:`.rewrite` — data-driven source-to-source rewrites for constructs
  Spark spells differently (Postgres type names after ``::``,
  double-quoted identifiers, ``$n`` parameters, ``DISTINCT ON``,
  ``SIMILAR TO``, function-name aliases, ``to_char`` patterns,
  ``regexp_replace`` flags).  One lexer finds the string literals,
  quoted identifiers and comments, and no rewrite reaches inside them;
  ``expr::type`` itself is left to Spark's parser.
- :mod:`..functions.aliases` — SQL scalar UDFs (Spark 4 ``CREATE
  TEMPORARY FUNCTION ... RETURN expr`` — pure Catalyst expressions,
  inlined into codegen) for DataFusion names whose argument order or
  semantics differ.

Everything stays JVM-side: no Python UDF is involved in any rewrite.
"""

from .rewrite import rewrite_sql, split_params

__all__ = ["rewrite_sql", "split_params"]
