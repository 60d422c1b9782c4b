"""Dialect function registration, once per service (SURVEY §2.9, §7.1).

The reference registers exactly two custom scalar UDFs per session —
``current_schema`` / ``current_database`` reading env with defaults
(iceberg-datafusion-arrow-flight/src/lib.rs:106-128, udf.rs:23-104); every other
function comes from the pinned ``datafusion-functions`` crates.  Spark
provides both of those natively, plus ~90% of the DataFusion-40 function
inventory under identical names; :mod:`.aliases` closes the remainder
with Spark-4 SQL scalar UDFs (pure Catalyst expressions — codegen'd,
zero Python).
"""

from .aliases import register_dialect_functions

__all__ = ["register_dialect_functions"]
