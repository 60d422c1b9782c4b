"""iceberg_datafusion_arrow_flight_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference system
``dashbook/iceberg-datafusion-arrow-flight`` (an Arrow Flight SQL server
wrapping a DataFusion 40 ``SessionContext`` over Iceberg catalogs — see
``/root/reference/iceberg-datafusion-arrow-flight/src/lib.rs``) on top of
Apache Spark:

- **Query engine**: Spark SQL / Catalyst replaces DataFusion. The full
  DataFusion-40 SQL surface (scans, joins, aggregates, windows, set ops,
  subqueries, scalar/aggregate functions) is expressed through the
  DataFrame API and ``spark.sql`` — see :mod:`.plans`.
- **Dialect shim**: DataFusion/Postgres-dialect SQL constructs that Spark
  spells differently (``DISTINCT ON``, ``::`` casts, function-name aliases,
  NULLS ordering defaults) are rewritten by :mod:`.dialect`.
- **Service layer**: the reference's session / prepared-statement /
  ticket semantics (lib.rs:80-82, 198-259, 601-730) are reproduced
  in :mod:`.service`, with an optional Arrow Flight front door.
- **Sources**: Parquet-backed tables registered per-session (Iceberg
  catalog wiring is config-gated — the runtime jar is not present in the
  dev container); see :mod:`.sources`.
- **Extensions**: large-scale training-data-pipeline operators (exact and
  approximate dedup, similarity search, text analysis, multimodal
  plumbing, structured streaming over events) in :mod:`.operators` and
  :mod:`.streaming`.
"""

from .session import get_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
