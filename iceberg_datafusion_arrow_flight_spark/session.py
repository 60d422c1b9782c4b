"""SparkSession factory.

Mirrors the reference's session construction (``create_ctx`` at
iceberg-datafusion-arrow-flight/src/lib.rs:87-132): one root engine context,
engine tunables taken from the environment (the reference honors
``DATAFUSION_*`` env via ``SessionConfig::from_env`` at lib.rs:89 — we honor
``SPARK_GRAFT_*`` analogues), and per-connection child sessions cloned from
one template session (shared catalog, isolated temp views) — see
:mod:`.service.engine`.

Scale posture: these configs are written for a real cluster (AQE on with
skew-join handling, partition coalescing, broadcast threshold) and merely
*run* on local[N] in tests. Nothing here assumes single-node execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine tunables.  The reference exposes DataFusion's config via env
# (lib.rs:89); the analogous Spark knobs, env-overridable:
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-planning, partition coalescing and
    # skew-join splitting.  DataFusion 40 has no AQE (SURVEY §4.3) — Spark's
    # is strictly beneficial and essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast threshold: dimension tables (region/nation/customer/supplier/
    # part at TPC-H ratios) stay broadcastable far beyond sf0.1; the fact
    # table never is.  10 MB default is fine; AQE converts to broadcast at
    # runtime when a side turns out small.
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    # Arrow for pandas interchange — the reference is Arrow end-to-end
    # (SURVEY §1.2); on Spark, Arrow appears at the Python boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics for the DuckDB oracle comparisons:
    # fixtures carry naive timestamps; pin the session to UTC.
    "spark.sql.session.timeZone": "UTC",
    # Parquet pushdown — on by default, pinned explicitly because the
    # correctness of SURVEY §4.2 (scan pruning) depends on them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # The fixtures carry parquet TIMESTAMP(NANOS) columns (events.ts), which
    # Spark's reader rejects by default; read them as raw int64 nanos and
    # convert at registration time (sources.registry) — the µs truncation is
    # the documented Iceberg-Spark TIME/ns caveat (SURVEY §1.4).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Driver heap for local mode: in local[N] the "driver" JVM hosts every
    # executor thread, and Spark's 1g default is sized for a cluster
    # driver that only coordinates.  Effective only when the JVM starts
    # with this session (i.e. normal script/bench usage); ignored on an
    # already-running gateway or a real cluster (where executors get their
    # own spark.executor.memory).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # local[32] ≈ 32 cores: one shuffle partition per core.  On a real
    # cluster this is overridden (env below) to ~2-3× total cores, and AQE
    # coalesces down after the map stage.
    "spark.sql.shuffle.partitions": "32",
    # Keep scan partitions reasonable for the 128 MiB-row-group Parquet the
    # pipeline writes; at 100 TB this yields ~800k input splits, which the
    # DAG scheduler handles (it is designed for millions of tasks).
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def _env_conf() -> dict[str, str]:
    """``SPARK_GRAFT_CONF_spark__sql__x=v`` → ``spark.sql.x=v`` overrides."""
    out: dict[str, str] = {}
    prefix = "SPARK_GRAFT_CONF_"
    for key, val in os.environ.items():
        if key.startswith(prefix):
            out[key[len(prefix):].replace("__", ".")] = val
    return out


def get_spark(app_name: str = "iceberg-datafusion-arrow-flight-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or return the active) root SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured; on a real deployment the master comes from
    spark-submit and this argument is ignored.
    """
    # Python workers (mapInPandas / applyInPandas / Pandas UDFs) must run
    # THIS interpreter — under a stripped environment Spark falls back to
    # a bare `python3` from PATH, which may lack numpy/pandas and fails
    # the first Python-worker stage with ModuleNotFoundError (found by
    # the bench driver-contract test once a mapInPandas entry joined the
    # headline).  Only set when the caller hasn't chosen explicitly.
    import sys
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    conf.update(_env_conf())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(os.environ.get("SPARK_GRAFT_LOG_LEVEL", "ERROR"))
    return spark
