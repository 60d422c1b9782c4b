"""Input fan-out guard for compute-heavy stages.

Parquet parallelism is bounded by row-group boundaries: a table written
as a handful of large row groups (or one small file) yields fewer scan
splits than the cluster has cores, and every codegen-heavy projection
downstream — MinHash signatures, n-gram explosion, embedding folds —
runs on those few cores while the rest idle.  At the 100 TB target this
never happens (file splits vastly outnumber executors, so the guard is
a no-op); it bites exactly on small/medium inputs where one dense file
strands the session.

:func:`fan_out` is the one-line fix: round-robin repartition *only when*
the current split count is below the session's default parallelism.  The
repartition shuffles the not-yet-expanded input rows (cheap — it runs
before any explode/signature blow-up), and costs nothing on inputs that
are already split.  Apply it at the top of operators whose plans shuffle
anyway; pure scan→project pipelines keep their exchange-free plans.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from .materialize import materialize

# Serializes the conf flip in :func:`checkpoint_partitioned`.  Two
# concurrent callers could otherwise interleave save/flip/restore so one
# captures prev='false' (the other's transient state) and "restores" it,
# leaving AQE disabled session-wide forever.  Materialization blocks the
# calling thread anyway, so the lock costs nothing beyond serializing
# concurrent checkpoints — which the conf flip already required.
_CONF_FLIP_LOCK = threading.Lock()


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism iff it
    currently has fewer partitions; otherwise return it unchanged.

    Measured: sf0.1 ``documents`` is a single row group, so
    ``minhash_lsh_pairs`` ran its signature + verify stages on 1 of 32
    cores — 61.5 s; with the fan-out, 17.9 s, byte-identical output.
    """
    spark = df.sparkSession
    target = int(min_partitions or spark.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _parse_spark_bytes(value: str) -> int:
    """Parse a Spark byte-size conf string ('10485760', '10MB', '1g',
    '-1') into bytes; negative means broadcast disabled."""
    v = value.strip().lower()
    for suffix, mult in (("tb", 2**40), ("gb", 2**30), ("mb", 2**20),
                         ("kb", 2**10), ("t", 2**40), ("g", 2**30),
                         ("m", 2**20), ("k", 2**10), ("b", 1)):
        if v.endswith(suffix):
            return int(float(v[: -len(suffix)]) * mult)
    return int(v)


def fits_broadcast(df: DataFrame, n_rows: int, bytes_per_row: int = 96
                   ) -> bool:
    """True iff an iteration-state side of ``n_rows`` (node, value)
    rows fits the session's ``autoBroadcastJoinThreshold``.

    Iterative operators (pagerank, connected components, PQ Lloyd)
    keep O(nodes) state and join it against a checkpointed O(edges)
    table every round; whether the state side can broadcast decides
    the whole round shape (see the callers).  ``bytes_per_row`` prices a
    (long, double) row *as a broadcast HashedRelation* — UnsafeRow
    payload plus LongToUnsafeRowMap bucket/offset overhead, ~50-100 B in
    practice, not the 16 B of raw field bytes.  Because the callers
    apply a hard ``F.broadcast`` hint that BYPASSES the planner's own
    size check, this estimate must err on the fallback side: a
    wrongly-forced broadcast risks driver OOM at scale, while a wrongly
    declined one only costs one extra shuffle stage."""
    raw = df.sparkSession.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10MB")
    threshold = _parse_spark_bytes(raw)
    return threshold > 0 and n_rows * bytes_per_row <= threshold


def partition_count(df: DataFrame) -> int:
    """Partitions for an iterative operator's checkpointed tables:
    ``min(shuffle.partitions, max(defaultParallelism,
    ceil(sizeInBytes / advisoryPartitionSizeInBytes)))``.

    This is the target AQE's partition coalescing would reach, and
    :func:`checkpoint_partitioned` has to materialize with AQE off, so
    the operator applies it itself.  ``sizeInBytes`` is the optimizer's
    estimate and runs no job; pass a materialized (leaf) table — the
    estimate of an unmaterialized join is the product of its children's
    sizes without CBO, which would always give ``shuffle.partitions``.
    Small inputs get one partition per core instead of paying a task
    per (mostly empty) shuffle partition every round; at scale the count
    stays ``spark.sql.shuffle.partitions``."""
    spark = df.sparkSession
    conf = spark.conf
    advisory = _parse_spark_bytes(conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return min(int(conf.get("spark.sql.shuffle.partitions")),
               max(spark.sparkContext.defaultParallelism,
                   -(-size // advisory)))


def checkpoint_partitioned(df: DataFrame, *keys: str,
                           partitions: int | None = None) -> DataFrame:
    """Eager ``localCheckpoint`` that KEEPS a hash partitioning on
    ``keys`` visible to the planner.

    ``Dataset.localCheckpoint`` captures the materialized plan's output
    partitioning into the resulting ``LogicalRDD`` — but only when the
    plan is not wrapped in ``AdaptiveSparkPlanExec`` (AQE reports
    ``UnknownPartitioning``, so the capture degrades and every
    downstream join/agg on ``keys`` re-shuffles).  This helper disables
    AQE for just the checkpoint materialization and restores it, so a
    driver-loop operator can pay ONE up-front shuffle of its static
    table and run every iteration's ``groupBy(keys)`` (or co-located
    join) exchange-free — verified by plan inspection: the per-round
    ENSURE_REQUIREMENTS exchange disappears.

    With AQE off nothing coalesces the shuffle partitions, so the
    helper sizes them itself: ``partitions`` (default
    :func:`partition_count` of ``df``) is both the count of the output
    partitioning and ``spark.sql.shuffle.partitions`` for the
    materialization, so every exchange inside it lands on the same
    count and the final repartition is planned away when the plan is
    already partitioned on ``keys``.  An operator computes the count
    once from its edge table and passes it to every call, which keeps
    the tables it joins co-partitioned.

    The conf flip is session-wide for its (short) duration: a query
    planned concurrently in the same session would plan without AQE and
    with this shuffle partition count — a performance nuance, never a
    correctness one.  Concurrent *checkpoint* callers are serialized by
    :data:`_CONF_FLIP_LOCK` so interleaved save/flip/restore can never
    capture another caller's transient values and persist them past the
    helper's return.
    """
    spark = df.sparkSession
    n = partitions or partition_count(df)
    flips = {"spark.sql.adaptive.enabled": "false",
             "spark.sql.shuffle.partitions": str(n)}
    with _CONF_FLIP_LOCK:
        prev = {k: spark.conf.get(k) for k in flips}
        for k, v in flips.items():
            spark.conf.set(k, v)
        try:
            return (df.repartition(n, *[df[k] for k in keys])
                    .transform(materialize))
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
