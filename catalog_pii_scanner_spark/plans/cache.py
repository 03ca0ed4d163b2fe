"""Cache/lineage discipline helpers.

Operators that persist a big intermediate (melted values, shingle sets,
exploded vectors) must not leak it into a long-lived session: Spark's
CacheManager never releases cached plans on its own, so a multi-query
session accumulates them until GC pressure (the failure mode a bigger
heap only postpones). The pattern here: materialize the (small) result
with an eager ``localCheckpoint`` — truncating lineage so downstream
jobs replan against the materialized relation instead of re-deriving the
persisted input — then ``unpersist`` every intermediate before
returning. Checkpoint blocks themselves are ContextCleaner-managed: they
free on driver GC once the caller drops the DataFrame reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def session_parallelism(spark: SparkSession) -> int:
    """The session's scale knob: ``spark.sql.shuffle.partitions`` when it
    is a plain number, else the cluster's default parallelism. Some AQE
    configurations surface a non-numeric value ("auto") for the conf, and
    a session built outside session.py may not set it at all — the
    fallback keeps every fan-out consumer working on any session."""
    value = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        return int(value)
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism


def checkpoint_release(result: DataFrame, *intermediates: DataFrame
                       ) -> DataFrame:
    """Eagerly materialize ``result``, then unpersist ``intermediates``."""
    out = result.localCheckpoint(eager=True)
    for df in intermediates:
        df.unpersist()
    return out


def fan_out(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition a narrow-parallelism relation up to the
    session's shuffle parallelism before a CPU-bound stage (Python/Arrow
    extraction, media decode, BLAS matmul, wide explodes).

    Why: a small single-file parquet scan arrives as ONE split — one
    task — which serializes every downstream narrow stage onto a single
    core until the first exchange (optimization guide (2.5 input skew,
    (4.1 the Python boundary). On a production layout the scan already
    carries >= the session parallelism and this returns the input
    unchanged, so the (tiny) extra exchange is paid exactly when it buys
    parallel compute. The target defaults to
    ``spark.sql.shuffle.partitions`` — the session's scale knob
    ($SPARK_GRAFT_CPUS locally) — never a constant.

    Correctness: round-robin repartition changes only row placement
    (deterministic under retry via sortBeforeRepartition); every
    consumer downstream of a fan_out is row-order-free (per-row
    projections, exact/rounded aggregates, joins), the property the
    7-vs-32 shuffle-partition invariance gate pins suite-wide."""
    target = parts or session_parallelism(df.sparkSession)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
