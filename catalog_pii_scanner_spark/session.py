"""SparkSession factory tuned for the PII-scan workload.

Local testing runs on ``local[N]``; the conf below is written for a real
multi-executor cluster at ~100 TB scale:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition counts
  self-tune as data volume scales 1000x.
- Arrow enabled for every pandas-UDF model stage (NER / embeddings); batch
  size capped so a batch of long text values fits executor memory.
- UTC session timezone (the reference stores tz-aware UTC timestamps).
- Parquet filter pushdown + vectorized reader left at defaults (on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Upper bound of the derived driver heap, in MiB.
MAX_DRIVER_MEMORY_MB = 24 * 1024


def driver_memory(environ=os.environ, meminfo: str = "/proc/meminfo") -> str:
    """Driver heap size: ``$SPARK_DRIVER_MEMORY`` when set, else three
    quarters of the machine's MemTotal capped at 24g (in local mode the
    driver heap is the executor heap too), else Spark's own 1g where
    MemTotal cannot be read."""
    if environ.get("SPARK_DRIVER_MEMORY"):
        return environ["SPARK_DRIVER_MEMORY"]
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "1g"
    return f"{min(kib * 3 // 4 // 1024, MAX_DRIVER_MEMORY_MB)}m"


def get_spark(
    app_name: str = "catalog-pii-scanner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same entry
    points run unchanged on a cluster (where ``master`` comes from
    spark-submit and this arg stays None -> builder default).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    conf = {
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # long text values: keep Arrow batches bounded (~10k rows of ~1-10 KB
        # text ~= tens of MB per batch per core)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # findings/dim tables are small; let Catalyst broadcast them
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # testdata events.parquet carries TIMESTAMP(NANOS) which the reader
        # rejects by default; read as long + convert (sources/melt.py
        # read_table restores timestamp semantics at microsecond precision)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # single-JVM local mode: driver heap IS the executor heap; size it
        # so suite-long persisted relations + concurrent task buffers
        # don't trigger GC storms, within what the machine has
        "spark.driver.memory": driver_memory(),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
