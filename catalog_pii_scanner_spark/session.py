"""SparkSession factory tuned for the PII-scan workload.

Local testing runs on ``local[N]``; the conf below is written for a real
multi-executor cluster at ~100 TB scale:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition counts
  self-tune as data volume scales 1000x.
- Arrow enabled for every pandas-UDF model stage (NER / embeddings); batch
  size capped so a batch of long text values fits executor memory.
- UTC session timezone (the reference stores tz-aware UTC timestamps).
- Parquet filter pushdown + vectorized reader left at defaults (on).
- Codegen cache sized to the scan (``CODEGEN_CACHE_ENTRIES``). Spark keeps
  generated classes in a JVM-wide LRU keyed by their source, sized by the
  static ``spark.sql.codegen.cache.maxEntries`` (default 100). One catalog
  scan compiles ~110 distinct classes, so at 100 the LRU thrashes: on a
  4-vCPU host every warm ``perfbench`` catalog iteration recompiled 80-95
  classes (~1.0-1.2 s of summed Janino time). At 2000 a warm iteration
  compiles 3: one in the findings records, two in the fingerprint
  sidecar. ``codegen_counters`` reads these counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Cores of the default ``local[N]`` master and the default shuffle
#: partition count: ``$SPARK_GRAFT_CPUS`` when set, else the CPUs this
#: process may run on (a fixed 32 gave a 4-vCPU host 32 task slots).
LOCAL_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
                 or len(os.sched_getaffinity(0)))

#: ``spark.sql.codegen.cache.maxEntries`` default: room for a catalog
#: scan's ~110 generated classes many times over (the driver contract's
#: 150 queries share one JVM too). Measured on a 4-vCPU host, seed 1:
#: warm catalog iterations fell from 80-95 compiled classes to 3, and
#: ``perfbench`` ``catalog_full_scan`` ``wall_s`` from a median of 5.65 s
#: to 4.04 s over 10 pairs, while the JVM's non-heap use (302 -> 284 MB),
#: loaded classes (26.0k -> 25.2k) and HotSpot JIT time (143 -> 124 s)
#: after 7 iterations did not grow. Static: it only takes effect if set
#: before the JVM generates its first class.
CODEGEN_CACHE_ENTRIES = 2000

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


def session_conf(
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The session conf ``get_spark`` builds with: the defaults below,
    then ``extra_conf`` on top (a caller's value always wins)."""
    conf = {
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or LOCAL_CPUS
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
        # static: a scan's generated classes must all fit the LRU, or
        # every warm scan recompiles them (module docstring)
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "catalog-pii-scanner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[LOCAL_CPUS]`` so the same entry
    points run unchanged on a cluster (where ``master`` comes from
    spark-submit and this arg stays None -> builder default).
    """
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{LOCAL_CPUS}]"
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_counters(spark: SparkSession) -> tuple[int, float, int]:
    """(classes compiled, summed Janino ms, HotSpot JIT ms) so far in
    this session's JVM; subtract two readings to cost a step.

    Classes and Janino ms come from Spark's ``CodegenMetrics``
    compilation-time histogram: its count, and mean x count. The
    histogram's reservoir is sampled, so the ms figure is an estimate
    (a small difference of two readings can come out negative); the
    count is exact. JIT ms is the JVM's total compile time
    (``CompilationMXBean``). In local mode the executors share the
    driver JVM, so their compiles are counted too."""
    jvm = spark.sparkContext._jvm
    hist = (jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME())
    n = hist.getCount()
    janino_ms = hist.getSnapshot().getMean() * n
    jit_ms = (jvm.java.lang.management.ManagementFactory
              .getCompilationMXBean().getTotalCompilationTime())
    return n, janino_ms, jit_ms
