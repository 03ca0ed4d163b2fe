"""Findings store + export sinks (reference K1/K5,
src/catalog_pii_scanner/db.py:110-241, cli.py:403-482).

The reference persists a normalized Catalog->Schema->Table->Column
hierarchy in SQLAlchemy with Findings as a child table, denormalizing
``column_ref`` onto Finding for export. Spark-first: the store IS the
denormalized DataFrame, persisted as parquet and keyed on the natural
key (column_ref, model_version): every write is a MERGE that keeps the
latest row per key (K1's get-or-create/update), so the store holds
exactly one row per key and reads need no dedup. The JDBC rendering
merges the same way.

Export (K5): JSON lines and CSV with the reference's export shape —
``types`` list flattened to a comma-joined string for CSV
(cli.py:458-467).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MODEL_VERSION = "cpss-spark-0.1"

FINDINGS_STORE_SCHEMA = (
    "column_ref string, types array<string>, confidence double, "
    "hit_rate double, model_version string, scanned_at timestamp, "
    "source string")


def to_findings_records(per_type: DataFrame,
                        source: str = "scan",
                        model_version: str = MODEL_VERSION) -> DataFrame:
    """Re-nest the per-(column, type) rollup into the reference's Finding
    shape: one row per column with ``types ARRAY<STRING>`` (sorted),
    column-level confidence = max over types.

    Materialized (eager ``localCheckpoint``): a scan's records are
    computed ONCE, and the collect, the store and JDBC merges and both
    write-backs read these rows instead of each re-running the rollup
    and this groupBy (two jobs per consumer). Every consumer therefore
    sees the same ``scanned_at`` — one per scan — where a lazy
    ``current_timestamp()`` was re-evaluated by each action. The rows
    are metadata-sized: one per column with PII."""
    return (
        per_type.groupBy("column_ref")
        .agg(
            F.array_sort(F.collect_set("pii_type")).alias("types"),
            F.max("confidence").alias("confidence"),
            F.max("hit_rate").alias("hit_rate"),
        )
        .withColumn("model_version", F.lit(model_version))
        .withColumn("scanned_at", F.current_timestamp())
        .withColumn("source", F.lit(source))
        .localCheckpoint(eager=True)
    )


def parse_since(spec: str) -> float:
    """``--since`` window spec -> hours: '24h', '7d', or a plain number
    of hours (reference README.md:200 promises ``--since 24h``; the
    option never existed in its CLI — this engine implements it)."""
    s = spec.strip().lower()
    if s.endswith("h"):
        return float(s[:-1])
    if s.endswith("d"):
        return float(s[:-1]) * 24.0
    return float(s)


def recently_scanned_refs(spark: SparkSession, store_path: str,
                          since_hours: float, now=None) -> frozenset[str]:
    """column_refs with a finding newer than ``now - since_hours`` — the
    skip set for an incremental scan. Driver-side set: the findings store
    is catalog-metadata-sized (one row per column), so collecting refs is
    the same driver-scale work as enumeration itself; the pruning then
    happens at PLAN CONSTRUCTION (columns never enter the melt), which no
    in-plan filter can match at 100 TB.

    ``now`` pins the clock for deterministic tests (None = wall clock).
    A missing store means nothing to skip; a store that exists is read
    with its declared schema, so one with no findings yet skips nothing
    and a corrupt one raises instead of silently rescanning everything.
    """
    if not _path_exists(spark, store_path):
        return frozenset()
    latest = spark.read.schema(MERGE_STORE_SCHEMA).parquet(store_path)
    now_col = (F.lit(now).cast("timestamp") if now is not None
               else F.current_timestamp())
    cutoff = now_col - F.expr(
        f"INTERVAL {int(round(since_hours * 3600))} SECONDS")
    rows = (latest.where(F.col("scanned_at") >= cutoff)
            .select("column_ref").collect())
    return frozenset(r.column_ref for r in rows)


#: Natural-key hash buckets for the MERGE store layout: updates rewrite
#: only the buckets containing changed keys.
MERGE_BUCKETS = 16

#: The keyed store's on-disk schema (the bucket is its partition column).
MERGE_STORE_SCHEMA = FINDINGS_STORE_SCHEMA + ", key_bucket int"


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop FileSystem — not
    probed with a read, which logs a FileNotFoundException stack trace
    on every first run."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()).exists(p)


def _has_buckets(spark: SparkSession, store_path: str) -> bool:
    """Whether the store already holds ``key_bucket=*`` partitions —
    the merge's "not a first write" test, asked of the path's Hadoop
    FileSystem so URI paths are seen too."""
    if not _path_exists(spark, store_path):
        return False
    jvm = spark.sparkContext._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(store_path, "key_bucket=*")
    return bool(pattern.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()).globStatus(pattern))


def _latest_per_key(all_rows: DataFrame, read_target: bool) -> DataFrame:
    """The MERGE step: the latest row per (column_ref, model_version) of
    stored (``_new`` = 0) UNION incoming (``_new`` = 1) rows, incoming
    winning scanned_at ties. ``read_target`` says ``all_rows`` reads the
    location the caller then overwrites: only then is the result
    materialized (eager localCheckpoint) before the write."""
    w = Window.partitionBy("column_ref", "model_version").orderBy(
        F.col("scanned_at").desc(), F.col("_new").desc())
    latest = (all_rows.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn", "_new"))
    return latest.localCheckpoint(eager=True) if read_target else latest


def merge_findings(spark: SparkSession, findings: DataFrame,
                   store_path: str,
                   num_buckets: int = MERGE_BUCKETS) -> None:
    """K1 full: MERGE-semantics upsert WITHOUT Delta (reference
    db.py:157-241 get-or-create/update): the store partitions by a
    stable hash bucket of the natural key (column_ref, model_version
    dedups inside); a merge rewrites ONLY the buckets containing
    incoming keys via dynamic partition overwrite, each rebuilt as
    latest-per-key from existing-in-bucket UNION incoming. Untouched
    buckets' files are not rewritten (asserted by test). Incoming rows
    win scanned_at ties. At 100 TB-scale stores this is the standard
    pre-Delta upsert layout: the rewrite cost is bounded by the touched
    buckets, and reads need no dedup window (the store holds exactly one
    row per key).

    Works for any Hadoop path (plain, ``file://``, ``hdfs://``,
    ``s3a://``): the store's buckets are found through its FileSystem.
    Dynamic overwrite is a per-write option, so the caller's session
    conf is left as it was."""
    bucket = F.pmod(F.xxhash64("column_ref"), F.lit(num_buckets)) \
        .cast("int")
    incoming = findings.withColumn("key_bucket", bucket) \
        .withColumn("_new", F.lit(1))
    if _has_buckets(spark, store_path):
        touched = [r.key_bucket for r in
                   incoming.select("key_bucket").distinct().collect()]
        existing = (
            spark.read.parquet(store_path)
            .where(F.col("key_bucket").isin(touched))
            .withColumn("_new", F.lit(0))
        )
        all_rows, read_target = existing.unionByName(incoming), True
    else:
        all_rows, read_target = incoming, False
    _latest_per_key(all_rows, read_target).write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("key_bucket").parquet(store_path)


def read_merged_findings(spark: SparkSession,
                         store_path: str) -> DataFrame:
    """The MERGE store holds exactly one row per key — no dedup window."""
    return spark.read.parquet(store_path).drop("key_bucket")


# --- JDBC sink (reference db.py targets SQLite/Postgres; Derby is the
# embedded JDBC database shipped with Spark, so this path runs for real
# in tests) -------------------------------------------------------------------

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _jdbc(df_or_spark, url: str, table: str, driver: str):
    opts = {"url": url, "dbtable": table, "driver": driver}
    if isinstance(df_or_spark, SparkSession):
        return df_or_spark.read.format("jdbc").options(**opts)
    return df_or_spark.write.format("jdbc").options(**opts)


def read_findings_jdbc(spark: SparkSession, url: str, table: str,
                       driver: str = DERBY_DRIVER) -> DataFrame:
    return _jdbc(spark, url, table, driver).load() \
        .withColumn("types", F.split("types", ","))


def merge_findings_jdbc(spark: SparkSession, findings: DataFrame,
                        url: str, table: str,
                        driver: str = DERBY_DRIVER) -> None:
    """MERGE-semantics upsert into the JDBC store: existing UNION
    incoming -> latest per (column_ref, model_version) -> keyed
    overwrite. The merged rows materialize (localCheckpoint) before the
    overwrite because the write truncates the table being read."""
    incoming = findings.withColumn("types", F.concat_ws(",", "types")) \
        .withColumn("_new", F.lit(1))
    try:
        existing = _jdbc(spark, url, table, driver).load() \
            .withColumn("_new", F.lit(0))
        all_rows, read_target = existing.unionByName(incoming), True
    except Exception:  # table does not exist yet -> plain create
        all_rows, read_target = incoming, False
    _jdbc(_latest_per_key(all_rows, read_target), url, table, driver) \
        .mode("overwrite").save()


def export_json(findings: DataFrame, path: str) -> None:
    findings.write.mode("overwrite").json(path)


def export_csv(findings: DataFrame, path: str) -> None:
    (findings
     .withColumn("types", F.concat_ws(",", "types"))
     .withColumn("scanned_at", F.date_format(
         "scanned_at", "yyyy-MM-dd'T'HH:mm:ssXXX"))
     .write.mode("overwrite").option("header", True).csv(path))


# --- column-fingerprint sidecar (the --incremental contract) ------------------
#
# The content half of the reference's promised --since semantics
# (operators/incremental.py has the full design): one row per column
# with the distinct-value-set fingerprint from the last completed
# scan. Metadata-scale (catalog-width), and MERGE-upsert semantics
# (round-11 ADVICE): a SCOPED run (--tables subset, a column-glob
# target) must not drop the stored fingerprints of out-of-scope
# columns — a whole-directory overwrite made alternating scoped
# --incremental runs thrash each other into full rescans. Stored rows
# whose column_ref the incoming batch does not carry are kept; a
# partial write must still never survive, so the merged relation is
# materialized (eager localCheckpoint breaks the read-from-the-
# overwrite-target dependency) before the atomic overwrite.

FP_SUBDIR = "_fingerprints"


def write_column_fingerprints(fps: DataFrame, store_path: str,
                              evict_missing: bool = False) -> None:
    """MERGE-upsert (column_ref, n_values, fp_hash) + scanned_at into
    the store's fingerprint sidecar: incoming rows replace stored rows
    with the same column_ref; stored rows outside the incoming scope
    survive. Callers write AFTER the scan's findings land, so a failed
    scan cannot mark columns fresh.

    Retention (r12 ADVICE): the keep-out-of-scope rule means refs for
    columns DROPPED from the catalog (or renamed) survive forever by
    default — and a recreated column with the same ref and matching
    content would be pruned by its stale row. ``evict_missing=True``
    is the compaction path: the caller asserts ``fps`` covers the FULL
    current scope (an unfiltered run — no table/column globs, no
    --since pruning), so stored refs absent from it are genuinely gone
    from the catalog and are dropped. Scoped runs MUST keep the
    default, or they thrash each other's fingerprints back into full
    rescans (the round-11 ADVICE bug the merge fixed)."""
    import os
    spark = fps.sparkSession
    incoming = (fps.select("column_ref", "n_values", "fp_hash")
                .withColumn("scanned_at", F.current_timestamp()))
    stored = read_column_fingerprints(spark, store_path)
    if stored is not None and not evict_missing:
        # one row per column (metadata scale): materialize before the
        # overwrite so the write never reads the directory it replaces
        merged = incoming.unionByName(
            stored.join(incoming.select("column_ref"),
                        "column_ref", "left_anti")) \
            .localCheckpoint(eager=True)
    else:
        # reads nothing from the target: written straight through
        merged = incoming
    merged.write.mode("overwrite").parquet(os.path.join(store_path,
                                                        FP_SUBDIR))


def read_column_fingerprints(spark: SparkSession,
                             store_path: str) -> DataFrame | None:
    """The stored sidecar, or None when it does not exist yet (first
    run -> full scan). A sidecar that exists but cannot be read raises
    (the recently_scanned_refs rule). Read through a glob of its part
    files: the reader drops a root path whose name starts with '_' as
    hidden and logs "All paths were ignored" for it."""
    import os
    path = os.path.join(store_path, FP_SUBDIR)
    if not _path_exists(spark, path):
        return None
    return spark.read.parquet(os.path.join(path, "*.parquet"))


def changed_column_refs(spark: SparkSession, store_path: str,
                        current_fps: DataFrame) -> frozenset[str] | None:
    """column_refs whose stored fingerprint is missing or differs from
    ``current_fps`` — the rescan set. None = no sidecar yet (callers
    full-scan). Driver-side set: both relations are one row per column
    (the same metadata scale as recently_scanned_refs)."""
    stored = read_column_fingerprints(spark, store_path)
    if stored is None:
        return None
    old = (stored.select("column_ref",
                         F.col("n_values").alias("o_n"),
                         F.col("fp_hash").alias("o_h")))
    rows = (current_fps.join(old, "column_ref", "left")
            .where(F.col("o_n").isNull()
                   | (F.col("n_values") != F.col("o_n"))
                   | (F.col("fp_hash") != F.col("o_h")))
            .select("column_ref").collect())
    return frozenset(r.column_ref for r in rows)
