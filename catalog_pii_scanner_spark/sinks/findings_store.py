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

Layout: a store holds two parts, ``findings`` and ``fingerprints`` (the
``--incremental`` sidecar), each a sequence of immutable snapshots:
``<part>/v<N>-<uuid>/`` holds version N's rows, ``<part>/_commits/<N>``
that directory's name. A write reads the latest version N (one listing
of ``_commits/``), writes a fresh ``v<N+1>-<uuid>`` (never a directory
it reads) and commits it by creating ``_commits/<N+1>`` with
``FileSystem.create(overwrite=false)``: a crashed writer leaves an
orphan no reader sees; one whose base was committed past loses the
create and raises. A commit of version N deletes the snapshots older
than the last ``RETAINED_VERSIONS`` and the other writers' ``v<N>-*``,
so an orphan is gone within two later commits. Commit files stay, or a
stale writer could commit a pruned number again. Single writer: the
create is atomic on HDFS, check-then-create (best-effort) on the local
FS and S3A; plain S3 has no conditional create. An older layout's store
is refused, not migrated.

Export (K5): JSON lines and CSV with the reference's export shape —
``types`` list flattened to a comma-joined string for CSV
(cli.py:458-467).
"""

from __future__ import annotations

import uuid
from contextlib import closing

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MODEL_VERSION = "cpss-spark-0.1"

FINDINGS_STORE_SCHEMA = (
    "column_ref string, types array<string>, confidence double, "
    "hit_rate double, model_version string, scanned_at timestamp, "
    "source string")

#: Each store part's on-disk schema: reads run no inference job.
PART_SCHEMAS = {"findings": FINDINGS_STORE_SCHEMA,
                "fingerprints": "column_ref string, n_values bigint, "
                                "fp_hash bigint, scanned_at timestamp"}


def to_findings_records(per_type: DataFrame,
                        source: str = "scan") -> DataFrame:
    """Re-nest the per-(column, type) rollup into the reference's Finding
    shape: one row per column with ``types ARRAY<STRING>`` (sorted),
    column-level confidence = max over types.

    Materialized (eager ``localCheckpoint``): a scan's records are
    computed ONCE, and the collect, the store and JDBC merges and the
    write-back read these rows instead of each re-running the rollup
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
        .withColumn("model_version", F.lit(MODEL_VERSION))
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
    A store with no committed findings skips nothing; a corrupt snapshot
    raises instead of silently rescanning everything."""
    _, _, latest = _read_latest(spark, store_path, "findings")
    if latest is None:
        return frozenset()
    now_col = (F.lit(now).cast("timestamp") if now is not None
               else F.current_timestamp())
    cutoff = now_col - F.expr(
        f"INTERVAL {int(round(since_hours * 3600))} SECONDS")
    rows = (latest.where(F.col("scanned_at") >= cutoff)
            .select("column_ref").collect())
    return frozenset(r.column_ref for r in rows)


# --- versioned snapshots (layout and commit rule: module docstring) ---------

#: Versions kept per part: the newest and the one a reader may still read.
RETAINED_VERSIONS = 2


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of any Hadoop path (plain, ``file://``, ...)."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _latest_version(fs, root) -> int:
    """The part's newest committed version (0: none). A store holding
    neither part (an older layout's) is refused, not read as empty."""
    commits = root.suffix("/_commits")
    if fs.exists(commits):
        return max((int(st.getPath().getName())
                    for st in fs.listStatus(commits)
                    if st.getPath().getName().isdigit()), default=0)
    store = root.getParent()
    names = {st.getPath().getName()
             for st in fs.globStatus(store.suffix("/*")) or ()}
    if names and names.isdisjoint(PART_SCHEMAS):
        raise ValueError(f"{store} is not a versioned findings store (an "
                         "older layout is not read): start a new store")
    return 0


def _read_latest(spark: SparkSession, store_path: str, part: str
                 ) -> tuple[str, int, DataFrame | None]:
    """(part path, N, version N's rows) for the part's latest version N;
    the rows are None while nothing is committed."""
    path = f"{store_path}/{part}"
    fs, root = _fs(spark, path)
    n = _latest_version(fs, root)
    if not n:
        return path, 0, None
    with closing(fs.open(root.suffix(f"/_commits/{n}"))) as f:
        name = f.readLine()
    return path, n, spark.read.schema(PART_SCHEMAS[part]).parquet(
        f"{path}/{name}")


def _commit(spark: SparkSession, part: str, base: int,
            rows: DataFrame) -> None:
    """Write ``rows`` as a fresh snapshot, commit it as version
    ``base + 1`` and prune; raises if another writer committed it first."""
    fs, root = _fs(spark, part)
    n, name = base + 1, f"v{base + 1}-{uuid.uuid4().hex}"
    rows.write.parquet(f"{part}/{name}")
    # create-if-absent: raises FileAlreadyExists when version n is taken
    with closing(fs.create(root.suffix(f"/_commits/{n}"), False)) as f:
        f.writeBytes(name)
    for st in fs.globStatus(root.suffix("/v*")):
        d = st.getPath().getName()
        k = int(d[1:d.index("-")])
        if k <= n - RETAINED_VERSIONS or (k == n and d != name):
            fs.delete(st.getPath(), True)


def _latest_per_key(all_rows: DataFrame) -> DataFrame:
    """The MERGE step: the latest row per (column_ref, model_version) of
    stored (``_new`` = 0) UNION incoming (``_new`` = 1) rows, incoming
    winning scanned_at ties."""
    w = Window.partitionBy("column_ref", "model_version").orderBy(
        F.col("scanned_at").desc(), F.col("_new").desc())
    return (all_rows.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn", "_new"))


def merge_findings(spark: SparkSession, findings: DataFrame,
                   store_path: str) -> None:
    """K1 full: MERGE-semantics upsert WITHOUT Delta (reference
    db.py:157-241 get-or-create/update): the latest row per natural key
    (column_ref, model_version) of the latest snapshot UNION the
    incoming rows is the store's next findings snapshot. One row per
    column with PII is metadata-sized, so a merge rewrites it whole."""
    part, base, stored = _read_latest(spark, store_path, "findings")
    rows = findings.withColumn("_new", F.lit(1))
    if stored is not None:
        rows = stored.withColumn("_new", F.lit(0)).unionByName(rows)
    _commit(spark, part, base, _latest_per_key(rows))


def read_merged_findings(spark: SparkSession,
                         store_path: str) -> DataFrame:
    """The latest findings snapshot: exactly one row per key, no dedup
    window. Raises when the store has no committed findings."""
    rows = _read_latest(spark, store_path, "findings")[2]
    if rows is None:
        raise FileNotFoundError(f"no findings committed in {store_path}")
    return rows


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
        existing = _jdbc(spark, url, table, driver).load()
    except Exception:  # table does not exist yet -> plain create
        merged = _latest_per_key(incoming)
    else:
        merged = _latest_per_key(existing.withColumn("_new", F.lit(0))
                                 .unionByName(incoming)) \
            .localCheckpoint(eager=True)
    _jdbc(merged, url, table, driver).mode("overwrite").save()


def export_json(findings: DataFrame, path: str) -> None:
    findings.write.mode("overwrite").json(path)


def export_csv(findings: DataFrame, path: str) -> None:
    (findings
     .withColumn("types", F.concat_ws(",", "types"))
     .withColumn("scanned_at", F.date_format(
         "scanned_at", "yyyy-MM-dd'T'HH:mm:ssXXX"))
     .write.mode("overwrite").option("header", True).csv(path))


# --- column-fingerprint sidecar: the content half of the reference's
# promised --since semantics (full design in operators/incremental.py),
# one row per column with its last completed scan's fingerprint -------------
def write_column_fingerprints(fps: DataFrame, store_path: str,
                              evict_missing: bool = False) -> None:
    """MERGE-upsert (column_ref, n_values, fp_hash) + scanned_at into
    the store's fingerprint sidecar: incoming rows replace stored rows
    with the same column_ref; stored rows outside the incoming scope
    survive, so SCOPED runs (--tables subset, a column-glob target) do
    not thrash each other into full rescans (round-11 ADVICE). Callers
    write AFTER the scan's findings land, so a failed scan cannot mark
    columns fresh.

    Retention (r12 ADVICE): by default, refs of columns DROPPED from
    the catalog (or renamed) survive forever, and a recreated column
    with the same ref and content would be pruned by its stale row.
    ``evict_missing=True`` is the compaction path: the caller asserts
    ``fps`` covers the FULL current scope (no table/column globs, no
    --since pruning), so stored refs absent from it are dropped."""
    spark = fps.sparkSession
    part, base, stored = _read_latest(spark, store_path, "fingerprints")
    rows = (fps.select("column_ref", "n_values", "fp_hash")
            .withColumn("scanned_at", F.current_timestamp()))
    if stored is not None and not evict_missing:
        rows = rows.unionByName(stored.join(rows.select("column_ref"),
                                            "column_ref", "left_anti"))
    _commit(spark, part, base, rows)


def read_column_fingerprints(spark: SparkSession,
                             store_path: str) -> DataFrame | None:
    """The latest sidecar snapshot, or None while none is committed
    (first run -> full scan). A committed snapshot that cannot be read
    raises (the recently_scanned_refs rule)."""
    return _read_latest(spark, store_path, "fingerprints")[2]


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
