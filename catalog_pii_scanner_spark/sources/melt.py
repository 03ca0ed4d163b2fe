"""Wide table -> long (column_ref, value STRING) melt — the scan boundary.

The reference's samplers stringify every sampled scalar (reference:
src/catalog_pii_scanner/sampler.py:104-117); here the cast happens at the
scan boundary with an explicit, dialect-stable formatting spec so the Spark
engine and the DuckDB oracle produce byte-identical strings:

- int/bigint  -> plain decimal string
- double      -> via DECIMAL(18,2) (engines' raw double->string formats differ)
- timestamp   -> 'yyyy-MM-dd HH:mm:ss'
- varchar     -> as-is

Melt is a single ``stack()`` projection: no shuffle, input read once, and
Parquet column pruning still applies to any column subset selection.

Building the melt launches no Spark job. The read is typed: the schema
comes from one driver-side footer read (:func:`footer_schema`), where
``spark.read.parquet`` would run a schema-inference job per table (8 of
the 28 jobs a warm catalog scan ran before). The round-robin fan-out is
planned only when the size-derived target exceeds one split.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Column -> type map of the driver's testdata tables (TESTDATA.md; stable
#: across scale factors). 'embeddings' is excluded from melt (vector table).
TESTDATA_SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"),
               ("n_regionkey", "int")],
    "customer": [("c_custkey", "bigint"), ("c_name", "string"),
                 ("c_nationkey", "int"), ("c_acctbal", "double"),
                 ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "bigint"), ("s_name", "string"),
                 ("s_nationkey", "int"), ("s_acctbal", "double")],
    "part": [("p_partkey", "bigint"), ("p_name", "string"),
             ("p_brand", "string"), ("p_type", "string"),
             ("p_size", "int"), ("p_retailprice", "double")],
    "orders": [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
               ("o_orderstatus", "string"), ("o_totalprice", "double"),
               ("o_orderdate", "timestamp"), ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "bigint"), ("l_partkey", "bigint"),
                 ("l_suppkey", "bigint"), ("l_linenumber", "int"),
                 ("l_quantity", "double"), ("l_extendedprice", "double"),
                 ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp")],
    "events": [("event_id", "bigint"), ("ts", "timestamp"),
               ("user_id", "bigint"), ("event_type", "string"),
               ("value", "double"), ("props", "string")],
    "documents": [("doc_id", "bigint"), ("text", "string"),
                  ("lang", "string"), ("source", "string"),
                  ("n_chars", "bigint")],
}


def _read_footer(spark: SparkSession, path: str):
    """(file, ParquetMetadata, bytes) of the parquet table at ``path``:
    its first data file's footer, read on the driver without row-group
    metadata — no Spark job — and the summed length of its data files,
    from the same Hadoop listing (so any Hadoop path is sized); ``None``
    when ``path`` holds no data file directly (a partitioned layout).
    Names starting with '_' or '.' are not data, as for the reader."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    files = sorted(
        (st for st in root.getFileSystem(hconf).listStatus(root)
         if st.isFile()
         and not st.getPath().getName().startswith(("_", "."))),
        key=lambda st: st.getPath().getName())
    if not files:
        return None
    first = files[0].getPath()
    meta = jvm.org.apache.spark.sql.execution.datasources.parquet \
        .ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                first, hconf),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
            .SKIP_ROW_GROUPS)
    return first, meta, sum(st.getLen() for st in files)


#: A top-level TIMESTAMP(NANOS) field in parquet's schema rendering
#: (``MessageType.toString``: top-level fields indented two spaces,
#: ``<repetition> int64 <name> (<logical type>)[ = <field id>];``).
_NANOS_FIELD = re.compile(
    r"^  (?:required|optional|repeated) int64 (.+) "
    r"\(TIMESTAMP\(NANOS,(?:true|false)\)\)(?: = \d+)?;$", re.M)


def _nanos_columns(meta) -> list[str]:
    """TIMESTAMP(NANOS) columns of a footer, from ONE rendering of its
    schema (walking the fields costs ~5 py4j calls each). The check
    reads the PARQUET logical type: legacy INT96 timestamps, Spark's own
    writer default, need no conversion."""
    return _NANOS_FIELD.findall(
        meta.getFileMetaData().getSchema().toString())


def nanos_timestamp_columns(spark: SparkSession, path: str) -> list[str]:
    """Names of TIMESTAMP(NANOS) columns of the parquet table at
    ``path`` (one driver-side footer read)."""
    footer = _read_footer(spark, path)
    return _nanos_columns(footer[1]) if footer else []


def footer_schema(spark: SparkSession, path: str
                  ) -> tuple[StructType, list[str], int] | None:
    """The schema Spark's reader would infer for the parquet table at
    ``path``, its TIMESTAMP(NANOS) columns and its data bytes, from ONE
    driver-side footer read (``None`` for a partitioned layout, see
    :func:`_read_footer`).

    Inference (``spark.read.parquet`` without a schema) launches a Spark
    job per table to read the footer of the table's first data file.
    This reads the same footer on the driver and converts it with
    Spark's own code path, ``ParquetFileFormat.readSchemaFromFooter``: a
    schema a Spark writer embedded wins, else
    ``ParquetToSparkSchemaConverter`` under the session's parquet confs
    resolves INT96, TIMESTAMP_NTZ, unsigned ints and ``nanosAsLong``
    exactly as the reader does (a pyarrow type mapping does not)."""
    footer = _read_footer(spark, path)
    if footer is None:
        return None
    file, meta, nbytes = footer
    pq = spark.sparkContext._jvm.org.apache.spark.sql.execution \
        .datasources.parquet
    converter = pq.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf())
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        spark.sparkContext._jvm.org.apache.parquet.hadoop.Footer(file, meta),
        converter)
    return StructType.fromJson(json.loads(schema.json())), \
        _nanos_columns(meta), nbytes


def read_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a testdata parquet table with the schema its footer declares
    (:func:`footer_schema`: a typed read, no schema-inference job),
    normalizing TIMESTAMP(NANOS) columns (rejected by Spark's reader;
    surfaced as long via spark.sql.legacy.parquet.nanosAsLong) back to
    microsecond timestamps — the same truncation DuckDB applies."""
    return _read_sized(spark, f"{sf_dir}/{table}.parquet")[0]


def _read_sized(spark: SparkSession,
                path: str) -> tuple[DataFrame, int | None]:
    """:func:`read_table` of ``path`` and the table's data bytes (None
    for a partitioned layout), both from its one footer read."""
    # Runtime-settable; must hold for ANY caller-provided session (the
    # correctness harness builds a plain one), not just session.py's.
    # Set before the footer is converted: the converter reads it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    footer = footer_schema(spark, path)
    if footer is None:
        return spark.read.parquet(path), None
    schema, nanos, nbytes = footer
    df = spark.read.schema(schema).parquet(path)
    for c in nanos:
        # pure-LONG floor division, NOT floor(x / 1000): `/` promotes the
        # ns-epoch LONG (~1.7e18, far past 2^53) to DOUBLE, and the
        # precision loss shifts timestamps by +/-1 us (caught by the
        # randomized full-suite sweep, tools/edge_sweep.py fuzz). And
        # not bare `div`, which truncates toward zero and diverges from
        # floor by 1 us on pre-1970 ns-epochs — DuckDB's TIMESTAMP_NS ->
        # TIMESTAMP cast floors (verified: -1500 ns -> -2 us), so the
        # pmod form keeps engine and oracle identical on ANY epoch.
        df = df.withColumn(
            c, F.timestamp_micros(
                F.expr(f"(`{c}` - pmod(`{c}`, 1000)) div 1000")))
    return df, nbytes


def stringify_sql(col: str, dtype: str, dialect: str) -> str:
    """Dialect-stable value->string cast expression."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    if dtype in ("int", "bigint"):
        return f"CAST({col} AS {s})"
    if dtype == "double":
        return f"CAST(CAST({col} AS DECIMAL(18,2)) AS {s})"
    if dtype == "timestamp":
        if dialect == "spark":
            return f"date_format({col}, 'yyyy-MM-dd HH:mm:ss')"
        return f"strftime({col}, '%Y-%m-%d %H:%M:%S')"
    return col


def column_ref(table: str, column: str) -> str:
    return f"spark://{table}/{column}"


#: dtype -> value class at the melt boundary (see rules.VALUE_CLASSES):
#: the class label rides along the melted rows so extraction can skip
#: regex families that provably cannot match the column's rendering.
DTYPE_CLASS = {"int": "num", "bigint": "num", "double": "num",
               "timestamp": "ts", "string": "text"}


#: Parquet bytes per melt task. The melt's stringify work (date_format,
#: DECIMAL renders) is CPU-bound and expands the input ~8-10x (stack()
#: multiplies rows by the column count and decompresses), so ~0.5 MiB of
#: parquet is a healthy ~5 MB / sub-second unit of work per task.
MELT_SPLIT_BYTES = 512 * 1024


def melt_table(spark: SparkSession, sf_dir: str, table: str,
               columns: list[tuple[str, str]] | None = None) -> DataFrame:
    """Read one parquet table and melt to (column_ref, value, vclass).

    The testdata tables are single-row-group files — unsplittable, so
    every scan arrives as ONE task and the whole stringify pass runs on
    one core (optimization guide §2.5 input skew: "one huge
    unsplittable file ... repartition immediately after the read").
    The read is therefore fanned out to a SIZE-DERIVED target (capped
    by the session's shuffle-partition knob, never a constant) before
    the stack(), so the exchange carries the narrow pre-melt rows and
    the melt itself runs at full parallelism. On a production layout
    whose scans already carry enough splits the fan-out is a no-op."""
    import math
    from ..plans.cache import fan_out, session_parallelism
    cols = columns or TESTDATA_SCHEMAS[table]
    df, nbytes = _read_sized(spark, f"{sf_dir}/{table}.parquet")
    target = session_parallelism(spark)
    if nbytes is not None:
        # size-derived split count from the footer read's listing, on any
        # Hadoop path; a partitioned layout is unsized and the session-
        # parallelism target applies (its splits make fan_out a no-op).
        target = min(target, max(1, math.ceil(nbytes / MELT_SPLIT_BYTES)))
    if target > 1:
        # a 1-split target needs no fan-out: skip fan_out's df.rdd, which
        # plans the whole query just to count the scan's partitions
        df = fan_out(df, parts=target)
    n = len(cols)
    pairs = ", ".join(
        f"'{column_ref(table, c)}', {stringify_sql(c, t, 'spark')}, "
        f"'{DTYPE_CLASS[t]}'"
        for c, t in cols
    )
    return df.selectExpr(
        f"stack({n}, {pairs}) AS (column_ref, value, vclass)")


def melt_df(df: DataFrame, table_label: str,
            columns: tuple[str, ...]) -> DataFrame:
    """Melt already-string columns of an arbitrary DataFrame."""
    pairs = ", ".join(
        f"'{column_ref(table_label, c)}', {c}" for c in columns
    )
    return df.selectExpr(
        f"stack({len(columns)}, {pairs}) AS (column_ref, value)")


def melt_oracle_sql(table: str,
                    columns: list[tuple[str, str]] | None = None) -> str:
    """DuckDB rendering of :func:`melt_table` over the pre-registered view."""
    cols = columns or TESTDATA_SCHEMAS[table]
    selects = [
        f"SELECT '{column_ref(table, c)}' AS column_ref, "
        f"{stringify_sql(c, t, 'duckdb')} AS value, "
        f"'{DTYPE_CLASS[t]}' AS vclass FROM {table}"
        for c, t in cols
    ]
    return "(" + " UNION ALL ".join(selects) + ")"
