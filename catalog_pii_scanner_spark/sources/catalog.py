"""Catalog enumeration -> a ``columns`` DataFrame (reference S1-S4).

The reference walks Glue/Unity/HMS APIs driver-side and yields one record
per column (reference: connectors/glue.py:142-171, unity.py:92-242,
hms.py:76-106). Spark-first equivalent: enumeration stays driver-side
(catalog APIs are not data-plane), lands in one canonical DataFrame:

    catalog STRING, schema STRING, table STRING, column STRING,
    data_type STRING, comment STRING, ref STRING

- ``parquet_catalog_columns``: the "filesystem catalog" — enumerates real
  parquet footers under a directory (the demo/test source). At production
  scale with 1e5+ tables the per-database listing parallelizes via
  ``spark.sparkContext.parallelize(dbs).flatMap(list_tables)``; footers
  here are few and read driver-side.
- ``hms_catalog_columns``: the tables registered in, and enumerated back
  through, Spark's own catalog (the HMS analog — Spark embeds a Hive
  Metastore client, so reference S4 is native).
- Glue/Unity REST walks would land in the identical schema; their
  protocol-level behaviors (pagination, retry/backoff, TableInput
  sanitization) are driver-side and covered by the fake clients in
  ``sinks/writeback.py``.

``DEMO_COMMENTS`` attaches keyword-bearing comments to a few columns
(FIXTURES.md F3) so the metadata-hint operator (X11) has material.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .melt import TESTDATA_SCHEMAS

COLUMNS_SCHEMA = ("catalog string, schema string, table string, "
                  "column string, data_type string, comment string, "
                  "ref string")

#: Deterministic column comments for the demo catalog (keyword-bearing for
#: some, matching the reference's test fixtures' style).
DEMO_COMMENTS: dict[tuple[str, str], str] = {
    ("customer", "c_name"): "customer full name",
    ("customer", "c_acctbal"): "account balance",
    ("customer", "c_mktsegment"): "market segment",
    ("orders", "o_orderdate"): "order date of birth of the order",
    ("events", "user_id"): "user identifier",
    ("events", "props"): "event properties json",
    ("documents", "text"): "free text body",
    ("supplier", "s_name"): "supplier contact name",
}


def column_ref(catalog: str, schema: str, table: str, column: str) -> str:
    return f"{catalog}://{schema}/{table}/{column}"


def _arrow_simple_type(t) -> str:
    """pyarrow type -> Spark simpleString-style name (logical type: NANOS
    timestamps are still 'timestamp' to the catalog even though the data
    plane reads them via long)."""
    import pyarrow as pa
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_arrow_simple_type(t.value_type)}>"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_boolean(t):
        return "boolean"
    return str(t)


def parquet_catalog_columns(spark: SparkSession, sf_dir: str,
                            catalog: str = "parquet",
                            schema: str = "testdata") -> DataFrame:
    """Enumerate real parquet footers -> canonical columns DataFrame.
    Footer-only reads (pyarrow), no data scan."""
    import pyarrow.parquet as pq
    rows = []
    for t in TESTDATA_SCHEMAS:
        st = pq.read_schema(f"{sf_dir}/{t}.parquet")
        for f in st:
            rows.append((
                catalog, schema, t, f.name, _arrow_simple_type(f.type),
                DEMO_COMMENTS.get((t, f.name)),
                column_ref(catalog, schema, t, f.name),
            ))
    return spark.createDataFrame(rows, COLUMNS_SCHEMA)


def catalog_columns_oracle_sql(catalog: str = "parquet",
                               schema: str = "testdata",
                               comments: dict | None = None) -> str:
    """DuckDB VALUES rendering from the shared schema constants. The Spark
    side reads real footers (or walks the session catalog); equality *is*
    the test that enumeration found exactly the declared columns/types."""
    comments = DEMO_COMMENTS if comments is None else comments
    rows = []
    for t in TESTDATA_SCHEMAS:
        for c, dt in TESTDATA_SCHEMAS[t]:
            comment = comments.get((t, c))
            cm = "NULL" if comment is None else f"'{comment}'"
            rows.append(
                f"('{catalog}', '{schema}', '{t}', '{c}', '{dt}', {cm}, "
                f"'{column_ref(catalog, schema, t, c)}')")
    return ("SELECT * FROM (VALUES " + ", ".join(rows) +
            ') t(catalog, "schema", "table", "column", data_type, '
            'comment, ref)')


_HMS_VIEW_PREFIX = "cpss_hms_"


def hms_catalog_columns(spark: SparkSession, sf_dir: str,
                        catalog: str = "spark",
                        schema: str = "session") -> DataFrame:
    """S4 as an oracle-checkable query: register the testdata tables in
    the SESSION catalog (temp views — the hermetic stand-in for a Hive
    Metastore; Spark's embedded HMS client makes the real path identical)
    and enumerate them back through ``spark.catalog.listTables`` /
    ``listColumns`` (reference hms.py:76-106's thrift walk). The oracle is
    the declared schema constants: equality proves the catalog round-trip
    preserved every column name and logical type."""
    from .melt import read_table
    for t in TESTDATA_SCHEMAS:
        read_table(spark, sf_dir, t) \
            .createOrReplaceTempView(f"{_HMS_VIEW_PREFIX}{t}")
    rows = []
    for tbl in spark.catalog.listTables():
        if not tbl.name.startswith(_HMS_VIEW_PREFIX):
            continue
        base = tbl.name[len(_HMS_VIEW_PREFIX):]
        if base not in TESTDATA_SCHEMAS:
            continue
        for c in spark.catalog.listColumns(tbl.name):
            # catalog-level logical vocabulary: the reference carries one
            # free-form 'timestamp' type; Spark's NTZ distinction is a
            # data-plane detail (melt renders both identically)
            dt = ("timestamp" if c.dataType == "timestamp_ntz"
                  else c.dataType)
            rows.append((
                catalog, schema, base, c.name, dt, c.description,
                column_ref(catalog, schema, base, c.name),
            ))
    return spark.createDataFrame(rows, COLUMNS_SCHEMA)
