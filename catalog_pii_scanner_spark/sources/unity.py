"""Unity Catalog enumeration (reference S2/S3) -> canonical columns frame.

Two paths, mirroring the reference's ``UnityCatalogClient.iter_columns``
(reference: src/catalog_pii_scanner/connectors/unity.py:71-124 JDBC,
unity.py:209-242 REST):

- **information_schema path (S2)**: the reference scans
  ``system.information_schema.columns`` over JDBC with fetchmany batching
  and then filters rows driver-side with fnmatch. Spark-first: the scan IS
  a DataFrame (``spark.read.table("system.information_schema.columns")``
  on Databricks; any stub view elsewhere), and the fnmatch patterns become
  ``rlike`` predicates INSIDE the plan — Catalyst pushes them to the
  source, so unmatched tables never leave the metastore. No fetch-size
  ladder needed: batching is the engine's job.
- **REST path (S3)**: catalogs -> schemas -> tables -> get_table walk with
  ``next_page_token`` pagination (reference unity.py:150-207), driver-side
  against a pluggable client, landing in the same canonical frame. The
  client is injectable so the protocol behavior (pagination, pattern
  gates) is testable hermetically — the reference's own test strategy
  (tests/test_unity_rest_jdbc.py).

Both land in ``catalog.COLUMNS_SCHEMA``:
    catalog, schema, table, column, data_type, comment, ref
"""

from __future__ import annotations

import fnmatch

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import COLUMNS_SCHEMA, column_ref
from .melt import TESTDATA_SCHEMAS
from .targets import glob_to_rlike

#: information_schema.columns shape (the subset the reference selects,
#: unity.py:95-98).
INFO_SCHEMA_COLUMNS = ("table_catalog string, table_schema string, "
                       "table_name string, column_name string, "
                       "data_type string, comment string")


def _pattern_predicate(col: str, patterns) -> F.Column:
    """OR of anchored-rlike glob patterns == reference fnmatch-any gate."""
    pats = [patterns] if isinstance(patterns, str) else list(patterns)
    pred = F.lit(False)
    for p in pats:
        pred = pred | F.col(col).rlike(glob_to_rlike(p))
    return pred


def unity_catalog_columns(info_schema: DataFrame,
                          catalog_patterns=("*",),
                          schema_patterns=("*",),
                          table_patterns=("*",)) -> DataFrame:
    """S2: information_schema.columns -> canonical columns frame, with the
    reference's fnmatch gates as in-plan predicates (pushdown-able)."""
    out = info_schema
    for col, pats in (("table_catalog", catalog_patterns),
                      ("table_schema", schema_patterns),
                      ("table_name", table_patterns)):
        pats = [pats] if isinstance(pats, str) else list(pats)
        if pats != ["*"]:
            out = out.where(_pattern_predicate(col, pats))
    return out.select(
        F.col("table_catalog").alias("catalog"),
        F.col("table_schema").alias("schema"),
        F.col("table_name").alias("table"),
        F.col("column_name").alias("column"),
        "data_type", "comment",
        F.concat(F.col("table_catalog"), F.lit("://"),
                 F.col("table_schema"), F.lit("/"),
                 F.col("table_name"), F.lit("/"),
                 F.col("column_name")).alias("ref"),
    )


def stub_information_schema(spark: SparkSession,
                            catalog: str = "unity",
                            schema: str = "testdata") -> DataFrame:
    """Hermetic stand-in for system.information_schema.columns, derived
    from the shared testdata schema constants (same vocabulary the oracle
    renders)."""
    rows = [
        (catalog, schema, t, c, dt, None)
        for t, cols in TESTDATA_SCHEMAS.items()
        for c, dt in cols
    ]
    return spark.createDataFrame(rows, INFO_SCHEMA_COLUMNS)


def unity_columns_oracle_sql(catalog: str = "unity",
                             schema: str = "testdata",
                             table_patterns=("*",)) -> str:
    """DuckDB rendering: the same stub rows as VALUES, the same glob
    gates as RE2 regexp_matches of the shared glob_to_rlike regex."""
    pats = ([table_patterns] if isinstance(table_patterns, str)
            else list(table_patterns))
    rows = []
    for t, cols in TESTDATA_SCHEMAS.items():
        for c, dt in cols:
            rows.append(f"('{catalog}', '{schema}', '{t}', '{c}', '{dt}', "
                        f"CAST(NULL AS VARCHAR), "
                        f"'{column_ref(catalog, schema, t, c)}')")
    where = ""
    if pats != ["*"]:
        gates = " OR ".join(
            f"""regexp_matches("table", '{glob_to_rlike(p)}')"""
            for p in pats)
        where = f" WHERE {gates}"
    return ("SELECT * FROM (VALUES " + ", ".join(rows) +
            ') t(catalog, "schema", "table", "column", data_type, '
            'comment, ref)' + where)


# --- REST path (S3) ----------------------------------------------------------

def stub_rest_client(catalog: str = "unity",
                     schema: str = "testdata") -> "FakeUnityRestClient":
    """Hermetic REST surface over the SAME testdata schema vocabulary
    as :func:`stub_information_schema` — so the REST walk
    (:func:`unity_rest_columns`) must land on the IDENTICAL canonical
    relation as the information_schema path, and the two paths can
    share one oracle (``unity_columns_oracle_sql``): that equality IS
    the S3 correctness contract (reference unity.py:209-242 asserts
    the same row-level parity in test_unity_rest_jdbc.py).
    The client's ``page_size=2`` forces real multi-page next_page_token
    loops over the 10 testdata tables."""
    tables = {catalog: {schema: {
        t: [{"name": c, "type_name": dt, "comment": None}
            for c, dt in cols]
        for t, cols in TESTDATA_SCHEMAS.items()
    }}}
    return FakeUnityRestClient(tables)


class FakeUnityRestClient:
    """In-memory Unity REST surface with real next_page_token pagination
    (the reference's protocol contract, unity.py:150-207). ``page_size``
    forces multi-page listings so tests exercise the token loop."""

    def __init__(self, tables: dict[str, dict[str, dict[str, list[dict]]]],
                 page_size: int = 2):
        # {catalog: {schema: {table: [ {name, type_name, comment}, ... ]}}}
        self._tables = tables
        self.page_size = page_size
        self.calls: list[str] = []

    def _page(self, items: list, token: str | None) -> tuple[list, str | None]:
        start = int(token or 0)
        end = start + self.page_size
        nxt = str(end) if end < len(items) else None
        return items[start:end], nxt

    def list_catalogs(self, page_token=None):
        self.calls.append("catalogs")
        items, nxt = self._page(sorted(self._tables), page_token)
        return {"catalogs": [{"name": c} for c in items],
                "next_page_token": nxt}

    def list_schemas(self, catalog, page_token=None):
        self.calls.append(f"schemas:{catalog}")
        items, nxt = self._page(sorted(self._tables[catalog]), page_token)
        return {"schemas": [{"name": s} for s in items],
                "next_page_token": nxt}

    def list_tables(self, catalog, schema, page_token=None):
        self.calls.append(f"tables:{catalog}.{schema}")
        items, nxt = self._page(sorted(self._tables[catalog][schema]),
                                page_token)
        return {"tables": [{"name": t} for t in items],
                "next_page_token": nxt}

    def get_table(self, full_name):
        self.calls.append(f"get:{full_name}")
        cat, sch, tbl = full_name.split(".", 2)
        return {"columns": self._tables[cat][sch][tbl]}


def _drain(pager) -> list[str]:
    """Consume a next_page_token-paginated lister to exhaustion."""
    out, token = [], None
    while True:
        resp = pager(token)
        out.extend(item["name"] for key in ("catalogs", "schemas", "tables")
                   for item in resp.get(key, []) or [])
        token = resp.get("next_page_token")
        if not token:
            return out


def unity_rest_columns(spark: SparkSession, client,
                       catalog_patterns=("*",), schema_patterns=("*",),
                       table_patterns=("*",)) -> DataFrame:
    """S3: paginated REST walk -> canonical columns frame. Enumeration is
    driver-side (catalog APIs are not data-plane); at 1e5+-table scale the
    per-schema table walks parallelize via
    ``spark.sparkContext.parallelize(schemas).flatMap(...)``."""
    def any_match(name, pats):
        pats = [pats] if isinstance(pats, str) else list(pats)
        return any(fnmatch.fnmatch(name, p) for p in pats)

    rows = []
    for cat in _drain(lambda t: client.list_catalogs(page_token=t)):
        if not any_match(cat, catalog_patterns):
            continue
        for sch in _drain(
                lambda t, c=cat: client.list_schemas(c, page_token=t)):
            if not any_match(sch, schema_patterns):
                continue
            for tbl in _drain(
                    lambda t, c=cat, s=sch:
                    client.list_tables(c, s, page_token=t)):
                if not any_match(tbl, table_patterns):
                    continue
                ti = client.get_table(f"{cat}.{sch}.{tbl}")
                for c in ti.get("columns", []) or []:
                    rows.append((
                        cat, sch, tbl, c.get("name"),
                        c.get("type_name") or c.get("type_text"),
                        c.get("comment"),
                        column_ref(cat, sch, tbl, c.get("name")),
                    ))
    return spark.createDataFrame(rows, COLUMNS_SCHEMA)
