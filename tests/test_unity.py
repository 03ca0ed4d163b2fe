"""Unity connector (S2/S3): information_schema pattern pushdown + REST
pagination protocol — the reference's test_unity_rest_jdbc.py contract."""

from __future__ import annotations


from catalog_pii_scanner_spark.sources.unity import (
    FakeUnityRestClient, stub_information_schema, unity_catalog_columns,
    unity_rest_columns)

TABLES = {
    "main": {
        "demo": {
            "customers": [
                {"name": "id", "type_name": "bigint", "comment": None},
                {"name": "email", "type_name": "string",
                 "comment": "contact email"},
            ],
            "orders": [{"name": "order_id", "type_name": "bigint",
                        "comment": None}],
            "events": [{"name": "ts", "type_name": "timestamp",
                        "comment": None}],
            "audit": [{"name": "who", "type_name": "string",
                       "comment": None}],
            "zz_tmp": [{"name": "x", "type_name": "int", "comment": None}],
        },
        "other": {
            "customers": [{"name": "cid", "type_name": "bigint",
                           "comment": None}],
        },
    },
    "dev": {
        "scratch": {
            "customers": [{"name": "cid", "type_name": "bigint",
                           "comment": None}],
        },
    },
}


def test_info_schema_pattern_pushdown(spark):
    info = stub_information_schema(spark)
    got = unity_catalog_columns(info, table_patterns=("cust*",))
    tables = {r.table for r in got.collect()}
    assert tables == {"customer"}
    # the glob gate is a source-pushable predicate, not a driver filter
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "RLIKE" in plan or "rlike" in plan


def test_info_schema_all_patterns_pass_everything(spark):
    info = stub_information_schema(spark)
    assert unity_catalog_columns(info).count() == info.count()


def test_info_schema_canonical_shape(spark):
    got = unity_catalog_columns(stub_information_schema(spark),
                                table_patterns="region")
    rows = {(r.catalog, r.schema, r.table, r.column, r.data_type, r.ref)
            for r in got.collect()}
    assert rows == {
        ("unity", "testdata", "region", "r_regionkey", "int",
         "unity://testdata/region/r_regionkey"),
        ("unity", "testdata", "region", "r_name", "string",
         "unity://testdata/region/r_name"),
    }


def test_rest_pagination_drains_all_pages(spark):
    client = FakeUnityRestClient(TABLES, page_size=2)
    got = unity_rest_columns(spark, client)
    # 5 demo tables paginate at size 2 => 3 tables: calls for main.demo
    assert client.calls.count("tables:main.demo") == 3
    assert got.count() == 8  # every column of every table
    assert {r.catalog for r in got.collect()} == {"main", "dev"}


def test_rest_pattern_gates(spark):
    client = FakeUnityRestClient(TABLES, page_size=2)
    got = unity_rest_columns(spark, client,
                             catalog_patterns="main",
                             schema_patterns="demo",
                             table_patterns=("cust*", "orders"))
    rows = got.collect()
    assert {r.table for r in rows} == {"customers", "orders"}
    # unmatched tables are never fetched (the gate applies pre-get_table)
    assert "get:main.demo.audit" not in client.calls
    assert "get:dev.scratch.customers" not in client.calls
    ref = {r.ref for r in rows}
    assert "main://demo/customers/email" in ref
