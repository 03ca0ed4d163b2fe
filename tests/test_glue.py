"""Glue protocol surface (reference S1 full): pagination, throttle
backoff, TableInput whitelist sanitization, idempotent tag write-back —
the reference's own test strategy (tests/test_glue_backoff.py,
test_glue_tableinput.py) against the strict in-memory protocol double."""

from __future__ import annotations

import pytest

from catalog_pii_scanner_spark.sinks.findings_store import \
    to_findings_records
from catalog_pii_scanner_spark.sinks.writeback import apply_writeback
from catalog_pii_scanner_spark.sources.glue import (
    FakeGlueClient, GlueClientError, GlueEnumerator, glue_columns,
    stub_glue_client, table_to_input, with_backoff)
from catalog_pii_scanner_spark.sources.melt import TESTDATA_SCHEMAS


def _enum(client, **kw):
    kw.setdefault("base_delay", 0.01)
    kw.setdefault("sleep", lambda s: None)
    return GlueEnumerator(client, **kw)


# --- pagination --------------------------------------------------------------

def test_pagination_drains_all_pages():
    client = stub_glue_client(page_size=2)
    enum = _enum(client)
    tables = enum.list_tables("testdata")
    assert {t["Name"] for t in tables} == set(TESTDATA_SCHEMAS)
    # 9 tables at page_size 2 -> 5 get_tables calls
    assert client.api_calls == 5


def test_iter_columns_full_walk_matches_schemas():
    enum = _enum(stub_glue_client())
    got = {(db, t, c["Name"], c["Type"])
           for db, t, c in enum.iter_columns()}
    want = {("testdata", t, c, dt)
            for t, cols in TESTDATA_SCHEMAS.items() for c, dt in cols}
    assert got == want


def test_pattern_gates_filter_during_walk():
    enum = _enum(stub_glue_client())
    got = {t for _, t, _ in enum.iter_columns(
        table_patterns=("c*", "line?tem"))}
    assert got == {"customer", "lineitem"}
    assert not list(enum.iter_columns(db_patterns=("prod_*",)))


# --- backoff -----------------------------------------------------------------

def test_backoff_retries_throttles_then_succeeds():
    client = stub_glue_client()
    client.throttle_next(2)
    sleeps: list[float] = []
    enum = GlueEnumerator(client, max_retries=3, base_delay=0.5,
                          sleep=sleeps.append)
    assert enum.list_databases() == ["testdata"]
    # exponential schedule for the two retried throttles
    assert sleeps == [0.5, 1.0]


def test_backoff_gives_up_after_max_retries():
    client = stub_glue_client()
    client.throttle_next(10)
    enum = _enum(client, max_retries=2)
    with pytest.raises(GlueClientError, match="ThrottlingException"):
        enum.list_databases()
    assert client.api_calls == 3  # initial + 2 retries


def test_non_throttle_error_propagates_immediately():
    calls = {"n": 0}

    def boom():
        calls["n"] += 1
        raise GlueClientError("EntityNotFoundException", "nope")

    with pytest.raises(GlueClientError, match="EntityNotFound"):
        with_backoff(boom, max_retries=5, sleep=lambda s: None)
    assert calls["n"] == 1


# --- TableInput sanitization -------------------------------------------------

def test_table_to_input_strips_read_only_and_unknown_keys():
    tbl = {
        "Name": "users", "DatabaseName": "demo",
        "CreateTime": "2024-08-01", "UpdateTime": "2024-08-02",
        "TableArn": "arn:aws:glue:...", "TableId": "abc", "VersionId": "7",
        "CatalogId": "111", "FederatedTable": {"Identifier": "x"},
        "Parameters": {"a": "b"}, "TableType": "EXTERNAL_TABLE",
        "StorageDescriptor": {
            "Columns": [
                {"Name": "email", "Type": "string", "Comment": "e",
                 "Foo": "bar"},
                {"Name": "age", "Type": "int", "Baz": 1},
            ],
            "Location": "s3://b/p",
            "SerdeInfo": {"Name": "hive", "SerializationLibrary": "org.x",
                          "Foo": "y"},
            "SortColumns": [{"Column": "age", "SortOrder": 1, "Extra": 9}],
            "SkewedInfo": {"SkewedColumnNames": ["x"], "Unknown": True},
            "UnknownKey": True,
        },
    }
    ti = table_to_input(tbl)
    for k in ("DatabaseName", "CreateTime", "UpdateTime", "TableArn",
              "TableId", "VersionId", "CatalogId", "FederatedTable"):
        assert k not in ti
    assert ti["Name"] == "users"
    assert ti["Parameters"] == {"a": "b"}
    sd = ti["StorageDescriptor"]
    assert "UnknownKey" not in sd
    assert sd["Columns"] == [
        {"Name": "email", "Type": "string", "Comment": "e"},
        {"Name": "age", "Type": "int"},
    ]
    assert sd["SerdeInfo"] == {"Name": "hive",
                               "SerializationLibrary": "org.x"}
    assert sd["SortColumns"] == [{"Column": "age", "SortOrder": 1}]
    assert "Unknown" not in sd["SkewedInfo"]
    # the strict fake accepts the sanitized shape...
    FakeGlueClient._validate_input(ti)
    # ...and rejects the raw GetTable shape
    with pytest.raises(GlueClientError, match="InvalidInput"):
        FakeGlueClient._validate_input(tbl)


def test_table_to_input_fills_required_defaults():
    ti = table_to_input({"Name": "t"})
    assert ti["StorageDescriptor"] == {}
    assert ti["Parameters"] == {}
    assert ti["TableType"] == "EXTERNAL_TABLE"


# --- idempotent write-back through the sanitizer -----------------------------

def test_glue_writeback_idempotent_and_sanitized(spark):
    client = stub_glue_client()
    enum = _enum(client)
    findings = to_findings_records(spark.createDataFrame(
        [("glue://testdata/customer/c_name", t, 1, 1, 0.9, 0.5)
         for t in ("PERSON", "EMAIL")],
        "column_ref string, pii_type string, n_candidates bigint, "
        "n_values_hit bigint, confidence double, hit_rate double"))
    before = client.api_calls
    assert apply_writeback(findings, enum) == {"applied": 1, "skipped": 0}
    # the diff read, update_column's re-read and one update_table, which
    # the strict fake accepts only with a sanitized TableInput
    assert client.api_calls == before + 3
    tbl = enum.get_table("testdata", "customer")
    col = next(c for c in tbl["StorageDescriptor"]["Columns"]
               if c["Name"] == "c_name")
    assert col["Parameters"] == {"pii": "true", "pii_types": "EMAIL,PERSON"}
    assert col["Comment"] == "PII:EMAIL,PERSON"
    # second apply: no change, no update_table call
    before = client.api_calls
    assert apply_writeback(findings, enum) == {"applied": 0, "skipped": 1}
    assert client.api_calls == before + 1  # only the get_table diff read


# --- enumeration to the canonical frame -------------------------------------

def test_glue_columns_frame(spark):
    df = glue_columns(spark, _enum(stub_glue_client()),
                      table_patterns=("events",))
    rows = df.collect()
    assert {r.ref for r in rows} == {
        f"glue://testdata/events/{c}"
        for c, _ in TESTDATA_SCHEMAS["events"]}
    assert all(r.catalog == "glue" and r.schema == "testdata"
               for r in rows)
