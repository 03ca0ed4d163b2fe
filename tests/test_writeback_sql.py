"""Tag write-back through ``apply_writeback``, the one rule every catalog
client shares (reference K2-K4): real ALTER TABLE statements against the
Spark session catalog, and the comment rule and failure recovery over
the fake, session-catalog and Glue clients alike — the reference's
re-run-no-duplicate invariant (tests/test_hms_fake.py)."""

from __future__ import annotations

import pytest

from catalog_pii_scanner_spark.sinks.findings_store import \
    to_findings_records
from catalog_pii_scanner_spark.sinks.writeback import (
    PII_FLAG_KEY, PII_TYPES_KEY, FakeCatalogClient, SessionCatalogClient,
    apply_writeback)
from catalog_pii_scanner_spark.sources.glue import (FakeGlueClient,
                                                    GlueEnumerator)

SCHEMA = ("column_ref string, pii_type string, n_candidates bigint, "
          "n_values_hit bigint, confidence double, hit_rate double")
#: a user's comment; the quote and backslash must survive the SQL path
USER_NOTE = "owner's C:\\notes"


def _findings(spark, refs_types):
    return to_findings_records(spark.createDataFrame(
        [(ref, t, 3, 3, 0.8, 0.4) for ref, t in refs_types], SCHEMA))


class _Recording:
    """Client wrapper recording each update_column's column; the
    ``fail_on``-th update raises instead of writing."""

    def __init__(self, client, fail_on: int | None = None) -> None:
        self.client, self.fail_on, self.updated = client, fail_on, []

    def get_column(self, *col):
        return self.client.get_column(*col)

    def update_column(self, *args):
        self.updated.append(args[:3])
        if len(self.updated) == self.fail_on:
            raise RuntimeError("catalog unavailable")
        self.client.update_column(*args)


class _SqlLog:
    """Session proxy logging every SQL statement a client issues."""

    def __init__(self, spark) -> None:
        self._spark, self.statements = spark, []

    def sql(self, query: str):
        self.statements.append(query)
        return self._spark.sql(query)

    @property
    def catalog(self):
        return self._spark.catalog


@pytest.fixture(scope="module")
def catalog_table(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS cpss_wb LOCATION '{loc}'")
    spark.sql("CREATE TABLE cpss_wb.users (email_addr STRING, age INT) "
              "USING parquet")
    yield "cpss_wb.users"
    spark.sql("DROP DATABASE cpss_wb CASCADE")


def _props(spark, table):
    return {r.key: r.value
            for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}


def _comment(spark, table, column):
    return next(c.description for c in spark.catalog.listColumns(table)
                if c.name == column)


def test_alter_table_tags_and_comment(spark, catalog_table):
    log = _SqlLog(spark)
    client = SessionCatalogClient(log)
    findings = _findings(spark, [
        ("spark://cpss_wb/users/email_addr", "PHONE_NUMBER"),
        ("spark://cpss_wb/users/email_addr", "EMAIL")])
    assert apply_writeback(findings, client) == {"applied": 1, "skipped": 0}
    assert sum(q.startswith("ALTER TABLE") for q in log.statements) == 2
    props = _props(spark, catalog_table)
    assert props["cps.pii.col.email_addr"] == "true"
    assert props["cps.pii_types.col.email_addr"] == "EMAIL,PHONE_NUMBER"
    assert _comment(spark, catalog_table, "email_addr") == \
        "PII:EMAIL,PHONE_NUMBER"

    # idempotency: identical desired state issues no statements
    log.statements.clear()
    assert apply_writeback(findings, client) == {"applied": 0, "skipped": 1}
    assert not any(q.startswith("ALTER") for q in log.statements)
    # comment not duplicated
    assert _comment(spark, catalog_table, "email_addr") == \
        "PII:EMAIL,PHONE_NUMBER"


def test_session_catalog_apply_loop(spark, catalog_table):
    findings = _findings(spark, [("spark://cpss_wb/users/age", "SSN")])
    client = _Recording(SessionCatalogClient(spark))
    stats = apply_writeback(findings, client)
    assert stats == {"applied": 1, "skipped": 0}
    assert client.updated == [("cpss_wb", "users", "age")]
    props = _props(spark, catalog_table)
    assert props["cps.pii.col.age"] == "true"
    assert props["cps.pii_types.col.age"] == "SSN"
    assert _comment(spark, catalog_table, "age") == "PII:SSN"
    # second run: all skipped, no update call
    assert apply_writeback(findings, client) == \
        {"applied": 0, "skipped": 1}
    assert len(client.updated) == 1


# --- the one rule, over every client ----------------------------------------

@pytest.fixture(params=["fake", "session", "glue"])
def catalog(request, spark, tmp_path):
    """(client, comment_of) over table cpss_rule.t (a STRING, b STRING)
    whose column ``a`` carries a user comment; ``comment_of(column)``
    reads the catalog's storage directly, not through the client."""
    if request.param == "fake":
        client = FakeCatalogClient(
            comments={("cpss_rule", "t", "a"): USER_NOTE})
        yield client, lambda c: client.comments.get(("cpss_rule", "t", c))
    elif request.param == "session":
        note = USER_NOTE.replace("\\", "\\\\").replace("'", "\\'")
        spark.sql(f"CREATE DATABASE cpss_rule LOCATION '{tmp_path}'")
        spark.sql(f"CREATE TABLE cpss_rule.t (a STRING COMMENT '{note}', "
                  "b STRING) USING parquet")
        try:
            yield (SessionCatalogClient(spark),
                   lambda c: _comment(spark, "cpss_rule.t", c))
        finally:
            spark.sql("DROP DATABASE cpss_rule CASCADE")
    else:
        glue = FakeGlueClient({"cpss_rule": {"t": [
            {"Name": "a", "Type": "string", "Comment": USER_NOTE},
            {"Name": "b", "Type": "string"}]}})

        def comment_of(c):
            cols = glue.get_table(DatabaseName="cpss_rule", Name="t")[
                "Table"]["StorageDescriptor"]["Columns"]
            return next(x.get("Comment") for x in cols if x["Name"] == c)
        yield GlueEnumerator(glue, sleep=lambda s: None), comment_of


def test_user_comment_kept_and_tagged_once(spark, catalog):
    client, comment_of = catalog
    findings = _findings(spark, [("cat://cpss_rule/t/a", "PERSON"),
                                 ("cat://cpss_rule/t/a", "EMAIL"),
                                 ("cat://cpss_rule/t/b", "SSN")])
    assert apply_writeback(findings, client) == {"applied": 2, "skipped": 0}
    assert comment_of("a") == USER_NOTE + " PII:EMAIL,PERSON"
    assert comment_of("b") == "PII:SSN"
    assert client.get_column("cpss_rule", "t", "a")[0] == \
        {PII_FLAG_KEY: "true", PII_TYPES_KEY: "EMAIL,PERSON"}
    # second apply: nothing differs, so no update_column call at all
    rerun = _Recording(client)
    assert apply_writeback(findings, rerun) == {"applied": 0, "skipped": 2}
    assert rerun.updated == []
    assert comment_of("a") == USER_NOTE + " PII:EMAIL,PERSON"


def test_failed_apply_resumes_on_rerun(spark, catalog):
    client, comment_of = catalog
    findings = _findings(spark, [("cat://cpss_rule/t/a", "EMAIL"),
                                 ("cat://cpss_rule/t/b", "SSN")])
    failing = _Recording(client, fail_on=2)
    with pytest.raises(RuntimeError, match="catalog unavailable"):
        apply_writeback(findings, failing)
    first, second = failing.updated
    assert {first[2], second[2]} == {"a", "b"}
    # the rerun skips the column that landed and applies the other
    rerun = _Recording(client)
    assert apply_writeback(findings, rerun) == {"applied": 1, "skipped": 1}
    assert rerun.updated == [second]
    assert comment_of("a") == USER_NOTE + " PII:EMAIL"
    assert comment_of("b") == "PII:SSN"
