"""Idempotent tag write-back to catalogs (reference K2/K3/K4,
src/catalog_pii_scanner/glue.py:184-353, unity.py:246-345, hms.py:110-162).

Write-back mutates external catalog APIs, so it stays DRIVER-SIDE and
idempotent (reference invariant: a second apply run changes nothing and
never duplicates comments — tests/test_hms_fake.py:120-140). Spark
computes the desired tags; :func:`apply_writeback` streams them with
``toLocalIterator`` and alone decides what to write. Each catalog is a
two-method client that only translates to its storage:
:class:`FakeCatalogClient` (in memory, the reference tests' approach),
:class:`SessionCatalogClient` and ``sources.glue.GlueEnumerator``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PII_FLAG_KEY = "cps.pii"
PII_TYPES_KEY = "cps.pii.types"
COMMENT_PREFIX = "PII:"
MAX_COMMENT = 255


@dataclass
class FakeCatalogClient:
    """In-memory catalog: {(schema, table, column): {props}, comment}."""
    properties: dict[tuple[str, str, str], dict[str, str]] = \
        field(default_factory=dict)
    comments: dict[tuple[str, str, str], str] = field(default_factory=dict)
    api_calls: int = 0

    def get_column(self, schema: str, table: str, column: str):
        return (dict(self.properties.get((schema, table, column), {})),
                self.comments.get((schema, table, column)))

    def update_column(self, schema: str, table: str, column: str,
                      props: dict[str, str], comment: str | None) -> None:
        self.api_calls += 1
        key = (schema, table, column)
        self.properties.setdefault(key, {}).update(props)
        if comment is not None:
            self.comments[key] = comment


class SessionCatalogClient:
    """Spark session catalog tags (reference unity.py:263-311,
    hms.py:110-162): table properties ``cps.pii.col.<column>`` and
    ``cps.pii_types.col.<column>`` plus ``ALTER COLUMN … COMMENT``. A
    None schema addresses the bare table (current database)."""

    #: write-back key -> table-property prefix (``<prefix>.col.<column>``)
    KEYS = {PII_FLAG_KEY: "cps.pii", PII_TYPES_KEY: "cps.pii_types"}

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    @staticmethod
    def _table(schema: str | None, table: str) -> str:
        return table if schema is None else f"{schema}.{table}"

    def get_column(self, schema: str | None, table: str, column: str):
        t = self._table(schema, table)
        stored = {r.key: r.value for r in
                  self.spark.sql(f"SHOW TBLPROPERTIES {t}").collect()}
        props = {k: stored[f"{p}.col.{column}"]
                 for k, p in self.KEYS.items()
                 if f"{p}.col.{column}" in stored}
        comment = next((c.description
                        for c in self.spark.catalog.listColumns(t)
                        if c.name == column), None)
        return props, comment

    def update_column(self, schema: str | None, table: str, column: str,
                      props: dict[str, str], comment: str | None) -> None:
        t = self._table(schema, table)
        kv = ", ".join(f"'{self.KEYS[k]}.col.{column}'='{v}'"
                       for k, v in sorted(props.items()))
        self.spark.sql(f"ALTER TABLE {t} SET TBLPROPERTIES ({kv})")
        if comment is not None:
            # Spark string literals unescape backslashes too
            escaped = comment.replace("\\", "\\\\").replace("'", "\\'")
            self.spark.sql(f"ALTER TABLE {t} ALTER COLUMN {column} "
                           f"COMMENT '{escaped}'")


def ref_parts() -> tuple[F.Column, F.Column, F.Column]:
    """(schema, table, column) Columns from a ``column_ref`` URI — THE
    shared decomposition for every write-back consumer (this sink's
    apply loop AND operators/incremental.writeback_diff_plan).

    Refs carry either 3 path segments (catalog enumerations:
    ``cat://schema/table/column``) or 2 (the engine's melt boundary:
    ``spark://table/column`` — sources/catalog.column_ref with the
    default schema elided). Pre-r13 this sink assumed 3 segments, so a
    2-segment ref parsed as schema=<table>, table=<column>,
    column=NULL — the apply loop would tag the wrong object (r12
    ADVICE, the latent-bug half). 2-segment refs now parse with a NULL
    schema and the segments land in table/column where they belong."""
    parts = F.split(F.regexp_replace("column_ref", "^[a-z]+://", ""), "/")
    three = F.size(parts) >= 3
    return (
        F.when(three, parts.getItem(0)).alias("schema"),
        F.when(three, parts.getItem(1)).otherwise(parts.getItem(0))
        .alias("table"),
        F.when(three, parts.getItem(2)).otherwise(parts.getItem(1))
        .alias("column"),
    )


def desired_tags(findings: DataFrame) -> DataFrame:
    """findings (column_ref='cat://schema/table/column' or the melt's
    2-segment 'spark://table/column', types[]) -> per-column desired
    properties/comment."""
    schema, table, column = ref_parts()
    return findings.select(
        schema, table, column,
        F.concat_ws(",", F.col("types")).alias("pii_types"),
    ).withColumn(
        "comment",
        F.substring(F.concat(F.lit(COMMENT_PREFIX), F.col("pii_types")),
                    1, MAX_COMMENT),
    )


def apply_writeback(findings: DataFrame, client) -> dict[str, int]:
    """Diff-before-write apply loop: the one tag rule for every catalog
    (reference K2-K4). Per column it wants the properties
    ``{PII_FLAG_KEY: "true", PII_TYPES_KEY: <sorted csv>}`` and the
    current comment with " PII:<types>" appended unless already present,
    cut to ``MAX_COMMENT``; it calls ``update_column`` once, and only
    when either differs. ``client`` translates to one catalog with two
    methods: ``get_column(schema, table, column) -> (props, comment)``
    (absent tags left out, comment None when unset) and
    ``update_column(schema, table, column, props, comment)``; ``schema``
    is None for 2-segment refs. Returns counters; a re-run over an
    unchanged store makes 0 update calls."""
    applied = skipped = 0
    for row in desired_tags(findings).toLocalIterator():
        col = (row["schema"], row["table"], row["column"])
        props_now, comment_now = client.get_column(*col)
        want_props = {PII_FLAG_KEY: "true", PII_TYPES_KEY: row["pii_types"]}
        want_comment = comment_now
        if row["comment"] not in (comment_now or ""):
            want_comment = " ".join(
                filter(None, (comment_now, row["comment"])))[:MAX_COMMENT]
        if (want_props.items() <= props_now.items()
                and want_comment == comment_now):
            skipped += 1
            continue
        client.update_column(*col, want_props, want_comment)
        applied += 1
    return {"applied": applied, "skipped": skipped}
