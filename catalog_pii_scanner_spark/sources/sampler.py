"""Value samplers (reference S5/S6 + P2/P3 + A7).

The reference ladders TABLESAMPLE percent -> ORDER BY rand() -> LIMIT per
column, one JDBC query each (reference: sampler.py:85-220, athena.py:97-135).
Spark replaces the whole ladder:

- ``sample_columns``: ONE job over the melted relation samples *every*
  column — distinct non-null values, capped at DEFAULT_SAMPLE_N per
  column. No per-column query fan-out; the dedup+cap is one shuffle on
  (column_ref, value) and a per-column window. Deterministic (ORDER BY
  value), where the reference orders by rand(), so it is oracle-checkable.
- ``athena_sample_column``: the Athena sampler's semantics — WHERE pushed
  to the scan, a deterministic value-hash fraction as the byte-cap
  analog, LIMIT n distinct values.

At 100 TB: the melt is a projection (column-pruned parquet scan); the
distinct shuffle is the dominating cost and is exactly the work requested.
Skewed columns (few distinct values, e.g. flags) collapse to almost nothing
in the map-side partial aggregate before shuffling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SAMPLE_N = 20


SALT_BUCKETS = 64


def sample_columns(values_df: DataFrame,
                   pre_deduped: bool = False) -> DataFrame:
    """(column_ref, value) -> the DEFAULT_SAMPLE_N smallest distinct
    non-null values per column.

    Two-phase top-k: a single window per column_ref puts EVERY distinct
    value of a high-cardinality column into one task (measured 105 s at
    sf0.1 — lineitem price columns are ~600 k distinct each). Phase 1
    prunes within (column_ref, hash-salt) buckets — 64-way parallel per
    column, and the global top-n (n = DEFAULT_SAMPLE_N) is provably
    contained in the union of per-bucket top-n — so the final per-column
    window sees <= 64*n rows.

    Measured-and-rejected (r5): fusing the distinct + bucket-window pair
    into one groupBy(column_ref, salt) with
    slice(array_sort(collect_set(value)), 1, n) removes one full-data
    exchange but runs 7.9 -> 12.1 s warm at sf0.1 — the per-bucket array
    build/sort (~10k-element sets on the lineitem price columns) costs
    more than the saved shuffle, and map-side partial collect_set barely
    reduces high-cardinality columns. The window form stays.

    ``pre_deduped=True`` asserts ``values_df`` is already the distinct
    non-null (column_ref, value) relation (the entry-level shared-basis
    memo projects the checkpointed catalog basis — distinctness of the
    projection holds because vclass is a per-column literal at the melt
    boundary, functionally dependent on column_ref).
    """
    vals = (values_df if pre_deduped else
            values_df.where(F.col("value").isNotNull()).distinct())
    salt = F.pmod(F.xxhash64("value"), F.lit(SALT_BUCKETS))
    w1 = Window.partitionBy("column_ref", "_salt").orderBy("value")
    pre = (
        vals.withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= DEFAULT_SAMPLE_N)
    )
    w = Window.partitionBy("column_ref").orderBy("value")
    return (
        pre.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= DEFAULT_SAMPLE_N)
        .select("column_ref", "value")
    )


def sample_columns_oracle_sql(melted_sql: str) -> str:
    return f"""
SELECT column_ref, value FROM (
  SELECT DISTINCT column_ref, value FROM {melted_sql} m
  WHERE value IS NOT NULL
) QUALIFY row_number() OVER (PARTITION BY column_ref ORDER BY value)
    <= {DEFAULT_SAMPLE_N}
"""


# --- Athena-analog cost-capped sampler (S6) ---------------------------------

_HEX = "0123456789abcdef"
#: hash-fraction granularity: 4 md5 hex digits -> [0, 65536).
_FRACTION_SPACE = 16 ** 4


def _hash_bucket_sql(expr: str, dialect: str, salt: str) -> str:
    """First 4 md5 hex digits of (salt || expr) as an integer in
    [0, 65536) — the deterministic, dialect-portable uniform hash used
    for fraction predicates (both engines compute it identically)."""
    h = f"md5('{salt}:' || {expr})"
    return " + ".join(
        f"(instr('{_HEX}', substr({h}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4))


def athena_sample_column(spark, sf_dir: str, table: str, column: str,
                         n: int = DEFAULT_SAMPLE_N,
                         where: str | None = None,
                         sample_fraction: float = 1.0,
                         salt: str = "cps") -> DataFrame:
    """S6: the Athena sampler's semantics, Spark-first (reference
    athena.py:97-135 ``sample_column`` + the cost-cap workgroup,
    athena.py:138-154):

    - ``where`` + IS NOT NULL push down to the parquet scan (the Athena
      WHERE clause; asserted by plan test).
    - ``sample_fraction`` is the BytesScannedCutoffPerQuery analog — a
      deterministic value-hash fraction predicate. Deterministic instead
      of Athena's bucket-random so the oracle checks it; at cluster scale
      the same predicate prunes work before the distinct shuffle.
    - distinct values, pseudo-random deterministic order (md5 of the
      value — the engine-portable ORDER BY rand()), LIMIT n.

    Output: (value) — at most n distinct sampled values.
    """
    from .melt import TESTDATA_SCHEMAS, read_table, stringify_sql
    df = read_table(spark, sf_dir, table)
    if where:
        df = df.where(where)
    dtype = dict(TESTDATA_SCHEMAS[table])[column]
    out = (
        df.select(F.expr(stringify_sql(column, dtype, "spark"))
                  .alias("value"))
        .where(F.col("value").isNotNull())
    )
    if sample_fraction < 1.0:
        cutoff = int(sample_fraction * _FRACTION_SPACE)
        out = out.where(
            F.expr(_hash_bucket_sql("value", "spark", salt)) < cutoff)
    return (
        out.distinct()
        .orderBy(F.md5(F.concat(F.lit("ord:"), F.col("value"))))
        .limit(n)
        .select("value")
    )


def athena_sample_oracle_sql(table: str, column: str,
                             n: int = DEFAULT_SAMPLE_N,
                             where: str | None = None,
                             sample_fraction: float = 1.0,
                             salt: str = "cps") -> str:
    from .melt import TESTDATA_SCHEMAS, stringify_sql
    dtype = dict(TESTDATA_SCHEMAS[table])[column]
    w = f" AND ({where})" if where else ""
    frac = ""
    if sample_fraction < 1.0:
        cutoff = int(sample_fraction * _FRACTION_SPACE)
        frac = (f" AND ({_hash_bucket_sql('value', 'duckdb', salt)})"
                f" < {cutoff}")
    return f"""
SELECT value FROM (
  SELECT DISTINCT {stringify_sql(column, dtype, 'duckdb')} AS value
  FROM {table} WHERE {column} IS NOT NULL{w}
) WHERE TRUE{frac}
ORDER BY md5('ord:' || value) LIMIT {n}
"""
