"""Column-level findings rollup (reference operator A6) and scan pipeline.

The reference stores one Finding per column: ``types[], confidence,
hit_rate`` (reference: src/catalog_pii_scanner/db.py:110-125; hit_rate is
declared but never derived in v0 — we define it as
``distinct values with >=1 candidate / distinct values scanned``).

Output here is denormalized to one row per (column_ref, pii_type) so the
result is flat-hashable; ``sinks/findings_store.py`` re-nests to the
reference's array shape for export.

Scale shape: melt (projection, no shuffle) -> distinct (1 shuffle on
(column_ref, value)) -> extract+score (projection) -> two aggregations that
reuse the same (column_ref[, value]) clustering. AQE coalesces the small
post-aggregation partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracles import ratio_round_halfup_guarded

from ..plans.cache import checkpoint_release

from .rules import RULES, Rule, candidate_score, extract_candidates


def scan_values(values_df: DataFrame,
                rules: tuple[Rule, ...] = RULES) -> DataFrame:
    """(column_ref, value) -> scored candidate rows.

    Applies distinct-value dedup (reference P3: samplers dedup values,
    sampler.py:104-117), candidate extraction, and rules-only ensemble
    scoring.
    """
    vals = values_df.where(F.col("value").isNotNull()).distinct()
    class_col = "vclass" if "vclass" in values_df.columns else None
    cands = extract_candidates(vals, rules=rules, class_col=class_col)
    return cands.withColumn("prob", candidate_score())


def candidates_rollup(cands: DataFrame) -> DataFrame:
    """Grouping-sets summary of scored candidates: per (type, validated),
    per type, and grand total in ONE aggregation pass (GROUP BY ROLLUP —
    Spark computes all three grouping sets from a single shuffle, the
    layout SURVEY §2.11 notes as the natural shape for A3/A5-style
    summaries). NULL grouping keys render as 'ALL' (the input columns are
    non-null, so the coalesce is unambiguous).

    Output: pii_type, validated, n_candidates, n_columns, max_prob.

    The n_candidates > 0 gate exists for the empty-input corner: SQL
    ROLLUP emits the grand-total grouping set even over zero rows
    (DuckDB does) while Spark's rollup yields no rows — filtering the
    count-0 row makes both engines agree and costs nothing on real
    input (every emitted group counts at least one candidate).
    """
    return (
        cands.rollup("pii_type", "validated")
        .agg(F.count("*").alias("n_candidates"),
             F.countDistinct("column_ref").alias("n_columns"),
             F.round(F.max("prob"), 6).alias("max_prob"))
        .where(F.col("n_candidates") > 0)
        .select(
            F.coalesce(F.col("pii_type"), F.lit("ALL")).alias("pii_type"),
            F.coalesce(F.col("validated").cast("string"),
                       F.lit("ALL")).alias("validated"),
            "n_candidates", "n_columns", "max_prob")
    )


def candidates_rollup_oracle_sql() -> str:
    return """
SELECT COALESCE(pii_type, 'ALL') AS pii_type,
       COALESCE(CAST(validated AS VARCHAR), 'ALL') AS validated,
       COUNT(*) AS n_candidates,
       COUNT(DISTINCT column_ref) AS n_columns,
       round(MAX(prob), 6) AS max_prob
FROM scored
GROUP BY ROLLUP(pii_type, validated)
HAVING COUNT(*) > 0
"""


def findings_rollup(values_df: DataFrame,
                    rules: tuple[Rule, ...] = RULES,
                    pre_deduped: bool = False) -> DataFrame:
    """Full scan: values -> per-(column, type) findings.

    Columns: ``column_ref, pii_type, n_candidates, n_values_hit,
    confidence, hit_rate``.

    ``pre_deduped=True`` asserts ``values_df`` is ALREADY the distinct
    non-null value basis, materialized (the entry-level shared-basis
    memo): the P3 dedup and the per-branch persist are skipped —
    both consumers plan against the caller's checkpointed relation.
    """
    # vals feeds two consumers (totals + extraction); persist so the
    # melt + 6.6M-row distinct shuffle materializes once, not per branch
    # (Spark re-plans lineage per consumer otherwise). Released before
    # returning: the (tiny, per-column x type) result is materialized via
    # eager localCheckpoint, so a long-lived session never accumulates the
    # big cached vals relations across queries.
    vals = (values_df if pre_deduped else
            values_df.where(F.col("value").isNotNull())
            .distinct().persist())
    class_col = "vclass" if "vclass" in values_df.columns else None
    totals = vals.groupBy("column_ref").agg(
        F.count("*").alias("n_values"))
    cands = extract_candidates(vals, rules=rules, class_col=class_col) \
        .withColumn("prob", candidate_score())
    per_type = cands.groupBy("column_ref", "pii_type").agg(
        F.count("*").alias("n_candidates"),
        F.countDistinct("value").alias("n_values_hit"),
        F.round(F.max("prob"), 6).alias("confidence"),
    )
    out = (
        per_type.join(F.broadcast(totals), "column_ref")
        .select(
            "column_ref", "pii_type", "n_candidates", "n_values_hit",
            "confidence",
            F.expr(ratio_round_halfup_guarded(
                "spark", "n_values_hit", "n_values")).alias("hit_rate"),
        )
    )
    # a shared (pre_deduped) basis belongs to the caller's memo — never
    # unpersist it from here
    return checkpoint_release(out, *(() if pre_deduped else (vals,)))
