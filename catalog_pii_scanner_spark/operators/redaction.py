"""Redaction operators (reference R1-R4, src/catalog_pii_scanner/redaction.py).

- R1 ``mask``: shape-preserving mask — digit->0, lowercase->x, uppercase->X,
  punctuation/whitespace kept, length preserved (redaction.py:16-26).
- R2 ``redact``: replace candidate spans in the text with their masks
  (redaction.py:29-45).
- R4 ``context``: slice +/-CONTEXT_WINDOW (48) chars around the
  (redacted) span (redaction.py:57-72; the ensemble's window,
  ensemble.py:71).
- R3 redaction guarantee: no raw span text survives into model inputs —
  enforced here by construction (contexts are built from the redacted text)
  and asserted in tests/test_redaction.py.

All JVM-side column expressions (3 chained regexp_replace + replace/substr);
the same logic is rendered for DuckDB so redaction is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CONTEXT_WINDOW = 48


def mask(col: Column) -> Column:
    """Shape-preserving mask, JVM-side."""
    m = F.regexp_replace(col, "[0-9]", "0")
    m = F.regexp_replace(m, "[a-z]", "x")
    return F.regexp_replace(m, "[A-Z]", "X")


def mask_sql(col: str, dialect: str) -> str:
    """Identical mask as SQL text (DuckDB needs the 'g' flag)."""
    g = ", 'g'" if dialect == "duckdb" else ""
    m = f"regexp_replace({col}, '[0-9]', '0'{g})"
    m = f"regexp_replace({m}, '[a-z]', 'x'{g})"
    return f"regexp_replace({m}, '[A-Z]', 'X'{g})"


def redact_candidates(cands: DataFrame) -> DataFrame:
    """Add ``masked_match`` and ``redacted_value`` columns (R1+R2).

    Replaces every occurrence of the matched span text in the value —
    equivalent to the reference's span-based replacement for non-overlapping
    spans, and a pure projection (no shuffle).
    """
    return cands.withColumn(
        "masked_match", mask(F.col("match_text"))
    ).withColumn(
        "redacted_value",
        F.replace(F.col("value"), F.col("match_text"), F.col("masked_match")),
    )


def candidate_contexts(cands: DataFrame) -> DataFrame:
    """Add a ``context`` column: +/-CONTEXT_WINDOW chars of redacted text
    around the ``match_text`` span of ``value`` (R4). Position from first
    occurrence (instr); the pandas-UDF detection pipeline carries exact
    offsets instead.
    """
    with_redacted = redact_candidates(cands)
    pos = F.instr(F.col("value"), F.col("match_text"))
    start = F.greatest(pos - F.lit(CONTEXT_WINDOW), F.lit(1))
    length = F.length(F.col("masked_match")) + F.lit(2 * CONTEXT_WINDOW)
    return with_redacted.withColumn(
        "context", F.substring(F.col("redacted_value"), start, length)
    )


def suppress_and_redact(texts: DataFrame, spans: DataFrame) -> DataFrame:
    """P7 overlap suppression + whole-text redaction (reference
    redaction.py:29-45 ``redact_text``): spans sorted by start; a span
    whose start precedes the cursor (the end of the last KEPT span) is
    skipped; kept spans are replaced in-place by shape-preserving masks.
    The suppression is sequential-greedy — a skipped span does NOT
    advance the cursor, so a later span overlapping only the skipped one
    survives (same contended-case semantics the reference loop has).

    ``texts``: (id, text).  ``spans``: (id, pstart, pend, pii_type,
    match_text) with 1-based pstart and exclusive pend.

    Distributed shape: one groupBy(id) building the sorted span array,
    then a per-row JVM fold (``F.aggregate`` over the array — no Python,
    no explode, no second shuffle). At 100 TB this is a single shuffle
    keyed on the text id; span counts per text are small so the fold is
    O(spans) per row with no skew amplification.

    Returns (id, n_spans, n_kept, redacted_text).
    """
    packed = (
        spans.select(
            F.col("text_id"),
            F.col("pstart").cast("int").alias("s"),
            F.col("pend").cast("int").alias("e"),
            F.col("pii_type").cast("string").alias("t"),
            F.col("match_text").cast("string").alias("m"))
        .groupBy("text_id")
        .agg(F.array_sort(F.collect_list(
            F.struct("s", "e", "t", "m"))).alias("spans"))
    )
    empty = F.array().cast("array<struct<s:int,e:int,t:string,m:string>>")
    df = (texts.select("text_id", "text")
          .join(packed, "text_id", "left")
          .withColumn("spans", F.coalesce(F.col("spans"), empty)))

    text = F.col("text")
    init = F.struct(F.lit(1).alias("cur"), F.lit("").alias("out"),
                    F.lit(0).alias("kept"))

    def merge(acc, sp):
        committed = F.struct(
            sp["e"].alias("cur"),
            F.concat(acc["out"],
                     text.substr(acc["cur"], sp["s"] - acc["cur"]),
                     mask(sp["m"])).alias("out"),
            (acc["kept"] + F.lit(1)).alias("kept"))
        return F.when(sp["s"] >= acc["cur"], committed).otherwise(acc)

    def finish(acc):
        tail = text.substr(acc["cur"],
                           F.length(text) - acc["cur"] + F.lit(1))
        return F.struct(
            F.concat(acc["out"], tail).alias("redacted_text"),
            acc["kept"].alias("kept"))

    return (df.withColumn("fold", F.aggregate("spans", init, merge, finish))
            .select(F.col("text_id"),
                    F.size("spans").cast("bigint").alias("n_spans"),
                    F.col("fold.kept").cast("bigint").alias("n_kept"),
                    F.col("fold.redacted_text").alias("redacted_text")))


def suppress_redact_oracle_cte(texts_rel: str, spans_rel: str) -> str:
    """DuckDB rendering of :func:`suppress_and_redact` as CTEs ending in
    relation ``osupp(id, n_spans, n_kept, redacted_text)``.

    The sequential cursor is a recursive CTE over the per-text spans in
    (pstart, pend, pii_type, match_text) order — the same total order
    the engine's ``array_sort`` of the (s, e, t, m) struct yields. The
    caller's WITH clause must be declared RECURSIVE."""
    masked = mask_sql("s.match_text", "duckdb")
    return f"""
ospans AS (
  SELECT text_id, pstart, pend, match_text,
         row_number() OVER (PARTITION BY text_id
                            ORDER BY pstart, pend, pii_type, match_text)
           AS rn
  FROM {spans_rel}
),
orec AS (
  SELECT text_id, 0 AS rn, CAST(1 AS BIGINT) AS cur, '' AS acc_out,
         0 AS kept
  FROM {texts_rel}
  UNION ALL
  SELECT r.text_id, s.rn,
         CASE WHEN s.pstart >= r.cur THEN s.pend ELSE r.cur END,
         CASE WHEN s.pstart >= r.cur
              THEN r.acc_out
                   || substr(t.text, CAST(r.cur AS INT),
                             CAST(s.pstart - r.cur AS INT))
                   || {masked}
              ELSE r.acc_out END,
         r.kept + CASE WHEN s.pstart >= r.cur THEN 1 ELSE 0 END
  FROM orec r
  JOIN ospans s ON s.text_id = r.text_id AND s.rn = r.rn + 1
  JOIN {texts_rel} t ON t.text_id = r.text_id
),
osupp AS (
  SELECT r.text_id,
         CAST(COALESCE(ns.n, 0) AS BIGINT) AS n_spans,
         CAST(r.kept AS BIGINT) AS n_kept,
         r.acc_out || substr(t.text, CAST(r.cur AS INT))
           AS redacted_text
  FROM orec r
  JOIN {texts_rel} t ON t.text_id = r.text_id
  LEFT JOIN (SELECT text_id, COUNT(*) AS n
             FROM ospans GROUP BY text_id) ns
    ON ns.text_id = r.text_id
  QUALIFY row_number() OVER (PARTITION BY r.text_id
                             ORDER BY r.rn DESC) = 1
)"""


def redaction_oracle_exprs(dialect: str = "duckdb") -> dict[str, str]:
    """SQL renderings of the three derived columns over (value, match_text)."""
    masked = mask_sql("match_text", dialect)
    redacted = f"replace(value, match_text, {masked})"
    pos = "instr(value, match_text)"
    start = f"greatest({pos} - {CONTEXT_WINDOW}, 1)"
    length = f"length({masked}) + {2 * CONTEXT_WINDOW}"
    return {
        "masked_match": masked,
        "redacted_value": redacted,
        "context": f"substr({redacted}, {start}, {length})",
    }
