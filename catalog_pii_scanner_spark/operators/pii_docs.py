"""PII operators over the documents corpus — the scanner applied to the
training-data pipeline (reference scope: the rule engine of
src/catalog_pii_scanner/rules.py run per *document* instead of per
catalog column; the rollup shape mirrors reference scanner.py's
per-column summary, keyed by doc_id).

Two products a 100 TB curation pipeline needs before training:

- ``doc_pii_density``: per-document PII exposure stats (candidate count,
  distinct types, masked-character share) — the filter signal for
  "drop or scrub documents above a PII budget".
- ``corpus_anonymize``: the scrubbed corpus itself — every checksum-valid
  rule match replaced by its shape-preserving mask (redaction.mask), the
  R3 guarantee applied corpus-wide.

Scale shape: both are one ``extract_candidates`` scan (single projection
+ explode, one Arrow checksum stage — see rules.py) followed by ONE
doc-keyed shuffle and a left join back to the (already doc-keyed)
documents relation. No window over the whole corpus, no driver
collection; the fold in ``corpus_anonymize`` is a per-row JVM
``F.aggregate`` over that document's own match list (bounded by matches
per doc, not corpus size).

Determinism across engines: the replacement fold runs longest-match-first
(ties by text) in BOTH dialects, so overlapping spans resolve
identically; ``pii_density`` divides by NULLIF(n_chars, 0) so an empty
document yields NULL in both engines instead of Spark-NULL vs DuckDB-inf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracles import candidates_cte
from .redaction import mask, mask_sql
from .rules import extract_candidates


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


#: Every doc_id divisible by 7 gets a contact suffix (email + phone);
#: every doc_id divisible by 21 additionally an SSN-shaped span. The
#: synthetic testdata corpus contains no organically rule-matchable span
#: at any SF, which would make these oracle rows trivially-true (all-zero
#: stats, identity scrub); the deterministic augmentation — same
#: construction in both dialects, like the synthesized demo CRM
#: (sources/demo_catalog.py) — makes them exercise extraction, checksum
#: gating, aggregation, and the replacement fold for real.
CONTACT_MOD = 7
SSN_MOD = 21


def augment_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, text, n_chars) with deterministic
    injected PII spans; n_chars is recomputed over the augmented text."""
    did = F.col("doc_id")
    contact = F.concat(
        F.lit(" contact user"), did.cast("string"),
        F.lit("@example.com phone 555-867-"),
        F.lpad((did % 10000).cast("string"), 4, "0"))
    ssn = F.concat(F.lit(" ssn 123-45-"),
                   F.lpad((did % 10000).cast("string"), 4, "0"))
    text2 = (F.when(did % SSN_MOD == 0,
                    F.concat(F.col("text"), contact, ssn))
             .when(did % CONTACT_MOD == 0, F.concat(F.col("text"), contact))
             .otherwise(F.col("text")))
    extra = [c for c in ("lang", "source") if c in docs.columns]
    return docs.select("doc_id", text2.alias("text"), *extra) \
        .withColumn("n_chars", F.length("text").cast("bigint"))


def augmented_docs_sql() -> str:
    """The identical augmentation as a DuckDB relation body."""
    contact = ("' contact user' || CAST(doc_id AS VARCHAR) || "
               "'@example.com phone 555-867-' || "
               "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')")
    ssn = ("' ssn 123-45-' || "
           "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')")
    return f"""
  SELECT doc_id,
         CASE WHEN doc_id % {SSN_MOD} = 0 THEN text || {contact} || {ssn}
              WHEN doc_id % {CONTACT_MOD} = 0 THEN text || {contact}
              ELSE text END AS text,
         lang, source,
         CAST(length(CASE WHEN doc_id % {SSN_MOD} = 0
                          THEN text || {contact} || {ssn}
                          WHEN doc_id % {CONTACT_MOD} = 0
                          THEN text || {contact}
                          ELSE text END) AS BIGINT) AS n_chars
  FROM documents"""


# --- per-document PII density ------------------------------------------------

def doc_pii_density_docs(docs: DataFrame) -> DataFrame:
    """Per-document PII stats over every rule family (X1-X10, checksum
    gate included). Output: doc_id, n_pii, n_pii_types, pii_chars,
    pii_density (rounded 1e-6), pii_types_csv — one row per document,
    zeros for PII-free docs."""
    cands = extract_candidates(docs.select("doc_id", "text"),
                               value_col="text", keep_cols=("doc_id",))
    agg = (cands.groupBy("doc_id")
           .agg(F.count("*").alias("n_pii"),
                F.sum(F.length("match_text")).cast("bigint")
                .alias("pii_chars"),
                F.array_sort(F.collect_set("pii_type")).alias("types")))
    return (docs.select("doc_id", "n_chars")
            .join(agg, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_pii"), F.lit(0)).cast("bigint")
                .alias("n_pii"),
                F.coalesce(F.size("types"), F.lit(0)).cast("bigint")
                .alias("n_pii_types"),
                F.coalesce(F.col("pii_chars"), F.lit(0)).cast("bigint")
                .alias("pii_chars"),
                F.round(F.coalesce(F.col("pii_chars"), F.lit(0))
                        .cast("double")
                        / F.nullif(F.col("n_chars"), F.lit(0)), 6)
                .alias("pii_density"),
                F.coalesce(F.array_join("types", ","), F.lit(""))
                .alias("pii_types_csv")))


def doc_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_pii_density_docs(augment_docs(_docs(spark, sf_dir)))


def doc_pii_density_oracle_sql() -> str:
    return f"""
WITH docs AS ({augmented_docs_sql()}),
{candidates_cte('docs', key_col='doc_id', value_col='text')},
dist AS (SELECT DISTINCT doc_id, pii_type FROM cand_ok),
types AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pii_types,
         string_agg(pii_type, ',' ORDER BY pii_type) AS pii_types_csv
  FROM dist GROUP BY doc_id
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pii,
         CAST(SUM(length(match_text)) AS BIGINT) AS pii_chars
  FROM cand_ok GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_pii, 0) AS BIGINT) AS n_pii,
       CAST(COALESCE(t.n_pii_types, 0) AS BIGINT) AS n_pii_types,
       CAST(COALESCE(a.pii_chars, 0) AS BIGINT) AS pii_chars,
       round(CAST(COALESCE(a.pii_chars, 0) AS DOUBLE)
             / NULLIF(d.n_chars, 0), 6) AS pii_density,
       COALESCE(t.pii_types_csv, '') AS pii_types_csv
FROM docs d
LEFT JOIN agg a USING (doc_id)
LEFT JOIN types t USING (doc_id)
"""


# --- corpus anonymization ----------------------------------------------------

def anonymize_docs(docs: DataFrame) -> DataFrame:
    """Scrubbed corpus: every distinct checksum-valid rule match in a
    document replaced (all occurrences) by its shape-preserving mask.
    Replacements fold longest-match-first, ties by text, so a span that
    contains another span is masked before the shorter one can split it.
    Output: doc_id, n_masked, anon_text."""
    cands = extract_candidates(docs.select("doc_id", "text"),
                               value_col="text", keep_cols=("doc_id",))
    matches = (cands.select("doc_id", "match_text").distinct()
               .groupBy("doc_id")
               .agg(F.collect_list(F.struct(
                   (-F.length("match_text")).alias("nl"),
                   F.col("match_text").alias("m"))).alias("ms0")))
    joined = (docs.select("doc_id", "text")
              .join(matches, "doc_id", "left")
              .select("doc_id", "text",
                      F.coalesce(
                          F.transform(F.array_sort("ms0"),
                                      lambda s: s["m"]),
                          F.array().cast("array<string>")).alias("ms")))
    anon = F.aggregate(F.col("ms"), F.col("text"),
                       lambda acc, x: F.replace(acc, x, mask(x)))
    return joined.select(
        "doc_id",
        F.size("ms").cast("bigint").alias("n_masked"),
        anon.alias("anon_text"))


def corpus_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anonymize_docs(augment_docs(_docs(spark, sf_dir)))


def corpus_anonymize_oracle_sql() -> str:
    fold_mask = mask_sql("x", "duckdb")
    return f"""
WITH docs AS ({augmented_docs_sql()}),
{candidates_cte('docs', key_col='doc_id', value_col='text')},
dist AS (SELECT DISTINCT doc_id, match_text FROM cand_ok),
ms AS (
  SELECT doc_id,
         list(match_text ORDER BY length(match_text) DESC, match_text)
           AS ms
  FROM dist GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(len(m.ms), 0) AS BIGINT) AS n_masked,
       list_reduce(
         list_prepend(d.text, COALESCE(m.ms, CAST([] AS VARCHAR[]))),
         (acc, x) -> replace(acc, x, {fold_mask})) AS anon_text
FROM docs d LEFT JOIN ms m USING (doc_id)
"""


# --- curation verdict with a PII budget --------------------------------------

#: A document spending more than this fraction of its characters on
#: rule-matched PII spans is dropped outright — scrubbing can't save a
#: document that is mostly PII (a contact dump, a leaked table row).
MAX_PII_DENSITY = 0.1


def curate_pii_docs(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """The full curation verdict with the PII budget fused in: quality +
    repetition + decontamination (corpus.curate_docs) AND per-doc PII
    density, with 'pii_heavy' as the lowest-precedence drop reason
    (contaminated > repetitive > low_quality > pii_heavy).

    Both inputs are doc-keyed aggregates, so the fusion is one more
    doc-keyed join on top of the component operators' own shuffles."""
    from .corpus import curate_docs
    base = curate_docs(docs, spark)
    pii = doc_pii_density_docs(docs).select("doc_id", "pii_density")
    dens = F.coalesce(F.col("pii_density"), F.lit(0.0))
    reason = F.coalesce(
        F.col("drop_reason"),
        F.when(dens > MAX_PII_DENSITY, F.lit("pii_heavy")))
    return (base.join(pii, "doc_id")
            .select("doc_id", "quality_score", "dup_gram_frac",
                    "contaminated", "pii_density",
                    reason.isNull().alias("keep"),
                    reason.alias("drop_reason")))


def corpus_curate_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curate_pii_docs(augment_docs(_docs(spark, sf_dir)), spark)


def corpus_curate_pii_oracle_sql() -> str:
    from .corpus import curate_oracle_sql
    return f"""
WITH aug AS ({augmented_docs_sql()}),
base AS ({curate_oracle_sql('aug')}),
pii AS (
  SELECT doc_id, pii_density FROM ({doc_pii_density_oracle_sql()})
),
fused AS (
  SELECT b.doc_id, b.quality_score, b.dup_gram_frac, b.contaminated,
         p.pii_density,
         COALESCE(b.drop_reason,
                  CASE WHEN COALESCE(p.pii_density, 0) > {MAX_PII_DENSITY}
                       THEN 'pii_heavy' END) AS drop_reason
  FROM base b JOIN pii p USING (doc_id)
)
SELECT doc_id, quality_score, dup_gram_frac, contaminated, pii_density,
       drop_reason IS NULL AS keep, drop_reason
FROM fused
"""
