"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
public arXiv 2302.03169): select raw-pool documents whose hashed-ngram
distribution looks most like a small target domain. THE standard
pretraining-data domain-selection recipe (used for The Pile domain
matching and many since); beyond-reference, part of the LLM
data-pipeline family next to the quality classifier
(operators/quality.py) and the decontamination suite.

Semantics (deterministic, dual-dialect):

- features are hashed token BIGRAMS: adjacent lowercase whitespace
  tokens joined by one space, md5-bucketed into DSIR_NB buckets with
  the hex-digit arithmetic shared with quality_classifier_sql (the
  paper hashes unigrams+bigrams into 10k buckets; one bucket family
  keeps the oracle small while preserving the estimator's shape);
- the TARGET domain is the ``source = 'src0'`` slice of the corpus;
  the RAW pool is every other document (disjoint, so the target
  never selects itself);
- bucket marginals use add-one smoothing; the per-bucket log
  importance ratio is quantized ONCE to integer micro-units

      lb_micro(b) = floor(ln( (t_b + 1) * (R + NB)
                             / ((r_b + 1) * (T + NB)) ) * 1e6 + 0.5)

  where t_b / r_b are integer bucket counts and T / R the feature
  totals. The ln argument is a ratio of exact integers, so both
  engines take ln of the SAME double — but ln itself is NOT correctly
  rounded in either stack (JVM Math.log and libm both admit sub-ulp
  implementation slack), so this is the one transcendental left in a
  hashed column and an HONEST residual cross-engine risk: a flip
  needs ln(x)*1e6 within ~1e-10 of a half-integer, ~1e-10 odds per
  bucket across NB=128 buckets per run (the integer-only HLL rewrite
  eliminated its analogous risk entirely; ln has no integer form and
  a pinned-literal weight map is impossible because the oracle is a
  static SQL string that must derive the map from data). Quantizing
  per BUCKET (128 values) instead of per document-sum shrinks the
  boundary surface by orders of magnitude, and every downstream
  quantity is integer-exact BIGINT arithmetic:

      weight_micro(doc) = SUM_b cnt_b(doc) * lb_micro(b)

- selection = top DSIR_K raw docs by (weight_micro DESC, doc_id ASC)
  — the paper resamples with Gumbel noise; a deterministic top-k is
  the reproducible variant (the paper's Appendix ablates it as
  "top-k heuristic") and the only one a cross-engine gate can pin.

Output: drank, doc_id, n_feats (bigram count), weight (micro/1e6).

Scale shape (100 TB): one explode into bigram rows (linear, zero
joins — adjacent pairing is an in-row array transform, not a
self-join); (doc, bucket) counts map-side combine into <= NB rows per
doc before the one doc-keyed shuffle; the two marginal relations are
NB-row aggregates broadcast into the weight map; scoring is a
broadcast join + one doc-keyed sum; the global top-k runs the salted
two-phase window (the bm25_topk_docs discipline — no single-partition
window). No UDF, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Hashed-bigram buckets (NB marginal rows, broadcast).
DSIR_NB = 128
#: Selected raw documents.
DSIR_K = 200
#: Target-domain slice of the documents table.
DSIR_TARGET_SOURCE = "src0"
#: Salt fan-out for the two-phase global top-k.
DSIR_SALT = 16


def _bucket_sql(g: str) -> str:
    """md5 hex-digit arithmetic -> bucket id; byte-identical to
    quality_classifier_sql's bucket expression (same first-4-hex-digit
    fold), rendered over expression ``g``."""
    hexpos = f"instr('0123456789abcdef', substr(md5({g}), {{i}}, 1)) - 1"
    return (f"(({hexpos.format(i=1)}) * 4096 + ({hexpos.format(i=2)})"
            f" * 256 + ({hexpos.format(i=3)}) * 16 +"
            f" ({hexpos.format(i=4)})) % {DSIR_NB}")


def dsir_bigrams_cte(dialect: str, docs_rel: str) -> str:
    """(doc_id, is_target, b): one row per adjacent-token bigram with
    its hash bucket. The pairing is an in-row array walk — no
    self-join."""
    if dialect == "duckdb":
        arr = (f"SELECT doc_id, source, regexp_split_to_array("
               f"lower(text), ' +') AS a FROM {docs_rel}")
        pairs = (f"SELECT doc_id, source, a[i] || ' ' || a[i + 1] AS g "
                 f"FROM toks_a, unnest(range(1, array_length(a))) _u(i) "
                 f"WHERE array_length(a) >= 2")
    else:
        arr = (f"SELECT doc_id, source, split(lower(text), ' +') AS a "
               f"FROM {docs_rel}")
        pairs = (f"SELECT doc_id, source, concat(element_at(a, i), ' ', "
                 f"element_at(a, i + 1)) AS g "
                 f"FROM toks_a LATERAL VIEW explode(sequence(1, "
                 f"size(a) - 1)) _u AS i WHERE size(a) >= 2")
    return f"""
toks_a AS ({arr}),
bigrams AS (
  SELECT doc_id, source = '{DSIR_TARGET_SOURCE}' AS is_target,
         {_bucket_sql('g')} AS b
  FROM ({pairs}) _p
)"""


def dsir_select_sql(dialect: str, k: int = DSIR_K) -> str:
    """Full dual-dialect template: marginals -> micro log-ratios ->
    integer-exact doc weights -> global top-k (the oracle ranks with
    one window; the Spark entry point uses the salted DataFrame form
    below, result-identical by construction)."""
    return f"""
WITH {dsir_bigrams_cte(dialect, 'documents').lstrip()},
doc_b AS (
  SELECT doc_id, is_target, b, COUNT(*) AS cnt
  FROM bigrams GROUP BY doc_id, is_target, b
),
tgt AS (
  SELECT b, SUM(cnt) AS t_b FROM doc_b WHERE is_target GROUP BY b
),
raww AS (
  SELECT b, SUM(cnt) AS r_b FROM doc_b WHERE NOT is_target GROUP BY b
),
tots AS (
  SELECT COALESCE((SELECT SUM(t_b) FROM tgt), 0) AS tt,
         COALESCE((SELECT SUM(r_b) FROM raww), 0) AS rt
),
-- every bucket 0..NB-1 gets a ratio (smoothing covers empty buckets)
buckets AS (
  SELECT b, COALESCE(t.t_b, 0) AS t_b, COALESCE(r.r_b, 0) AS r_b
  FROM (SELECT {"unnest(range(0, " + str(DSIR_NB) + "))" if dialect == "duckdb"
                else "explode(sequence(0, " + str(DSIR_NB - 1) + "))"} AS b) _b
  LEFT JOIN tgt t USING (b) LEFT JOIN raww r USING (b)
),
wmap AS (
  SELECT b.b,
         CAST(floor(ln(CAST((b.t_b + 1) * (t.rt + {DSIR_NB}) AS DOUBLE)
                       / CAST((b.r_b + 1) * (t.tt + {DSIR_NB}) AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS lb_micro
  FROM buckets b CROSS JOIN tots t
),
doc_w AS (
  SELECT d.doc_id, SUM(d.cnt) AS n_feats,
         SUM(d.cnt * w.lb_micro) AS w_micro
  FROM doc_b d JOIN wmap w ON w.b = d.b
  WHERE NOT d.is_target
  GROUP BY d.doc_id
)
SELECT CAST(drank AS BIGINT) AS drank, doc_id,
       CAST(n_feats AS BIGINT) AS n_feats,
       round(CAST(w_micro AS DOUBLE) / 1000000.0, 6) AS weight
FROM (
  SELECT doc_id, n_feats, w_micro,
         row_number() OVER (ORDER BY w_micro DESC, doc_id) AS drank
  FROM doc_w
) _r WHERE drank <= {k}
"""


def dsir_doc_buckets(docs: DataFrame) -> DataFrame:
    """DOC-LOCAL featurization: (doc_id, is_target, b, cnt) hashed
    bigram-bucket counts. Needs nothing beyond the row, so a streaming
    microbatch can run it per slice and the union of slices equals the
    batch relation — the property stream_dsir_select leans on."""
    return (docs
            .withColumn("a", F.split(F.lower(F.col("text")), " +"))
            .where(F.size("a") >= 2)
            .select(
                "doc_id",
                (F.col("source") == DSIR_TARGET_SOURCE)
                .alias("is_target"),
                F.explode(F.expr(
                    "transform(sequence(1, size(a) - 1), "
                    "i -> concat(element_at(a, i), ' ', "
                    "element_at(a, i + 1)))")).alias("g"))
            .select("doc_id", "is_target",
                    F.expr(_bucket_sql("g")).alias("b"))
            .groupBy("doc_id", "is_target", "b")
            .agg(F.count("*").alias("cnt")))


def dsir_select_docs(docs: DataFrame, k: int = DSIR_K) -> DataFrame:
    """Spark entry: DataFrame form of the template. The (doc, bucket)
    count relation feeds THREE consumers (both marginals + the scored
    join), so it is materialized once (the bm25 localCheckpoint
    discipline — a naive CTE reuse re-runs the bigram explode per
    consumer); the global top-k is the salted two-phase window so no
    single partition holds the whole raw pool (each global top-k row
    survives its salt's partial top-k by construction)."""
    doc_b = dsir_doc_buckets(docs).localCheckpoint(eager=True)
    return dsir_resolve(doc_b, k)


def dsir_resolve(doc_b: DataFrame, k: int = DSIR_K) -> DataFrame:
    """Marginals -> micro log-ratio weight map -> integer-exact doc
    weights -> salted top-k, over a MATERIALIZED (doc_id, is_target,
    b, cnt) relation (batch doc_b or a streaming spool — identical
    relation, identical result)."""
    spark = doc_b.sparkSession
    tgt = doc_b.where("is_target").groupBy("b") \
        .agg(F.sum("cnt").alias("t_b"))
    raww = doc_b.where("NOT is_target").groupBy("b") \
        .agg(F.sum("cnt").alias("r_b"))
    tots = doc_b.agg(
        F.coalesce(F.sum(F.when(F.col("is_target"), F.col("cnt"))),
                   F.lit(0)).alias("tt"),
        F.coalesce(F.sum(F.when(~F.col("is_target"), F.col("cnt"))),
                   F.lit(0)).alias("rt"))
    wmap = (spark.range(DSIR_NB).select(F.col("id").cast("int").alias("b"))
            .join(tgt, "b", "left").join(raww, "b", "left")
            .crossJoin(F.broadcast(tots))
            .select("b", F.expr(
                # byte-identical arithmetic to dsir_select_sql's wmap
                "CAST(floor(ln(CAST((coalesce(t_b, 0) + 1) * (rt + "
                f"{DSIR_NB}) AS DOUBLE) / CAST((coalesce(r_b, 0) + 1) * "
                f"(tt + {DSIR_NB}) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
            ).alias("lb_micro")))
    scored = (doc_b.where("NOT is_target")
              .join(F.broadcast(wmap), "b")
              .groupBy("doc_id")
              .agg(F.sum("cnt").alias("n_feats"),
                   F.sum(F.col("cnt") * F.col("lb_micro"))
                   .alias("w_micro")))
    wpart = Window.partitionBy(F.pmod(F.col("doc_id"), F.lit(DSIR_SALT))) \
        .orderBy(F.desc("w_micro"), F.asc("doc_id"))
    part = (scored.withColumn("pr", F.row_number().over(wpart))
            .where(F.col("pr") <= k).drop("pr"))
    w = Window.orderBy(F.desc("w_micro"), F.asc("doc_id"))
    return (part.withColumn("drank", F.row_number().over(w).cast("bigint"))
            .where(F.col("drank") <= k)
            .select("drank", "doc_id",
                    F.col("n_feats").cast("bigint").alias("n_feats"),
                    F.round(F.col("w_micro").cast("double") / 1e6, 6)
                    .alias("weight")))


def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: DSIR selection of the DSIR_K most
    src0-like raw documents."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_select_docs(docs)
