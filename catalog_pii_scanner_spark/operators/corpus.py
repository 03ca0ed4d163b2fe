"""Corpus-curation operators for the LLM training-data pipeline surface:
benchmark decontamination, within-document repetition signals, stratified
per-language sampling, and global vocabulary statistics.

Beyond the reference's own operator set (its detection works on short
sampled catalog values; reference src/catalog_pii_scanner/scanner.py) —
these are the corpus-level curation passes a 100 TB text pipeline runs
alongside the dedup family (operators/dedup.py), and they share its
tokenization and straggler-cap conventions.

Scale shapes:
- k-gram generation is posexplode + per-doc lead window: ONE shuffle on
  doc_id, codegen-friendly (the HOF-transform formulation drops Spark to
  interpreted eval — measured in PERF.md), with the MAX_SHINGLE_TOKENS
  cap shared with dedup so one monster document cannot become the
  straggler task.
- decontamination joins training k-grams against the benchmark k-gram
  set; the benchmark side is tiny by construction at any corpus scale,
  so AQE broadcasts it — no shuffle of the big side.
- repetition stats aggregate on doc_id, the same key the gram window
  hash-partitioned on, so the two-level aggregation adds no shuffle.
- vocabulary counts partial-aggregate map-side before the single
  token-keyed shuffle; top-k is TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..oracles import (ratio_round_halfup,
                        ratio_round_halfup_guarded)

from .dedup import MAX_SHINGLE_TOKENS

#: Benchmark-overlap n-gram size — the classic 13-gram decontamination
#: test (GPT-2/GPT-3 style n-gram collision against eval sets).
DECON_K = 13
#: Deterministic benchmark membership: doc_id % DECON_BENCH_MOD == 0.
DECON_BENCH_MOD = 37
#: Per-language quota for the stratified sample query.
STRATA_QUOTA = 50
#: Global vocabulary top-k.
VOCAB_TOPK = 100


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def doc_kgrams(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, gram) word k-grams over the first MAX_SHINGLE_TOKENS
    tokens, via
    posexplode + lead window (see module docstring for why not HOF).
    Delegates to :func:`doc_kgrams_pos` (Catalyst prunes the unused pos
    column) so the kgram semantics have a single definition."""
    return doc_kgrams_pos(docs, k).select("doc_id", "gram")


def _kgram_sql_duckdb(k: int) -> str:
    """DuckDB ARRAY of word k-grams (mirrors dedup._shingles_sql)."""
    gram = " || ' ' || ".join(
        f"list_extract(t, CAST(i + {j + 1} AS INT))" for j in range(k))
    toks = f"(regexp_split_to_array(text, ' +'))[1:{MAX_SHINGLE_TOKENS}]"
    return (f"(SELECT list_transform(range(0, greatest(len(t) - {k - 1},"
            f" 0)), i -> {gram}) FROM (SELECT {toks} AS t) _s)")


# --- benchmark decontamination ----------------------------------------------

def decontaminate_docs(docs: DataFrame) -> DataFrame:
    """Flag training documents sharing any k-gram with the benchmark set
    (docs whose doc_id % DECON_BENCH_MOD == 0). Output one row per TRAINING
    doc: (doc_id, n_hits, contaminated) where n_hits counts the distinct
    shared k-grams. The benchmark-gram relation is small at any corpus
    scale, so the hit join broadcasts it (AQE)."""
    grams = doc_kgrams(docs, DECON_K).distinct()
    is_bench = (F.col("doc_id") % DECON_BENCH_MOD) == 0
    bench = grams.where(is_bench).select("gram").distinct()
    hits = (grams.where(~is_bench).join(bench, "gram")
            .groupBy("doc_id").agg(F.count("*").alias("hits")))
    n = F.coalesce(F.col("hits"), F.lit(0)).cast("bigint")
    return (docs.where(~is_bench).select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id", n.alias("n_hits"),
                    (n > 0).alias("contaminated")))


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate_docs(_docs(spark, sf_dir))


#: Novelty-audit gram size: shorter than the 13-gram decontamination
#: window (novelty RATES need non-trivial overlap mass to be
#: informative; 8-grams are the common memorization-probe window).
NOVELTY_K = 8


def ngram_novelty_docs(docs: DataFrame, k: int = NOVELTY_K) -> DataFrame:
    """Per-BENCHMARK-doc novelty audit — the inverse direction of
    :func:`decontaminate_docs` (which flags training docs): for each
    eval doc, how many of its distinct k-grams already appear anywhere
    in the training corpus (the GPT-2/3 contamination methodology
    turned into a per-doc memorization rate; a bench doc whose grams
    are all 'seen' is fully leaked, novelty 1.0 means untouched).

    Output per bench doc: n_grams, n_seen (BIGINT), novelty =
    tie-exact (n_grams - n_seen) / n_grams.

    Plan: one doc-keyed gram explode + ONE md5-keyed distinct over the
    training grams (corpus-scale, the decontaminate shuffle); the
    bench gram relation is eval-suite-sized at any corpus scale, so it
    BROADCASTS into the seen-join — the training side never reshuffles
    for the join. Docs with zero grams (empty/NULL text) have no
    novelty rate and are absent, in both engines.

    NOTE: implemented and tested in round 12; queries()/oracle_sql()
    registration is deferred to the round-13 window (the round-12
    FRONT_50 is exactly full and a never-gated entry may not be
    parked — tests/test_entry_contract.py rule 1)."""
    grams = doc_kgrams(docs, k).distinct()
    is_bench = (F.col("doc_id") % DECON_BENCH_MOD) == 0
    bench = grams.where(is_bench)
    train = grams.where(~is_bench).select("gram").distinct()
    per_doc = bench.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"))
    seen = (train.join(F.broadcast(bench), "gram")
            .groupBy("doc_id").agg(F.count("*").alias("n_seen")))
    # coalesce n_seen BEFORE the ratio projection: the guarded
    # fragment references the column by name, and a NULL (no gram
    # seen) must read as 0 there, exactly as in the oracle
    joined = (per_doc.join(seen, "doc_id", "left")
              .select("doc_id",
                      F.col("n_grams").cast("bigint").alias("n_grams"),
                      F.coalesce(F.col("n_seen"), F.lit(0))
                      .cast("bigint").alias("n_seen")))
    return joined.select(
        "doc_id", "n_grams", "n_seen",
        F.expr(ratio_round_halfup_guarded(
            "spark", "n_grams - n_seen", "n_grams")).alias("novelty"))


def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty_docs(_docs(spark, sf_dir))


def ngram_novelty_oracle_sql() -> str:
    novelty = ratio_round_halfup_guarded(
        "duckdb", "p.n_grams - COALESCE(s.n_seen, 0)", "p.n_grams")
    return f"""
WITH grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, unnest({_kgram_sql_duckdb(NOVELTY_K)}) AS gram
    FROM documents) _e
),
bench AS (SELECT doc_id, gram FROM grams
          WHERE doc_id % {DECON_BENCH_MOD} = 0),
train AS (SELECT DISTINCT gram FROM grams
          WHERE doc_id % {DECON_BENCH_MOD} <> 0),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
  FROM bench GROUP BY doc_id
),
seen AS (
  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_seen
  FROM train t JOIN bench b ON b.gram = t.gram GROUP BY b.doc_id
)
SELECT p.doc_id,
       p.n_grams,
       CAST(COALESCE(s.n_seen, 0) AS BIGINT) AS n_seen,
       {novelty} AS novelty
FROM per_doc p LEFT JOIN seen s ON s.doc_id = p.doc_id
"""


def decontaminate_oracle_sql(docs_rel: str = "documents") -> str:
    return f"""
WITH grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, unnest({_kgram_sql_duckdb(DECON_K)}) AS gram
    FROM {docs_rel}) _e
),
bench AS (SELECT DISTINCT gram FROM grams
          WHERE doc_id % {DECON_BENCH_MOD} = 0),
hits AS (
  SELECT g.doc_id, COUNT(*) AS hits
  FROM grams g JOIN bench b USING (gram)
  WHERE g.doc_id % {DECON_BENCH_MOD} <> 0 GROUP BY g.doc_id
)
SELECT d.doc_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.hits, 0) > 0 AS contaminated
FROM {docs_rel} d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {DECON_BENCH_MOD} <> 0
"""


# --- within-document repetition (Gopher-style quality signal) ---------------

def repetition_docs(docs: DataFrame) -> DataFrame:
    """Per-doc duplicate-2-gram stats: n_grams, n_distinct,
    dup_gram_frac = (n_grams - n_distinct) / n_grams and top_gram_share =
    max gram multiplicity / n_grams (0.0 when the doc has < 2 tokens)."""
    per_gram = (doc_kgrams(docs, 2)
                .groupBy("doc_id", "gram").agg(F.count("*").alias("cnt")))
    stats = per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("ng"), F.count("*").alias("nd"),
        F.max("cnt").alias("top"))
    ng = F.coalesce(F.col("ng"), F.lit(0)).cast("bigint")
    nd = F.coalesce(F.col("nd"), F.lit(0)).cast("bigint")
    top = F.coalesce(F.col("top"), F.lit(0)).cast("bigint")
    # tie-exact ratios (oracles.ratio_round_halfup): int/int quotients
    # tie exactly at 1e-6 whenever the reduced denominator is 2^7*5^b
    # (n_grams = 640: 1/640 = 0.0015625), where round() of a double
    # quotient is engine-dependent. Bare columns like the DuckDB twin:
    # the ng > 0 guard already screens the NULL/zero left-join rows
    # (CASE evaluates its THEN arm lazily in both engines)
    frac = F.when(ng > 0, F.expr(ratio_round_halfup(
        "spark", "ng - nd", "ng"))).otherwise(0.0)
    share = F.when(ng > 0, F.expr(ratio_round_halfup(
        "spark", "top", "ng"))).otherwise(0.0)
    return (docs.select("doc_id").join(stats, "doc_id", "left")
            .select("doc_id", ng.alias("n_grams"), nd.alias("n_distinct"),
                    frac.alias("dup_gram_frac"),
                    share.alias("top_gram_share")))


def repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_docs(_docs(spark, sf_dir))


def repetition_oracle_sql(docs_rel: str = "documents") -> str:
    return f"""
WITH per_gram AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM (
    SELECT doc_id, unnest({_kgram_sql_duckdb(2)}) AS gram
    FROM {docs_rel}) _e
  GROUP BY doc_id, gram
),
stats AS (
  SELECT doc_id, SUM(cnt) AS ng, COUNT(*) AS nd, MAX(cnt) AS top
  FROM per_gram GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(ng, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(nd, 0) AS BIGINT) AS n_distinct,
       CASE WHEN COALESCE(ng, 0) > 0
            THEN {ratio_round_halfup("duckdb", "ng - nd", "ng")}
            ELSE 0.0 END AS dup_gram_frac,
       CASE WHEN COALESCE(ng, 0) > 0
            THEN {ratio_round_halfup("duckdb", "top", "ng")}
            ELSE 0.0 END AS top_gram_share
FROM {docs_rel} d LEFT JOIN stats s ON d.doc_id = s.doc_id
"""


# --- stratified per-language sampling ---------------------------------------

def stratified_sample_docs(docs: DataFrame,
                           quota: int = STRATA_QUOTA) -> DataFrame:
    """Deterministic per-language quota sample: rank docs inside each
    language by md5(doc_id) (a stable pseudo-random order both engines
    compute identically) and keep the first ``quota``. The data-mixing
    primitive: bounded, reproducible per-stratum subsets. One shuffle on
    lang; rank-then-filter keeps only quota rows per stratum."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (docs.select("doc_id", "lang")
            .withColumn("rk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rk") <= quota)
            .select("lang", "rk", "doc_id"))


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_sample_docs(_docs(spark, sf_dir))


def stratified_sample_oracle_sql() -> str:
    return f"""
SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
) WHERE rk <= {STRATA_QUOTA}
"""


# --- TF-IDF keyword extraction ----------------------------------------------

#: Keywords kept per document.
TFIDF_TOPK = 3


def tfidf_keywords_docs(docs: DataFrame, k: int = TFIDF_TOPK) -> DataFrame:
    """Top-k tokens per document by smoothed TF-IDF
    (tf/n_tok * ln((N+1)/(df+1))), ties by token asc. Ranking happens on
    the ROUNDED score in both engines so a ULP of ln() cannot reorder.

    Shuffle shape: per-doc term counts (one doc-keyed shuffle), document
    frequencies (one token-keyed shuffle, reused by the join), a
    broadcast of the 1-row corpus count, and the per-doc top-k window on
    the doc key again. All aggregations reduce before joining."""
    toks = (docs.select("doc_id", F.explode(
                F.split(F.lower(F.col("text")), " +")).alias("token"))
            .where(F.col("token") != ""))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    doc_len = tf.groupBy("doc_id").agg(F.sum("tf").alias("n_tok"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    ndocs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doc_len, "doc_id").join(dfreq, "token")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("tfidf", F.round(
            (F.col("tf") / F.col("n_tok").cast("double"))
            * F.log((F.col("n_docs") + 1).cast("double")
                    / (F.col("df") + 1)), 6)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"),
                                             F.asc("token"))
    return (scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rk") <= k)
            .select("doc_id", "rk", "token", "tfidf"))


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_keywords_docs(_docs(spark, sf_dir))


def tfidf_keywords_oracle_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), ' +')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
       WHERE token <> '' GROUP BY doc_id, token),
dl AS (SELECT doc_id, SUM(tf) AS n_tok FROM tf GROUP BY doc_id),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.token,
         round((t.tf / CAST(d.n_tok AS DOUBLE))
               * ln((n.n_docs + 1) / CAST(f.df + 1 AS DOUBLE)), 6)
           AS tfidf
  FROM tf t
  JOIN dl d USING (doc_id)
  JOIN dfq f USING (token)
  CROSS JOIN nd n
)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token ASC) AS rk
  FROM scored
) WHERE rk <= {TFIDF_TOPK}
"""


# --- sequence packing (concat-then-chunk) -----------------------------------

#: Tokens per packed training sequence. A power of two keeps the
#: start/budget division EXACT in binary floating point, so floor() can
#: never disagree between engines at a bin boundary.
TOKEN_BUDGET = 512


def pack_sequences_docs(docs: DataFrame,
                        budget: int = TOKEN_BUDGET) -> DataFrame:
    """GPT-style sequence packing: concatenate every document's tokens in
    a deterministic pseudo-random order (md5(doc_id)) and chunk the token
    stream at ``budget`` boundaries. Output per doc: (doc_id, start_tok —
    global offset of the doc's first token, n_tokens, seq_id — the
    training sequence its first token lands in, straddles — whether the
    doc crosses a sequence boundary and is split across two sequences).

    Scale shape: the global running sum evaluates as plans/prefix.py's
    two-level bucketed prefix sum — no single-partition window at any
    corpus size.
    """
    from ..plans.prefix import running_total
    base = docs.select(
        "doc_id",
        F.size(F.split("text", " +")).cast("bigint").alias("n_tokens"))
    cum = running_total(base, "doc_id", "n_tokens", "start_tok")
    start = F.col("start_tok")
    seq = F.floor(start / F.lit(budget)).cast("bigint")
    last_seq = F.floor((start + F.col("n_tokens") - 1) / F.lit(budget))
    straddles = F.when(F.col("n_tokens") > 0,
                       seq != last_seq.cast("bigint")).otherwise(F.lit(False))
    return cum.select("doc_id", start.cast("bigint").alias("start_tok"),
                      "n_tokens", seq.alias("seq_id"),
                      straddles.alias("straddles"))


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences_docs(_docs(spark, sf_dir))


def pack_sequences_oracle_sql() -> str:
    """Oracle = the semantic definition: ONE global running sum over the
    md5 order (fine at oracle scale; the engine's two-level bucket sum is
    the distributed evaluation of this exact expression)."""
    return f"""
WITH base AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS start_tok
  FROM base
)
SELECT doc_id, CAST(start_tok AS BIGINT) AS start_tok, n_tokens,
       CAST(floor(start_tok / {TOKEN_BUDGET}) AS BIGINT) AS seq_id,
       CASE WHEN n_tokens > 0
            THEN floor(start_tok / {TOKEN_BUDGET})
                 <> floor((start_tok + n_tokens - 1) / {TOKEN_BUDGET})
            ELSE FALSE END AS straddles
FROM cum
"""


# --- temperature-scaled source mixture ---------------------------------------

#: sqrt-scale factor: per-source quota = floor(sqrt(n_src) * SCALE). The
#: alpha=0.5 temperature of multilingual-sampling fame, expressed WITHOUT
#: a cross-source normalizing sum — sqrt and *2.0 are single exactly-
#: rounded IEEE ops both engines compute bit-identically, whereas
#: floor(N * p_i / sum_j p_j) can flip on the last ULP of a float SUM
#: whose accumulation order differs between engines.
MIXTURE_SCALE = 2.0


def temperature_sample_docs(docs: DataFrame,
                            scale: float = MIXTURE_SCALE) -> DataFrame:
    """Temperature-scaled mixture sampling by source: over-represented
    sources are down-sampled toward sqrt proportions (alpha=0.5), the
    standard rebalancing for heavy-head corpus mixtures. Deterministic:
    docs rank by md5 within source, first quota kept.

    Shuffle shape: one tiny source-count aggregate (broadcast back), one
    source-keyed window. Output: source, rk, doc_id, quota."""
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    quotas = counts.select(
        "source",
        F.greatest(F.lit(1).cast("bigint"),
                   F.floor(F.sqrt(F.col("n_src").cast("double"))
                           * F.lit(scale)).cast("bigint")).alias("quota"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (docs.select("source", "doc_id")
            .withColumn("rk", F.row_number().over(w).cast("bigint"))
            .join(F.broadcast(quotas), "source")
            .where(F.col("rk") <= F.col("quota"))
            .select("source", "rk", "doc_id", "quota"))


def temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_sample_docs(_docs(spark, sf_dir))


def temperature_sample_oracle_sql() -> str:
    return f"""
WITH quotas AS (
  SELECT source,
         greatest(CAST(1 AS BIGINT),
                  CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * {MIXTURE_SCALE})
                       AS BIGINT)) AS quota
  FROM documents GROUP BY source
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT r.source, CAST(r.rk AS BIGINT) AS rk, r.doc_id, q.quota
FROM ranked r JOIN quotas q USING (source)
WHERE r.rk <= q.quota
"""


# --- end-to-end curation verdict ---------------------------------------------

#: Keep thresholds (tuned on the testdata distributions: quality p25 is
#: ~0.645, dup_gram_frac p75 ~0.047 — each gate does real work).
MIN_QUALITY = 0.65
MAX_DUP_FRAC = 0.05


def curate_docs(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """The corpus-level flagship composition (the curation analog of the
    scan family's pii_full_pipeline): quality scoring + within-doc
    repetition + benchmark decontamination fused into one keep/drop
    verdict per training document, with the first failing gate as the
    drop reason (precedence: contaminated > repetitive > low_quality).

    All three inputs aggregate on doc_id before the joins, so the fused
    query adds joins of three doc-keyed relations — no new data-sized
    shuffles beyond the component operators' own."""
    from .textstats import doc_quality_sql
    docs.createOrReplaceTempView("cpss_curate_docs")
    quality = spark.sql(doc_quality_sql("spark", "cpss_curate_docs")) \
        .select("doc_id", "quality_score")
    rep = repetition_docs(docs).select("doc_id", "dup_gram_frac")
    decon = decontaminate_docs(docs).select("doc_id", "contaminated")
    out = (decon.join(quality, "doc_id").join(rep, "doc_id"))
    reason = (
        F.when(F.col("contaminated"), F.lit("contaminated"))
        .when(F.col("dup_gram_frac") > MAX_DUP_FRAC, F.lit("repetitive"))
        .when(F.col("quality_score") < MIN_QUALITY, F.lit("low_quality")))
    return out.select(
        "doc_id", "quality_score", "dup_gram_frac", "contaminated",
        reason.isNull().alias("keep"), reason.alias("drop_reason"))


def curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curate_docs(_docs(spark, sf_dir), spark)


def curate_oracle_sql(docs_rel: str = "documents") -> str:
    from .textstats import doc_quality_sql
    return f"""
WITH quality AS (
  SELECT doc_id, quality_score FROM ({doc_quality_sql("duckdb", docs_rel)})
),
rep AS (
  SELECT doc_id, dup_gram_frac FROM ({repetition_oracle_sql(docs_rel)})
),
decon AS (
  SELECT doc_id, contaminated FROM ({decontaminate_oracle_sql(docs_rel)})
),
fused AS (
  SELECT d.doc_id, q.quality_score, r.dup_gram_frac, d.contaminated,
         CASE WHEN d.contaminated THEN 'contaminated'
              WHEN r.dup_gram_frac > {MAX_DUP_FRAC} THEN 'repetitive'
              WHEN q.quality_score < {MIN_QUALITY} THEN 'low_quality'
              END AS drop_reason
  FROM decon d JOIN quality q USING (doc_id) JOIN rep r USING (doc_id)
)
SELECT doc_id, quality_score, dup_gram_frac, contaminated,
       drop_reason IS NULL AS keep, drop_reason
FROM fused
"""


# --- unigram LM scoring (CCNet-style quality signal) -------------------------

def _avg_cost_halfup(n_col: str):
    """Mean of the exact-decimal ``cost_sum`` over ``n_col`` as a
    DOUBLE — the per-item costs are exact 1e-6 decimals, so the sum is
    an exact micro-unit integer and the true mean can land EXACTLY on
    a half-micro tie (fuzz seed 777001, doc 127: 129231685 / 22 =
    5874167.5) where Spark's and DuckDB's round() disagree. One shared
    tie-exact fragment (oracles.ratio_round_halfup) for both engines."""
    return F.expr(ratio_round_halfup("spark", "cost_sum", n_col,
                                     num_scale=6))


def _avg_cost_halfup_sql() -> str:
    """DuckDB twin of _avg_cost_halfup over SUM(cost)."""
    return ratio_round_halfup("duckdb", "SUM(cost)", "COUNT(*)", num_scale=6)


def unigram_logprob_docs(docs: DataFrame) -> DataFrame:
    """Per-document mean negative log-probability under the corpus
    unigram LM — the CCNet-style "perplexity" filter: prose made of
    common tokens scores low, token-salad scores high.

    Determinism across engines: per-token costs are rounded to 1e-6 and
    summed as DECIMAL(28,6), so the (engine-specific) reduction order
    cannot move the sum by a ULP; the rounding also absorbs any last-ULP
    libm difference in ln() itself. Shuffle shape: token-keyed count
    (reused by the join), broadcast 1-row total, doc-keyed average.

    Output: doc_id, n_tokens, avg_neg_logp (rounded 1e-6)."""
    toks = (docs.select("doc_id", F.explode(
                F.split(F.lower(F.col("text")), " +")).alias("token"))
            .where(F.col("token") != ""))
    vocab = toks.groupBy("token").agg(F.count("*").alias("tok_n"))
    total = vocab.agg(F.sum("tok_n").alias("tok_total"))
    cost = F.round(-F.log(F.col("tok_n")
                          / F.col("tok_total").cast("double")), 6) \
        .cast("decimal(28,6)")
    scored = (toks.join(vocab, "token")
              .crossJoin(F.broadcast(total))
              .select("doc_id", cost.alias("cost")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("cost").alias("cost_sum"))
            .select("doc_id", "n_tokens",
                    _avg_cost_halfup("n_tokens").alias("avg_neg_logp")))


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_logprob_docs(_docs(spark, sf_dir))


def unigram_logprob_oracle_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), ' +')) AS token
  FROM documents
),
toks_ok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
vocab AS (SELECT token, COUNT(*) AS tok_n FROM toks_ok GROUP BY token),
total AS (SELECT SUM(tok_n) AS tok_total FROM vocab),
scored AS (
  SELECT t.doc_id,
         CAST(round(-ln(v.tok_n / CAST(x.tok_total AS DOUBLE)), 6)
              AS DECIMAL(28,6)) AS cost
  FROM toks_ok t JOIN vocab v USING (token) CROSS JOIN total x
)
SELECT doc_id, COUNT(*) AS n_tokens,
       {_avg_cost_halfup_sql()} AS avg_neg_logp
FROM scored GROUP BY doc_id
"""


# --- bigram LM document scoring ---------------------------------------------

def bigram_logprob_docs(docs: DataFrame) -> DataFrame:
    """Per-document mean negative log-probability under the corpus
    bigram MLE model: cost(w1 w2) = -ln(c(w1 w2) / c(w1->*)), the
    context count c(w1->*) being the number of bigrams starting with w1
    (proper conditional — rows sum to 1 per context). Sharper than the
    unigram filter: token-salad with common words scores high here
    because its *transitions* are rare.

    Same determinism discipline as the unigram LM: per-bigram costs are
    rounded to 1e-6 then summed as DECIMAL(28,6), so reduction order
    cannot move the result. Shuffle shape: one doc-keyed window builds
    bigrams (same posexplode+lead form as the shingle machinery),
    bigram- and context-keyed counts partial-aggregate map-side, the
    final agg is doc-keyed. Documents with fewer than two tokens have no
    bigram and produce no row (both engines).

    Output: doc_id, n_bigrams, avg_neg_logp (rounded 1e-6)."""
    toks = (docs.select(
                "doc_id",
                F.posexplode(F.split(F.lower(F.col("text")), " +"))
                .alias("pos", "token"))
            .where(F.col("token") != ""))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (toks.withColumn("t1", F.lead("token", 1).over(w))
           .where(F.col("t1").isNotNull())
           .select("doc_id", F.col("token").alias("w1"),
                   F.concat_ws(" ", "token", "t1").alias("bigram")))
    bcounts = big.groupBy("bigram").agg(F.count("*").alias("big_n"))
    ctx = big.groupBy("w1").agg(F.count("*").alias("ctx_n"))
    cost = F.round(-F.log(F.col("big_n")
                          / F.col("ctx_n").cast("double")), 6) \
        .cast("decimal(28,6)")
    scored = (big.join(bcounts, "bigram").join(ctx, "w1")
              .select("doc_id", cost.alias("cost")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("cost").alias("cost_sum"))
            .select("doc_id", "n_bigrams",
                    _avg_cost_halfup("n_bigrams").alias("avg_neg_logp")))


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_logprob_docs(_docs(spark, sf_dir))


def bigram_logprob_oracle_sql() -> str:
    return f"""
WITH toks0 AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS token
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS toks
        FROM documents) _t
),
toks AS (SELECT doc_id, pos, token FROM toks0 WHERE token <> ''),
big0 AS (
  SELECT doc_id, token AS w1,
         lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS t1
  FROM toks
),
big AS (
  SELECT doc_id, w1, w1 || ' ' || t1 AS bigram FROM big0
  WHERE t1 IS NOT NULL
),
bcounts AS (SELECT bigram, COUNT(*) AS big_n FROM big GROUP BY bigram),
ctx AS (SELECT w1, COUNT(*) AS ctx_n FROM big GROUP BY w1),
scored AS (
  SELECT b.doc_id,
         CAST(round(-ln(bc.big_n / CAST(c.ctx_n AS DOUBLE)), 6)
              AS DECIMAL(28,6)) AS cost
  FROM big b JOIN bcounts bc USING (bigram) JOIN ctx c USING (w1)
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       {_avg_cost_halfup_sql()} AS avg_neg_logp
FROM scored GROUP BY doc_id
"""


# --- global vocabulary top-k ------------------------------------------------

def vocab_topk_docs(docs: DataFrame, k: int = VOCAB_TOPK) -> DataFrame:
    """Top-k lowercased whitespace tokens by global frequency, ties by
    token asc. groupBy partial-aggregates map-side; orderBy+limit plans
    as TakeOrderedAndProject (per-partition top-k + driver merge, no
    global sort); the rank window runs over <= k rows."""
    toks = (docs.select(F.explode(
                F.split(F.lower(F.col("text")), " +")).alias("token"))
            .where(F.col("token") != ""))
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (top.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .select("rk", "token", "n"))


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_topk_docs(_docs(spark, sf_dir))


def vocab_topk_oracle_sql() -> str:
    return f"""
SELECT row_number() OVER (ORDER BY n DESC, token ASC) AS rk, token, n
FROM (
  SELECT token, COUNT(*) AS n FROM (
    SELECT unnest(regexp_split_to_array(lower(text), ' +')) AS token
    FROM documents) _e
  WHERE token <> '' GROUP BY token
)
QUALIFY rk <= {VOCAB_TOPK}
"""


# --- deterministic train/val/test split --------------------------------------

#: (name, fraction) in assignment order; fractions sum to 1.
SPLIT_FRACS = (("train", 0.90), ("val", 0.05), ("test", 0.05))


def _split_bounds() -> list[tuple[str, str]]:
    """Cumulative fraction boundaries as 8-hex-digit strings: a doc goes
    to the first split whose boundary exceeds the doc's md5-prefix. Hex
    STRING comparison avoids any cross-engine numeric parsing — both
    engines produce the identical lowercase digest."""
    out, acc = [], 0.0
    for name, frac in SPLIT_FRACS:
        acc += frac
        out.append((name, format(min(int(acc * 16 ** 8), 16 ** 8 - 1),
                                 "08x")))
    return out


def split_docs(docs: DataFrame) -> DataFrame:
    """Reproducible corpus split: doc -> split by the first 8 hex chars
    of md5(doc_id) against cumulative-fraction boundaries. Hash-range
    (not row_number) assignment: stable under corpus growth — adding
    documents never reassigns an existing one — and embarrassingly
    parallel (a projection; zero shuffles).

    Output: doc_id, bucket (the hex prefix), split."""
    h = F.substring(F.md5(F.col("doc_id").cast("string")
                          .cast("binary")), 1, 8)
    bounds = _split_bounds()
    # CASE chain in declaration order (first matching boundary wins)
    case = None
    for name, bound in bounds[:-1]:
        clause = h < F.lit(bound)
        case = F.when(clause, F.lit(name)) if case is None \
            else case.when(clause, F.lit(name))
    case = case.otherwise(F.lit(bounds[-1][0])) if case is not None \
        else F.lit(bounds[-1][0])
    return docs.select("doc_id", h.alias("bucket"), case.alias("split"))


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return split_docs(_docs(spark, sf_dir))


def corpus_split_oracle_sql() -> str:
    bounds = _split_bounds()
    whens = " ".join(
        f"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{b}' "
        f"THEN '{n}'" for n, b in bounds[:-1])
    return f"""
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS bucket,
       CASE {whens} ELSE '{bounds[-1][0]}' END AS split
FROM documents
"""


# --- character-entropy quality signal ----------------------------------------

def char_entropy_docs(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (nats)
    — low entropy flags repeated-char padding / single-token spam that
    token-level signals can miss; very high entropy flags binary-ish
    noise. Per-(doc, char) contribution c/n * ln(n/c) is rounded to
    1e-6 and summed as DECIMAL, so reduction order cannot move the
    result. One explode + one (doc, char) group + one doc-keyed sum.

    Output: doc_id, n_chars_used, n_distinct_chars, entropy."""
    # split('') advances the regex by one code point, so it yields the
    # same per-position characters substring(text, i, 1) walked — in ONE
    # pass over the string instead of an O(position) seek per exploded
    # row (substring on UTF-8 re-scans from the front: the old shape was
    # O(len^2) per document, measured 3.5 s -> 1.4 s at sf0.1)
    chars = (docs.select(
                "doc_id",
                F.explode(F.split(F.col("text"), "")).alias("ch"))
             .where(F.col("ch") != ""))
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    totals = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct"))
    term = F.round((F.col("c") / F.col("n"))
                   * F.log(F.col("n") / F.col("c")), 6) \
        .cast("decimal(28,6)")
    return (counts.join(totals, "doc_id")
            .select("doc_id", "n", "n_distinct", term.alias("term"))
            .groupBy("doc_id")
            .agg(F.first("n").alias("n_chars_used"),
                 F.first("n_distinct").cast("bigint")
                 .alias("n_distinct_chars"),
                 F.sum("term").cast("double").alias("entropy"))
            .select("doc_id",
                    F.col("n_chars_used").cast("bigint")
                    .alias("n_chars_used"),
                    "n_distinct_chars",
                    F.round("entropy", 6).alias("entropy")))


def corpus_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return char_entropy_docs(_docs(spark, sf_dir))


def char_entropy_oracle_sql() -> str:
    return """
WITH chars AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
  FROM documents, LATERAL (
    SELECT unnest(range(1, length(text) + 1)) AS i) _u
  WHERE substr(text, CAST(i AS INT), 1) <> ''
),
counts AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
totals AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM counts GROUP BY doc_id
),
terms AS (
  SELECT t.doc_id, t.n, t.n_distinct,
         CAST(round((c.c / CAST(t.n AS DOUBLE))
                    * ln(CAST(t.n AS DOUBLE) / c.c), 6)
              AS DECIMAL(28,6)) AS term
  FROM counts c JOIN totals t USING (doc_id)
)
SELECT doc_id, MIN(n) AS n_chars_used, MIN(n_distinct) AS n_distinct_chars,
       round(CAST(SUM(term) AS DOUBLE), 6) AS entropy
FROM terms GROUP BY doc_id
"""


# --- exact-substring duplication (Lee et al., Deduplicating Training Data
# Makes Language Models Better — the cross-document complement to the
# within-doc `repetition` stats and the whole-doc MinHash/Jaccard joins:
# a W-token window occurring in MORE THAN ONE document marks boilerplate
# or verbatim copying that document-level similarity misses entirely) ---

#: Window length in tokens. The paper dedups 50-token spans over a
#: crawl; the synthetic corpus's docs are shorter, so the default keeps
#: the operator's output non-trivial while the semantics are identical
#: at any W.
SUBSTR_W = 8


def doc_kgrams_pos(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gram): the kgram construction with the window's
    start-token position kept (needed for run merging).
    :func:`doc_kgrams` delegates here so the tokenization/cap semantics
    live in exactly one place."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " +")).alias("pos", "tok"))
    toks = toks.where(F.col("pos") < MAX_SHINGLE_TOKENS)
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(w).alias(f"_t{i}") for i in range(1, k)]
    out = toks.select("doc_id", "pos", "tok", *leads)
    if k > 1:
        out = out.where(F.col(f"_t{k - 1}").isNotNull())
    parts = [F.col("tok")] + [F.col(f"_t{i}") for i in range(1, k)]
    return out.select("doc_id", "pos",
                      F.concat_ws(" ", *parts).alias("gram"))


def substring_dup_docs(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """Per-doc cross-document exact-substring stats: over all W-token
    windows, count those whose text occurs in at least one OTHER
    document, plus the longest consecutive duplicated run (in windows;
    add W-1 for tokens).

    Scale shape: window rows shuffle ONCE keyed on md5(gram) (16-byte
    keys, not raw text); the cross-document flag is min(doc_id) !=
    max(doc_id) computed in place over the gram partition by that same
    exchange+sort (no groupBy + join-back pass). Trade-off: a hot gram
    buffers every occurrence in one WindowExec group — a skew profile
    the old groupBy+join did not have, bounded by per-gram occurrence
    counts (boilerplate repetition), not by corpus size. Then one
    doc-keyed aggregation with a doc-local window for the run merge.
    Everything is linear in corpus tokens.

    Output: doc_id, n_windows, n_dup_windows, dup_ratio, max_dup_run —
    one row per doc with >= 1 window (docs shorter than W tokens have no
    windows and carry no signal).
    """
    from ..plans.cache import checkpoint_release
    # is_dup = "gram occurs in >1 DISTINCT doc" = min(doc_id) !=
    # max(doc_id) over the gram's partition: ONE gram-keyed
    # exchange+sort flags every window row in place (optimization guide
    # §2.4 — remove shuffles outright), where the previous
    # groupBy(g).count_distinct + join-back shape shuffled the window
    # relation twice more and needed it persisted for the two
    # consumers. flagged still feeds stats AND the runs branch (whose
    # pre-window filter defeats ReusedExchange), so it stays persisted.
    wg = Window.partitionBy("g")
    flagged = (doc_kgrams_pos(docs.where(F.col("text").isNotNull()),
                              w)
               .select("doc_id", "pos", F.md5("gram").alias("g"))
               .select("doc_id", "pos",
                       (F.min("doc_id").over(wg)
                        != F.max("doc_id").over(wg)).alias("is_dup"))
               .persist())
    stats = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum(F.col("is_dup").cast("bigint")).alias("n_dup"))
    # maximal consecutive runs of duplicated windows: classic
    # pos - row_number islands over ONLY the duplicated windows
    dw = Window.partitionBy("doc_id").orderBy("pos")
    runs = (flagged.where("is_dup")
            .withColumn("grp", F.col("pos") - F.row_number().over(dw))
            .groupBy("doc_id", "grp").agg(F.count("*").alias("run")))
    max_run = runs.groupBy("doc_id").agg(F.max("run").alias("max_run"))
    out = (stats.join(max_run, "doc_id", "left")
           .select("doc_id",
                   F.col("n_windows").cast("bigint").alias("n_windows"),
                   F.col("n_dup").cast("bigint").alias("n_dup_windows"),
                   F.expr(ratio_round_halfup(
                       "spark", "n_dup", "n_windows"))
                   .alias("dup_ratio"),
                   F.coalesce(F.col("max_run"), F.lit(0)).cast("bigint")
                   .alias("max_dup_run")))
    return checkpoint_release(out, flagged)


def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dup_docs(_docs(spark, sf_dir))


def substring_dedup_oracle_sql() -> str:
    gram = " || ' ' || ".join(
        f"list_extract(t, CAST(pos + {j + 1} AS INT))"
        for j in range(SUBSTR_W))
    return f"""
WITH base AS (
  SELECT doc_id,
         (regexp_split_to_array(text, ' +'))[1:{MAX_SHINGLE_TOKENS}] AS t
  FROM documents WHERE text IS NOT NULL
),
wnd AS (
  SELECT doc_id, pos, md5({gram}) AS g
  FROM (
    SELECT doc_id, t,
           unnest(range(0, greatest(len(t) - {SUBSTR_W - 1}, 0))) AS pos
    FROM base
  )
),
dfreq AS (SELECT g, COUNT(DISTINCT doc_id) AS ndocs FROM wnd GROUP BY g),
flagged AS (
  SELECT w.doc_id, w.pos, (d.ndocs > 1) AS is_dup
  FROM wnd w JOIN dfreq d ON d.g = w.g
),
stats AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup
  FROM flagged GROUP BY doc_id
),
runs AS (
  SELECT doc_id, grp, COUNT(*) AS run
  FROM (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
             AS grp
    FROM flagged WHERE is_dup
  ) GROUP BY doc_id, grp
),
mr AS (SELECT doc_id, MAX(run) AS max_run FROM runs GROUP BY doc_id)
SELECT s.doc_id, CAST(s.n_windows AS BIGINT) AS n_windows,
       CAST(s.n_dup AS BIGINT) AS n_dup_windows,
       {ratio_round_halfup("duckdb", "s.n_dup", "s.n_windows")} AS dup_ratio,
       CAST(COALESCE(m.max_run, 0) AS BIGINT) AS max_dup_run
FROM stats s LEFT JOIN mr m ON m.doc_id = s.doc_id
"""


# --- BM25 ranked retrieval (query-time top-k over the corpus) ---------------
#
# The operator LLM pipelines use for decontamination audits and eval-set
# mining: given a small set of query strings, rank every document by
# Okapi BM25 and keep the top-k per query. The reference has no ranked
# retrieval (its scanner matches values, not documents); this is the
# beyond-reference retrieval surface next to tfidf_keywords above.
#
# Scale shape (100 TB): the postings relation (tf per doc/token) comes
# from ONE doc-keyed shuffle shared with tfidf; the query-term relation
# is a literal handful of rows, so the postings join broadcasts it and
# only matching postings survive; df and avgdl are one token-keyed and
# one 1-row aggregate. The final per-query top-k is the skew hazard —
# every matching document lands in ONE query partition — so the window
# runs in two phases: a (query, salt)-partitioned partial top-k (each
# global top-k row survives its salt's top-k by construction) and a
# global top-k over the BM25_SALT x k survivors. Result-identical to the
# single-window form; the oracle ranks globally.

#: Okapi constants (the standard Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
#: Salt fan-out for the two-phase per-query top-k.
BM25_SALT = 16
#: Deterministic retrieval queries over the synthetic corpus vocabulary.
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "spark join table"),
    (1, "hash scan value"),
    (2, "window agg column"),
    (3, "customer order data"),
    (4, "slow query filter"),
    (5, "batch merge line"),
)


def bm25_topk_docs(docs: DataFrame,
                   queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
                   k: int = BM25_TOPK) -> DataFrame:
    """Top-k docs per query by BM25 (Lucene-style non-negative IDF:
    ln(1 + (N - df + 0.5)/(df + 0.5))). Determinism across engines: each
    term's contribution is rounded to 1e-6 and summed as DECIMAL(28,6)
    (the unigram_logprob discipline), the final score is ranked on its
    ROUNDED value, ties by doc_id asc. Query terms are SET semantics
    (distinct tokens; none of the literal queries repeat a term).

    Output: query_id, rank, doc_id, score.
    """
    spark = docs.sparkSession
    toks = (docs.select("doc_id", F.explode(
                F.split(F.lower(F.col("text")), " +")).alias("token"))
            .where(F.col("token") != ""))
    # the postings relation feeds THREE consumers (dl, dfq, the scored
    # join) — materialize it once so the explode + count doesn't
    # re-derive per consumer (the localCheckpoint discipline, PERF.md)
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf")) \
        .localCheckpoint(eager=True)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfq = tf.groupBy("token").agg(F.count("*").alias("df"))
    # corpus stats: one row; dl sums are exact LONG sums so avgdl is a
    # single deterministic double division in both engines
    stats = dl.agg(F.sum("dl").alias("dl_sum"),
                   F.count("*").alias("n_docs"))
    terms = spark.createDataFrame(
        sorted({(qid, t) for qid, q in queries for t in q.split()}),
        "query_id bigint, token string")
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = (F.col("tf") + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B)
               + F.lit(BM25_B) * F.col("dl")
               / (F.col("dl_sum") / F.col("n_docs").cast("double"))))
    contrib = F.round(idf * F.col("tf") * F.lit(BM25_K1 + 1.0) / norm, 6) \
        .cast("decimal(28,6)")
    scored = (
        tf.join(F.broadcast(terms), "token")
        .join(dfq, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(contrib).alias("s"))
        .select("query_id", "doc_id",
                F.round(F.col("s").cast("double"), 6).alias("score")))
    # two-phase top-k: partial per (query, doc_id % BM25_SALT), then global
    wpart = Window.partitionBy("query_id",
                               F.pmod(F.col("doc_id"), F.lit(BM25_SALT))) \
        .orderBy(F.desc("score"), F.asc("doc_id"))
    part = (scored.withColumn("pr", F.row_number().over(wpart))
            .where(F.col("pr") <= k).drop("pr"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (part.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk_docs(_docs(spark, sf_dir))


def bm25_topk_oracle_sql() -> str:
    terms = sorted({(qid, t) for qid, q in BM25_QUERIES for t in q.split()})
    values = ", ".join(f"({qid}, '{t}')" for qid, t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), ' +')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
       WHERE token <> '' GROUP BY doc_id, token),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
stats AS (SELECT SUM(dl) AS dl_sum, COUNT(*) AS n_docs FROM dl),
terms AS (SELECT * FROM (VALUES {values}) v(query_id, token)),
scored AS (
  SELECT t.query_id, f.doc_id,
         round(CAST(SUM(
           CAST(round(
             ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
             * f.tf * {BM25_K1 + 1.0}
             / (f.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * d.dl
                / (s.dl_sum / CAST(s.n_docs AS DOUBLE)))), 6)
           AS DECIMAL(28,6))) AS DOUBLE), 6) AS score
  FROM tf f
  JOIN terms t USING (token)
  JOIN dfq q USING (token)
  JOIN dl d ON d.doc_id = f.doc_id
  CROSS JOIN stats s
  GROUP BY t.query_id, f.doc_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
       doc_id, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {BM25_TOPK}
"""


# --- overlapping chunking (RAG / training-sequence prep) --------------------
#
# The retrieval-indexing counterpart of pack_sequences: each document
# splits into fixed-size token windows with stride overlap (the
# standard RAG chunker; overlap preserves cross-boundary context).
# Pure built-ins end to end: filter/sequence/slice/array_join on the
# token array — no UDF, no shuffle at all (chunking is doc-local; the
# explode is a Generate inside the scan stage). The MAX_SHINGLE_TOKENS
# cap bounds the widest document (straggler guard, mirrored in the
# oracle, same discipline as the k-gram family).

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_overlap_docs(docs: DataFrame, size: int = CHUNK_TOKENS,
                       stride: int = CHUNK_STRIDE) -> DataFrame:
    """(doc_id, chunk_no, n_tokens, chunk_text): token windows
    [c*stride, c*stride + size) over the first MAX_SHINGLE_TOKENS
    whitespace tokens; the last window may be short; empty/NULL docs emit no
    chunks. chunk_no is 0-based."""
    toks = F.slice(
        F.filter(F.split(F.col("text"), " +"), lambda x: x != ""),
        1, MAX_SHINGLE_TOKENS)
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)),
        F.lit(stride))
    return (docs.where(F.col("text").isNotNull())
            .select("doc_id", toks.alias("toks"))
            .where(F.size("toks") > 0)
            .select("doc_id", "toks",
                    F.posexplode(starts).alias("chunk_no", "start"))
            .where(F.col("start") < F.size("toks"))
            .select(
                "doc_id",
                F.col("chunk_no").cast("bigint").alias("chunk_no"),
                F.size(F.slice("toks", F.col("start") + 1, size))
                 .cast("bigint").alias("n_tokens"),
                F.array_join(F.slice("toks", F.col("start") + 1, size),
                             " ").alias("chunk_text")))


def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_overlap_docs(_docs(spark, sf_dir))


def chunk_overlap_oracle_sql(size: int = CHUNK_TOKENS,
                             stride: int = CHUNK_STRIDE) -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         (list_filter(regexp_split_to_array(text, ' +'),
                      x -> x <> ''))[1:{MAX_SHINGLE_TOKENS}] AS toks
  FROM documents WHERE text IS NOT NULL
),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0),
starts AS (
  SELECT doc_id, toks, n,
         unnest(range(0, n, {stride})) AS start
  FROM nz
)
SELECT doc_id, CAST(start // {stride} AS BIGINT) AS chunk_no,
       CAST(len(toks[start + 1:start + {size}]) AS BIGINT) AS n_tokens,
       array_to_string(toks[start + 1:start + {size}], ' ') AS chunk_text
FROM starts WHERE start < n
"""


# --- content-defined chunking dedup (FastCDC-shape, r7) ---------------------
#
# The crawl-snapshot dedup primitive the fixed-stride chunker above
# cannot provide: boundaries are chosen by CONTENT (a gram-hash
# condition), so an insertion near the head of a re-crawled page shifts
# only the chunk it lands in — downstream chunks re-align and their
# fingerprints still match (fixed-size chunking loses every boundary
# after the edit). Public shape: Muthitacharoen et al., LBFS (SOSP'01)
# / FastCDC (ATC'16); hashing here is the md5-hex-digit arithmetic the
# quality classifier uses, identical in both dialects.
#
# 100 TB shape: the position explode is doc-local and filtered to
# boundary rows map-side (expected 1/CDC_DIVISOR survival) before the
# per-doc window; chunk fingerprints take ONE md5-keyed shuffle; the
# per-doc rollup is one doc-keyed agg. The CDC_CHAR_CAP straggler cap
# bounds the explode exactly like MAX_SHINGLE_TOKENS does for tokens.

#: Gram width for the boundary condition.
CDC_W = 8
#: Boundary divisor: P(boundary) = 1/CDC_DIVISOR -> expected chunk
#: length ~CDC_DIVISOR chars.
CDC_DIVISOR = 32
#: Straggler cap on chunked chars per doc (the MAX_SHINGLE_TOKENS
#: discipline; docs past the cap contribute their prefix only).
CDC_CHAR_CAP = 20000


def _cdc_bucket16(g: str) -> str:
    """SQL for the 16-bit md5 bucket of expression ``g`` (dialect-free:
    instr/substr/md5 behave identically in Spark SQL and DuckDB)."""
    hexpos = f"instr('0123456789abcdef', substr(md5({g}), {{i}}, 1)) - 1"
    return (f"((({hexpos.format(i=1)}) * 4096 + ({hexpos.format(i=2)})"
            f" * 256 + ({hexpos.format(i=3)}) * 16 +"
            f" ({hexpos.format(i=4)})))")


def cdc_dedup_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Per-doc cross-corpus duplication stats over content-defined
    chunks.

    Chunking: position p (1-based, p <= len-w+1, w = CDC_W) starts a
    new chunk iff bucket16(md5(substr(text, p, w))) % CDC_DIVISOR == 0;
    p = 1 always
    starts chunk 0. Chunk text runs to the next boundary (or end of the
    capped text); fingerprint = md5(chunk). A chunk is DUPLICATED when
    its fingerprint occurs in >= 2 distinct docs.

    Output: doc_id, n_chunks, n_dup_chunks, dup_chars, total_chars,
    dup_ratio (rounded 1e-6; 0.0 for empty docs, which chunk to zero
    rows but keep their verdict row via the left join)."""
    if dialect == "duckdb":
        pos = (f"SELECT doc_id, t, unnest(range(1, length(t) - {CDC_W} + 2))"
               f" AS p FROM capped WHERE length(t) >= {CDC_W}")
    else:
        pos = (f"SELECT doc_id, t, explode(sequence(1, length(t) - {CDC_W}"
               f" + 1)) AS p FROM capped WHERE length(t) >= {CDC_W}")
    b16 = _cdc_bucket16(f"substr(t, p, {CDC_W})")
    return f"""
WITH capped AS (
  SELECT doc_id, substr(text, 1, {CDC_CHAR_CAP}) AS t
  FROM {docs_rel} WHERE text IS NOT NULL
),
pos AS ({pos}),
starts AS (
  SELECT DISTINCT doc_id, 1 AS start FROM capped WHERE length(t) >= 1
  UNION
  SELECT doc_id, p AS start FROM pos WHERE {b16} % {CDC_DIVISOR} = 0
),
bounds AS (
  SELECT s.doc_id, s.start,
         lead(s.start) OVER (PARTITION BY s.doc_id ORDER BY s.start)
           AS nxt,
         length(c.t) AS tlen, c.t
  FROM starts s JOIN capped c ON c.doc_id = s.doc_id
),
chunks AS (
  SELECT doc_id, start,
         substr(t, start,
                COALESCE(nxt, tlen + 1) - start) AS chunk_text,
         COALESCE(nxt, tlen + 1) - start AS clen
  FROM bounds
),
fps AS (
  SELECT doc_id, start, clen, md5(chunk_text) AS fp FROM chunks
),
dupfp AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
),
per_doc AS (
  SELECT f.doc_id,
         COUNT(*) AS n_chunks,
         SUM(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END)
           AS n_dup_chunks,
         SUM(CASE WHEN d.fp IS NOT NULL THEN f.clen ELSE 0 END)
           AS dup_chars,
         SUM(f.clen) AS total_chars
  FROM fps f LEFT JOIN dupfp d ON d.fp = f.fp
  GROUP BY f.doc_id
)
SELECT c.doc_id,
       CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
       CAST(COALESCE(p.dup_chars, 0) AS BIGINT) AS dup_chars,
       CAST(COALESCE(p.total_chars, 0) AS BIGINT) AS total_chars,
       round(CASE WHEN COALESCE(p.total_chars, 0) > 0
                  THEN CAST(p.dup_chars AS DOUBLE) / p.total_chars
                  ELSE 0.0 END, 6) AS dup_ratio
FROM capped c LEFT JOIN per_doc p ON p.doc_id = c.doc_id
"""


def cdc_dedup(spark, sf_dir: str) -> DataFrame:
    """Dual-dialect template execution of the CDC chunk-dedup stats."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_documents")
    return spark.sql(cdc_dedup_sql("spark", "cpss_documents"))


# --- line-level (segment) dedup: CCNet-style boilerplate removal ------------
#
# CCNet (Wenzek et al. 2020) dedups at PARAGRAPH granularity: hash each
# paragraph, count how many documents carry it corpus-wide, and drop
# repeated paragraphs everywhere but their first occurrence. The
# synthetic corpus has no newlines, so the "line" here is a fixed
# non-overlapping LINE_SEG_TOKENS-token segment — the same plumbing
# (segment hash -> corpus-wide document frequency -> keep-first
# verdict) over the only segmentation this corpus admits; a real crawl
# corpus would swap the segmenter for split-on-newline and change
# nothing else.
#
# 100 TB shape: segmentation is doc-local (the zero-shuffle chunker
# above with stride == size); the document-frequency pass is ONE
# md5-keyed shuffle with map-side partial aggregation; the verdict
# joins segments back on the same segment-hash key (no extra exchange
# past the join) and the per-doc rollup keys on doc_id. The
# MAX_SHINGLE_TOKENS cap bounds the widest document in every stage.

#: Non-overlapping segment width (the pseudo-"line").
LINE_SEG_TOKENS = 16
#: A segment is boilerplate when >= this many DISTINCT documents carry
#: it; the min-doc_id carrier keeps its copy (keep-first semantics).
LINE_DUP_MIN_DOCS = 2
#: Segments shorter than this are never dropped: a short trailing
#: segment ("query") collides across documents by chance, not by
#: boilerplate — the analog of CCNet's minimum paragraph length.
LINE_SEG_MIN_TOKENS = 8


def line_dedup_docs(docs: DataFrame) -> DataFrame:
    """Per-document line-dedup verdict: (doc_id, n_segments, n_dropped,
    kept_tokens, dropped_tokens). A segment occurrence is dropped when
    it has >= LINE_SEG_MIN_TOKENS tokens (short-trailing-segment chance
    collisions are not boilerplate), its hash appears in >=
    LINE_DUP_MIN_DOCS distinct documents, AND this doc is not the
    minimum-doc_id carrier (keep-first). Verdicts are at doc
    granularity: a segment repeated WITHIN one document is kept or
    dropped as a whole (no within-doc position tiebreak — vanishingly
    rare at 16-token width and irrelevant to the cross-doc boilerplate
    this operator targets). Docs that emit no segments (NULL/empty
    text) report all-zero counts."""
    segs = (chunk_overlap_docs(docs, size=LINE_SEG_TOKENS,
                               stride=LINE_SEG_TOKENS)
            .select("doc_id", "n_tokens",
                    F.md5("chunk_text").alias("seg_hash")))
    freq = (segs.select("doc_id", "seg_hash").distinct()
            .groupBy("seg_hash")
            .agg(F.count("*").alias("df"),
                 F.min("doc_id").alias("keeper")))
    judged = (segs.join(freq, "seg_hash")
              .withColumn("dropped",
                          (F.col("n_tokens") >= LINE_SEG_MIN_TOKENS)
                          & (F.col("df") >= LINE_DUP_MIN_DOCS)
                          & (F.col("doc_id") != F.col("keeper"))))
    per_doc = (judged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("dropped").cast("bigint")).alias("n_dropped"),
        F.sum(F.when(~F.col("dropped"), F.col("n_tokens"))
              .otherwise(F.lit(0))).alias("kept_tokens"),
        F.sum(F.when(F.col("dropped"), F.col("n_tokens"))
              .otherwise(F.lit(0))).alias("dropped_tokens")))
    z = F.lit(0).cast("bigint")
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_segments", z).alias("n_segments"),
                    F.coalesce("n_dropped", z).alias("n_dropped"),
                    F.coalesce("kept_tokens", z).alias("kept_tokens"),
                    F.coalesce("dropped_tokens", z)
                    .alias("dropped_tokens")))


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_dedup_docs(_docs(spark, sf_dir))


def line_dedup_oracle_sql() -> str:
    chunks = chunk_overlap_oracle_sql(size=LINE_SEG_TOKENS,
                                      stride=LINE_SEG_TOKENS)
    return f"""
WITH segs AS (
  SELECT doc_id, n_tokens, md5(chunk_text) AS seg_hash
  FROM ({chunks}) _c
),
freq AS (
  SELECT seg_hash, COUNT(*) AS df, MIN(doc_id) AS keeper
  FROM (SELECT DISTINCT doc_id, seg_hash FROM segs) _d
  GROUP BY seg_hash
),
judged AS (
  SELECT s.doc_id, s.n_tokens,
         (s.n_tokens >= {LINE_SEG_MIN_TOKENS} AND f.df >= {LINE_DUP_MIN_DOCS}
          AND s.doc_id <> f.keeper) AS dropped
  FROM segs s JOIN freq f USING (seg_hash)
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_segments,
         SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS n_dropped,
         SUM(CASE WHEN dropped THEN 0 ELSE n_tokens END) AS kept_tokens,
         SUM(CASE WHEN dropped THEN n_tokens ELSE 0 END)
           AS dropped_tokens
  FROM judged GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(COALESCE(p.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(COALESCE(p.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(COALESCE(p.dropped_tokens, 0) AS BIGINT) AS dropped_tokens
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


# --- fuzzy (MinHash) benchmark decontamination -------------------------------
#
# The exact 13-gram pass above misses PARAPHRASED leakage: an eval item
# lightly reworded into the training set shares no 13-gram but keeps
# high shingle-set Jaccard. This is the standard MinHash-LSH
# decontamination sweep (the dedup.py machinery pointed across two
# corpora instead of at itself): signatures and band keys are doc-local
# and computed once; candidates come from banded collisions between
# TRAINING docs and the benchmark set; exact Jaccard verifies.
#
# 100 TB shape: the benchmark side (a fixed eval suite) is tiny and
# static at any corpus scale, so its band rows broadcast — candidate
# volume per band key is |train bucket| x |bench bucket|, LINEAR in the
# corpus because the bench factor is bounded; there is no train-side
# self-join anywhere. The verify join touches only candidate docs'
# shingles.

#: Exact-Jaccard threshold for a contaminated verdict (shares the LSH
#: family's 0.5 near-dup operating point).
MINHASH_DECON_T = 0.5


def minhash_decontaminate_docs(docs: DataFrame) -> DataFrame:
    """Per-TRAINING-doc fuzzy-contamination verdict: (doc_id,
    n_bench_hits, max_jaccard, contaminated). n_bench_hits counts
    benchmark docs with verified Jaccard >= MINHASH_DECON_T; max_jaccard is
    0.0 for clean docs (rounded 1e-6 after the max, exact integer
    division in IEEE doubles before it — cross-engine stable)."""
    from .dedup import (_signatures_from_shingles, band_keys,
                        shingles_from_docs)
    from ..plans.cache import checkpoint_release

    shingles = shingles_from_docs(docs).persist()
    # the band relation feeds BOTH sides of the candidate join —
    # persist it or the signature aggregation runs twice (the
    # dedup.band_keys lesson)
    bands = band_keys(_signatures_from_shingles(shingles)).persist()
    is_bench = (F.col("doc_id") % DECON_BENCH_MOD) == 0
    cand = (bands.where(~is_bench).alias("t")
            .join(F.broadcast(bands.where(is_bench).alias("b")),
                  ["band", "band_key"])
            .select(F.col("t.doc_id").alias("doc_id"),
                    F.col("b.doc_id").alias("bench_id"))
            .distinct())
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (cand.alias("c")
             .join(shingles.alias("sa"),
                   F.col("sa.doc_id") == F.col("c.doc_id"))
             .join(shingles.alias("sb"),
                   (F.col("sb.doc_id") == F.col("c.bench_id"))
                   & (F.col("sb.shingle") == F.col("sa.shingle")))
             .groupBy(F.col("c.doc_id").alias("doc_id"),
                      F.col("c.bench_id").alias("bench_id"))
             .agg(F.count("*").alias("n_common")))
    jac = (inter.alias("i")
           .join(sizes.alias("za"),
                 F.col("za.doc_id") == F.col("i.doc_id"))
           .join(sizes.alias("zb"),
                 F.col("zb.doc_id") == F.col("i.bench_id"))
           .select(F.col("i.doc_id").alias("doc_id"),
                   (F.col("i.n_common")
                    / (F.col("za.n") + F.col("zb.n")
                       - F.col("i.n_common")).cast("double"))
                   .alias("jaccard"))
           .where(F.col("jaccard") >= MINHASH_DECON_T))
    hits = (jac.groupBy("doc_id")
            .agg(F.count("*").alias("n_bench_hits"),
                 F.round(F.max("jaccard"), 6).alias("max_jaccard")))
    z = F.lit(0).cast("bigint")
    out = (docs.where(~is_bench).select("doc_id")
           .join(hits, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("n_bench_hits", z).alias("n_bench_hits"),
                   F.coalesce("max_jaccard", F.lit(0.0))
                   .alias("max_jaccard"),
                   (F.coalesce("n_bench_hits", z) > 0)
                   .alias("contaminated")))
    return checkpoint_release(out, shingles, bands)


def minhash_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_decontaminate_docs(_docs(spark, sf_dir))


def minhash_decontaminate_oracle_sql() -> str:
    from .dedup import (NUM_BANDS, NUM_HASHES, ROWS_PER_BAND,
                        _doc_shingles_cte)
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM sigs"
        .format(b=b, key=" || ".join(
            f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)))
        for b in range(NUM_BANDS))
    mins = ", ".join(f"MIN(md5('{h}:' || shingle)) AS mh{h}"
                     for h in range(NUM_HASHES))
    return f"""
WITH {_doc_shingles_cte("duckdb", 'documents')},
sigs AS (
  SELECT doc_id, {mins} FROM doc_shingles GROUP BY doc_id
),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT t.doc_id AS doc_id, b.doc_id AS bench_id
  FROM bands t JOIN bands b
    ON t.band = b.band AND t.band_key = b.band_key
  WHERE t.doc_id % {DECON_BENCH_MOD} <> 0 AND b.doc_id % {DECON_BENCH_MOD} = 0
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM doc_shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_id, c.bench_id, COUNT(*) AS n_common
  FROM cand c
  JOIN doc_shingles sa ON sa.doc_id = c.doc_id
  JOIN doc_shingles sb ON sb.doc_id = c.bench_id
                      AND sb.shingle = sa.shingle
  GROUP BY c.doc_id, c.bench_id
),
jac AS (
  SELECT i.doc_id,
         i.n_common / CAST(za.n + zb.n - i.n_common AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_id
  JOIN sizes zb ON zb.doc_id = i.bench_id
  WHERE i.n_common / CAST(za.n + zb.n - i.n_common AS DOUBLE)
        >= {MINHASH_DECON_T}
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_bench_hits,
         round(MAX(jaccard), 6) AS max_jaccard
  FROM jac GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_bench_hits, 0) AS BIGINT) AS n_bench_hits,
       COALESCE(h.max_jaccard, 0.0) AS max_jaccard,
       COALESCE(h.n_bench_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % {DECON_BENCH_MOD} <> 0
"""


# --- text normalization (the first pass of every ingest pipeline) ------------
#
# Raw crawl/scan text arrives with tabs, carriage returns, stray control
# bytes, run-on whitespace, and padding — every corpus pipeline's first
# transform is a deterministic normalization pass (CCNet's text cleaner,
# Dolma's normalizers). The driver's synthetic corpus is already clean,
# so — the eval-corpus precedent (operators/evaluate.py synthesizes its
# texts in-query) — the template first derives a deterministically MESSY
# raw variant from the clean text (tab/CR injections around common
# tokens, a bell control byte on an md5 doc gate, pad spaces), then
# normalizes it and reports what changed. The mess constructor and the
# normalizer are both pure ASCII replace()/chr() chains plus ONE
# space-collapse regex, so the only dialect split is DuckDB's 'g' flag.
#
# 100 TB shape: a single zero-shuffle projection — no joins, no aggs,
# no UDFs; every expression is whole-stage-codegen, and each layer is a
# named CTE so the engine computes raw/t1/norm once per row instead of
# re-expanding the chain per output column.

def normalize_text_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Output: doc_id, n_raw, n_norm, n_tabs, n_crs, n_bells,
    n_ws_collapsed, n_trimmed (all BIGINT), norm_fp (md5 VARCHAR)."""
    str_t = "VARCHAR" if dialect == "duckdb" else "STRING"
    collapse = ("regexp_replace(t1, ' +', ' ', 'g')"
                if dialect == "duckdb"
                else "regexp_replace(t1, ' +', ' ')")
    # tab after ' the', CR before 'data', double-space pads, and a
    # leading bell byte on half the docs (md5 first-hex gate)
    raw = ("'  ' || replace(replace(text, ' the ', '  the' || chr(9) "
           "|| ' '), ' data ', ' ' || chr(13) || 'data  ') || ' '")
    bell = (f"CASE WHEN substr(md5(CAST(doc_id AS {str_t})), 1, 1) "
            f"IN ('0','1','2','3','4','5','6','7') "
            f"THEN chr(7) || raw ELSE raw END")
    return f"""
WITH mess0 AS (
  SELECT doc_id, {raw} AS raw
  FROM {docs_rel} WHERE text IS NOT NULL
),
mess AS (
  SELECT doc_id, {bell} AS raw FROM mess0
),
step1 AS (
  SELECT doc_id, raw,
         replace(replace(replace(raw, chr(9), ' '), chr(13), ' '),
                 chr(7), '') AS t1
  FROM mess
),
step2 AS (
  SELECT doc_id, raw, t1, {collapse} AS t2 FROM step1
),
normed AS (
  SELECT doc_id, raw, t1, t2, trim(t2) AS norm FROM step2
)
SELECT doc_id,
       CAST(length(raw) AS BIGINT) AS n_raw,
       CAST(length(norm) AS BIGINT) AS n_norm,
       CAST(length(raw) - length(replace(raw, chr(9), '')) AS BIGINT)
         AS n_tabs,
       CAST(length(raw) - length(replace(raw, chr(13), '')) AS BIGINT)
         AS n_crs,
       CAST(length(raw) - length(replace(raw, chr(7), '')) AS BIGINT)
         AS n_bells,
       CAST(length(t1) - length(t2) AS BIGINT) AS n_ws_collapsed,
       CAST(length(t2) - length(norm) AS BIGINT) AS n_trimmed,
       md5(norm) AS norm_fp
FROM normed
"""


def corpus_normalize_text(spark, sf_dir: str) -> DataFrame:
    """Dual-dialect template execution of the normalization pass."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_documents")
    return spark.sql(normalize_text_sql("spark", "cpss_documents"))


def normalize_text_oracle_sql() -> str:
    return normalize_text_sql("duckdb")


# --- collocation mining (PMI-by-lift over corpus bigrams) --------------------
#
# Church & Hanks 1990: word pairs that co-occur far more than chance —
# the phrase/stopword-mining pass tokenizer and quality pipelines run
# over a new corpus. PMI = ln(lift) with
# lift = n_ab * N / (n_a1 * n_b2) over the bigram table (n_a1 =
# bigrams starting with a, n_b2 = bigrams ending with b, N = total
# bigrams): ln is monotone, so the EXACT-integer lift carries the full
# ranking information and the score stays in the tie-exact domain —
# no transcendentals anywhere (the basket-lift discipline; the factor
# guard below is the same derivation as analytics._LIFT_GUARD_N).
#
# 100 TB shape: one doc-keyed window builds bigrams (shared with
# bigram_logprob), pair- and marginal-keyed counts partial-aggregate
# map-side (all vocabulary-bounded, not corpus-bounded), the one-row N
# broadcast; the min-count HAVING keeps the pair relation sparse
# before the marginal joins.
#
# NOTE: implemented and tested in round 11; queries()/oracle_sql()
# registration is deferred to the round-12 window (the round-11
# FRONT_50 is exactly full and a never-gated entry may not be parked —
# tests/test_entry_contract.py rule 1).

#: A pair must occur this often to be reported (sparsity + the classic
#: PMI low-count instability filter).
COLLOC_MIN_COUNT = 5


def collocations_docs(docs: DataFrame) -> DataFrame:
    from .analytics import _LIFT_GUARD_N
    toks = (docs.select(
                "doc_id",
                F.posexplode(F.split(F.lower(F.col("text")), " +"))
                .alias("pos", "token"))
            .where(F.col("token") != ""))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (toks.withColumn("t1", F.lead("token", 1).over(w))
           .where(F.col("t1").isNotNull())
           .select(F.col("token").alias("w1"), F.col("t1").alias("w2")))
    # ONE corpus-scale shuffle: the (w1, w2) pair counts. Marginals and
    # the grand total are SUMS over this (vocabulary-pair-bounded)
    # relation — deriving them here instead of three more passes over
    # the bigram stream cut the plan from 11 exchanges / 4 explode+
    # window re-derivations to 1 corpus shuffle + 3 metadata-scale
    # aggs (round-12 plan audit; values identical by construction:
    # sum of pair counts per word IS the marginal count). The
    # checkpoint stops Spark re-deriving the explode lineage per
    # consumer.
    pc = (big.groupBy("w1", "w2").agg(F.count("*").alias("n_ab"))
          .localCheckpoint(eager=True))
    pairs = pc.where(F.col("n_ab") >= COLLOC_MIN_COUNT)
    m1 = pc.groupBy("w1").agg(F.sum("n_ab").alias("n_a1"))
    m2 = pc.groupBy("w2").agg(F.sum("n_ab").alias("n_b2"))
    n = pc.groupBy().agg(F.sum("n_ab").alias("n_bigrams"))
    lift = ratio_round_halfup_guarded(
        "spark", "n_ab * n_bigrams", "n_a1 * n_b2",
        guard=f"n_bigrams <= {_LIFT_GUARD_N}",
        fallback_num="(CAST(n_ab AS DOUBLE) * n_bigrams)",
        fallback_den="(CAST(n_a1 AS DOUBLE) * n_b2)")
    return (pairs.join(m1, "w1").join(m2, "w2")
            .join(F.broadcast(n))
            .select("w1", "w2", "n_ab", "n_a1", "n_b2", "n_bigrams",
                    F.expr(lift).alias("lift")))


def corpus_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return collocations_docs(_docs(spark, sf_dir))


def collocations_oracle_sql() -> str:
    from .analytics import _LIFT_GUARD_N
    lift = ratio_round_halfup_guarded(
        "duckdb", "p.n_ab * n.n_bigrams", "a.n_a1 * b.n_b2",
        guard=f"n.n_bigrams <= {_LIFT_GUARD_N}",
        fallback_num="(CAST(p.n_ab AS DOUBLE) * n.n_bigrams)",
        fallback_den="(CAST(a.n_a1 AS DOUBLE) * b.n_b2)")
    return f"""
WITH toks0 AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS token
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS toks
        FROM documents) _t
),
toks AS (SELECT doc_id, pos, token FROM toks0 WHERE token <> ''),
big0 AS (
  SELECT doc_id, token AS w1,
         lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
),
big AS (SELECT w1, w2 FROM big0 WHERE w2 IS NOT NULL),
pairs AS (
  SELECT w1, w2, COUNT(*) AS n_ab FROM big GROUP BY w1, w2
  HAVING COUNT(*) >= {COLLOC_MIN_COUNT}
),
m1 AS (SELECT w1, COUNT(*) AS n_a1 FROM big GROUP BY w1),
m2 AS (SELECT w2, COUNT(*) AS n_b2 FROM big GROUP BY w2),
n AS (SELECT COUNT(*) AS n_bigrams FROM big)
SELECT p.w1, p.w2, p.n_ab, a.n_a1, b.n_b2, n.n_bigrams,
       {lift} AS lift
FROM pairs p
JOIN m1 a ON a.w1 = p.w1
JOIN m2 b ON b.w2 = p.w2
CROSS JOIN n
"""
