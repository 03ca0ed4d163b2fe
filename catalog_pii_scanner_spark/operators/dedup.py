"""Deduplication operators for the training-data pipeline surface:
exact, MinHash+LSH near-dup, SimHash signatures, n-gram Jaccard verify.

Beyond the reference's own operator set; first-class for a 100 TB corpus.
Everything is expressed so the Spark engine and the DuckDB oracle share the
hash construction:

- hash family: lexicographic MIN of ``md5(h || ':' || shingle)`` per hash
  id h — a valid min-wise family over the md5 codomain, identically
  computable in both engines (no murmur/xxhash parity issues).
- shingles: word 3-grams over space-tokenized text, DISTINCT per doc.
- LSH: 8 minhashes, 4 bands x 2 rows; band key = md5 of the band's
  concatenated minhashes; docs sharing any band key are candidate pairs;
  candidates are verified with exact Jaccard over shingle sets.
- SimHash: 32-bit signature from per-token md5 hex digits (+1/-1 votes per
  bit position, sign -> bit), ONE groupBy(doc_id) with 32 conditional sums
  — no 32x row blowup.

Scale shapes:
- exact dedup: one shuffle (groupBy fingerprint).
- minhash signatures: explode shingles (projection) -> ONE shuffle
  (groupBy doc_id with 8 min() aggregates).
- LSH bucketing: band explode (4x, tiny) -> self-join on band_key. Band
  keys are high-cardinality => the join shuffles only bucket-mates; skewed
  mega-buckets (boilerplate docs) are AQE-split.
- verify: shingle-set join restricted to candidate pairs (semi-join
  pushdown), never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..oracles import ratio_round_halfup

from ..plans.cache import checkpoint_release

NUM_HASHES = 8
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
SHINGLE_K = 3

#: Per-document token cap for shingling: a monster document (multi-MB
#: crawl artifact) otherwise becomes one straggler task in the per-doc
#: window AND a shingle-set whose verify joins dwarf every other pair.
#: The first MAX_SHINGLE_TOKENS tokens are representative for near-dup
#: purposes (dup docs share prefixes too); applied identically in the
#: engine and every oracle rendering.
MAX_SHINGLE_TOKENS = 10_000

#: LSH band-bucket cap: buckets holding more docs than this are excluded
#: from the pairwise candidate join (a B-doc bucket contributes B^2/2
#: pairs — boilerplate-heavy corpora produce quadratic blowups that no
#: join strategy survives). Oversized buckets are near-certain exact-dup /
#: boilerplate clusters, which the exact-dedup operator handles at O(B).
#: Applied identically in the engine and the DuckDB oracle.
MAX_BAND_BUCKET = 200


# --- shared SQL fragments (dialect-portable unless noted) -------------------

def _tokens_sql(dialect: str, text_col: str = "text") -> str:
    if dialect == "duckdb":
        return f"regexp_split_to_array({text_col}, ' +')"
    return f"split({text_col}, ' +')"


def _shingles_sql(dialect: str) -> str:
    """ARRAY of word 3-grams over the first MAX_SHINGLE_TOKENS tokens;
    empty when fewer than 3 tokens.

    List element access: DuckDB's element_at is map-only, so lists use
    list_extract; Spark's element_at is the array accessor (1-based in
    both).
    """
    at = "list_extract" if dialect == "duckdb" else "element_at"
    toks = _tokens_sql(dialect, "text")
    toks = (f"({toks})[1:{MAX_SHINGLE_TOKENS}]" if dialect == "duckdb"
            else f"slice({toks}, 1, {MAX_SHINGLE_TOKENS})")
    gram = (f"{at}(t, CAST(i + 1 AS INT)) || ' ' || "
            f"{at}(t, CAST(i + 2 AS INT)) || ' ' || "
            f"{at}(t, CAST(i + 3 AS INT))")
    if dialect == "duckdb":
        return (f"(SELECT list_transform(range(0, greatest(len(t) - "
                f"{SHINGLE_K - 1}, 0)), i -> {gram}) FROM (SELECT {toks} "
                f"AS t) _s)")
    # spark: sequence(0, n-3) errors for n<3 (descending), so guard
    return (f"(CASE WHEN size({toks}) >= {SHINGLE_K} THEN "
            f"transform(sequence(0, size({toks}) - {SHINGLE_K}), "
            f"i -> {gram.replace('t,', toks + ',')}) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END)")


def norm_text_sql(dialect: str) -> str:
    g = ", 'g'" if dialect == "duckdb" else ""
    return f"lower(trim(regexp_replace(text, ' +', ' '{g})))"


# --- exact dedup ------------------------------------------------------------

def exact_dedup_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Groups by normalized-text fingerprint. Output: fingerprint, n_docs,
    representative (min doc_id)."""
    fp = f"md5({norm_text_sql(dialect)})"
    return f"""
SELECT {fp} AS fingerprint, COUNT(*) AS n_docs,
       MIN(doc_id) AS representative
FROM {docs_rel} GROUP BY 1
"""


def exact_dedup(spark, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_documents")
    return spark.sql(exact_dedup_sql("spark", "cpss_documents"))


# --- minhash signatures + LSH candidate pairs + jaccard verify --------------

def _doc_shingles_cte(dialect: str, docs_rel: str) -> str:
    unnest = "unnest" if dialect == "duckdb" else "explode"
    return f"""
doc_shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, {unnest}({_shingles_sql(dialect)}) AS shingle
    FROM {docs_rel}
  ) _e
)"""


def minhash_signatures_sql(dialect: str) -> str:
    """Output: doc_id, mh0..mh{NUM_HASHES-1} (md5-hex minhash strings)."""
    mins = ", ".join(
        f"MIN(md5('{h}:' || shingle)) AS mh{h}" for h in range(NUM_HASHES))
    return f"""
WITH {_doc_shingles_cte(dialect, 'documents')}
SELECT doc_id, {mins} FROM doc_shingles GROUP BY doc_id
"""


def shingles_from_docs(docs: DataFrame,
                       cap: int = MAX_SHINGLE_TOKENS) -> DataFrame:
    """DISTINCT (doc_id, shingle) via posexplode + window leads — pure
    codegen-friendly primitives (the SQL-template formulation uses an HOF
    transform that drops Spark to interpreted eval, and a CTE that Spark
    re-inlines per use; as DataFrame steps the relation is built once and
    persisted by callers that reuse it). Tokens beyond ``cap`` are
    dropped BEFORE the per-doc window (see MAX_SHINGLE_TOKENS — one
    monster document must not become the straggler task)."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " +")).alias("pos", "tok"))
    toks = toks.where(F.col("pos") < cap)
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        toks
        .withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .where(F.col("t2").isNotNull())
        .select("doc_id",
                F.concat_ws(" ", "tok", "t1", "t2").alias("shingle"))
        .distinct()
    )


def doc_shingles_df(spark, sf_dir: str) -> DataFrame:
    return shingles_from_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _signatures_from_shingles(shingles: DataFrame) -> DataFrame:
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{h}:"), F.col("shingle"))))
        .alias(f"mh{h}")
        for h in range(NUM_HASHES)
    ]
    return shingles.groupBy("doc_id").agg(*mins)


def minhash_signatures(spark, sf_dir: str,
                       shingles: DataFrame | None = None) -> DataFrame:
    if shingles is None:
        shingles = doc_shingles_df(spark, sf_dir)
    return _signatures_from_shingles(shingles)


def lsh_near_dup_pairs_sql(dialect: str) -> str:
    """LSH candidate pairs verified with exact Jaccard >= 0.5.
    Band buckets larger than MAX_BAND_BUCKET are excluded
    (quadratic-blowup guard, mirrored in the engine).

    Output: doc_a, doc_b (doc_a < doc_b), jaccard (rounded 1e-6).
    """
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM sigs"
        .format(b=b, key=" || ".join(
            f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)))
        for b in range(NUM_BANDS))
    return f"""
WITH {_doc_shingles_cte(dialect, 'documents')},
sigs AS (
  SELECT doc_id, {", ".join(f"MIN(md5('{h}:' || shingle)) AS mh{h}"
                            for h in range(NUM_HASHES))}
  FROM doc_shingles GROUP BY doc_id
),
bands AS ({band_rows}),
bands_ok AS (
  SELECT band, band_key FROM bands GROUP BY band, band_key
  HAVING COUNT(*) <= {MAX_BAND_BUCKET}
),
bands_capped AS (
  SELECT b.* FROM bands b
  JOIN bands_ok o ON o.band = b.band AND o.band_key = b.band_key
),
cand_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_capped a JOIN bands_capped b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM doc_shingles GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
  FROM cand_pairs p
  JOIN doc_shingles sa ON sa.doc_id = p.doc_a
  JOIN doc_shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
       {ratio_round_halfup(dialect, "i.n_common",
                           "za.n + zb.n - i.n_common")}
         AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE i.n_common / CAST(za.n + zb.n - i.n_common AS DOUBLE) >= 0.5
"""


def lsh_near_dup_pairs(spark, sf_dir: str, threshold: float = 0.5,
                       shingles: DataFrame | None = None) -> DataFrame:
    """DataFrame-step implementation; semantics identical to
    lsh_near_dup_pairs_sql (the oracle), including the band-bucket cap.

    RECALL CAVEAT: the cap drops ALL candidate pairs from oversized
    buckets — including genuine near-dup (non-identical) pairs whose only
    shared band bucket is oversized. Exact-dedup recovers only the exact
    duplicates among them. The excluded buckets are the (band, band_key)
    groups of the band relation holding more than MAX_BAND_BUCKET docs;
    count them when tuning MAX_BAND_BUCKET.

    Scale shape: no forced broadcasts — AQE picks broadcast when the
    runtime pair/size relations are small and degrades to shuffle joins
    when a boilerplate-heavy corpus makes them large (a forced
    ``broadcast(pairs)`` OOMs the driver exactly then). The bucket-size
    filter keys on the same (band, band_key) as the self-join, so it adds
    no extra shuffle exchange beyond its aggregation. The persisted
    shingle relation is released before returning (result is an eager
    localCheckpoint)."""
    own = shingles is None
    if own:
        # persisted while the result materializes, released below
        shingles = doc_shingles_df(spark, sf_dir).persist()
    sigs = _signatures_from_shingles(shingles)
    bands = band_keys(sigs).persist()
    pairs = capped_band_pairs(bands)
    out = _jaccard_verify(pairs, shingles, threshold, sizes_attached=False)
    # a handed-over (entry-memo) shingle relation belongs to the caller
    return checkpoint_release(out, *((shingles, bands) if own
                                     else (bands,)))


def band_keys(sigs: DataFrame) -> DataFrame:
    """Signature rows -> (doc_id, band, band_key). ONE pass over the
    signature aggregation: the 4 band keys explode from an array
    projection. (The earlier union-of-4-selects re-ran the signature
    groupBy once per band, and the band relation feeds both the
    bucket-count filter and the self-join — together measured
    10.8 s -> 2.4 s at sf0.1.) Doc-local, so it computes identically per
    corpus slice — the property the incremental/streaming dedup drain
    relies on (streaming/watcher.py stream_dedup_keep_list)."""
    keys = [
        F.struct(F.lit(b).alias("band"),
                 F.md5(F.concat(*[F.col(f"mh{b * ROWS_PER_BAND + r}")
                                  for r in range(ROWS_PER_BAND)]))
                 .alias("band_key"))
        for b in range(NUM_BANDS)
    ]
    return (sigs.select("doc_id", F.explode(F.array(*keys)).alias("bk"))
            .select("doc_id", "bk.band", "bk.band_key"))


def capped_band_pairs(bands: DataFrame,
                      max_bucket: int = MAX_BAND_BUCKET) -> DataFrame:
    """(doc_id, band, band_key) rows -> distinct candidate pairs, with
    oversized buckets dropped whole (the recall-caveated cap documented
    on lsh_near_dup_pairs). The bucket-size filter keys on the same
    (band, band_key) as the self-join, so it adds no extra exchange
    beyond its aggregation."""
    bands_ok = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("_bn"))
        .where(F.col("_bn") <= max_bucket)
        .select("band", "band_key")
    )
    bands_capped = bands.join(bands_ok, ["band", "band_key"])

    a, b_ = bands_capped.alias("a"), bands_capped.alias("b")
    return (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# --- n-gram Jaccard (prefix-filtered all-pairs, no LSH) ---------------------

JACCARD_T = 0.5


def ngram_jaccard_pairs_sql(dialect: str) -> str:
    """Exact n-gram-set Jaccard similarity join via prefix filtering
    (PPJoin-style): under a global shingle order (document frequency asc,
    then shingle), any pair with J >= t must share a shingle within each
    side's first ``n - ceil(t*n) + 1`` shingles — so the candidate
    self-join touches only those prefixes, never all pairs. Unlike the
    MinHash path this has no probabilistic misses.

    Output: doc_a, doc_b (doc_a < doc_b), jaccard (rounded 1e-6).
    """
    return f"""
WITH {_doc_shingles_cte(dialect, 'documents')},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM doc_shingles GROUP BY doc_id),
freq AS (SELECT shingle, COUNT(*) AS df FROM doc_shingles GROUP BY shingle),
ranked AS (
  SELECT s.doc_id, s.shingle, z.n,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY f.df, s.shingle) AS rn
  FROM doc_shingles s
  JOIN freq f ON f.shingle = s.shingle
  JOIN sizes z ON z.doc_id = s.doc_id
),
prefix AS (
  SELECT doc_id, shingle, n FROM ranked
  WHERE rn <= n - CAST(ceil({JACCARD_T} * n) AS BIGINT) + 1
),
cand_pairs AS (
  -- PPJoin length filter: J >= t forces t*|A| <= |B| <= |A|/t
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
   AND b.n >= ceil({JACCARD_T} * a.n) AND b.n * {JACCARD_T} <= a.n
),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
  FROM cand_pairs p
  JOIN doc_shingles sa ON sa.doc_id = p.doc_a
  JOIN doc_shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
       {ratio_round_halfup(dialect, "i.n_common",
                           "za.n + zb.n - i.n_common")}
         AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE i.n_common / CAST(za.n + zb.n - i.n_common AS DOUBLE) >= {JACCARD_T}
"""


def _jaccard_verify(pairs: DataFrame, shingles: DataFrame,
                    threshold: float, sizes_attached: bool) -> DataFrame:
    """Exact Jaccard over candidate pairs (shared by the LSH and prefix
    paths). ``sizes_attached`` says ``pairs`` already carries both set
    sizes as ``na``/``nb`` (the prefix path); otherwise they are counted
    from ``shingles``. The pair relation joins the shingle relation
    directly: AQE broadcasts the (runtime-small) pair side and streams
    shingles, so the verify is one pass over the persisted shingle
    relation per side.
    (A semi-join pre-restriction of the shingle sides was measured
    SLOWER at sf0.1 — 10.2 s vs 5.3 s — the extra scans cost more than
    the row reduction saves while AQE already broadcasts the pairs.)"""
    sa = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    out_expr = F.expr(ratio_round_halfup(
        "spark", "n_common", "na + nb - n_common")).alias("jaccard")
    if sizes_attached:
        # the caller already attached both set sizes (the PPJoin prefix
        # relation carries n): grouping by (pair, na, nb) — na/nb are
        # functionally dependent on the pair — skips the two sizes
        # scan+agg+broadcast subtrees the old shape duplicated per side
        # (r14; the aliased size subtrees never shared in the plan)
        inter = (
            pairs.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count("*").alias("n_common"))
        )
        return (inter.where(jac >= threshold)
                .select("doc_a", "doc_b", out_expr))
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        pairs.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(za, "doc_a").join(zb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", out_expr)
    )


def ngram_jaccard_pairs(spark, sf_dir: str,
                        threshold: float = JACCARD_T,
                        shingles: DataFrame | None = None) -> DataFrame:
    """DataFrame-step implementation. The shingle relation is persisted
    while the result materializes (eager localCheckpoint), then released;
    the prefix self-join keys on RARE shingles first, so bucket fan-out
    stays small even on boilerplate-heavy corpora. No forced broadcasts —
    AQE promotes the pair/size relations to broadcast when their runtime
    size allows and falls back to shuffle joins when it doesn't.

    Formulation note: the shingle-keyed document frequency stays a
    groupBy+join — measured at sf0.1, local[32], it beat a
    count-over-partitionBy(shingle) window (4.7 s vs 10.5 s warm): the
    aggregation REDUCES before joining and AQE broadcasts the small
    result, while the window shuffles the full shingle relation
    unreduced. The doc-keyed set size ``n`` is the opposite case: it is
    a window count riding the exchange+sort the rank window already
    needs, which replaced a sizes groupBy+join-back (query 4.32 s ->
    2.77 s in the round-14 suite, the na/nb verify change included).

    Lineage note: shingles/prefix are EAGER localCheckpoints, not
    persist(): each downstream job then plans against a materialized
    relation instead of re-deriving (and re-codegen-compiling) the
    explode+window lineage per consumer — cold first-run 15.3 s -> 10.7 s
    at sf0.1; warm unchanged. Checkpoint blocks free on driver GC
    (plans/cache.py rationale; asserted by tests/test_scale_guards.py)."""
    if shingles is None:
        shingles = doc_shingles_df(spark, sf_dir) \
            .localCheckpoint(eager=True)
    freq = shingles.groupBy("shingle").agg(F.count("*").alias("df"))
    # the doc's set size n rides the SAME doc-keyed exchange+sort the
    # rank needs (count over the unordered doc partition) — the separate
    # sizes groupBy + join-back of the old shape re-scanned the shingle
    # relation for a value this window pass already has (guide §2.4)
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        shingles.join(freq, "shingle")
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
        .withColumn("rn", F.row_number().over(w))
    )
    # the self-join reads the prefix relation twice — materialize it so
    # the freq/sizes joins + window run once (measured 11.9 s -> 4.8 s at
    # sf0.1 together with the shared verify)
    prefix = ranked.where(
        F.col("rn") <= F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n")).cast("bigint") + 1
    ).select("doc_id", "shingle", "n").localCheckpoint(eager=True)

    # PPJoin length filter (lossless): J(A,B) >= t forces
    # t*|A| <= |B| <= |A|/t, so size-mismatched pairs never leave the
    # self-join (409k -> 310k candidate pairs on the uniform-length
    # testdata; far more on corpora with varied document lengths)
    a, b_ = prefix.alias("a"), prefix.alias("b")
    # na/nb ride along (functionally dependent on the pair, so the
    # distinct cardinality is unchanged): the verify then needs NO
    # sizes joins at all — the old plan re-derived the per-doc census
    # twice more, one scan+agg+broadcast per side
    pairs = (
        a.join(b_, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (F.col("b.n") >= F.ceil(F.lit(threshold) * F.col("a.n")))
               & (F.col("b.n") * F.lit(threshold) <= F.col("a.n")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n").alias("na"), F.col("b.n").alias("nb"))
        .distinct()
    )
    # nothing persisted -> nothing to release; checkpoint blocks are
    # reaped by ContextCleaner when the caller drops the references.
    return _jaccard_verify(pairs, shingles, threshold, sizes_attached=True)


# --- asymmetric containment (quote / subset detection) ----------------------

#: Containment threshold: C(small, large) = |A∩B| / |A_small| >= t. The
#: asymmetric complement to the Jaccard join — a short document quoted
#: whole inside a long one has high containment but LOW Jaccard (the
#: union is dominated by the long side), so the symmetric joins miss it.
CONTAIN_T = 0.6

#: Grams present in more than this many documents are dropped from the
#: containment universe (boilerplate/stopword 3-grams). This bounds the
#: per-gram join fan-out at df_cap^2 — the same quadratic-blowup cap
#: discipline as MAX_BAND_BUCKET — at the cost of computing containment
#: over the capped gram universe (observability:
#: ``containment_excluded_grams``).
MAX_GRAM_DF = 200


def containment_pairs_sql(dialect: str) -> str:
    """Exact n-gram containment join. Since max(C(A,B), C(B,A)) is always
    achieved by the smaller gram set, a pair qualifies iff the SMALLER
    side's containment >= t — so the candidate join probes only the
    smaller side's PPJoin prefix (first n - ceil(t*n) + 1 grams under the
    global (df, shingle) order) against the larger side's full gram set.
    Lossless: |A∩B| >= ceil(t*|A|) forces A's prefix to intersect B.

    Output: doc_a, doc_b (doc_a < doc_b), n_common, contain_a,
    contain_b (rounded 1e-6)."""
    return f"""
WITH {_doc_shingles_cte(dialect, 'documents')},
freq AS (SELECT shingle, COUNT(*) AS df FROM doc_shingles GROUP BY shingle),
kept AS (
  SELECT s.doc_id, s.shingle, f.df
  FROM doc_shingles s JOIN freq f ON f.shingle = s.shingle
  WHERE f.df <= {MAX_GRAM_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
ranked AS (
  SELECT k.doc_id, k.shingle, z.n,
         row_number() OVER (PARTITION BY k.doc_id
                            ORDER BY k.df, k.shingle) AS rn
  FROM kept k JOIN sizes z ON z.doc_id = k.doc_id
),
prefix AS (
  SELECT doc_id, shingle, n FROM ranked
  WHERE rn <= n - CAST(ceil({CONTAIN_T} * n) AS BIGINT) + 1
),
full_k AS (
  SELECT k.doc_id, k.shingle, z.n
  FROM kept k JOIN sizes z ON z.doc_id = k.doc_id
),
cand AS (
  SELECT DISTINCT LEAST(p.doc_id, f.doc_id) AS doc_a,
                  GREATEST(p.doc_id, f.doc_id) AS doc_b
  FROM prefix p JOIN full_k f
    ON p.shingle = f.shingle AND p.doc_id <> f.doc_id AND p.n <= f.n
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN kept sa ON sa.doc_id = c.doc_a
  JOIN kept sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a AS doc_a, i.doc_b AS doc_b, i.n_common AS n_common,
       {ratio_round_halfup(dialect, "i.n_common", "za.n")} AS contain_a,
       {ratio_round_halfup(dialect, "i.n_common", "zb.n")} AS contain_b
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE i.n_common / CAST(LEAST(za.n, zb.n) AS DOUBLE) >= {CONTAIN_T}
"""


def containment_pairs(spark, sf_dir: str, threshold: float = CONTAIN_T,
                      df_cap: int = MAX_GRAM_DF,
                      shingles: DataFrame | None = None) -> DataFrame:
    """DataFrame-step implementation (same lineage discipline as
    ``ngram_jaccard_pairs``: eager-checkpointed shingle relation,
    reduced-then-joined freq/sizes, no forced broadcasts — AQE promotes
    the runtime-small sides).

    Execution shape (r13): unlike the Jaccard join, the containment
    universe is df-capped, so the per-gram self-join volume is already
    bounded at sum(df^2) <= df_cap * |kept| — linear in the corpus with
    the cap constant, the LSH bucket-cap discipline. n_common therefore
    comes from ONE capped self-join + pair count, and the template's
    PPJoin prefix machinery (window rank + prefix x full join + distinct
    + a cand x gram-set re-join) is dead weight on the Spark side:
    measured 4.3 s -> 2.0 s warm at sf0.1 with identical output.
    Equivalence (threshold > 0): a qualifying pair shares
    >= ceil(t * min(na, nb)) >= 1 kept gram, so it co-occurs in the
    self-join; the final WHERE is the template's own qualification
    test, and n_common / sizes are computed from the same kept
    relation. The oracle keeps the PPJoin template.

    Dropped-gram observability via ``containment_excluded_grams``."""
    if shingles is None:
        shingles = doc_shingles_df(spark, sf_dir) \
            .localCheckpoint(eager=True)
    freq = shingles.groupBy("shingle").agg(F.count("*").alias("df"))
    kept = (shingles.join(freq.where(F.col("df") <= df_cap), "shingle")
            .select("doc_id", "shingle")
            .localCheckpoint(eager=True))
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = kept.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = kept.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (sa.join(sb, "shingle")
             .where(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("n_common")))
    za = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("nb"))
    return (
        inter.join(za, "doc_a").join(zb, "doc_b")
        .where(F.col("n_common")
               / F.least("na", "nb").cast("double") >= threshold)
        .select("doc_a", "doc_b", "n_common",
                # tie-exact int/int ratios (oracles.ratio_round_halfup)
                F.expr(ratio_round_halfup("spark", "n_common", "na"))
                .alias("contain_a"),
                F.expr(ratio_round_halfup("spark", "n_common", "nb"))
                .alias("contain_b"))
    )


def containment_excluded_grams(spark, sf_dir: str,
                               df_cap: int = MAX_GRAM_DF) -> DataFrame:
    """Observability twin of the df cap: the grams it removed from the
    containment universe, worst offenders first — the recall caveat is
    measurable, not silent."""
    shingles = doc_shingles_df(spark, sf_dir)
    freq = shingles.groupBy("shingle").agg(F.count("*").alias("df"))
    return (freq.where(F.col("df") > df_cap)
            .orderBy(F.desc("df"), "shingle"))


# --- simhash ----------------------------------------------------------------

_HEX = "0123456789abcdef"


def simhash_sql(dialect: str, docs_rel: str = "documents") -> str:
    """32-bit SimHash over DISTINCT tokens. Bit j votes +1 when the j-th
    hex digit of md5(token) is odd. Output: doc_id, simhash BIGINT."""
    unnest = "unnest" if dialect == "duckdb" else "explode"
    votes = ", ".join(
        f"SUM(CASE WHEN (instr('{_HEX}', substr(h, {j + 1}, 1)) - 1) % 2 "
        f"= 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(32))
    recompose = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(32))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, {unnest}({_tokens_sql(dialect)}) AS tok FROM {docs_rel}
  ) _e
),
hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, {recompose} AS simhash FROM votes
"""


def simhash(spark, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_documents")
    return spark.sql(simhash_sql("spark", "cpss_documents"))


# --- duplicate clusters (connected components over the near-dup graph) ------

#: Symmetric-edge-relation size (rows) under which connected components
#: resolve as ONE driver union-find instead of the distributed
#: contraction: every contraction round costs several fixed-latency
#: jobs (checkpoint + emptiness probe), which dominates wall-clock on
#: the small, clique-heavy graphs the dedup caps produce (measured
#: 2.8 s -> ~0.4 s on the 1.7k-edge semdedup graph at sf0.1). The
#: collect is BOUNDED by this constant (~16 MB of int64 pairs at the
#: default), production-scale graphs take the distributed path, and
#: both paths compute the identical min-reachable fixpoint (pinned by
#: test_connected_components_paths_agree).
CC_DRIVER_MAX_EDGES = 1_000_000


def _cc_driver(bidir: DataFrame, id_type: str) -> DataFrame:
    """Driver union-find over a (bounded) symmetric edge relation.
    Roots are kept at the smallest node INDEX; node ids arrive sorted
    unique, so a root's own id is its component minimum."""
    import numpy as np
    spark = bidir.sparkSession
    pdf = bidir.toPandas()
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    nodes, inv = np.unique(np.concatenate((src, dst)), return_inverse=True)
    a, b = inv[:len(src)], inv[len(src):]
    parent = list(range(len(nodes)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]   # path halving
            x = parent[x]
        return x

    for i in range(len(a)):
        ra, rb = find(int(a[i])), find(int(b[i]))
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    labels = nodes[[find(i) for i in range(len(nodes))]]
    import pandas as pd
    out = pd.DataFrame({"doc_id": nodes, "cluster_rep": labels})
    return spark.createDataFrame(
        out, schema=f"doc_id {id_type}, cluster_rep {id_type}")


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components by iterative graph CONTRACTION: label every
    node with the MIN of its closed neighborhood (one groupBy — labels
    start as the identity, so round 1 is this closed form), then
    rewrite the edge relation through the labeling (an edge survives
    only if its endpoints carry DIFFERENT labels), recurse on the
    contracted graph, and compose the label mappings. Near-dup cluster
    graphs are clique-heavy, so the edge relation collapses
    geometrically — measured on the phash pair graph at sf0.1: 484k
    symmetric edges -> 46 -> 8 -> 0 in three rounds, where plain
    min-label propagation (even with path-halving) needed seven rounds
    over the FULL edge relation each time. That is also the 100 TB
    shape: total shuffled bytes across all rounds ~ 2x the input edge
    relation instead of rounds x edges, and rounds are O(log n) worst
    case instead of O(diameter).

    Correctness: labels are always reachable node ids and only ever
    decrease; the component-min node keeps itself as label through
    every round (all its rep-neighbors are larger); contraction stops
    when NO edge crosses label classes, i.e. label classes equal
    components exactly, so every node then carries its component MIN —
    the identical fixpoint plain propagation computes (pinned against a
    driver union-find on random graphs in
    tests/test_dedup_simsearch.py). Termination needs no label-change
    probe at all: the check IS the contracted relation's emptiness (a
    take(1) on the just-materialized checkpoint), type-agnostic.

    Every intermediate localCheckpoints so lineage stays flat; the
    per-round work is two joins + a distinct over the (shrinking) edge
    relation and one node-scale composition join.

    ``edges`` needs (doc_a, doc_b); output: (doc_id, cluster_rep) for
    every node appearing in an edge, cluster_rep = MIN doc_id reachable.
    """
    bidir = (
        edges.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst"))
        .unionByName(edges.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # small-graph fast path: see CC_DRIVER_MAX_EDGES (the count is a
    # metadata read on the just-materialized checkpoint)
    if bidir.count() <= CC_DRIVER_MAX_EDGES:
        return _cc_driver(
            bidir, edges.schema["doc_a"].dataType.simpleString())
    # Round 1, closed form: min over the closed neighborhood. The ONE
    # groupBy also yields the node universe (bidir is symmetric, so
    # every node appears as src) — no separate init distinct.
    mapping = (
        bidir.groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("_nmin"))
        .select("doc_id", F.least("doc_id", "_nmin").alias("label"))
        .localCheckpoint(eager=True)
    )
    # ``lab`` is the labeling of the CURRENT edge relation's node space
    # (class ids), distinct from ``mapping`` (original nodes -> current
    # class). Each round: quotient the edges through ``lab``, stop if
    # no edge crosses classes, else min-relabel the quotient's nodes
    # and compose that into both ``mapping`` and the next round's
    # ``lab``. Conflating the two labelings would lose the chain
    # class-id -> its OWN class, which the union-find pin test catches.
    lab = mapping
    cur = bidir
    for _ in range(50 - 1):
        la = lab.select(F.col("doc_id").alias("src"),
                        F.col("label").alias("_ls"))
        lb = lab.select(F.col("doc_id").alias("dst"),
                        F.col("label").alias("_ld"))
        half = (cur.join(la, "src").join(lb, "dst")
                .where(F.col("_ls") != F.col("_ld"))
                .select(F.least("_ls", "_ld").alias("src"),
                        F.greatest("_ls", "_ld").alias("dst"))
                .distinct())
        # re-symmetrize (least < greatest strictly, so the swap rows
        # are distinct from the originals by construction)
        cur = (half.unionByName(
            half.select(F.col("dst").alias("src"),
                        F.col("src").alias("dst")))
            .localCheckpoint(eager=True))
        if cur.isEmpty():
            break
        relab = (cur.groupBy(F.col("src").alias("doc_id"))
                 .agg(F.min("dst").alias("_nmin"))
                 .select("doc_id",
                         F.least("doc_id", "_nmin").alias("label"))
                 .localCheckpoint(eager=True))
        mapping = (mapping.join(
            relab.select(F.col("doc_id").alias("_node"),
                         F.col("label").alias("_newlab")),
            mapping["label"] == F.col("_node"), "left")
            .select("doc_id",
                    F.coalesce("_newlab", "label").alias("label"))
            .localCheckpoint(eager=True))
        lab = relab
    return mapping.select("doc_id", F.col("label").alias("cluster_rep"))


def dedup_clusters(spark, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """Duplicate-cluster resolution for the training-data pipeline: LSH
    near-dup pairs -> connected components -> one canonical doc per
    cluster (MIN doc_id). A corpus keep-list is then
    ``all docs - (clustered docs - representatives)``. Output:
    (doc_id, cluster_rep) for every doc in a near-dup cluster."""
    return connected_components(
        lsh_near_dup_pairs(spark, sf_dir, threshold))


def dedup_keep_list(spark, sf_dir: str, threshold: float = 0.5,
                    clusters: DataFrame | None = None) -> DataFrame:
    """The dedup family's actual product: one row per corpus document
    with the keep/drop verdict. A doc is dropped iff it sits in a
    near-dup cluster and is not that cluster's canonical representative
    (MIN doc_id). Unclustered docs are their own representative.

    Output: doc_id, cluster_rep, keep. Shuffle shape: the cluster
    relation is bounded by near-dup membership (small vs the corpus), so
    the verdict join broadcasts it under AQE. ``clusters`` as in
    :func:`dedup_clusters` (the entry-level chain memo)."""
    if clusters is None:
        clusters = dedup_clusters(spark, sf_dir, threshold)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    out = docs.join(clusters, "doc_id", "left")
    rep = F.coalesce(F.col("cluster_rep"), F.col("doc_id"))
    return out.select(
        "doc_id", rep.alias("cluster_rep"),
        (rep == F.col("doc_id")).alias("keep"))


def dedup_keep_list_sql(dialect: str) -> str:
    clusters = dedup_clusters_sql(dialect).strip()
    return f"""
WITH clusters AS ({clusters})
SELECT d.doc_id,
       COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep,
       COALESCE(c.cluster_rep, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
"""


def dedup_clusters_sql(dialect: str) -> str:
    """DuckDB rendering: min reachable doc id per node via a RECURSIVE
    CTE over the (bidirected) near-dup pair graph — the declarative twin
    of the label-propagation fixpoint."""
    pairs = lsh_near_dup_pairs_sql(dialect).strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, node) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
)
SELECT src AS doc_id, MIN(node) AS cluster_rep
FROM reach GROUP BY src
"""
