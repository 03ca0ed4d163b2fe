"""Text-analysis operators for the training-data pipeline surface:
quality scoring, token counting, language-ID, document fingerprinting.

These are beyond the reference's own operator set (its detection works on
short sampled values); a 100 TB text corpus needs per-document statistics
as first-class scan-shaped operators. All are single-pass projections or
one-shuffle aggregations, rendered identically for the DuckDB oracle.

Definitions (engine semantics, chosen SQL-portable):
- tokens: split on runs of spaces.
- digit_ratio / punct_ratio: share of chars that are digits / neither
  alphanumeric nor space.
- stopword_ratio: share of tokens in a fixed English stopword list.
- quality_score: 0.25*min(n_tokens/100,1) + 0.25*(1-digit_ratio)
  + 0.25*(1-punct_ratio) + 0.25*min(stopword_ratio*4,1), rounded 1e-6 —
  the usual length/punctuation/stopword heuristic family.
- lang_id: argmax language by count of language-marker tokens, 'und' when
  no marker matches; ties break by language order below.
- fingerprint: md5 of whitespace-normalized lowercased text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..oracles import ratio_round_halfup

STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "on", "for",
             "with", "as", "was", "at", "by", "from")

#: language -> marker tokens (order of dict = tie-break order).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "in", "to"),
    "es": ("el", "la", "de", "que", "los", "una"),
    "fr": ("le", "les", "des", "une", "est", "dans"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
}


def _class_count_sql(char_class: str, dialect: str) -> str:
    """Integer count of chars in ``char_class`` — the EXACT numerator
    both the tie-exact output ratio and the raw quality-score ratio
    are built from."""
    g = ", 'g'" if dialect == "duckdb" else ""
    stripped = f"regexp_replace(text, '{char_class}', ''{g})"
    return f"(length(text) - length({stripped}))"


def _ratio_sql(char_class: str, dialect: str) -> str:
    """Unrounded double count/len ratio over ``text`` — internal
    FEATURE input (quality.py's classifier), never an output column,
    so it keeps the plain double division; bit-identical to the
    pre-round-10 inline form."""
    cnt = _class_count_sql(char_class, dialect)
    return (f"(CASE WHEN length(text) = 0 THEN 0.0 ELSE "
            f"{cnt} / CAST(length(text) AS DOUBLE) END)")


def _raw_ratio_sql(count_col: str) -> str:
    """The unrounded double ratio count/len for the quality-score
    formula — bit-identical to the pre-round-10 inline form (same two
    integers, same IEEE division)."""
    return (f"(CASE WHEN b.n_chars_calc = 0 THEN 0.0 ELSE "
            f"{count_col} / CAST(b.n_chars_calc AS DOUBLE) END)")


def _tokens_sql(dialect: str) -> str:
    if dialect == "duckdb":
        return "regexp_split_to_array(text, ' +')"
    return "split(text, ' +')"


def doc_quality_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Full quality-stats query, rendered per dialect from one template.

    Output: doc_id, n_chars_calc, n_tokens, n_stop, digit_ratio,
    punct_ratio, stopword_ratio, quality_score.
    """
    toks = _tokens_sql(dialect)
    n_digit = _class_count_sql("[0-9]", dialect)
    n_punct = _class_count_sql("[^a-zA-Z0-9 ]", dialect)
    digit_raw = _raw_ratio_sql("b.n_digit")
    punct_raw = _raw_ratio_sql("b.n_punct")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    if dialect == "duckdb":
        tok_rows = (f"SELECT doc_id, unnest({toks}) AS tok "
                    f"FROM {docs_rel}")
    else:
        tok_rows = (f"SELECT doc_id, explode({toks}) AS tok "
                    f"FROM {docs_rel}")
    # output ratios go through the tie-exact fragment (int counts /
    # int lengths CAN land on an exact half-1e-6 tie); the raw double
    # ratios feed only the composite quality_score, whose operands
    # pass through min()/weights and are not exact at any scale, so
    # its round() keeps the plain form
    digit_out = (f"CASE WHEN b.n_chars_calc = 0 THEN 0.0 ELSE "
                 f"{ratio_round_halfup(dialect, 'b.n_digit', 'b.n_chars_calc')}"
                 f" END")
    punct_out = (f"CASE WHEN b.n_chars_calc = 0 THEN 0.0 ELSE "
                 f"{ratio_round_halfup(dialect, 'b.n_punct', 'b.n_chars_calc')}"
                 f" END")
    stop_out = ratio_round_halfup(dialect, "t.n_stop", "t.n_tokens")
    return f"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars_calc,
         {n_digit} AS n_digit, {n_punct} AS n_punct
  FROM {docs_rel}
),
toks AS ({tok_rows}),
tok_stats AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN tok IN ({stop_list}) THEN 1 ELSE 0 END) AS n_stop
  FROM toks GROUP BY doc_id
)
SELECT b.doc_id AS doc_id,
       CAST(b.n_chars_calc AS BIGINT) AS n_chars_calc,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(t.n_stop AS BIGINT) AS n_stop,
       {digit_out} AS digit_ratio,
       {punct_out} AS punct_ratio,
       {stop_out} AS stopword_ratio,
       round(
         0.25 * least(t.n_tokens / 100.0, 1.0)
         + 0.25 * (1.0 - {digit_raw})
         + 0.25 * (1.0 - {punct_raw})
         + 0.25 * least(4.0 * t.n_stop / CAST(t.n_tokens AS DOUBLE), 1.0),
         6) AS quality_score
FROM base b JOIN tok_stats t ON b.doc_id = t.doc_id
"""


def doc_quality(spark, sf_dir: str) -> DataFrame:
    """Engine side runs the same declarative shape through Spark SQL —
    Catalyst prunes the parquet scan to (doc_id, text) and the single
    groupBy(doc_id) shuffle partially aggregates map-side."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_documents")
    return spark.sql(doc_quality_sql("spark", "cpss_documents"))


def lang_id_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Language-ID by marker-token voting. Output: doc_id, pred_lang,
    n_marker_hits."""
    toks = _tokens_sql(dialect)
    unnest = "unnest" if dialect == "duckdb" else "explode"
    marker_rows = ", ".join(
        f"('{lang}', '{tok}', {li})"
        for li, (lang, toks_) in enumerate(LANG_MARKERS.items())
        for tok in toks_)
    return f"""
WITH toks AS (
  SELECT doc_id, {unnest}({toks}) AS tok FROM {docs_rel}
),
votes AS (
  SELECT t.doc_id, m.lang, m.lang_rank, COUNT(*) AS hits
  FROM toks t
  JOIN (SELECT * FROM (VALUES {marker_rows}) v(lang, tok, lang_rank)) m
    ON t.tok = m.tok
  GROUP BY t.doc_id, m.lang, m.lang_rank
),
ranked AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, lang_rank) AS rn
  FROM votes
)
SELECT d.doc_id AS doc_id,
       coalesce(r.lang, 'und') AS pred_lang,
       coalesce(r.hits, 0) AS n_marker_hits
FROM {docs_rel} d
LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON d.doc_id = r.doc_id
"""


def lang_id(spark, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_documents")
    return spark.sql(lang_id_sql("spark", "cpss_documents"))


#: BPE-ish pre-tokenizer: letter runs, digit runs, or a single
#: non-alphanumeric-non-space char — the GPT-2-style split classes,
#: identical leftmost semantics in Java regex (Spark) and RE2 (DuckDB)
#: because the alternatives match disjoint character sets.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_counts_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Token-counting operator (training-data pipeline): whitespace tokens
    and BPE-ish regex tokens per document, plus alpha/numeric run counts.
    Pure projection — zero shuffles; parquet scan pruned to (doc_id,
    text).

    Output: doc_id, n_ws_tokens, n_bpe_tokens, n_alpha_tokens,
    n_num_tokens, chars_per_bpe_token.
    """
    toks = _tokens_sql(dialect)
    if dialect == "duckdb":
        def n_matches(pat: str) -> str:
            return f"len(regexp_extract_all(text, '{pat}'))"
        n_ws = f"len({toks})"
    else:
        def n_matches(pat: str) -> str:
            return f"size(regexp_extract_all(text, '{pat}', 0))"
        n_ws = f"size({toks})"
    n_bpe = n_matches(BPE_TOKEN_RE)
    return f"""
SELECT doc_id,
       CAST({n_ws} AS BIGINT) AS n_ws_tokens,
       CAST({n_bpe} AS BIGINT) AS n_bpe_tokens,
       CAST({n_matches("[A-Za-z]+")} AS BIGINT) AS n_alpha_tokens,
       CAST({n_matches("[0-9]+")} AS BIGINT) AS n_num_tokens,
       round(CASE WHEN {n_bpe} = 0 THEN 0.0
             ELSE length(text) / CAST({n_bpe} AS DOUBLE) END, 6)
         AS chars_per_bpe_token
FROM {docs_rel}
"""


def token_counts(spark, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_documents")
    return spark.sql(token_counts_sql("spark", "cpss_documents"))


def fingerprint_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Normalized-text md5 fingerprint. Output: doc_id, fingerprint."""
    g = ", 'g'" if dialect == "duckdb" else ""
    norm = f"lower(trim(regexp_replace(text, ' +', ' '{g})))"
    return (f"SELECT doc_id, md5({norm}) AS fingerprint "
            f"FROM {docs_rel}")


def fingerprints(spark, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_documents")
    return spark.sql(fingerprint_sql("spark", "cpss_documents"))


QUANTILES = (0.5, 0.9, 0.99)


def length_quantiles(spark, sf_dir: str, approx: bool = False) -> DataFrame:
    """Per-language document-length percentiles (p50/p90/p99 of n_chars,
    linear interpolation) + counts.

    ``approx=False`` uses exact ``percentile`` — numerically identical
    to DuckDB's ``quantile_cont`` (oracle-checked), but it buffers each
    group's values in the aggregation state. At 100 TB a single language
    holds billions of rows, so the scale path is ``approx=True``:
    ``approx_percentile`` (t-digest sketch — bounded memory, mergeable,
    partial-aggregatable map-side); tests pin the two paths within
    tolerance on the testdata.
    """
    qs = ", ".join(str(q) for q in QUANTILES)
    fn = "approx_percentile" if approx else "percentile"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = F.expr(f"{fn}(n_chars, array({qs}))").alias("q")
    return (
        docs.groupBy("lang")
        .agg(agg, F.count("*").alias("n"))
        .select("lang", "n",
                F.round(F.col("q")[0].cast("double"), 6).alias("p50"),
                F.round(F.col("q")[1].cast("double"), 6).alias("p90"),
                F.round(F.col("q")[2].cast("double"), 6).alias("p99"))
    )


def length_quantiles_oracle_sql() -> str:
    cols = ", ".join(
        f"round(quantile_cont(n_chars, {q}), 6) AS p{int(q * 100)}"
        for q in QUANTILES)
    return (f"SELECT lang, COUNT(*) AS n, {cols} "
            f"FROM documents GROUP BY lang")


# --- winnowing fingerprints (partial-overlap detection) ----------------------
#
# Schleimer, Wilkerson, Aiken 2003 ("Winnowing: local algorithms for
# document fingerprinting", SIGMOD — the MOSS algorithm; public): hash
# every character k-gram, slide a window of w consecutive hashes, and
# select each window's MINIMUM (rightmost position on ties). The
# guarantee: any shared substring of length >= k + w - 1 contributes at
# least one SHARED selected fingerprint, so partial overlap (plagiarism,
# quotation, template reuse) is detectable from the tiny selected set —
# unlike the whole-doc md5 `fingerprint` above (exact dup only) and the
# shingle MinHash in operators/dedup.py (whole-doc similarity).
#
# Determinism: the window argmin is computed on an integer key
# h * 2^30 + (2^30 - 1 - i), which orders by (h ASC, i DESC) — the
# paper's rightmost tie-break — with plain MIN() in both engines. The
# hash is the first-4-hex-digit md5 fold (the quality-classifier
# arithmetic, md5 computed ONCE per gram).
#
# Pair stage (the MOSS report): docs sharing >= WINNOW_MIN_SHARED
# selected hashes, EXCLUDING hashes seen in more than WINNOW_DF_CAP
# docs (boilerplate fragments — the dedup_containment df-cap rule;
# at sf0.01's word-salad corpus the cap drops 542 of ~19k distinct
# hashes). Quadratic work is bounded by cap^2 per hash.
#
# Scale shape (100 TB): one gram explode (linear, md5 once per gram),
# one doc-keyed window for the argmin, one distinct, one df census,
# and a fingerprint-keyed pair join whose fan-out the cap bounds.
# Docs are truncated at WINNOW_MAX_CHARS (straggler guard, mirrored).

WINNOW_K = 8          #: k-gram length (chars, after normalization)
WINNOW_W = 4          #: winnowing window (hashes)
WINNOW_DF_CAP = 20    #: drop fingerprints seen in more docs than this
WINNOW_MIN_SHARED = 3 #: report pairs sharing at least this many
WINNOW_MAX_CHARS = 100_000


#: The 4-hex-digit md5 fold (the quality-classifier arithmetic) over a
#: column named ``m`` — shared by the SQL template below and the Spark
#: row-gram builder so the two forms cannot drift apart textually.
_HEXD = "instr('0123456789abcdef', substr(m, {p}, 1)) - 1"
WINNOW_H_EXPR = (f"(({_HEXD.format(p=1)}) * 4096 + ({_HEXD.format(p=2)})"
                 f" * 256 + ({_HEXD.format(p=3)}) * 16"
                 f" + ({_HEXD.format(p=4)}))")


def winnow_pairs_segments(dialect: str, docs_rel: str = "documents",
                          df_cap: int = WINNOW_DF_CAP,
                          min_shared: int = WINNOW_MIN_SHARED
                          ) -> tuple[str, str]:
    """(selection CTEs ending in ``sel``, pairing CTEs + final SELECT
    consuming ``sel``). Final output: doc_a, doc_b (a < b), n_shared,
    sim (n_shared / min(selected_a, selected_b), rounded 1e-6)."""
    if dialect == "duckdb":
        norm = (f"substr(regexp_replace(lower(text), '[^a-z0-9]', '',"
                f" 'g'), 1, {WINNOW_MAX_CHARS})")
        gi = (f"FROM norm, unnest(range(1, length(s) - {WINNOW_K} + 2)) _u(i)"
              f" WHERE length(s) >= {WINNOW_K}")
    else:
        norm = (f"substr(regexp_replace(lower(text), '[^a-z0-9]', ''),"
                f" 1, {WINNOW_MAX_CHARS})")
        gi = (f"FROM norm LATERAL VIEW explode(sequence(1, length(s)"
              f" - {WINNOW_K} + 1)) _u AS i WHERE length(s) >= {WINNOW_K}")
    h = WINNOW_H_EXPR
    # Two segments, composed (never re-parsed) by the callers: the
    # Spark runner materializes the selection segment once and splices
    # its own `sel` relation into the pairing segment (r7 ADVICE:
    # string-splitting the rendered SQL on CTE-name markers breaks
    # silently on a rename).
    sel_segment = f"""norm AS (
  SELECT doc_id, {norm} AS s FROM {docs_rel} WHERE text IS NOT NULL
),
gm AS (
  SELECT doc_id, i, md5(substr(s, CAST(i AS INT), {WINNOW_K})) AS m,
         length(s) - {WINNOW_K} + 1 AS ng
  {gi}
),
keyed AS (
  SELECT doc_id, i, ng,
         CAST({h} AS BIGINT) * 1073741824
           + (1073741823 - i) AS wkey
  FROM gm
),
winmin AS (
  SELECT doc_id, i, ng,
         MIN(wkey) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW
                         AND {WINNOW_W - 1} FOLLOWING) AS kmin
  FROM keyed
),
sel AS (
  SELECT DISTINCT doc_id,
         CAST(floor(kmin / 1073741824.0) AS BIGINT) AS h
  FROM winmin WHERE i <= ng - {WINNOW_W} + 1
)"""
    pair_segment = f"""df AS (SELECT h, COUNT(*) AS d FROM sel GROUP BY h),
kept AS (
  SELECT s.doc_id, s.h FROM sel s JOIN df ON df.h = s.h
  WHERE df.d <= {df_cap}
),
doc_n AS (SELECT doc_id, COUNT(*) AS n_sel FROM sel GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM kept a JOIN kept b ON b.h = a.h AND b.doc_id > a.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {min_shared}
)
SELECT p.doc_a, p.doc_b, CAST(p.n_shared AS BIGINT) AS n_shared,
       round(p.n_shared / CAST(LEAST(na.n_sel, nb.n_sel) AS DOUBLE), 6)
         AS sim
FROM pairs p
JOIN doc_n na ON na.doc_id = p.doc_a
JOIN doc_n nb ON nb.doc_id = p.doc_b
"""
    return sel_segment, pair_segment


def winnow_pairs_sql(dialect: str, df_cap: int = WINNOW_DF_CAP,
                     min_shared: int = WINNOW_MIN_SHARED) -> str:
    sel, pair = winnow_pairs_segments(dialect, df_cap=df_cap,
                                      min_shared=min_shared)
    return f"WITH {sel},\n{pair}"


def winnow_selected_chars(docs: DataFrame) -> DataFrame:
    """The template's ``sel`` relation (DISTINCT doc_id, h) built from a
    per-doc CHAR explode + (k-1) LEADs instead of
    ``substr(s, i, k)`` per exploded position.

    Why (optimization guide §1.2 per-task work + §2.5 input skew):
    UTF8String ``substr`` seeks from the string start, so the
    exploded-position form pays O(len²) character work per document —
    5e9 char ops for one WINNOW_MAX_CHARS doc — and both that walk and
    the per-gram md5 run in the SCAN stage, i.e. on however few splits
    the input arrives as. Here the scan stage only splits the
    normalized string into chars (O(len)); the gram assembly and md5
    run AFTER the doc-keyed exchange the argmin window needs anyway,
    on the session's full parallelism. Both windows share one
    exchange + sort (same partition/order keys).

    Value-identical to the template's ``sel``: split('') yields the
    same per-position code points substr walked (empty-string elements
    filtered with positions preserved), concat of k consecutive chars
    IS substr(s, i, k) — positions past ng carry NULL leads, md5(NULL)
    is NULL, and those rows are dropped before the argmin window
    exactly like the template's sequence(1, ng) bound; the fold/argmin
    arithmetic is the shared WINNOW_H_EXPR text."""
    norm = (docs.where(F.col("text").isNotNull())
            .select("doc_id",
                    F.expr(f"substr(regexp_replace(lower(text),"
                           f" '[^a-z0-9]', ''), 1, {WINNOW_MAX_CHARS})")
                    .alias("s"))
            .where(F.length("s") >= WINNOW_K))
    chars = (norm.select("doc_id",
                         (F.length("s") - WINNOW_K + 1).alias("ng"),
                         F.posexplode(F.split("s", "")).alias("pos", "c"))
             .where(F.col("c") != "")
             .select("doc_id", "ng", (F.col("pos") + 1).alias("i"), "c"))
    win = Window.partitionBy("doc_id").orderBy("i")
    gram = F.concat(F.col("c"),
                    *[F.lead("c", j).over(win) for j in range(1, WINNOW_K)])
    grams = (chars.select("doc_id", "ng", "i", F.md5(gram).alias("m"))
             .where(F.col("i") <= F.col("ng")))
    keyed = grams.selectExpr(
        "doc_id", "i", "ng",
        f"CAST({WINNOW_H_EXPR} AS BIGINT) * 1073741824"
        f" + (1073741823 - i) AS wkey")
    amin = Window.partitionBy("doc_id").orderBy("i") \
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    return (keyed.select("doc_id", "i", "ng",
                         F.min("wkey").over(amin).alias("kmin"))
            .where(F.col("i") <= F.col("ng") - WINNOW_W + 1)
            .selectExpr("doc_id",
                        "CAST(floor(kmin / 1073741824.0) AS BIGINT) AS h")
            .distinct())


def corpus_winnow_pairs(spark, sf_dir: str) -> DataFrame:
    """Dual-dialect template execution; the selected-fingerprint
    relation feeds four consumers (df census, both pair sides, doc_n),
    so it is materialized once — a CTE re-inline would re-run the gram
    explode + argmin window per consumer (the PCA lesson). The sel
    relation comes from the row-gram builder (value-identical, see
    :func:`winnow_selected_chars`); the oracle keeps the template's
    exploded-positions derivation, so the gate checks the equivalence
    end-to-end."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sel = winnow_selected_chars(docs)
    sel.localCheckpoint(eager=True) \
        .createOrReplaceTempView("cpss_winnow_sel")
    # Pair-only use: the selection segment (the sole consumer of
    # docs_rel) is discarded here, so pass an impossible sentinel —
    # if a future template change makes the pairing segment reference
    # the docs relation it fails loudly instead of silently hitting a
    # stale view registered by another operator.
    _, pair_seg = winnow_pairs_segments(
        "spark", "cpss_winnow_docs_rel_must_not_be_referenced")
    return spark.sql("WITH sel AS (SELECT * FROM cpss_winnow_sel),\n"
                     + pair_seg)
