"""BPE merge training as a corpus operator — the first N merge rules
of a byte-pair-encoding tokenizer learned from the document corpus
(Sennrich, Haddow, Birch 2016; the standard subword-tokenizer trainer
every LLM data pipeline runs before anything else tokenizes).

Semantics (deterministic, dual-dialect):

- the vocabulary is the aggregated (token, count) relation over
  lowercase-ASCII word tokens (``^[a-z0-9]+$`` — BPE trainers
  normalize first, and the ASCII gate keeps the character split free
  of engine-specific unicode segmentation), each token capped at
  BPE_MAX_TOKEN_CHARS characters (straggler guard, mirrored in the
  oracle) and rendered as space-separated characters plus the
  ``</w>`` end-of-word symbol;
- each iteration counts adjacent symbol pairs weighted by token
  count, picks the best pair by (count DESC, pair ASC) — a total
  order, so the winner is unique — and applies the merge with ONE
  leftmost-non-overlapping string replace over the padded symbol
  string (``' s '``). NOTE: on a run of k >= 5 self-overlapping
  occurrences of the same pair inside one token this differs from
  classic greedy BPE (which re-scans after every merge); it is the
  exact semantics of Python's ``str.replace`` and of Spark's and
  DuckDB's ``replace``, identical in all three (pinned against an
  independent Python reference in tests/test_r8_ops.py), and the
  word-salad corpus has no such runs;
- iterations with no remaining pair (degenerate corpora) emit no row
  and leave the vocabulary unchanged.

Execution shape (the 100 TB story): the corpus is scanned ONCE into
the (token, count) vocabulary — after that every iteration works on
the vocabulary relation, whose size is bounded by the token universe,
not the corpus. The Spark path materializes the vocabulary and loops
driver-side (the embed_kmeans_lloyd discipline: the driver holds only
the ONE-ROW best pair per iteration — a bounded collect — and
controls the loop; all counting stays distributed), checkpointing the
merged vocabulary each round so the lineage stays flat. The DuckDB
oracle unrolls the same N iterations as CTEs (re-reference is free
there); Spark never runs the unrolled template, whose CTE
re-inlining would double the plan per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Number of merge rules to learn (unrolled in the oracle).
BPE_MERGES = 6
#: Per-token character cap (one monster token must not dominate the
#: pair explode), applied identically in both dialects.
BPE_MAX_TOKEN_CHARS = 24
#: End-of-word symbol (classic Sennrich marker).
BPE_EOW = "</w>"


def _vocab_cte(dialect: str, docs_rel: str) -> str:
    """(s, c): space-separated symbol string + token count."""
    unnest = "unnest" if dialect == "duckdb" else "explode"
    split = ("regexp_split_to_array(text, ' +')" if dialect == "duckdb"
             else "split(text, ' +')")
    spaced = (r"regexp_replace(substr(tok, 1, %d), '(.)', '\1 ', 'g')"
              % BPE_MAX_TOKEN_CHARS if dialect == "duckdb" else
              r"regexp_replace(substr(tok, 1, %d), '(.)', '$1 ')"
              % BPE_MAX_TOKEN_CHARS)
    return f"""
bpe_toks AS (
  SELECT tok FROM (
    SELECT {unnest}({split}) AS tok FROM {docs_rel}
  ) _e WHERE tok <> '' AND regexp_matches(tok, '^[a-z0-9]+$')
),
bpe_vocab_0 AS (
  SELECT trim({spaced}) || ' {BPE_EOW}' AS s, COUNT(*) AS c
  FROM bpe_toks GROUP BY tok
)""" if dialect == "duckdb" else f"""
bpe_toks AS (
  SELECT tok FROM (
    SELECT {unnest}({split}) AS tok FROM {docs_rel}
  ) _e WHERE tok <> '' AND tok RLIKE '^[a-z0-9]+$'
),
bpe_vocab_0 AS (
  SELECT trim({spaced}) || ' {BPE_EOW}' AS s, COUNT(*) AS c
  FROM bpe_toks GROUP BY tok
)"""


def _pairs_sql(dialect: str, vocab: str) -> str:
    """Adjacent symbol pairs of ``vocab``(s, c), weighted by c."""
    if dialect == "duckdb":
        return f"""
  SELECT list_extract(a, CAST(i AS INT)) AS pa,
         list_extract(a, CAST(i + 1 AS INT)) AS pb,
         SUM(c) AS cnt
  FROM (SELECT string_split(s, ' ') AS a, c FROM {vocab}) _v,
       (SELECT unnest(range(1, 2 * {BPE_MAX_TOKEN_CHARS})) AS i) _i
  WHERE i < len(a)
  GROUP BY 1, 2"""
    return f"""
  SELECT element_at(a, CAST(i AS INT)) AS pa,
         element_at(a, CAST(i + 1 AS INT)) AS pb,
         SUM(c) AS cnt
  FROM (SELECT split(s, ' ') AS a, c FROM {vocab}) _v
  LATERAL VIEW explode(sequence(1, 2 * {BPE_MAX_TOKEN_CHARS} - 1)) _i AS i
  WHERE i < size(a)
  GROUP BY 1, 2"""


def _train_ctes(dialect: str, docs_rel: str,
                n_merges: int) -> list[str]:
    """The unrolled training CTE chain (bpe_toks, bpe_vocab_0..N,
    bpe_pairs_k, bpe_best_k) shared by the merges template and the
    encode template — one text, so the two oracles can never train
    different tokenizers."""
    ctes = [_vocab_cte(dialect, docs_rel).lstrip()]
    for k in range(1, n_merges + 1):
        prev = f"bpe_vocab_{k - 1}"
        ctes.append(f"""
bpe_pairs_{k} AS ({_pairs_sql(dialect, prev)}
),
bpe_best_{k} AS (
  SELECT pa, pb, cnt FROM bpe_pairs_{k}
  ORDER BY cnt DESC, pa, pb LIMIT 1
),
bpe_vocab_{k} AS (
  SELECT CASE WHEN b.pa IS NULL THEN v.s
         ELSE trim(replace(' ' || v.s || ' ',
                           ' ' || b.pa || ' ' || b.pb || ' ',
                           ' ' || b.pa || b.pb || ' '))
         END AS s, v.c
  FROM {prev} v LEFT JOIN bpe_best_{k} b ON true
)""")
    return ctes


def bpe_merges_sql(dialect: str, n_merges: int = BPE_MERGES) -> str:
    """Fully-unrolled dual-dialect template: one row per learned merge,
    (it, pa, pb, merged, pair_count), ordered by it."""
    ctes = _train_ctes(dialect, "documents", n_merges)
    rows = [f"""
SELECT {k} AS it, pa, pb, pa || pb AS merged,
       CAST(cnt AS BIGINT) AS pair_count
FROM bpe_best_{k}""" for k in range(1, n_merges + 1)]
    body = "\nUNION ALL".join(rows)
    return (f"WITH {','.join(ctes)}\n"
            f"SELECT * FROM ({body}) allrows"
            f" WHERE pa IS NOT NULL ORDER BY it")


def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training, Spark path; the loop itself lives in
    _train_merges (shared with corpus_bpe_encode). Semantics identical
    to bpe_merges_sql (the oracle); see module docstring."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = _train_merges(spark, docs)
    return spark.createDataFrame(
        out, "it int, pa string, pb string, merged string,"
             " pair_count bigint").orderBy("it")


def _train_merges(spark: SparkSession, docs: DataFrame) -> list[tuple]:
    """The distributed training loop: the corpus collapses to the
    (symbols, count) vocabulary once; each iteration counts pairs
    distributed, collects the ONE best row (bounded driver collect —
    the codebook/centroid discipline), inlines it as literals into the
    merge expression, and checkpoints the merged vocabulary. Returns
    [(it, pa, pb, merged, pair_count)]."""
    toks = (docs.select(F.explode(F.split("text", " +")).alias("tok"))
            .where((F.col("tok") != "")
                   & F.col("tok").rlike("^[a-z0-9]+$")))
    spaced = F.regexp_replace(
        F.substring("tok", 1, BPE_MAX_TOKEN_CHARS), "(.)", "$1 ")
    vocab = (toks.groupBy("tok").agg(F.count("*").alias("c"))
             .select(F.concat(F.trim(spaced), F.lit(f" {BPE_EOW}"))
                     .alias("s"), "c")
             .localCheckpoint(eager=True))
    out = []
    for k in range(1, BPE_MERGES + 1):
        arr = F.split("s", " ")
        pairs = (vocab.select(arr.alias("a"), "c")
                 .select("a", "c",
                         F.explode(F.sequence(
                             F.lit(1),
                             F.lit(2 * BPE_MAX_TOKEN_CHARS - 1)))
                         .alias("i"))
                 .where(F.col("i") < F.size("a"))
                 .groupBy(F.element_at("a", F.col("i").cast("int"))
                          .alias("pa"),
                          F.element_at("a", (F.col("i") + 1).cast("int"))
                          .alias("pb"))
                 .agg(F.sum("c").alias("cnt")))
        best = pairs.orderBy(F.col("cnt").desc(), "pa", "pb") \
            .limit(1).collect()
        if not best:
            break
        pa, pb, cnt = best[0].pa, best[0].pb, best[0].cnt
        out.append((k, pa, pb, pa + pb, int(cnt)))
        # literal (non-regex) replace with the collected pair inlined
        vocab = (vocab.selectExpr(
            f"trim(replace(' ' || s || ' ', "
            f"' ' || {_sql_str(pa)} || ' ' || {_sql_str(pb)} || ' ', "
            f"' ' || {_sql_str(pa)} || {_sql_str(pb)} || ' ')) AS s",
            "c").localCheckpoint(eager=True))
    return out


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal (symbols are ASCII [a-z0-9]
    or the </w> marker — no quoting hazards, asserted anyway)."""
    assert "'" not in s and "\\" not in s, s
    return "'" + s + "'"


# --- BPE encoding (apply the trained merges to the corpus) -------------------
#
# The other half of the tokenizer: once merges are learned, every
# pipeline applies them to measure token budgets (sequence packing,
# cost planning) — tokens-per-document under the trained BPE. Encoding
# a token = render it as the spaced symbol string and apply the merge
# rules IN TRAINING ORDER with the exact same leftmost-non-overlapping
# string replace the trainer used (one replace per rule — see the
# module docstring's str.replace note); the result's symbol count is
# the token's BPE length. Tokens outside the trainer's [a-z0-9]+
# universe are counted but not encoded; tokens are truncated at
# BPE_MAX_TOKEN_CHARS exactly as in training (the straggler guard is
# part of the tokenizer's semantics, mirrored here).
#
# Scale shape (100 TB): the encode map is DISTINCT-TOKEN keyed —
# vocabulary-bounded, not corpus-bounded — and the 6 merge replaces
# collapse into ONE Catalyst projection over it (literal merges, no
# joins); docs join the map broadcast and aggregate per doc in one
# doc-keyed shuffle. The training loop's collects stay bounded (one
# row per merge).

def bpe_encode_sql(dialect: str) -> str:
    """Per-document BPE budget: doc_id, n_tokens (all whitespace
    tokens), n_enc (tokens in the trainer's universe), n_bpe (total
    BPE symbols over encoded tokens). Trains and encodes in one
    template so the oracle can never apply foreign merges."""
    unnest = "unnest" if dialect == "duckdb" else "explode"
    split = ("regexp_split_to_array(text, ' +')" if dialect == "duckdb"
             else "split(text, ' +')")
    spaced = (r"regexp_replace(substr(tok, 1, %d), '(.)', '\1 ', 'g')"
              % BPE_MAX_TOKEN_CHARS if dialect == "duckdb" else
              r"regexp_replace(substr(tok, 1, %d), '(.)', '$1 ')"
              % BPE_MAX_TOKEN_CHARS)
    matches = ("regexp_matches(tok, '^[a-z0-9]+$')"
               if dialect == "duckdb" else "tok RLIKE '^[a-z0-9]+$'")
    nsym = ("len(string_split(s, ' '))" if dialect == "duckdb"
            else "size(split(s, ' '))")
    ctes = _train_ctes(dialect, "documents", BPE_MERGES)
    ctes.append(f"""
doc_toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, {unnest}({split}) AS tok FROM documents
  ) _e WHERE tok <> ''
),
encv_0 AS (
  SELECT tok, trim({spaced}) || ' {BPE_EOW}' AS s
  FROM (SELECT DISTINCT tok FROM doc_toks WHERE {matches}) _u
)""")
    for k in range(1, BPE_MERGES + 1):
        ctes.append(f"""
encv_{k} AS (
  SELECT e.tok,
         CASE WHEN b.pa IS NULL THEN e.s
         ELSE trim(replace(' ' || e.s || ' ',
                           ' ' || b.pa || ' ' || b.pb || ' ',
                           ' ' || b.pa || b.pb || ' '))
         END AS s
  FROM encv_{k - 1} e LEFT JOIN bpe_best_{k} b ON true
)""")
    ctes.append(f"""
enc_final AS (
  SELECT tok, {nsym} AS n_sym FROM encv_{BPE_MERGES}
)""")
    return (f"WITH {','.join(ctes)}\n"
            f"""SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(e.tok) AS BIGINT) AS n_enc,
       CAST(COALESCE(SUM(e.n_sym), 0) AS BIGINT) AS n_bpe
FROM doc_toks d LEFT JOIN enc_final e ON e.tok = d.tok
GROUP BY d.doc_id""")


def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark path: _train_merges once, then the encode map as ONE
    projection over distinct tokens (merge literals chained — Catalyst
    folds the 6 replaces into a single whole-stage-codegen expression),
    broadcast into the per-doc aggregation."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = _train_merges(spark, docs)
    doc_toks = (docs.select(
        "doc_id", F.explode(F.split("text", " +")).alias("tok"))
        .where(F.col("tok") != ""))
    spaced = F.regexp_replace(
        F.substring("tok", 1, BPE_MAX_TOKEN_CHARS), "(.)", "$1 ")
    enc = (doc_toks.where(F.col("tok").rlike("^[a-z0-9]+$"))
           .select("tok").distinct()
           .select("tok", F.concat(F.trim(spaced),
                                   F.lit(f" {BPE_EOW}")).alias("s")))
    expr = _merge_chain_expr([(pa, pb) for _, pa, pb, _, _ in merges])
    enc = enc.selectExpr("tok", f"size(split({expr}, ' ')) AS n_sym")
    return (doc_toks.join(F.broadcast(enc), "tok", "left")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_tokens"),
                 F.count("n_sym").cast("bigint").alias("n_enc"),
                 F.coalesce(F.sum("n_sym"), F.lit(0)).cast("bigint")
                 .alias("n_bpe")))


def _merge_chain_expr(pairs: list[tuple[str, str]]) -> str:
    """The N merge rules folded into ONE chained-replace SQL expression
    over the spaced symbol column ``s`` — replace/trim/|| are
    dialect-shared, so the same text serves Spark and DuckDB. Shared by
    corpus_bpe_encode (trained merges) and corpus_bpe_apply (frozen
    merges) so the two apply paths can never drift."""
    expr = "s"
    for pa, pb in pairs:
        expr = (f"trim(replace(' ' || {expr} || ' ', "
                f"' ' || {_sql_str(pa)} || ' ' || {_sql_str(pb)} || ' ', "
                f"' ' || {_sql_str(pa)} || {_sql_str(pb)} || ' '))")
    return expr


# --- frozen-merges apply (the tokenizer SERVING twin) -------------------------
#
# corpus_bpe_encode proves train->encode parity, but the query a 100 TB
# pipeline actually runs day-to-day is ENCODE-ONLY: the tokenizer was
# trained once (often on another corpus entirely), its merge table is
# frozen and shipped with the model, and every ingest batch is encoded
# under it. This twin pins a frozen merge table as literals
# (FROZEN_MERGES — the TRAINED_EVAL_COUNTS discipline: the artifact of
# an offline training run, applied verbatim in both dialects) and runs
# ZERO training jobs: no corpus-wide pair counting, no driver loop, no
# collects — the merge rules fold into one Catalyst projection over the
# DISTINCT-token encode map (vocabulary-bounded), broadcast into one
# doc-keyed aggregation. That plan survives 100x unchanged.

#: Frozen merge rules, in application order (pa, pb). A realistic
#: English-ish table including a genuine CHAIN (t+h -> th+e -> the+</w>)
#: so the apply path's order-sensitivity is exercised: rule 3 (e,</w>)
#: must NOT fire inside 'the </w>' (the pair there is (the, </w>),
#: merged only by rule 7).
FROZEN_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("e", BPE_EOW), ("a", "t"),
    ("s", BPE_EOW), ("r", "e"), ("the", BPE_EOW), ("a", "n"),
)


def bpe_apply_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Frozen-merges encode template: per-document token budget under
    the pinned tokenizer. Output: doc_id, n_tokens, n_enc, n_bpe —
    the corpus_bpe_encode contract, with the merge table a literal
    instead of a trained relation (no bpe_* training CTEs at all)."""
    unnest = "unnest" if dialect == "duckdb" else "explode"
    split = ("regexp_split_to_array(text, ' +')" if dialect == "duckdb"
             else "split(text, ' +')")
    spaced = (r"regexp_replace(substr(tok, 1, %d), '(.)', '\1 ', 'g')"
              % BPE_MAX_TOKEN_CHARS if dialect == "duckdb" else
              r"regexp_replace(substr(tok, 1, %d), '(.)', '$1 ')"
              % BPE_MAX_TOKEN_CHARS)
    matches = ("regexp_matches(tok, '^[a-z0-9]+$')"
               if dialect == "duckdb" else "tok RLIKE '^[a-z0-9]+$'")
    nsym = ("len(string_split(s2, ' '))" if dialect == "duckdb"
            else "size(split(s2, ' '))")
    chain = _merge_chain_expr(list(FROZEN_MERGES))
    return f"""
WITH doc_toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, {unnest}({split}) AS tok FROM {docs_rel}
  ) _e WHERE tok <> ''
),
encv AS (
  SELECT tok, trim({spaced}) || ' {BPE_EOW}' AS s
  FROM (SELECT DISTINCT tok FROM doc_toks WHERE {matches}) _u
),
enc_final AS (
  SELECT tok, {nsym} AS n_sym
  FROM (SELECT tok, {chain} AS s2 FROM encv) _a
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(e.tok) AS BIGINT) AS n_enc,
       CAST(COALESCE(SUM(e.n_sym), 0) AS BIGINT) AS n_bpe
FROM doc_toks d LEFT JOIN enc_final e ON e.tok = d.tok
GROUP BY d.doc_id"""


def corpus_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark path: encode-only under FROZEN_MERGES — the distinct-token
    encode map with the merge chain folded into one whole-stage-codegen
    projection, broadcast into the per-doc aggregation. No training
    stage, no collects anywhere in the plan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_toks = (docs.select(
        "doc_id", F.explode(F.split("text", " +")).alias("tok"))
        .where(F.col("tok") != ""))
    spaced = F.regexp_replace(
        F.substring("tok", 1, BPE_MAX_TOKEN_CHARS), "(.)", "$1 ")
    enc = (doc_toks.where(F.col("tok").rlike("^[a-z0-9]+$"))
           .select("tok").distinct()
           .select("tok", F.concat(F.trim(spaced),
                                   F.lit(f" {BPE_EOW}")).alias("s")))
    expr = _merge_chain_expr(list(FROZEN_MERGES))
    enc = enc.selectExpr("tok", f"size(split({expr}, ' ')) AS n_sym")
    return (doc_toks.join(F.broadcast(enc), "tok", "left")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_tokens"),
                 F.count("n_sym").cast("bigint").alias("n_enc"),
                 F.coalesce(F.sum("n_sym"), F.lit(0)).cast("bigint")
                 .alias("n_bpe")))


# --- tokenizer fertility per language (round 12; deferred) -------------------

def tokenizer_fertility_sql(dialect: str,
                            docs_rel: str = "documents") -> str:
    """Per-language tokenizer-evaluation stats under the FROZEN
    tokenizer — the standard fertility audit (tokens per word, chars
    per token) multilingual pipelines run before committing to a
    tokenizer (Rust et al. 2021 "How Good is Your Tokenizer?"):
    languages whose fertility is high are under-served by the merge
    table. Composes the two existing dual-dialect templates — the
    marker-vote language id (textstats.lang_id_sql) and the
    frozen-merges token budget (bpe_apply_sql) — as nested CTEs, so
    the semantics cannot drift from the registered queries they mirror.

    Output per pred_lang: n_docs, n_chars, n_ws_tokens, n_bpe_tokens
    (all BIGINT), bpe_per_ws_token and chars_per_bpe_token (tie-exact
    guarded ratios; NULL when the denominator bucket is empty — e.g. a
    language whose docs carry no lowercase-alnum tokens).

    Scale shape: both inputs are one explode + one doc/tok-keyed
    aggregate (their registered plans); the join and the language
    rollup run on doc-count-scale relations. Zero UDFs.

    NOTE: implemented and tested in round 12; queries()/oracle_sql()
    registration is deferred (round-13 window already holds 3 deferred
    + 45 cohort; this is round-14 inventory unless a slot frees)."""
    from ..oracles import ratio_round_halfup_guarded
    from .textstats import lang_id_sql
    bpw = ratio_round_halfup_guarded(
        dialect, "SUM(b.n_bpe)", "SUM(b.n_tokens)")
    cpb = ratio_round_halfup_guarded(
        dialect, "SUM(c.n_chars)", "SUM(b.n_bpe)")
    return f"""
WITH lang AS ({lang_id_sql(dialect, docs_rel)}),
budg AS ({bpe_apply_sql(dialect, docs_rel)}),
chars AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
  FROM {docs_rel} WHERE text IS NOT NULL
)
SELECT l.pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(c.n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(b.n_tokens) AS BIGINT) AS n_ws_tokens,
       CAST(SUM(b.n_bpe) AS BIGINT) AS n_bpe_tokens,
       CASE WHEN SUM(b.n_tokens) > 0 THEN {bpw} END
         AS bpe_per_ws_token,
       CASE WHEN SUM(b.n_bpe) > 0 THEN {cpb} END
         AS chars_per_bpe_token
FROM budg b
JOIN lang l ON l.doc_id = b.doc_id
JOIN chars c ON c.doc_id = b.doc_id
GROUP BY l.pred_lang
"""


def corpus_tokenizer_fertility(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_fert_documents")
    return spark.sql(tokenizer_fertility_sql("spark",
                                             "cpss_fert_documents"))


def tokenizer_fertility_oracle_sql() -> str:
    return tokenizer_fertility_sql("duckdb")
