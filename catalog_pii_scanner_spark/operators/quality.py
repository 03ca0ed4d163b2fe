"""Hashed-ngram quality classifier (fastText-style linear scorer).

The standard pretraining-corpus quality filter the textstats heuristics
feed (reference scope: the scanner's curation surface; this operator is
beyond-reference, part of the LLM-data-pipeline family): a logistic
model over hashed character-3-gram frequencies + a capped length
feature, trained offline on a seeded synthetic corpus labeled by the
EXACT textstats quality heuristic (``doc_quality``'s quality_score >=
QC_THRESH), with the fitted weights pinned as integer micro-unit
literals — the TRAINED_EVAL_COUNTS discipline (operators/evaluate.py):
``tests/test_quality.py::test_pinned_weights_are_the_documented_fit``
re-runs the deterministic fit and asserts the pinned values, so the
constants can never silently drift from the documented training run.

Serving is pure JVM SQL in BOTH dialects (no UDF): one explode to
character positions, md5-bucket hashing via hex-digit arithmetic
(identical in Spark and DuckDB), one (doc_id, bucket) partial-agg
shuffle, a broadcast join against the 128-row inlined weight map, and
an EXACT integer decision value

    S = b_micro * 100 * T  +  w_len_micro * least(n_tokens, 100) * T
        + 100 * SUM(cnt_b * w_b_micro)            [T = greatest(#grams, 1)]

which equals sign(score) of  b + w_len*min(nt,100)/100 + sum w_b*cnt_b/T
scaled by the positive constant 100*T*1e6 — so ``keep`` is integer-exact
cross-engine; only the display ``score`` divides (exact BIGINT into
DOUBLE, identical IEEE ops both engines; |S| stays < 2^53 for docs up to
~10^5 grams — far beyond the corpus and flagged in the scale note).

Scale shape (100 TB): ngram rows = corpus chars, map-side combined into
<= 128 rows per doc before the one doc-keyed shuffle; the weight map is
a 128-row broadcast; zero Python in the hot path; no driver collect at
serve time (training is offline, the artifact is this module's
constants).
"""

from __future__ import annotations

import hashlib
import random
import re

from pyspark.sql import DataFrame, SparkSession

from .textstats import STOPWORDS, _ratio_sql

#: Classifier hyper-parameters — all baked into the pinned fit below.
QC_NB = 128                   #: hashed-ngram buckets
QC_THRESH = 0.70              #: quality_score label threshold
QC_TRAIN_N = 3000             #: synthetic training docs
QC_TRAIN_SEED = 7
QC_LR = 8.0
QC_ITERS = 20000
QC_L2 = 1e-6

#: The documents vocabulary (driver testdata generator's word list);
#: 'the'/'a' are the only STOPWORDS members in it.
QC_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
QC_STOP_TOKENS = ("the", "a")


def synthetic_quality_docs() -> list[str]:
    """Seeded word-salad corpus mimicking the documents table's
    generating process (10-99 tokens, stopword share mostly < 0.15 with
    a 10% heavy tail — matched to the real table's stop-ratio
    quantiles)."""
    rng = random.Random(QC_TRAIN_SEED)
    content = [w for w in QC_VOCAB if w not in QC_STOP_TOKENS]
    docs = []
    for _ in range(QC_TRAIN_N):
        length = rng.randint(10, 99)
        p = (rng.uniform(0.0, 0.15) if rng.random() < 0.9
             else rng.uniform(0.15, 0.25))
        docs.append(" ".join(
            rng.choice(QC_STOP_TOKENS) if rng.random() < p
            else rng.choice(content) for _ in range(length)))
    return docs


def _bucket(gram: str) -> int:
    """First 4 hex digits of md5 -> bucket; the SQL renders the same
    arithmetic from substr(md5(g), 1..4)."""
    return int(hashlib.md5(gram.encode()).hexdigest()[:4], 16) % QC_NB


def doc_features(text: str):
    """(normalized bucket counts, length feature) — the exact serving
    features: char 3-grams over the raw text, T = max(#grams, 1),
    length = min(n_tokens, 100)/100 with n_tokens = split(' +')."""
    import numpy as np
    n_tokens = len(re.split(" +", text))
    grams = [text[i:i + 3] for i in range(max(len(text) - 2, 0))]
    cnt = np.zeros(QC_NB)
    for g in grams:
        cnt[_bucket(g)] += 1
    t = max(len(grams), 1)
    return (np.concatenate([cnt / t, [min(n_tokens, 100) / 100.0]]),
            n_tokens, len(grams))


def quality_label(text: str) -> bool:
    """The textstats doc_quality formula verbatim (digit/punct ratios,
    full STOPWORDS list, round 1e-6) — the training label AND the
    ``label`` column the serving SQL re-derives engine-side."""
    toks = re.split(" +", text)
    nt = len(toks)
    ns = sum(1 for t in toks if t in STOPWORDS)
    ln = len(text)
    dig = sum(c.isdigit() for c in text) / ln if ln else 0.0
    pun = (sum(1 for c in text if not (c.isalnum() or c == " ")) / ln
           if ln else 0.0)
    q = (0.25 * min(nt / 100.0, 1.0) + 0.25 * (1 - dig)
         + 0.25 * (1 - pun) + 0.25 * min(4.0 * ns / nt, 1.0))
    return round(q, 6) >= QC_THRESH


def fit_quality_classifier():
    """Deterministic full-batch logistic GD -> (w_micro tuple[QC_NB],
    w_len_micro, b_micro) integer micro-unit weights. Pure numpy, no
    Spark — training is an offline job whose artifact is the pinned
    constants below."""
    import numpy as np
    docs = synthetic_quality_docs()
    X = np.array([doc_features(t)[0] for t in docs])
    y = np.array([1.0 if quality_label(t) else 0.0 for t in docs])
    w = np.zeros(X.shape[1])
    b = 0.0
    for _ in range(QC_ITERS):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        g = p - y
        w -= QC_LR * (X.T @ g / len(y) + QC_L2 * w)
        b -= QC_LR * g.mean()
    wm = np.round(w * 1e6).astype(np.int64)
    return (tuple(int(v) for v in wm[:QC_NB]), int(wm[QC_NB]),
            int(round(b * 1e6)))


#: Pinned fit of fit_quality_classifier() with the defaults above —
#: asserted byte-identical by tests/test_quality.py. Regenerate with
#: ``python -c "from catalog_pii_scanner_spark.operators.quality import
#: fit_quality_classifier; print(fit_quality_classifier())"``.
QC_W_MICRO: tuple[int, ...] = (
    3031994, 1825282, -1429067, -549690, 845562, -3980695, 0, -1394263,
    6315870, -4753293, -22184709, -14064501, 0, 6801217, -509737,
    8181593, -6779980, -12656885, 7368333, 0, -6826419, -980774, 430215,
    75608501, -4364929, -9837739, -6350238, -8306611, 1720971, -5094802,
    -4488397, -9294563, -12557470, 0, -700224, 5040675, -2541010,
    -3824635, -13586348, 5171163, 2083042, -6145, -6669675, 0, -2060414,
    329890, 1857587, -2991447, -2022333, 377766, 0, 1732162, -8475067,
    -6099983, -8812159, 489280, -7220950, -2445385, -9783357, 4680209,
    -4593583, 11735714, -1569110, -20335507, -2897318, -269488, 1661194,
    -3850233, 61113784, -6862328, -2825586, -698228, -5752009, 10779933,
    67382875, 8241330, -973049, -1296588, -2986379, -4855336, -19553315,
    -8536568, -1847578, 13247888, -1157136, -2875988, -3956992, -4717532,
    -3678922, -1937367, -8483665, -9242448, 10079362, -5112138, -1683013,
    -8128826, -7307391, -13031149, -3542197, 7353972, -1628300, 12650730,
    5982339, 1371340, -2068191, 75361149, 0, -7477712, -16045478,
    -1324278, -6696984, -8503220, 0, -6460861, 4315082, 39345, 2781675,
    -1324278, -8792461, 3549494, -4027619, 7491893, 0, 359526, 0,
    -1228037, 24978, 363813,
)
QC_W_LEN_MICRO: int = 10634433
QC_B_MICRO: int = -4573836


def quality_classifier_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Serving SQL, rendered per dialect from one template.

    Output: doc_id, n_tokens, ngram_total, score (DOUBLE, rounded 1e-6),
    keep (classifier verdict, integer-exact), label (the heuristic
    verdict the classifier approximates — re-derived engine-side so the
    driver gate pins the agreement surface too)."""
    hexpos = "instr('0123456789abcdef', substr(md5(g), {i}, 1)) - 1"
    bucket = (f"(({hexpos.format(i=1)}) * 4096 + ({hexpos.format(i=2)})"
              f" * 256 + ({hexpos.format(i=3)}) * 16 +"
              f" ({hexpos.format(i=4)})) % {QC_NB}")
    vals = ", ".join(f"({i}, {w})" for i, w in enumerate(QC_W_MICRO))
    if dialect == "duckdb":
        gi = (f"SELECT doc_id, text, unnest(range(1, length(text) - 1))"
              f" AS i FROM {docs_rel} WHERE length(text) >= 3")
        tok_rows = (f"SELECT doc_id, unnest(regexp_split_to_array(text,"
                    f" ' +')) AS tok FROM {docs_rel}")
        wmap = f"SELECT * FROM (VALUES {vals}) w(b, wm)"
    else:
        gi = (f"SELECT doc_id, text, explode(sequence(1, length(text)"
              f" - 2)) AS i FROM {docs_rel} WHERE length(text) >= 3")
        tok_rows = (f"SELECT doc_id, explode(split(text, ' +')) AS tok"
                    f" FROM {docs_rel}")
        wmap = f"SELECT * FROM VALUES {vals} AS w(b, wm)"
    digit = _ratio_sql("[0-9]", dialect)
    punct = _ratio_sql("[^a-zA-Z0-9 ]", dialect)
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH grams AS (
  SELECT doc_id, substr(text, i, 3) AS g FROM ({gi}) _gi
),
cnts AS (
  SELECT doc_id, {bucket} AS b, COUNT(*) AS c
  FROM grams GROUP BY doc_id, {bucket}
),
tot AS (SELECT doc_id, SUM(c) AS tg FROM cnts GROUP BY doc_id),
wmap AS ({wmap}),
dotp AS (
  SELECT c.doc_id, SUM(c.c * w.wm) AS dw
  FROM cnts c JOIN wmap w ON w.b = c.b GROUP BY c.doc_id
),
toks AS ({tok_rows}),
tok_stats AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN tok IN ({stop_list}) THEN 1 ELSE 0 END) AS n_stop
  FROM toks GROUP BY doc_id
),
base AS (
  SELECT doc_id, {digit} AS digit_ratio, {punct} AS punct_ratio
  FROM {docs_rel}
),
scored AS (
  SELECT b.doc_id,
         CAST(ts.n_tokens AS BIGINT) AS n_tokens,
         CAST(COALESCE(t.tg, 0) AS BIGINT) AS ngram_total,
         CAST({QC_B_MICRO} AS BIGINT) * 100
             * GREATEST(CAST(COALESCE(t.tg, 0) AS BIGINT), 1)
           + CAST({QC_W_LEN_MICRO} AS BIGINT)
             * LEAST(CAST(ts.n_tokens AS BIGINT), 100)
             * GREATEST(CAST(COALESCE(t.tg, 0) AS BIGINT), 1)
           + 100 * CAST(COALESCE(dp.dw, 0) AS BIGINT) AS s_micro,
         GREATEST(CAST(COALESCE(t.tg, 0) AS BIGINT), 1) AS t1,
         b.digit_ratio, b.punct_ratio, ts.n_stop
  FROM base b
  JOIN tok_stats ts ON ts.doc_id = b.doc_id
  LEFT JOIN tot t ON t.doc_id = b.doc_id
  LEFT JOIN dotp dp ON dp.doc_id = b.doc_id
)
SELECT doc_id, n_tokens, ngram_total,
       round(CAST(s_micro AS DOUBLE)
             / (CAST(t1 AS DOUBLE) * 100000000.0), 6) AS score,
       s_micro >= 0 AS keep,
       round(0.25 * LEAST(n_tokens / 100.0, 1.0)
             + 0.25 * (1.0 - digit_ratio)
             + 0.25 * (1.0 - punct_ratio)
             + 0.25 * LEAST(4.0 * n_stop / CAST(n_tokens AS DOUBLE),
                            1.0), 6) >= {QC_THRESH} AS label
FROM scored
"""


def corpus_quality_classifier(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Driver-gate query: the pinned classifier over the documents
    table. Pure JVM plan (explode + 2 doc-keyed aggs + broadcast
    weight-map join), no UDF, no collect."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_docs_qc")
    return spark.sql(quality_classifier_sql("spark", "cpss_docs_qc"))
