"""Hashed-ngram quality classifier: pinned-fit discipline, separability,
cross-engine exactness on edge corpora, and a from-scratch hand check."""

from __future__ import annotations

import duckdb

from catalog_pii_scanner_spark.operators import quality as Q


def test_pinned_weights_are_the_documented_fit():
    """The TRAINED_EVAL_COUNTS discipline: the pinned micro-unit weights
    must be byte-identical to a fresh run of the documented fit (seeded
    corpus, deterministic full-batch GD) — drift fails loudly."""
    w, wl, b = Q.fit_quality_classifier()
    assert w == Q.QC_W_MICRO
    assert wl == Q.QC_W_LEN_MICRO
    assert b == Q.QC_B_MICRO


def _py_decision(text: str) -> bool:
    """The serving decision recomputed from scratch in exact integer
    arithmetic (no numpy float path): the S formula of the SQL."""
    import re
    n_tokens = len(re.split(" +", text))
    grams = [text[i:i + 3] for i in range(max(len(text) - 2, 0))]
    t1 = max(len(grams), 1)
    dw = sum(Q.QC_W_MICRO[Q._bucket(g)] for g in grams)
    s = (Q.QC_B_MICRO * 100 * t1
         + Q.QC_W_LEN_MICRO * min(n_tokens, 100) * t1
         + 100 * dw)
    return s >= 0


def test_classifier_separates_synthetic_split():
    """Pinned classifier vs the heuristic label on the training corpus:
    the separability gate (measured 0.927)."""
    docs = Q.synthetic_quality_docs()
    acc = sum(_py_decision(t) == Q.quality_label(t)
              for t in docs) / len(docs)
    assert acc >= 0.9


def test_classifier_agrees_with_heuristic_on_documents(spark, sf_dir):
    """Transfer to the REAL documents table (measured 0.926 at sf0.001):
    the engine-side keep verdict must agree with the engine-side label
    column well above chance, and every keep must equal the from-scratch
    integer decision on the raw text."""
    rows = Q.corpus_quality_classifier(spark, sf_dir).collect()
    assert rows
    agree = sum(r.keep == r.label for r in rows) / len(rows)
    assert agree >= 0.85
    texts = {r.doc_id: r.text for r in spark.read.parquet(
        f"{sf_dir}/documents.parquet").select("doc_id", "text").collect()}
    for r in rows:
        assert r.keep == _py_decision(texts[r.doc_id]), r.doc_id


def test_quality_sql_exact_on_edge_corpus(spark):
    """Empty text, sub-3-gram text, multi-space runs, digits and
    punctuation: both dialects must produce identical rows (the empty
    and short docs exercise the GREATEST(total, 1) and length>=3
    guards)."""
    docs = [(0, ""), (1, "ab"), (2, "a b"), (3, "the the the the"),
            (4, "x1 22!  ??  the"), (5, "table " * 40 + "the")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    sdf.createOrReplaceTempView("qc_edge_docs")
    got = sorted(
        (r.doc_id, r.n_tokens, r.ngram_total, round(r.score, 6),
         r.keep, r.label)
        for r in spark.sql(
            Q.quality_classifier_sql("spark", "qc_edge_docs")).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    want = sorted(
        (x[0], x[1], x[2], round(x[3], 6), x[4], x[5])
        for x in con.execute(
            Q.quality_classifier_sql("duckdb", "documents")).fetchall())
    assert got == want
    assert len(got) == len(docs)
