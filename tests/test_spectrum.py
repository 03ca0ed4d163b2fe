"""Embedding-spectrum statistics (operators/pca.py): the exact Gram
pipeline must reproduce numpy's covariance diagnostics, and the
effective rank must detect planted collapse."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from catalog_pii_scanner_spark.operators.pca import (
    pca_gram_sql, spectrum_stats_oracle_sql, spectrum_stats_sql)
from catalog_pii_scanner_spark.operators.simsearch import DIMS


def _duck_with(vectors):
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, [{', '.join(f'{x}::FLOAT' for x in v)}])"
        for i, v in enumerate(vectors))
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM (VALUES {vals})"
            f" _v(vec_id, embedding)")
    return con


def _np_stats(vectors):
    X = np.asarray(vectors, dtype=np.float64)
    Q = np.floor(X * 1e6 + 0.5)
    C = np.cov(Q.T, bias=True)
    return C


def test_matches_numpy_covariance():
    rng = np.random.RandomState(3)
    vecs = rng.randn(40, DIMS) * 0.2
    con = _duck_with([list(map(float, v)) for v in vecs])
    rows = con.sql(spectrum_stats_oracle_sql()).fetchall()
    assert len(rows) == DIMS
    C = _np_stats(vecs)
    byc = {r[0]: r for r in rows}
    for p in range(DIMS):
        assert byc[p + 1][1] == pytest.approx(C[p, p] / 1e12, abs=2e-6)
    assert rows[0][4] == pytest.approx(
        (np.trace(C) ** 2) / (C * C).sum(), abs=2e-6)
    assert rows[0][5] == 40


def test_effective_rank_detects_collapse():
    rng = np.random.RandomState(5)
    u = rng.randn(DIMS)
    # every vector on ONE line -> rank-1 covariance -> eff_rank ~ 1
    vecs = [list(map(float, (0.3 + 0.01 * i) * u)) for i in range(30)]
    con = _duck_with(vecs)
    rows = con.sql(spectrum_stats_oracle_sql()).fetchall()
    assert rows[0][4] == pytest.approx(1.0, abs=1e-3)
    # isotropic cloud -> eff_rank near D
    vecs = [list(map(float, r)) for r in rng.randn(400, DIMS)]
    con = _duck_with(vecs)
    rows = con.sql(spectrum_stats_oracle_sql()).fetchall()
    assert rows[0][4] > 0.7 * DIMS


def test_dim_shares_sum_to_one():
    rng = np.random.RandomState(7)
    vecs = [list(map(float, r)) for r in rng.randn(25, DIMS) * 0.1]
    con = _duck_with(vecs)
    rows = con.sql(spectrum_stats_oracle_sql()).fetchall()
    assert sum(r[2] for r in rows) == pytest.approx(1.0, abs=1e-4)


def test_spark_matches_oracle_inline(spark):
    rng = np.random.RandomState(11)
    vecs = [(i, [float(x) for x in rng.randn(DIMS) * 0.15])
            for i in range(30)]
    sdf = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    sdf.createOrReplaceTempView("cpss_spec_inline")
    gram = spark.sql(pca_gram_sql("spark", "cpss_spec_inline")) \
        .localCheckpoint(eager=True)
    gram.createOrReplaceTempView("cpss_spec_inline_gram")
    got = {r[0]: r for r in
           spark.sql(spectrum_stats_sql("cpss_spec_inline_gram"))
           .collect()}
    con = _duck_with([v for _, v in vecs])
    want = {r[0]: r for r in
            con.sql(spectrum_stats_oracle_sql()).fetchall()}
    assert set(got) == set(want)
    for p, w in want.items():
        g = got[p]
        # integer-exact columns must be equal; the Frobenius-derived
        # eff_rank may differ by one 1e-6 grid step when the float
        # reduction lands on a rounding boundary (module docstring)
        assert (g[1], g[2], g[3], g[5]) == (w[1], w[2], w[3], w[5])
        assert g[4] == pytest.approx(w[4], abs=1.1e-6)


def test_partial_gram_matches_template_gram(spark):
    """The r13 integer-matmul partial-Gram path (_gram_partials +
    _gram_merged_sql) must reproduce the template's exact gram relation
    cell-for-cell — including the DECIMAL gc integers — on a ragged,
    zero-vector, duplicate-heavy corpus."""
    from catalog_pii_scanner_spark.operators.pca import (_gram_merged_sql,
                                                         _gram_partials)
    rng = np.random.RandomState(13)
    vecs = [(i, [float(x) for x in rng.randn(DIMS) * 0.4])
            for i in range(25)]
    vecs.append((25, [0.0] * DIMS))          # zero-norm vector
    vecs.append((26, vecs[0][1]))            # exact duplicate
    sdf = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    sdf.createOrReplaceTempView("cpss_spec_pg")
    want = {(r.i, r.j): (str(r.gc), r.gval, r.n) for r in
            spark.sql(pca_gram_sql("spark", "cpss_spec_pg")).collect()}
    _gram_partials(sdf).createOrReplaceTempView("cpss_spec_pg_parts")
    got = {(r.i, r.j): (str(r.gc), r.gval, r.n) for r in
           spark.sql(_gram_merged_sql("cpss_spec_pg_parts",
                                      "cpss_spec_pg")).collect()}
    assert got == want
    assert len(got) == DIMS * DIMS


def test_zero_corpus_is_empty():
    con = duckdb.connect()
    con.sql("CREATE VIEW embeddings AS SELECT CAST(1 AS BIGINT) AS "
            "vec_id, [0.1::FLOAT] AS embedding WHERE false")
    assert con.sql(spectrum_stats_oracle_sql()).fetchall() == []


# --- kNN label eval (simsearch.py, r9) -------------------------------------------

def test_knn_eval_planted_clusters(spark):
    """Two tight label clusters + one planted mislabeled vector: every
    well-labeled query predicts its own label; the mislabel is wrong."""
    from catalog_pii_scanner_spark.operators.simsearch import (
        embed_knn_eval)
    import tempfile
    rng = np.random.RandomState(13)
    a = rng.randn(DIMS); b = rng.randn(DIMS)
    rows = []
    for i in range(12):          # label-0 cluster around a
        rows.append((10 * i, [float(x) for x in
                              (a + 0.01 * rng.randn(DIMS))], 0))
    for i in range(12):          # label-1 cluster around b
        rows.append((10 * i + 1, [float(x) for x in
                                  (b + 0.01 * rng.randn(DIMS))], 1))
    # planted: sits in cluster a but labeled 1; vec_id 200 % 10 == 0
    rows.append((200, [float(x) for x in (a + 0.01 * rng.randn(DIMS))],
                 1))
    d = tempfile.mkdtemp(prefix="cpss_knn_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long") \
        .write.parquet(f"{d}/embeddings.parquet")
    out = {r.query_id: r for r in embed_knn_eval(spark, d).collect()}
    # queries = vec_id % 10 == 0: the 12 label-0 vectors + the plant
    assert len(out) == 13
    plant = out.pop(200)
    assert plant.true_label == 1 and plant.pred_label == 0
    assert not plant.correct
    for r in out.values():
        assert r.correct and r.pred_label == 0
