"""Round-11 operators: incremental --since scan, frozen-merges BPE
apply, text normalization, metadata-filtered ANN.

Template parity (Spark result == DuckDB oracle, the driver's exact
compare) is covered by tools/selfcheck.py and the dedicated parity
assertions here; the rest are SEMANTIC gates — properties a
hash-compare alone would not explain if they broke.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from catalog_pii_scanner_spark.operators import bpe, corpus
from catalog_pii_scanner_spark.operators import simsearch as S
from catalog_pii_scanner_spark.operators.incremental import (
    NEW_ROW_GATE, distinct_basis, incremental_findings,
    incremental_findings_oracle_sql)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES + ("embeddings",):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{sf_dir}/{t}.parquet')")
    return con


def _melted(spark, sf_dir):
    from functools import reduce

    from pyspark.sql import DataFrame

    from catalog_pii_scanner_spark.sources.melt import melt_table
    return reduce(DataFrame.unionByName,
                  [melt_table(spark, sf_dir, t) for t in TABLES])


# --- pii_incremental_scan -----------------------------------------------------

def test_incremental_scan_matches_oracle(spark, sf_dir):
    got = (incremental_findings(distinct_basis(_melted(spark, sf_dir)))
           .toPandas().sort_values(["column_ref", "pii_type"])
           .reset_index(drop=True))
    con = _duck(sf_dir)
    want = (con.sql(incremental_findings_oracle_sql(TABLES))
            .df().sort_values(["column_ref", "pii_type"])
            .reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert set(got.scan_action) <= {"new", "rescanned", "carried"}


def test_incremental_actions_follow_fingerprints(spark):
    """The classifier is driven by the fingerprint diff, not the gate:
    a column whose rows all predate the watermark is carried; a column
    with any post-watermark row is rescanned; findings content equals
    the plain full-scan on the same snapshot rows."""
    from catalog_pii_scanner_spark.operators.findings import (
        findings_rollup)

    rows = []
    # column A: the synthetic gate marks no rows (column md5 gate off
    # is data-dependent, so instead build values and CHECK the gate)
    for i in range(40):
        rows.append(("spark://t/a", f"alice{i}@example.com"))
        rows.append(("spark://t/b", f"bob{i}@example.org"))
    vals = spark.createDataFrame(rows, "column_ref string, value string")
    flagged = vals.withColumn("is_new", F.expr(NEW_ROW_GATE))
    per_col = dict(flagged.groupBy("column_ref")
                   .agg(F.max(F.col("is_new").cast("int")).alias("any"))
                   .collect())
    out = incremental_findings(distinct_basis(vals)).toPandas()
    acts = dict(out[["column_ref", "scan_action"]]
                .drop_duplicates().itertuples(index=False))
    for col, any_new in per_col.items():
        want = "rescanned" if any_new else "carried"
        assert acts.get(col, want) == want, (col, any_new, acts)
    # fresh rows equal the full scan of current data on those columns;
    # carried rows equal the full scan of the prior snapshot
    full_cur = findings_rollup(vals).toPandas()
    for _, r in out.iterrows():
        if r.scan_action == "carried":
            continue
        m = full_cur[(full_cur.column_ref == r.column_ref)
                     & (full_cur.pii_type == r.pii_type)]
        assert len(m) == 1
        assert int(m.n_candidates.iloc[0]) == int(r.n_candidates)


def test_incremental_fingerprint_is_order_free(spark):
    """bit_xor + count fingerprints must not depend on row order —
    reversing the input changes no action."""
    rows = [("spark://t/c", f"v{i}") for i in range(64)]
    a = incremental_findings(distinct_basis(
        spark.createDataFrame(rows, "column_ref string, value string")))
    b = incremental_findings(distinct_basis(
        spark.createDataFrame(rows[::-1],
                              "column_ref string, value string")))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple,
                                                         b.collect()))


# --- corpus_bpe_apply ---------------------------------------------------------

def _py_bpe_apply(tok: str) -> int:
    """Independent reference: frozen merges via Python str.replace —
    the exact leftmost-non-overlapping semantics the SQL uses."""
    s = " ".join(tok[:bpe.BPE_MAX_TOKEN_CHARS]) + f" {bpe.BPE_EOW}"
    for pa, pb in bpe.FROZEN_MERGES:
        s = (" " + s + " ").replace(f" {pa} {pb} ", f" {pa}{pb} ").strip()
    return len(s.split(" "))


def test_bpe_apply_matches_python_reference(spark):
    toks = ["the", "then", "breathe", "stream", "batch", "at", "an",
            "sorts", "data", "x" * 30, "res"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, text string")
    docs.createOrReplaceTempView("r11_docs")
    got = {r.doc_id: (r.n_tokens, r.n_enc, r.n_bpe)
           for r in spark.sql(
               bpe.bpe_apply_sql("spark", "r11_docs")).collect()}
    for i, t in enumerate(toks):
        assert got[i] == (1, 1, _py_bpe_apply(t)), (t, got[i])


def test_bpe_apply_chain_order_matters():
    """'the' must merge via t+h -> th+e -> the+</w> (rule 7), NOT via
    rule 3 (e,</w>): the chained table compresses it to ONE symbol."""
    assert _py_bpe_apply("the") == 1
    # 'she' has no th: s h e</w> -> rule 3 merges e+</w>, rule 5 can
    # not fire (s is not followed by </w>), leaving 3 symbols
    assert _py_bpe_apply("she") == 3


def test_bpe_apply_dialect_parity(spark, sf_dir):
    con = _duck(sf_dir)
    want = con.sql(bpe.bpe_apply_sql("duckdb")).df() \
        .sort_values("doc_id").reset_index(drop=True)
    got = bpe.corpus_bpe_apply(spark, sf_dir).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # encoding did real work: merges compress vs the raw char split
    assert (want.n_bpe > 0).all() and (want.n_enc == want.n_tokens).all()


# --- corpus_normalize_text ----------------------------------------------------

def test_normalize_text_is_idempotent_and_consistent(spark, sf_dir):
    out = corpus.corpus_normalize_text(spark, sf_dir).toPandas()
    # messing injected real work
    assert (out.n_tabs + out.n_crs + out.n_bells).sum() > 0
    # length bookkeeping: tabs/CRs swap 1:1; only bells, collapsed
    # spaces, and trimmed pads change the length
    assert ((out.n_raw - out.n_norm)
            == (out.n_bells + out.n_ws_collapsed + out.n_trimmed)).all()
    # idempotence: normalizing an already-clean text is identity
    clean = spark.createDataFrame([(1, "a b c"), (2, "xy z")],
                                  "doc_id long, text string")
    clean.createOrReplaceTempView("r11_clean")
    rows = spark.sql(
        corpus.normalize_text_sql("spark", "r11_clean")).collect()
    for r in rows:
        # the mess constructor adds pads (trimmed back out) but the
        # clean tokens carry no ' the ' / ' data ' triggers: nothing
        # but the injected mess is touched
        assert r.n_ws_collapsed >= 1 and r.n_crs == 0 and r.n_tabs == 0


def test_normalize_text_dialect_parity(spark, sf_dir):
    con = _duck(sf_dir)
    want = con.sql(corpus.normalize_text_oracle_sql()).df() \
        .sort_values("doc_id").reset_index(drop=True)
    got = corpus.corpus_normalize_text(spark, sf_dir).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# --- ann_filtered_topk --------------------------------------------------------

def test_filtered_ann_neighbors_satisfy_predicate(spark, sf_dir):
    import numpy as np

    out = S.ann_filtered_topk(spark, sf_dir).toPandas()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    lab = dict(zip(emb.vec_id, emb.label))
    assert len(out) > 0
    assert all(lab[n] in S.FILTERED_LABELS for n in out.neighbor_id)
    # brute-force reference: for one query, the top-k among allowed
    q = int(out.query_id.iloc[0])
    V = {int(r.vec_id): np.asarray(list(r.embedding), dtype=np.float64)
         for r in emb.itertuples()}
    qv = V[q]
    scores = []
    for vid, vec in V.items():
        if vid == q or lab[vid] not in S.FILTERED_LABELS:
            continue
        n1, n2 = np.linalg.norm(qv), np.linalg.norm(vec)
        if n1 == 0 or n2 == 0:
            continue
        scores.append((round(float(qv @ vec / (n1 * n2)), 6), -vid))
    want = [-v for _, v in sorted(scores, reverse=True)[:5]]
    got = list(out[out.query_id == q].sort_values("rank").neighbor_id)
    assert got == want


def test_filtered_ann_serving_equals_declarative(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("r11_emb")
    decl = spark.sql(S.ann_filtered_topk_sql("spark", "r11_emb")) \
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    serve = S.ann_filtered_topk(spark, sf_dir).toPandas() \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(serve, decl, check_dtype=False)


def test_incremental_spark_hash_equals_duckdb_digit_form(spark, sf_dir):
    """_SPARK_H48 (one conv() expression, the Spark fast path) must
    equal the DuckDB digit-arithmetic form value-for-value — the
    fingerprint contract is 'first 12 md5 hex digits as BIGINT' in
    both engines even though the rendering is a genuine dialect
    split (see the _SPARK_H48 note)."""
    from pyspark.sql import functions as F

    from catalog_pii_scanner_spark.operators.incremental import (
        _SPARK_H48, _fp_rows_exprs)
    vals = [(f"v{i}x{i * i}",) for i in range(500)] + [("",), ("0",)]
    df = spark.createDataFrame(vals, "value string")
    got = {r.value: r.h for r in
           df.select("value", F.expr(_SPARK_H48).alias("h")).collect()}
    h16, h48 = _fp_rows_exprs()
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"value": [v[0] for v in vals]}))
    want = dict(con.sql(
        f"SELECT value, {h48} AS h FROM "
        f"(SELECT value, {h16} AS h16 FROM t) _m").fetchall())
    assert got == want


# --- deferred round-12 surface (implemented now, registration next window) ----

def test_collocations_match_oracle_and_python(spark, sf_dir):

    con = _duck(sf_dir)
    want = con.sql(corpus.collocations_oracle_sql()).df() \
        .sort_values(["w1", "w2"]).reset_index(drop=True)
    got = corpus.corpus_collocations(spark, sf_dir).toPandas() \
        .sort_values(["w1", "w2"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want,
                                  check_dtype=False)
    # independent lift check on one row (exact integer half-up)
    r = want.iloc[0]
    from fractions import Fraction
    f = Fraction(int(r.n_ab) * int(r.n_bigrams),
                 int(r.n_a1) * int(r.n_b2)) * 10**6
    assert r.lift == float((2 * f.numerator + f.denominator)
                           // (2 * f.denominator)) / 1e6
    # min-count filter held
    assert (want.n_ab >= corpus.COLLOC_MIN_COUNT).all()


def test_user_state_history_semantics(spark, sf_dir):
    con = _duck(sf_dir)
    want = con.sql(
        "SELECT * FROM (" +
        __import__("catalog_pii_scanner_spark.operators.analytics",
                   fromlist=["a"]).user_state_history_oracle_sql()
        + ") _q").df().sort_values(["user_id", "run_id"]) \
        .reset_index(drop=True)
    from catalog_pii_scanner_spark.operators.analytics import (
        events_user_state_history)
    got = events_user_state_history(spark, sf_dir).toPandas() \
        .sort_values(["user_id", "run_id"]).reset_index(drop=True)
    for c in ("valid_from", "valid_to"):
        got[c] = pd.to_datetime(got[c]).astype("datetime64[us]")
        want[c] = pd.to_datetime(want[c]).astype("datetime64[us]")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # SCD-2 invariants: exactly one current run per user; intervals
    # chain (valid_to == next valid_from); runs never repeat the
    # previous state (true collapse)
    for uid, g in want.groupby("user_id"):
        g = g.sort_values("run_id")
        assert int(g.is_current.sum()) == 1
        assert g.is_current.iloc[-1]
        nxt = g.valid_from.shift(-1)
        assert (g.valid_to.iloc[:-1] == nxt.iloc[:-1]).all()
        states = list(g.state)
        assert all(a != b for a, b in zip(states, states[1:]))
    # event conservation: run lengths sum to the filtered event count
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    n_ok = len(ev[ev.user_id.notna() & ev.ts.notna()
                  & ev.event_type.notna()])
    assert int(want.n_events.sum()) == n_ok
