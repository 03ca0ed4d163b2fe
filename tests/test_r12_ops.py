"""Round-12 store-relation twins: findings_merge_upsert (the K1/J3
MERGE result relation) and writeback_diff_plan (the K2-K4
diff-before-write action plan).

Template parity (Spark == DuckDB, the driver's exact compare) is
covered by tools/selfcheck.py + tools/edge_sweep.py; these are the
SEMANTIC gates — the action vocabulary, the idempotency property, and
the equivalence with the REAL merge_findings sink.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from catalog_pii_scanner_spark.operators.incremental import (
    NEW_ROW_GATE, distinct_basis, findings_merge_upsert,
    writeback_diff_plan)


def _crafted_values(spark):
    """A synthetic melted relation exercising every action class.

    The prior/current split is NEW_ROW_GATE (a pure md5 function of
    (column_ref, value)), so the craft SEARCHES value candidates for
    each gate outcome instead of assuming one: per target column we
    need PII values on both sides of the gate plus non-PII filler on
    the prior side. Columns whose md5(column_ref) first hex digit is
    not 0-3 never gate values new — search column names too."""
    # find two column names the gate CAN mark new, one it cannot
    cands = [f"spark://t/c{i}" for i in range(200)]
    probe = spark.createDataFrame(
        [(c, "x") for c in cands], "column_ref string, value string")
    gateable = [
        r.column_ref for r in probe.select(
            "column_ref",
            F.expr("substr(md5(column_ref), 1, 1) IN "
                   "('0','1','2','3')").alias("g"))
        .where("g").collect()]
    assert len(gateable) >= 2
    col_ins, col_upd = gateable[:2]
    col_kept = next(c for c in cands if c not in gateable)

    def split_values(column_ref, values):
        """-> (new_values, old_values) under the gate for this column."""
        df = spark.createDataFrame([(column_ref, v) for v in values],
                                   "column_ref string, value string")
        rows = df.select("value",
                         F.expr(NEW_ROW_GATE).alias("is_new")).collect()
        new = [r.value for r in rows if r.is_new]
        old = [r.value for r in rows if not r.is_new]
        return new, old

    emails = [f"user{i}@example.com" for i in range(300)]
    phones = [f"call 555-867-{i:04d}" for i in range(300)]
    filler = [f"plain text {i}" for i in range(300)]
    rows = []
    # col_ins ('insert'/'inserted'): PII only in NEW values; prior side
    # holds non-PII filler, so the column exists before but untagged
    new_e, _ = split_values(col_ins, emails)
    _, old_f = split_values(col_ins, filler)
    assert new_e and old_f
    rows += [(col_ins, v) for v in new_e[:3] + old_f[:3]]
    # col_upd ('update'/'updated'): prior has EMAIL findings, a NEW
    # phone value adds a second type
    new_p, _ = split_values(col_upd, phones)
    _, old_e = split_values(col_upd, emails)
    assert new_p and old_e
    rows += [(col_upd, v) for v in new_p[:2] + old_e[:3]]
    # col_kept ('skip'/'kept'): ungateable column, stable PII values
    _, old_e2 = split_values(col_kept, emails)
    assert old_e2
    rows += [(col_kept, v) for v in old_e2[:3]]
    return (spark.createDataFrame(rows, "column_ref string, value string"),
            col_ins, col_upd, col_kept)


def test_writeback_plan_action_vocabulary(spark):
    vals, col_ins, col_upd, col_kept = _crafted_values(spark)
    plan = {r.column_ref: r
            for r in writeback_diff_plan(distinct_basis(vals)).collect()}
    assert plan[col_ins].action == "insert"
    assert plan[col_ins].prior_pii_types is None
    assert plan[col_ins].pii_types == "EMAIL"
    assert plan[col_upd].action == "update"
    assert plan[col_upd].prior_pii_types == "EMAIL"
    assert "PHONE_NUMBER" in plan[col_upd].pii_types
    assert plan[col_kept].action == "skip"
    assert plan[col_kept].prior_pii_types == plan[col_kept].pii_types
    # the comment pins the sink's exact wire format
    for r in plan.values():
        assert r.comment == ("PII:" + r.pii_types)[:255]


def test_writeback_plan_idempotent_on_applied_state(spark):
    """The oracle property: when nothing arrived since the last apply
    (no value passes the gate), every action is 'skip'."""
    vals, *_ = _crafted_values(spark)
    unchanged = vals.where(~F.expr(NEW_ROW_GATE))
    plan = writeback_diff_plan(distinct_basis(unchanged)).collect()
    assert plan and all(r.action == "skip" for r in plan)
    assert all(r.prior_pii_types == r.pii_types for r in plan)


def test_merge_upsert_action_vocabulary(spark):
    vals, col_ins, col_upd, col_kept = _crafted_values(spark)
    out = {r.column_ref: r
           for r in findings_merge_upsert(distinct_basis(vals)).collect()}
    assert out[col_ins].merge_action == "inserted"
    assert out[col_upd].merge_action == "updated"
    assert out[col_kept].merge_action == "kept"
    # updated rows carry the CURRENT snapshot's types
    assert "PHONE_NUMBER" in out[col_upd].types_csv
    assert out[col_upd].n_types == 2


def test_merge_upsert_one_row_per_key_and_kept_on_unchanged(spark):
    """MERGE invariants: exactly one row per column_ref, and with no
    arrivals every surviving row is the prior store's ('kept')."""
    vals, *_ = _crafted_values(spark)
    out = findings_merge_upsert(distinct_basis(vals))
    assert out.count() == out.select("column_ref").distinct().count()
    unchanged = vals.where(~F.expr(NEW_ROW_GATE))
    rows = findings_merge_upsert(distinct_basis(unchanged)).collect()
    assert rows and all(r.merge_action == "kept" for r in rows)


def test_merge_relation_matches_real_sink(spark, tmp_path_factory):
    """The relation IS merge_findings' semantics: seed the real MERGE
    store with the PRIOR snapshot's findings, merge the incremental
    rescan's findings on top, and the store's (column_ref -> types)
    map must equal the relation's — with 'kept' rows surviving
    untouched and 'inserted'/'updated' rows carrying the rescan."""
    from catalog_pii_scanner_spark.operators.findings import (
        findings_rollup)
    from catalog_pii_scanner_spark.operators.incremental import (
        _changed_pred, _snapshot_fingerprints)
    from catalog_pii_scanner_spark.sinks.findings_store import (
        merge_findings, read_merged_findings, to_findings_records)

    vals_df, *_ = _crafted_values(spark)
    store = str(tmp_path_factory.mktemp("merge12") / "findings")
    # prior snapshot -> the store's initial state
    prior = vals_df.where(~F.expr(NEW_ROW_GATE))
    merge_findings(spark, to_findings_records(findings_rollup(prior)),
                   store)
    # the incremental rescan: changed columns only, current values
    basis = distinct_basis(vals_df)
    changed = (_snapshot_fingerprints(basis[0]).where(_changed_pred())
               .select("column_ref"))
    rescan = vals_df.join(F.broadcast(changed), "column_ref")
    merge_findings(spark, to_findings_records(findings_rollup(rescan)),
                   store)
    got = {r.column_ref: ",".join(r.types)
           for r in read_merged_findings(spark, store).collect()}
    want = {r.column_ref: r.types_csv
            for r in findings_merge_upsert(basis).collect()}
    assert got == want


# --- round-13 deferred registrations (implemented + gated this round) --------

def _duck(sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{sf_dir}/{t}.parquet')")
    return con


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def _duck_rows(con, sql):
    return sorted(tuple(str(x) for x in r) for r in con.sql(sql).fetchall())


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_ngram_novelty_matches_oracle(spark, sf_dir):
    from catalog_pii_scanner_spark.operators.corpus import (
        corpus_ngram_novelty, ngram_novelty_oracle_sql)
    got = _rows(corpus_ngram_novelty(spark, sf_dir))
    want = _duck_rows(_duck(sf_dir), ngram_novelty_oracle_sql())
    assert got and got == want


def test_ngram_novelty_semantics(spark):
    """A fully-leaked bench doc scores novelty 0, an untouched one 1,
    a half-leaked one lands exactly between — hand-built corpus with
    doc_ids on both sides of the bench mod."""
    from catalog_pii_scanner_spark.operators.corpus import (
        ngram_novelty_docs)
    leak = "alpha beta gamma delta epsilon zeta eta theta iota"
    fresh = "one two three four five six seven eight nine"
    half = leak.split()[:8] + fresh.split()[:8]
    docs = spark.createDataFrame(
        [(37, leak),                      # bench, fully in train
         (74, " ".join(half)),           # bench, first 8-gram leaked
         (111, fresh),                   # bench, nowhere in train
         (1, leak + " extra tail here")],  # train doc containing leak
        "doc_id bigint, text string")
    out = {r.doc_id: r for r in
           ngram_novelty_docs(docs, k=8).collect()}
    assert out[37].n_seen == out[37].n_grams and out[37].novelty == 0.0
    assert out[111].n_seen == 0 and out[111].novelty == 1.0
    assert 0.0 < out[74].novelty < 1.0
    # train docs never appear
    assert 1 not in out


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_semantic_decon_matches_oracle(spark, sf_dir):
    from catalog_pii_scanner_spark.operators.simsearch import (
        embed_semantic_decon, embed_semantic_decon_sql)
    got = _rows(embed_semantic_decon(spark, sf_dir))
    want = _duck_rows(_duck(sf_dir), embed_semantic_decon_sql("duckdb"))
    assert got and got == want


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_rfm_segments_matches_oracle(spark, sf_dir):
    import duckdb
    from catalog_pii_scanner_spark.operators.analytics import (
        orders_rfm_segments, rfm_segments_oracle_sql)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM read_parquet("
            f"'{sf_dir}/orders.parquet')")
    got = _rows(orders_rfm_segments(spark, sf_dir))
    want = _duck_rows(con, rfm_segments_oracle_sql())
    assert got and got == want


def _assert_rfm_is_ntile(spark, sf_dir):
    from pyspark.sql import Window
    from catalog_pii_scanner_spark.operators.analytics import (
        orders_rfm_segments)
    out = orders_rfm_segments(spark, sf_dir)
    w = Window.orderBy("monetary_cents", "c_custkey")
    chk = (out.select("c_custkey", "monetary_cents", "m_score")
           .withColumn("nt", F.ntile(4).over(w)))
    assert chk.where(F.col("nt") != F.col("m_score")).count() == 0
    return out


def test_rfm_quartiles_are_exact_ntile(spark):
    """The two-level-rank quartile index must agree with a directly
    computed ntile(4) under the same (metric, custkey) total order —
    including the remainder-spreads-early property — on the real
    per-customer relation."""
    out = _assert_rfm_is_ntile(spark, "/root/testdata/sf0.01")
    scores = {r.m_score for r in out.select("m_score").distinct()
              .collect()}
    assert scores == {1, 2, 3, 4}


def test_rfm_quartiles_are_exact_ntile_remainder_corpora(
        spark, tmp_path):
    """The round-12 review caught the naive 1+(rank-1)*4 intdiv n
    shortcut deviating from ntile exactly when n % 4 == 2 (rank 4 of
    n=6: shortcut 3, ntile 2). Pin TRUE ntile equality on customer
    counts hitting every remainder class, including the n < 4
    degenerate tiles."""
    import datetime
    for n_cust in (2, 3, 5, 6, 7, 10):
        rows = []
        for c in range(1, n_cust + 1):
            for o in range(c):  # customer c has c orders
                rows.append((c * 1000 + o, c, "O",
                             float(10 * c + o),
                             datetime.date(1995, 1, 1)
                             + datetime.timedelta(days=c + o),
                             "p"))
        d = str(tmp_path / f"rfm{n_cust}")
        (spark.createDataFrame(
            rows, "o_orderkey bigint, o_custkey bigint, "
                  "o_orderstatus string, o_totalprice double, "
                  "o_orderdate date, o_orderpriority string")
         .write.mode("overwrite").parquet(f"{d}/orders.parquet"))
        out = _assert_rfm_is_ntile(spark, d)
        assert out.count() == n_cust


def test_rfm_segment_vocabulary(spark):
    from catalog_pii_scanner_spark.operators.analytics import (
        orders_rfm_segments)
    segs = {r.segment for r in
            orders_rfm_segments(spark, "/root/testdata/sf0.01")
            .select("segment").distinct().collect()}
    assert segs <= {"champion", "loyal", "big_spender", "at_risk",
                    "hibernating", "regular"}
    assert len(segs) >= 4  # the labeling CASE is genuinely exercised


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_tokenizer_fertility_matches_oracle(spark, sf_dir):
    import duckdb
    from catalog_pii_scanner_spark.operators.bpe import (
        corpus_tokenizer_fertility, tokenizer_fertility_oracle_sql)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{sf_dir}/documents.parquet')")
    got = _rows(corpus_tokenizer_fertility(spark, sf_dir))
    want = _duck_rows(con, tokenizer_fertility_oracle_sql())
    assert got and got == want


def test_tokenizer_fertility_conservation(spark):
    """The per-language sums must reconcile with the registered
    per-doc budget query (corpus_bpe_apply) joined to the registered
    language id — the composition cannot drift from its parts."""
    from pyspark.sql import functions as SF
    from catalog_pii_scanner_spark.operators.bpe import (
        corpus_bpe_apply, corpus_tokenizer_fertility)
    from catalog_pii_scanner_spark.operators.textstats import lang_id
    sf_dir = "/root/testdata/sf0.01"
    fert = {r.pred_lang: r for r in
            corpus_tokenizer_fertility(spark, sf_dir).collect()}
    budg = corpus_bpe_apply(spark, sf_dir)
    langs = lang_id(spark, sf_dir)
    ref = {r.pred_lang: r for r in
           (budg.join(langs, "doc_id")
            .groupBy("pred_lang")
            .agg(SF.count("*").alias("n_docs"),
                 SF.sum("n_tokens").alias("ws"),
                 SF.sum("n_bpe").alias("bpe"))).collect()}
    assert set(fert) == set(ref)
    for lang, r in ref.items():
        assert fert[lang].n_docs == r.n_docs
        assert fert[lang].n_ws_tokens == r.ws
        assert fert[lang].n_bpe_tokens == r.bpe


def test_semantic_decon_split_and_flag(spark):
    """Bench and train sides are disjoint under the mod split, flags
    fire exactly at the threshold, and both flag values occur at the
    gate SF (the threshold branch is genuinely exercised)."""
    from catalog_pii_scanner_spark.operators.simsearch import (
        SEMDECON_BENCH_MOD, SEMDECON_THRESHOLD, embed_semantic_decon)
    out = embed_semantic_decon(spark, "/root/testdata/sf0.01").collect()
    assert out
    for r in out:
        assert r.query_id % SEMDECON_BENCH_MOD == 0
        assert r.neighbor_id % SEMDECON_BENCH_MOD != 0
        assert r.contaminated == (r.cosine >= SEMDECON_THRESHOLD)
    flags = {r.contaminated for r in out}
    assert flags == {True, False}
