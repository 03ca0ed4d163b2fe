"""DSIR importance-resampling selection (operators/dsir.py): the
selection must prefer raw docs that look like the target domain, the
weights must be integer-exact ranks, and the degenerate edges must be
deterministic."""

from __future__ import annotations

import duckdb

from catalog_pii_scanner_spark.operators.dsir import (
    DSIR_K, dsir_select_docs, dsir_select_sql)

TARGET_TXT = "vector stream window agg column vector stream window agg"
OTHER_TXT = "customer order part table row customer order part table"


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string")


def test_selects_target_like_docs_first(spark):
    rows = (
        # target domain: vector/stream vocabulary
        [(i, TARGET_TXT, "src0") for i in range(10)]
        # raw pool: 5 target-like plants + 20 off-domain docs
        + [(100 + i, TARGET_TXT, "srcX") for i in range(5)]
        + [(200 + i, OTHER_TXT, "srcX") for i in range(20)]
    )
    out = dsir_select_docs(_docs(spark, rows), k=10).collect()
    assert [r.drank for r in out] == list(range(1, 11))
    # the 5 plants outrank every off-domain doc
    assert {r.doc_id for r in out[:5]} == {100, 101, 102, 103, 104}
    # weights are non-increasing in rank and the plants' are positive
    ws = [r.weight for r in out]
    assert ws == sorted(ws, reverse=True)
    assert all(w > 0 for w in ws[:5])
    # n_feats = bigram count = tokens - 1
    assert out[0].n_feats == len(TARGET_TXT.split()) - 1


def test_target_docs_never_selected(spark):
    rows = [(i, TARGET_TXT, "src0") for i in range(10)] \
        + [(100, OTHER_TXT, "srcX")]
    out = dsir_select_docs(_docs(spark, rows), k=50).collect()
    assert {r.doc_id for r in out} == {100}


def test_no_target_domain_is_deterministic(spark):
    """Empty target -> add-one smoothing makes every bucket ratio the
    same constant, so weights reduce to n_feats * c and ranking is by
    that, tie by doc_id — still a total order, no crash."""
    rows = [(i, OTHER_TXT, "srcX") for i in range(8)]
    out = dsir_select_docs(_docs(spark, rows), k=8).collect()
    assert [r.doc_id for r in out] == list(range(8))


def test_oracle_parity_inline(spark):
    """Cross-engine parity on an inline corpus (the driver gate pins
    the real table; this pins the template pair on a corpus with
    planted structure)."""
    rows = (
        [(i, TARGET_TXT, "src0") for i in range(6)]
        + [(50 + i, f"{TARGET_TXT} customer order", "srcY")
           for i in range(4)]
        + [(80 + i, OTHER_TXT, "srcZ") for i in range(12)]
    )
    sdf = _docs(spark, rows)
    got = {tuple(r) for r in dsir_select_docs(sdf, k=9).collect()}
    con = duckdb.connect()
    con.register("documents", sdf.toPandas())
    want = {tuple(r) for r in
            con.execute(dsir_select_sql("duckdb", k=9)).fetchall()}
    assert got == want


def test_default_k_is_bounded():
    assert DSIR_K == 200


# --- winnowing fingerprints (textstats.py, r9) ----------------------------------

def _winnow_duck(rows):
    import duckdb
    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    con.sql(f"CREATE VIEW documents AS SELECT * FROM (VALUES {vals})"
            f" _v(doc_id, text)")
    return con


def _python_winnow(text, k=8, w=4):
    """Independent reference: the paper's winnowing with rightmost
    tie-break, hashes = first-4-hex-digit md5 fold."""
    import hashlib
    import re
    s = re.sub("[^a-z0-9]", "", text.lower())[:100_000]
    hs = [int(hashlib.md5(s[i:i + k].encode()).hexdigest()[:4], 16)
          for i in range(len(s) - k + 1)]
    sel = set()
    for start in range(0, len(hs) - w + 1):
        win = hs[start:start + w]
        m = min(win)
        # rightmost minimum
        pos = start + max(j for j, v in enumerate(win) if v == m)
        sel.add(hs[pos])
    return sel


def test_winnow_selection_matches_python_reference():
    from catalog_pii_scanner_spark.operators.textstats import (
        winnow_pairs_sql)
    text_a = "the quick brown fox jumps over the lazy dog repeatedly"
    text_b = "a very different sentence that jumps over the lazy dog"
    con = _winnow_duck([(1, text_a), (2, text_b)])
    sql = winnow_pairs_sql("duckdb")
    head = sql.split("df AS (", 1)[0].rstrip().rstrip(",")
    got = {}
    for did, h in con.sql(head + "\nSELECT doc_id, h FROM sel")\
            .fetchall():
        got.setdefault(did, set()).add(h)
    assert got[1] == _python_winnow(text_a)
    assert got[2] == _python_winnow(text_b)


def test_winnow_guarantee_shared_substring_detected():
    """Any shared substring of length >= k + w - 1 (= 11 normalized
    chars) must yield at least one shared fingerprint (the paper's
    guarantee), surviving the pair stage when repeated enough."""
    from catalog_pii_scanner_spark.operators.textstats import (
        winnow_pairs_sql)
    shared = "plagiarizedpassagecopiedverbatim"
    rows = [(1, f"alpha {shared} omega unrelated tail one"),
            (2, f"totally different head {shared} and other words")]
    con = _winnow_duck(rows)
    d = con.sql(winnow_pairs_sql("duckdb", min_shared=1)).fetchall()
    assert len(d) == 1 and d[0][0] == 1 and d[0][1] == 2
    assert d[0][2] >= 1


def test_winnow_df_cap_drops_boilerplate():
    """A fragment shared by MORE than df_cap docs is boilerplate: with
    cap 3, four docs sharing one passage produce no pairs from it."""
    from catalog_pii_scanner_spark.operators.textstats import (
        winnow_pairs_sql)
    import hashlib
    shared = "boilerplateheaderfragmentxyz"
    # provably disjoint doc-unique flanks (distinct md5 hex streams);
    # only grams TOUCHING a flank are doc-specific, and no two docs'
    # flank-touching grams can collide as strings
    tail = lambda i, salt: hashlib.md5(f"{i}-{salt}".encode()) \
        .hexdigest()
    rows = [(i, f"{tail(i, 'pre')} {shared} {tail(i, 'post')}")
            for i in range(4)]
    con = _winnow_duck(rows)
    d = con.sql(winnow_pairs_sql("duckdb", df_cap=3,
                                 min_shared=1)).fetchall()
    # every fingerprint string shared by 2+ docs comes from the shared
    # fragment's interior, which all FOUR docs carry -> df=4 > cap;
    # 16-bit hash collisions between different grams can still produce
    # stray pairs, so assert the CAP'S effect: with the cap lifted the
    # boilerplate pairs all appear, with it they (near-)all vanish
    uncapped = con.sql(winnow_pairs_sql("duckdb", df_cap=1000,
                                        min_shared=1)).fetchall()
    assert len(uncapped) == 6           # all C(4,2) boilerplate pairs
    assert len(d) < len(uncapped) / 2
