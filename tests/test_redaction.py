"""Redaction invariants (reference tests/test_redaction.py +
tests/test_logging.py): shape-preserving mask, length preservation, and
the core guarantee — no raw span text survives into model inputs."""

from __future__ import annotations

import pytest

from catalog_pii_scanner_spark.operators.findings import scan_values
from catalog_pii_scanner_spark.operators.redaction import candidate_contexts

TEXTS = [
    ("t1", "Contact John Smith at john@x.io or (555) 123-4567"),
    ("t2", "card 4111 1111 1111 1111 and ssn 078-05-1120"),
    ("t3", "aadhaar 2345 6789 0124 ip 10.0.0.1 mac aa:bb:cc:dd:ee:ff"),
]


@pytest.fixture(scope="module")
def redacted(spark):
    df = spark.createDataFrame(TEXTS, "column_ref string, value string")
    return candidate_contexts(scan_values(df)).collect()


def test_mask_shape_preserving(redacted):
    for r in redacted:
        assert len(r.masked_match) == len(r.match_text)
        for orig, masked in zip(r.match_text, r.masked_match):
            if orig.isdigit():
                assert masked == "0"
            elif orig.islower():
                assert masked == "x"
            elif orig.isupper():
                assert masked == "X"
            else:
                assert masked == orig


def test_redaction_guarantee_no_raw_pii_in_contexts(redacted):
    """R3: model inputs (contexts) never contain the raw span text."""
    assert redacted
    for r in redacted:
        assert r.match_text not in r.redacted_value
        assert r.match_text not in r.context


def test_context_window_bounds(redacted):
    for r in redacted:
        assert len(r.context) <= len(r.masked_match) + 96
        assert r.masked_match in r.context


# --- P7 overlap suppression (reference redaction.py:29-45) -------------------

def _reference_redact(text: str, spans: list[tuple[int, int, str]]):
    """Python port of the reference's redact_text greedy loop, on the
    engine's 1-based [pstart, pend) span convention."""
    import re

    def mask_tok(s: str) -> str:
        return re.sub("[A-Z]", "X",
                      re.sub("[a-z]", "x", re.sub("[0-9]", "0", s)))

    out, cursor, kept = [], 1, 0
    for s, e, m in sorted(spans):
        if s < cursor:
            continue
        out.append(text[cursor - 1:s - 1])
        out.append(mask_tok(m))
        cursor = e
        kept += 1
    out.append(text[cursor - 1:])
    return "".join(out), kept


OVERLAP_TEXTS = [
    (1, "abcdefghij"),   # contended chain: skip does NOT advance cursor
    (2, "no spans at all here"),
    (3, "xy 123-45-6789 z"),
]
# (text_id, pstart, pend, pii_type, match_text); match_text is exactly
# text[pstart-1:pend-1].
OVERLAP_SPANS = [
    (1, 1, 4, "T", "abc"),
    (1, 3, 6, "T", "cde"),    # overlaps kept (1,4) -> skipped
    (1, 4, 8, "T", "defg"),   # overlaps ONLY the skipped span -> kept
    (3, 4, 15, "SSN", "123-45-6789"),
    (3, 4, 7, "PHONE_NUMBER", "123"),  # same start, later in sort order
]


def test_overlap_suppression_matches_reference(spark):
    from catalog_pii_scanner_spark.operators.redaction import (
        suppress_and_redact)
    texts = spark.createDataFrame(OVERLAP_TEXTS,
                                  "text_id int, text string")
    spans = spark.createDataFrame(
        OVERLAP_SPANS,
        "text_id int, pstart int, pend int, pii_type string, "
        "match_text string")
    got = {r.text_id: r for r in
           suppress_and_redact(texts, spans).collect()}
    assert set(got) == {1, 2, 3}
    for tid, text in OVERLAP_TEXTS:
        myspans = [(s, e, m) for (i, s, e, _, m) in OVERLAP_SPANS
                   if i == tid]
        want_text, want_kept = _reference_redact(text, myspans)
        assert got[tid].redacted_text == want_text, tid
        assert got[tid].n_kept == want_kept, tid
        assert got[tid].n_spans == len(myspans), tid
    # the contended case really exercised suppression:
    assert got[1].n_kept == 2 and got[1].n_spans == 3
    # wholesale guarantee: kept span text never survives
    assert "abc" not in got[1].redacted_text
    assert "123-45-6789" not in got[3].redacted_text


def test_overlap_suppression_oracle_parity(spark):
    """Engine vs the recursive-CTE DuckDB rendering on the same inputs."""
    import duckdb

    from catalog_pii_scanner_spark.operators.redaction import (
        suppress_and_redact, suppress_redact_oracle_cte)
    texts = spark.createDataFrame(OVERLAP_TEXTS,
                                  "text_id int, text string")
    spans = spark.createDataFrame(
        OVERLAP_SPANS,
        "text_id int, pstart int, pend int, pii_type string, "
        "match_text string")
    got = sorted(tuple(r) for r in
                 suppress_and_redact(texts, spans).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE otexts AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, '{t}')" for i, t in OVERLAP_TEXTS)
                + ") v(text_id, text)")
    con.execute(
        "CREATE TABLE ospans_in AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {s}, {e}, '{p}', '{m}')"
                    for i, s, e, p, m in OVERLAP_SPANS)
        + ") v(text_id, pstart, pend, pii_type, match_text)")
    sql = ("WITH RECURSIVE "
           + suppress_redact_oracle_cte("otexts", "ospans_in").lstrip()
           + "\nSELECT text_id, n_spans, n_kept, redacted_text FROM osupp")
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
