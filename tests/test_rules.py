"""Rule extraction golden tests, ported from the reference's test strategy
(reference: tests/test_rules.py, tests/test_rules_advanced.py — exact labels
per crafted input, false-positive rejection).

All cases are scanned in ONE Spark job (the extraction expression tree has a
constant per-plan planning cost, so per-case jobs would dominate runtime).
"""

from __future__ import annotations

import pytest

from catalog_pii_scanner_spark.operators.findings import scan_values

CASES = {
    "email": ("Reach me at jane.doe+spam@mail.example.org today",
              {"EMAIL": ["jane.doe+spam@mail.example.org"]}),
    "phone_paren": ("Call (555) 867-5309 now",
                    {"PHONE_NUMBER": ["(555) 867-5309"]}),
    "phone_dash": ("Call 555-867-5309 now",
                   {"PHONE_NUMBER": ["555-867-5309"]}),
    "phone_plain": ("Call 5551234567 now",
                    {"PHONE_NUMBER": ["5551234567"]}),
    "cc_valid": ("card 4111 1111 1111 1111 ok",
                 {"CREDIT_CARD": ["4111 1111 1111 1111"]}),
    "cc_luhn_invalid": ("card 4111 1111 1111 1112 bad", {}),
    "cc_amex": ("amex 3714 496353 98431 ok",
                {"CREDIT_CARD": ["3714 496353 98431"]}),
    "ssn": ("ssn 123-45-6789.", {"SSN": ["123-45-6789"]}),
    "ip": ("host 10.0.255.254 up", {"IP_ADDRESS": ["10.0.255.254"]}),
    "mac": ("mac aa:bb:cc:dd:ee:ff seen",
            {"MAC_ADDRESS": ["aa:bb:cc:dd:ee:ff"]}),
    "aadhaar_valid": ("aadhaar 2345 6789 0124 ok",
                      {"AADHAAR": ["2345 6789 0124"]}),
    "aadhaar_invalid": ("aadhaar 1234 5678 9012 bad", {}),
    "pan": ("pan ABCDE1234F filed", {"PAN": ["ABCDE1234F"]}),
    "pan_invalid": ("pan ABCDE12345 nope", {}),
    "person": ("met John Smith yesterday", {"PERSON": ["John Smith"]}),
    "date": ("born 1990-03-14 in spring", {"DATE": ["1990-03-14"]}),
    "date_hyphen_dmy": ("shipped 12-04-1990 express",
                        {"DATE": ["12-04-1990"]}),
    "negative": ("empty text has nothing", {}),
    "multi": ("Contact John Smith at john@x.io or (555) 123-4567, "
              "SSN 078-05-1120, from 192.168.1.1", None),  # set-checked below
    "dob_boost": ("DOB: 1990-03-14", None),
    "date_noboost": ("shipped 1990-03-14", None),
}


@pytest.fixture(scope="module")
def scanned(spark):
    df = spark.createDataFrame(
        [(k, text) for k, (text, _) in CASES.items()],
        "column_ref string, value string")
    rows = scan_values(df).collect()
    out: dict[str, dict] = {k: {} for k in CASES}
    conf: dict[str, dict] = {k: {} for k in CASES}
    probs = []
    for r in rows:
        out[r.column_ref].setdefault(r.pii_type, []).append(r.match_text)
        conf[r.column_ref][r.pii_type] = r.rule_confidence
        probs.append(r.prob)
    return out, conf, probs


@pytest.mark.parametrize("key", [k for k, (_, exp) in CASES.items()
                                 if exp is not None])
def test_rule_families(scanned, key):
    got, _, _ = scanned
    assert got[key] == CASES[key][1]


def test_multi_entity_sentence(scanned):
    got, _, _ = scanned
    assert set(got["multi"]) == {
        "PERSON", "EMAIL", "PHONE_NUMBER", "SSN", "IP_ADDRESS"}


def test_dob_confidence_boost(scanned):
    _, conf, _ = scanned
    assert conf["dob_boost"]["DATE"] == pytest.approx(0.8)
    assert conf["date_noboost"]["DATE"] == pytest.approx(0.7)


def test_scores_within_unit_interval(scanned):
    _, _, probs = scanned
    assert probs and all(0.0 < p < 1.0 for p in probs)


def test_candidate_feature_vector_shape(spark):
    """P8: the ~28-feature projection (reference rules.py:169-180) —
    spot-check the surface features and one-hots."""
    from catalog_pii_scanner_spark.operators.features import (
        candidate_features)
    from catalog_pii_scanner_spark.pii_types import ALL_PII_TYPES
    cands = spark.createDataFrame(
        [("c", "v", "EMAIL", "a@b.io", 0.95, False),
         ("c", "v", "CREDIT_CARD", "4111 1111 1111 1111", 0.9, True)],
        "column_ref string, value string, pii_type string, "
        "match_text string, rule_confidence double, validated boolean")
    rows = {r.pii_type: r for r in candidate_features(cands).collect()}
    e = rows["EMAIL"]
    assert (e.len, e.has_at, e.has_dot, e.has_digits) == \
        (6, True, True, False)
    assert e.digits_ratio == 0.0 and e.rule_conf == 0.95
    assert e.rule_is_EMAIL == 1 and e.val_EMAIL is False
    c = rows["CREDIT_CARD"]
    assert c.has_digits and c.val_CREDIT_CARD is True
    assert c.digits_ratio == round(16 / 19, 6)
    assert sum(c[f"rule_is_{t}"] for t in ALL_PII_TYPES) == 1


def test_dedupe_spans_first_occurrence():
    from catalog_pii_scanner_spark.logging_utils import dedupe_spans
    assert dedupe_spans(["a@b.io", "x", "a@b.io", None, "", "y"]) == \
        ["a@b.io", "x", "y"]
    assert dedupe_spans(None) == []


# --- position-exact extraction (extract_candidates_pdf) ----------------------
# Ported reference Span semantics: true finditer char offsets, EVERY
# occurrence (reference rules.py:89-91, pii_types.py:37-41), exact +/-8
# dob-context boost (reference rules.py:154-161).

def _pdf_rows(spark, texts):
    from catalog_pii_scanner_spark.operators.rules import (
        extract_candidates_pdf)
    df = spark.createDataFrame(list(enumerate(texts)),
                               "text_id bigint, value string")
    return extract_candidates_pdf(df, keep_cols=("text_id",)).collect()


def test_pdf_repeated_string_yields_distinct_offsets(spark):
    text = "ssn 123-45-6789 again 123-45-6789 end"
    rows = sorted((r.pstart, r.pend, r.pii_type, r.match_text)
                  for r in _pdf_rows(spark, [text]))
    assert rows == [
        (5, 16, "SSN", "123-45-6789"),
        (23, 34, "SSN", "123-45-6789"),
    ]
    # 1-based: text[pstart-1:pend-1] recovers the span (reference
    # Span.start = pstart - 1)
    for s, e, _, m in rows:
        assert text[s - 1:e - 1] == m


def test_pdf_dob_boost_is_per_occurrence(spark):
    # same DATE string twice: first within 8 chars of 'dob', second not —
    # the value-level boost cannot express this; the reference ctx can.
    text = "dob 1990-03-14 then later on 1990-03-14"
    rows = sorted((r.pstart, round(r.rule_confidence, 6))
                  for r in _pdf_rows(spark, [text])
                  if r.pii_type == "DATE")
    assert rows == [(5, 0.8), (30, 0.7)]


def test_pdf_checksum_gate_drops_invalid(spark):
    rows = _pdf_rows(spark, ["card 4111 1111 1111 1112 bad",
                             "card 4111 1111 1111 1111 ok"])
    cc = [(r.text_id, r.validated) for r in rows
          if r.pii_type == "CREDIT_CARD"]
    assert cc == [(1, True)]


def test_pdf_matches_array_path_on_eval_corpus(spark, sf_dir):
    """Differential: the Python-finditer path and the JVM
    regexp_extract_all path must propose the IDENTICAL candidate multiset
    (positions aside) — re.ASCII pins \\d/\\b to Java semantics."""
    from catalog_pii_scanner_spark.operators.evaluate import eval_texts
    from catalog_pii_scanner_spark.operators.rules import (
        extract_candidates, extract_candidates_pdf)
    texts = eval_texts(spark, sf_dir)
    arr = sorted(map(tuple, extract_candidates(
        texts, value_col="text", keep_cols=("text_id",)
    ).select("text_id", "pii_type", "match_text", "validated").collect()))
    pdf = sorted(map(tuple, extract_candidates_pdf(
        texts, value_col="text", keep_cols=("text_id",)
    ).select("text_id", "pii_type", "match_text", "validated").collect()))
    assert arr and arr == pdf


def test_repeated_corpus_exact_candidate_set(spark, sf_dir):
    """The repeated-span corpus emits EXACTLY 7 candidates per text (2 SSN,
    2 EMAIL, 1 PHONE, 2 DATE) — no cross-family matches leak in, which is
    what makes the arithmetic oracle complete."""
    from catalog_pii_scanner_spark.operators.evaluate import (
        repeated_span_scan, repeated_texts)
    n_texts = repeated_texts(spark, sf_dir).count()
    rows = repeated_span_scan(spark, sf_dir).collect()
    assert len(rows) == 7 * n_texts
    per_type = {}
    for r in rows:
        per_type[r.pii_type] = per_type.get(r.pii_type, 0) + 1
    assert per_type == {"SSN": 2 * n_texts, "EMAIL": 2 * n_texts,
                        "PHONE_NUMBER": n_texts, "DATE": 2 * n_texts}
    # dob boost: each text has one 0.8 DATE (near 'dob') and one 0.7
    confs = sorted(round(r.rule_confidence, 6) for r in rows
                   if r.pii_type == "DATE")
    assert confs == [0.7] * n_texts + [0.8] * n_texts


def test_repeated_spans_redaction_masks_both_occurrences(spark):
    """R2 over repeated spans (reference test_redaction contract: every
    span is masked in place, shape-preserved)."""
    from catalog_pii_scanner_spark.operators.redaction import (
        suppress_and_redact)
    from catalog_pii_scanner_spark.operators.rules import (
        extract_candidates_pdf)
    text = "a 123-45-6789 b 123-45-6789 c jane@x.io d"
    texts = spark.createDataFrame([(1, text)], "text_id bigint, text string")
    spans = extract_candidates_pdf(texts, value_col="text",
                                   keep_cols=("text_id",)) \
        .select("text_id", "pstart", "pend", "pii_type", "match_text")
    row = suppress_and_redact(texts, spans).collect()[0]
    assert row.n_spans == 3 and row.n_kept == 3
    assert row.redacted_text == "a 000-00-0000 b 000-00-0000 c xxxx@x.xx d"
