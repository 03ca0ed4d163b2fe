"""NER provider contract (reference tests/test_ner.py's FakeProvider
approach): the heavy mapInPandas path is pluggable, loads once per
worker, gates on confidence, and agrees with the JVM regex provider."""

from __future__ import annotations

import pytest

from catalog_pii_scanner_spark.operators import ner

TEXTS = [
    ("a", "Contact John Smith at john@x.io or (555) 123-4567"),
    ("b", "no pii here at all"),
    ("c", "mail sue@example.org and call 5551234567 today"),
    ("d", None),
]


@pytest.fixture(scope="module")
def vals(spark):
    return spark.createDataFrame(TEXTS, "column_ref string, value string")


def _key(rows):
    return {(r.column_ref, r.pii_type, r.match_text, r.ner_score)
            for r in rows}


def test_fake_heavy_matches_regex_provider(spark, vals):
    """Provider pluggability: identical spans from the JVM regex path and
    the mapInPandas heavy path."""
    jvm = _key(ner.detect_ner_spans(vals, provider="regex").collect())
    heavy = _key(ner.detect_ner_spans(vals, provider="fake_heavy").collect())
    assert heavy == jvm
    assert any(t == "PERSON" for _, t, _, _ in jvm)
    assert any(t == "EMAIL" for _, t, _, _ in jvm)


def test_confidence_gate_applies_in_heavy_path(spark, vals):
    got = ner.detect_ner_spans(vals, provider="fake_heavy",
                               confidence_min=0.9)
    types = {r.pii_type for r in got.collect()}
    # PERSON (0.85) gated out; EMAIL (0.99) and PHONE (0.90) survive
    assert types == {"EMAIL", "PHONE_NUMBER"}


def test_provider_singleton_loads_once():
    ner._PROVIDER_SINGLETONS.clear()
    before = ner.FakeHeavyProvider.load_count
    p1 = ner._get_provider("fake_heavy")
    p2 = ner._get_provider("fake_heavy")
    assert p1 is p2
    assert ner.FakeHeavyProvider.load_count == before + 1


def test_model_providers_raise_without_packages():
    ner._PROVIDER_SINGLETONS.clear()
    with pytest.raises(ImportError, match="spacy"):
        ner._get_provider("spacy")
    with pytest.raises(ValueError):
        ner._get_provider("nonsense")


def test_context_signals_normalize(spark):
    ctx = spark.createDataFrame(
        [("col", "m1", "mail a@b.co or b@c.io, call (555) 123-4567")],
        "column_ref string, match_text string, context string")
    got = {r.pii_type: r.signal
           for r in ner.ner_context_signals(ctx).collect()}
    assert got == {"EMAIL": pytest.approx(2 / 3, abs=1e-6),
                   "PHONE_NUMBER": pytest.approx(1 / 3, abs=1e-6)}


def _optimized_aggregates(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString() \
        .count("Aggregate [")


def test_context_signals_one_aggregate_and_no_regroup(spark):
    """N5 is one aggregation, and the pipeline joins its map without
    regrouping it."""
    from catalog_pii_scanner_spark.operators.findings import scan_values
    from catalog_pii_scanner_spark.operators.pipeline import (
        _enriched_candidates)
    ctx = spark.createDataFrame(
        [("col", "m1", "mail a@b.co or b@c.io, call (555) 123-4567")],
        "column_ref string, match_text string, context string")
    assert _optimized_aggregates(ner.ner_context_signals(ctx)) == 1
    cands = scan_values(spark.createDataFrame(
        TEXTS, "column_ref string, value string"))
    with_ner = _enriched_candidates(cands, None, "regex")
    without_ner = _enriched_candidates(cands, None, None)
    # the NER branch adds its own distinct contexts and the histogram;
    # nothing above the histogram aggregates again
    assert (_optimized_aggregates(with_ner)
            - _optimized_aggregates(without_ner)) == 2


#: two contexts share the key ("col", "k1") and sum into one histogram;
#: "k2" has no entity, "k3" only an entity the regex provider does not
#: detect.
SHARED_KEY_CTX = [
    ("col", "k1", "mail a@b.co or b@c.io, call (555) 123-4567"),
    ("col", "k1", "Jane Doe at 10.0.0.1 on 2024-01-31"),
    ("col", "k2", "nothing to see here"),
    ("col", "k3", "ssn 123-45-6789"),
]


def _signals(df):
    return {(r.column_ref, r.match_text, r.pii_type): r.signal
            for r in df.collect()}


def test_context_signals_shared_key_and_empty_key(spark):
    import duckdb
    ctx = spark.createDataFrame(
        SHARED_KEY_CTX, "column_ref string, match_text string, "
                        "context string")
    regex = _signals(ner.ner_context_signals(ctx))
    con = duckdb.connect()
    con.execute("CREATE TABLE ctx (column_ref VARCHAR, match_text VARCHAR, "
                "context VARCHAR)")
    con.executemany("INSERT INTO ctx VALUES (?, ?, ?)", SHARED_KEY_CTX)
    oracle = {tuple(r[:3]): r[3] for r in con.execute(
        "WITH " + ner.ner_context_signals_oracle_sql("ctx").lstrip())
        .fetchall()}
    assert regex == oracle == {("col", "k1", "EMAIL"): 0.5,
                               ("col", "k1", "PHONE_NUMBER"): 0.25,
                               ("col", "k1", "PERSON"): 0.25}
    assert _signals(ner.ner_context_signals(ctx, provider="fake_heavy")) \
        == regex
    # the LLM labels every rule family at 0.95: k1 also holds IP and DATE
    assert _signals(ner.ner_context_signals(ctx, provider="fake_llm")) == {
        ("col", "k1", "EMAIL"): 0.333333,
        ("col", "k1", "PHONE_NUMBER"): 0.166667,
        ("col", "k1", "PERSON"): 0.166667,
        ("col", "k1", "IP_ADDRESS"): 0.166667,
        ("col", "k1", "DATE"): 0.166667,
        ("col", "k3", "SSN"): 1.0}
    keys = ("column_ref", "match_text")
    sig = ner.ner_signal_map(ctx, keys, "regex", None,
                             ner.NER_CONFIDENCE_MIN)
    joined = ctx.select(*keys).distinct().join(sig, list(keys), "left")
    assert {r.match_text: r.ner_sig for r in joined.collect()} == {
        "k1": {"EMAIL": 0.5, "PHONE_NUMBER": 0.25, "PERSON": 0.25},
        "k2": None, "k3": None}
