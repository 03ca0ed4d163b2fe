"""Real-model integration tests: N1 (spaCy), N2 (Presidio).

Skip-by-default where the model packages are absent — the reference uses
the same strategy for its heavy external deps (reference
tests/test_hms_testcontainers.py's skip-unless-available pattern, and
CPS_OFFLINE in tests/conftest.py:16). In THIS container they all skip;
the day the environment ships the packages, the same provider contract
the fakes pin (tests/test_ner_providers.py) runs against the real
models with zero code changes.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def vals(spark):
    return spark.createDataFrame(
        [("c1", "Reach Jane Smith at jane@x.io or (555) 867-5309"),
         ("c2", "no entities here"),
         ("c3", None)],
        "column_ref string, value string")


def _rows(df):
    return sorted((r.column_ref, r.pii_type, r.match_text)
                  for r in df.collect())


def test_spacy_provider_through_mapinpandas(spark, vals):
    pytest.importorskip("spacy")
    from catalog_pii_scanner_spark.operators.ner import (
        detect_ner_spans_model)
    got = _rows(detect_ner_spans_model(vals, provider="spacy"))
    # regex families are guaranteed regardless of which spaCy model/
    # fallback loaded; PERSON depends on the installed model's ents
    assert ("c1", "EMAIL", "jane@x.io") in got
    assert ("c1", "PHONE_NUMBER", "(555) 867-5309") in got
    assert not [g for g in got if g[0] == "c2"]


def test_spacy_matches_fake_on_regex_families(spark, vals):
    pytest.importorskip("spacy")
    from catalog_pii_scanner_spark.operators.ner import (
        detect_ner_spans_model)
    fake = _rows(detect_ner_spans_model(vals, provider="fake_heavy"))
    real = _rows(detect_ner_spans_model(vals, provider="spacy"))
    # shared contract: on EMAIL/PHONE the two providers are identical
    # (both run the same rule regexes); PERSON may differ by model
    f2 = [r for r in fake if r[1] != "PERSON"]
    r2 = [r for r in real if r[1] != "PERSON"]
    assert f2 == r2


def test_presidio_provider_through_mapinpandas(spark, vals):
    pytest.importorskip("presidio_analyzer")
    from catalog_pii_scanner_spark.operators.ner import (
        detect_ner_spans_model)
    got = _rows(detect_ner_spans_model(vals, provider="presidio",
                                       confidence_min=0.0))
    assert any(g[1] == "EMAIL" for g in got)


def test_real_providers_are_skipped_not_failed_without_packages():
    """Meta-guard: when the packages ARE absent (this container), the
    dispatch raises the guided ImportError — so the tests above skip and
    production code fails loud, never silently."""
    try:
        import spacy  # noqa: F401
        pytest.skip("spacy present: the guided-error path is moot here")
    except ImportError:
        pass
    from catalog_pii_scanner_spark.operators.ner import _get_provider
    with pytest.raises(ImportError, match="provider='regex'"):
        _get_provider("spacy")
