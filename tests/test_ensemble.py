"""Ensemble semantics (reference tests/test_ensemble.py): probabilities
normalize, the rule label dominates when present, argmax tie-break follows
ALL_PII_TYPES order."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from catalog_pii_scanner_spark.operators.ensemble import (
    REFERENCE_WEIGHTS, fuse_predictions)
from catalog_pii_scanner_spark.pii_types import ALL_PII_TYPES

CANDS = [
    ("c1", "v", "EMAIL", "a@b.io", 0.95, False),
    ("c2", "v", "CREDIT_CARD", "4111 1111 1111 1111", 0.90, True),
    ("c3", "v", "PERSON", "John Smith", 0.40, False),
]
SCHEMA = ("column_ref string, value string, pii_type string, "
          "match_text string, rule_confidence double, validated boolean")


@pytest.fixture(scope="module")
def fused(spark):
    return fuse_predictions(spark.createDataFrame(CANDS, SCHEMA)).collect()


def test_rule_label_dominates(fused):
    """With rules-strength weights, the rule's own type wins the argmax
    for strong rules (the offline pseudo-signals max out at 0.6*1.0 raw
    weight vs 0.6*0.95 + 0.2 for a validated strong rule)."""
    by_id = {r.column_ref: r for r in fused}
    assert by_id["c1"].label == "EMAIL"
    assert by_id["c2"].label == "CREDIT_CARD"


def test_scores_are_normalized_probs(fused):
    for r in fused:
        assert 0.0 < r.score < 1.0


def test_identity_calibration_tie_break_type_order(spark):
    """With identity calibration and no signals, every type calibrates
    identically for a zero-confidence candidate -> argmax must pick the
    first type in ALL_PII_TYPES order (deterministic tie-break)."""
    df = spark.createDataFrame(
        [("c", "v", "DATE", "x", 0.0, False)], SCHEMA)
    identity = {t: (1.0, 0.0) for t in ALL_PII_TYPES}
    empty = F.lit(None).cast("map<string,double>")
    row = fuse_predictions(
        df, REFERENCE_WEIGHTS, calibration=identity,
        ner_signal=empty, embed_signal=empty).collect()[0]
    assert row.label == ALL_PII_TYPES[0]
    assert row.score == pytest.approx(1.0 / len(ALL_PII_TYPES), abs=1e-6)
