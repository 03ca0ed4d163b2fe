"""Training pipeline (reference entry point 3.3:
gen-synth -> train-embed -> calibrate -> eval, cli.py:291-385).

- ``gold_contexts``: redacted +/-48-char contexts of gold spans with the
  span masked by the shape mask (reference masks with '0's,
  cli.py:316-325; we reuse the R1 shape mask) — the embed-training rows.
  Distributed projection; collected to the driver for the (tiny) fit,
  exactly like the reference.
- ``train_embed``: E3 — OvR heads on gold contexts.
- ``fit_calibrator``: F6 — per-type 1-D Platt fit (numpy logistic) on
  (raw rules-only score, is-type) pairs built by the J2 overlap join of
  candidates to gold (type-agnostic, first match wins). Degenerate
  classes (all-pos / all-neg) fall back to identity (1, 0) like the
  reference (ensemble.py:170-189).
- ``Calibrator.apply``: per-type sigmoid(a*s + b) over a score column.

Scale: the spans/contexts stages are projections over the labeled corpus;
only (score, label) pairs and contexts are collected — O(corpus), small
by construction. The fitted parameters broadcast back as plain literals.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pii_types import ALL_PII_TYPES
from .embeddings import EmbedModel
from .redaction import CONTEXT_WINDOW, mask
from .rules import W_RULE, W_VALIDATION, extract_candidates

def _raw_score():
    # built lazily: Column construction needs an active SparkContext
    return (F.lit(W_RULE) * F.col("rule_confidence")
            + F.lit(W_VALIDATION) * F.col("validated").cast("double"))


def labeled_candidates(labeled: DataFrame) -> DataFrame:
    """Candidates over a labeled corpus (text_id, text, labels) with char
    positions and the rules-only raw score."""
    cands = extract_candidates(labeled.select("text_id", "text"),
                               value_col="text", keep_cols=("text_id",))
    return (
        cands
        .withColumn("pstart", F.instr("text", F.col("match_text")))
        .withColumn("pend", F.col("pstart") + F.length("match_text"))
        .withColumn("raw_score", _raw_score())
    )


def gold_contexts(labeled: DataFrame) -> DataFrame:
    """(type, context) training rows: span masked, +/-CONTEXT_WINDOW
    chars."""
    spans = labeled.select(
        "text_id", "text", F.explode("labels").alias("l"))
    masked_span = mask(F.col("l.text"))
    # reference replaces only the span; we substitute the first occurrence
    # region by position to avoid clobbering duplicates elsewhere
    redacted = F.concat(
        F.substring(F.col("text"), F.lit(1), F.col("l.start")),
        masked_span,
        F.substring(F.col("text"), F.col("l.end") + 1,
                    F.length("text")))
    start = F.greatest(F.col("l.start") + 1 - CONTEXT_WINDOW, F.lit(1))
    length = (F.col("l.end") - F.col("l.start")) + F.lit(2 * CONTEXT_WINDOW)
    return spans.select(
        F.col("l.type").alias("pii_type"),
        F.col("l.text").alias("gold_text"),
        F.substring(redacted, start, length).alias("context"),
    )


def train_embed(spark: SparkSession, labeled: DataFrame) -> EmbedModel:
    rows = gold_contexts(labeled).collect()
    return EmbedModel().fit([r.context for r in rows],
                            [r.pii_type for r in rows])


@dataclass
class Calibrator:
    """Per-type Platt parameters (F2/F6)."""
    params: dict[str, tuple[float, float]] = field(default_factory=dict)

    def get(self, t: str) -> tuple[float, float]:
        return self.params.get(t, (1.0, 0.0))

    def apply(self, df: DataFrame, score_col: str = "raw_score") -> DataFrame:
        a = F.lit(None).cast("double")
        b = F.lit(None).cast("double")
        for t in ALL_PII_TYPES:
            pa, pb = self.get(t)
            a = F.when(F.col("pii_type") == t, F.lit(pa)).otherwise(a)
            b = F.when(F.col("pii_type") == t, F.lit(pb)).otherwise(b)
        z = a * F.col(score_col) + b
        return df.withColumn(
            "calibrated", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def _fit_platt_1d(scores: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    a, b = 1.0, 0.0
    n = len(y)
    for _ in range(500):
        p = 1.0 / (1.0 + np.exp(-(a * scores + b)))
        g = p - y
        a -= float(g @ scores) / n
        b -= float(g.sum()) / n
    return a, b


def calibration_pairs(labeled: DataFrame) -> DataFrame:
    """J2: type-agnostic overlap join of candidates to gold, first match
    wins -> (pii_type, raw_score, is_type)."""
    cands = labeled_candidates(labeled)
    gold = labeled.select("text_id", F.explode("labels").alias("l")) \
        .select("text_id", F.col("l.start").alias("gstart"),
                F.col("l.end").alias("gend"),
                F.col("l.type").alias("gold_type"))
    j = cands.join(
        gold,
        (cands.text_id == gold.text_id)
        & (F.col("pstart") - 1 < F.col("gend"))
        & (F.col("gstart") < F.col("pend") - 1),
        "left",
    )
    w = Window.partitionBy(cands.text_id, "pii_type", "pstart") \
        .orderBy(F.col("gstart").asc_nulls_last())
    return (
        j.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        .select("pii_type", "raw_score",
                F.coalesce(
                    (F.col("gold_type") == F.col("pii_type"))
                    .cast("double"),
                    F.lit(0.0)).alias("is_type"))
    )


def fit_calibrator_ensemble(labeled: DataFrame, model=None,
                            precomputed_lc: DataFrame | None = None,
                            precomputed_enriched: DataFrame | None = None
                            ) -> Calibrator:
    """The reference's calibration fit, faithfully (eval.py:80-103 +
    ensemble.py:170-189): per PII type t, a 1-D Platt scaler over the
    FULL raw ensemble score raw[t] of EVERY candidate (not just
    candidates of type t), labeled y = (first-overlapping gold's type ==
    t). Degenerate types (no positives / all positives) fall back to
    identity — reference ensemble.py:180-182.

    The (raw, y) pairs collect to the driver for the numpy fit, as the
    reference does: calibration sets are small by design (a labeled
    sample, not the corpus); at scale the caller samples ``labeled``
    first. The raw scores themselves are computed distributed with the
    real N5+E2 signal path."""
    from .pipeline import full_scan_raw_scores

    # the caller may hand over the already-checkpointed candidate
    # relation (eval_trained_query shares ONE extraction between the
    # calibrator fit and the trained eval — the relation is identical
    # by construction: same projection + distinct over labeled)
    lc = precomputed_lc if precomputed_lc is not None else (
        labeled_candidates(labeled)
        .select("text_id", "text", "pii_type", "match_text",
                "rule_confidence", "validated", "pstart", "pend")
        .distinct().localCheckpoint(eager=True))
    cands = lc.select(
        F.col("text_id").cast("string").alias("column_ref"),
        F.col("text").alias("value"),
        "pii_type", "match_text", "rule_confidence", "validated")
    raw = full_scan_raw_scores(cands, model=model,
                               precomputed_enriched=precomputed_enriched)
    pos = lc.select(
        F.col("text_id").cast("string").alias("column_ref"),
        F.col("text").alias("value"), "pii_type", "match_text",
        "pstart", "pend")
    raw = raw.join(pos, ["column_ref", "value", "pii_type", "match_text"])
    gold = labeled.select(
        F.col("text_id").cast("string").alias("column_ref"),
        F.explode("labels").alias("l")) \
        .select("column_ref", F.col("l.start").alias("gstart"),
                F.col("l.end").alias("gend"),
                F.col("l.type").alias("gold_type"))
    j = raw.join(
        gold,
        (raw.column_ref == gold.column_ref)
        & (F.col("pstart") - 1 < F.col("gend"))
        & (F.col("gstart") < F.col("pend") - 1),
        "left")
    w = Window.partitionBy(raw.column_ref, "pii_type", "pstart",
                           "score_type") \
        .orderBy(F.col("gstart").asc_nulls_last())
    pairs = (
        j.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        .select("score_type", "raw",
                F.coalesce(
                    (F.col("gold_type") == F.col("score_type"))
                    .cast("double"), F.lit(0.0)).alias("y")))
    rows = pairs.collect()
    cal = Calibrator()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.score_type, []).append((r.raw, r.y))
    for t, prs in by_type.items():
        y = np.array([p[1] for p in prs])
        if y.min() == y.max():  # no positives or all positives
            continue
        s = np.array([p[0] for p in prs])
        cal.params[t] = _fit_platt_1d(s, y)
    return cal


def fit_calibrator(labeled: DataFrame) -> Calibrator:
    rows = calibration_pairs(labeled).collect()
    cal = Calibrator()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.pii_type, []).append(
            (r.raw_score, r.is_type))
    for t, pairs in by_type.items():
        y = np.array([p[1] for p in pairs])
        if y.min() == y.max():  # degenerate -> identity (reference F6)
            continue
        s = np.array([p[0] for p in pairs])
        cal.params[t] = _fit_platt_1d(s, y)
    return cal
