"""Training pipeline (reference entry point 3.3:
gen-synth -> train-embed -> calibrate -> eval, cli.py:291-385).

- ``gold_contexts``: redacted +/-48-char contexts of gold spans with the
  span masked by the shape mask (reference masks with '0's,
  cli.py:316-325; we reuse the R1 shape mask) — the embed-training rows.
  Distributed projection; collected to the driver for the (tiny) fit,
  exactly like the reference.
- ``train_embed``: E3 — OvR heads on gold contexts.
- ``labeled_basis``: the labeled corpus, its checkpointed candidate
  relation and the checkpointed N5+E2 enrichment of those candidates —
  built once, read by both the calibrator fit and the trained eval.
- ``fit_calibrator_ensemble``: F6 — the reference's per-type 1-D Platt
  fit (numpy logistic) over the full raw ensemble score; returns
  ``{type: (a, b)}`` for the fitted types only. Degenerate types
  (all-pos / all-neg) are left out and run at identity (1, 0), like the
  reference (ensemble.py:170-189).

Scale: the spans/contexts stages are projections over the labeled corpus;
only (score, label) pairs and contexts are collected — O(corpus), small
by construction. The fitted parameters broadcast back as plain literals.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .embeddings import EmbedModel
from .redaction import CONTEXT_WINDOW, mask
from .rules import extract_candidates


def labeled_candidates(labeled: DataFrame) -> DataFrame:
    """Candidates over a labeled corpus (text_id, text, labels) with char
    positions."""
    cands = extract_candidates(labeled.select("text_id", "text"),
                               value_col="text", keep_cols=("text_id",))
    return (
        cands
        .withColumn("pstart", F.instr("text", F.col("match_text")))
        .withColumn("pend", F.col("pstart") + F.length("match_text"))
    )


@dataclass(frozen=True)
class LabeledBasis:
    """What the calibrator fit and the trained eval both read: the
    labeled corpus (gold spans), its distinct candidates with positions
    and the candidates' N5+E2 signal enrichment under one embed model.
    Both relations are checkpointed, so each consumer plans against
    materialized data instead of re-deriving the extraction and the
    context/NER/embed tree."""
    corpus: DataFrame
    candidates: DataFrame
    enriched: DataFrame

    @property
    def fusion_candidates(self) -> DataFrame:
        return _fusion_input(self.candidates)


def _fusion_input(lc: DataFrame) -> DataFrame:
    """Labeled candidates in the fusion's input shape (CAND_COLS +
    rule_confidence + validated), text_id as column_ref."""
    return lc.select(
        F.col("text_id").cast("string").alias("column_ref"),
        F.col("text").alias("value"),
        "pii_type", "match_text", "rule_confidence", "validated")


def labeled_basis(labeled: DataFrame,
                  model: EmbedModel | None) -> LabeledBasis:
    """Extract and enrich a labeled corpus once (``model`` None: the
    deterministic offline model)."""
    from .pipeline import _enriched_candidates
    lc = (labeled_candidates(labeled)
          .select("text_id", "text", "pii_type", "match_text",
                  "rule_confidence", "validated", "pstart", "pend")
          .distinct().localCheckpoint(eager=True))
    enriched = _enriched_candidates(_fusion_input(lc), model, "regex") \
        .localCheckpoint(eager=True)
    return LabeledBasis(labeled, lc, enriched)


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


def _fit_platt_1d(scores: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    a, b = 1.0, 0.0
    n = len(y)
    for _ in range(500):
        p = 1.0 / (1.0 + np.exp(-(a * scores + b)))
        g = p - y
        a -= float(g @ scores) / n
        b -= float(g.sum()) / n
    return a, b




def fit_calibrator_ensemble(basis: LabeledBasis
                            ) -> dict[str, tuple[float, float]]:
    """The reference's calibration fit, faithfully (eval.py:80-103 +
    ensemble.py:170-189): per PII type t, a 1-D Platt scaler over the
    FULL raw ensemble score raw[t] of EVERY candidate (not just
    candidates of type t), labeled y = (first-overlapping gold's type ==
    t). Degenerate types (no positives / all positives) are not fitted
    — they run at identity, reference ensemble.py:180-182.

    The (raw, y) pairs collect to the driver for the numpy fit, as the
    reference does: calibration sets are small by design (a labeled
    sample, not the corpus); at scale the caller samples the corpus
    first. The raw scores themselves are computed distributed with the
    real N5+E2 signal path."""
    from .pipeline import full_scan_raw_scores

    raw = full_scan_raw_scores(basis.enriched)
    pos = basis.candidates.select(
        F.col("text_id").cast("string").alias("column_ref"),
        F.col("text").alias("value"), "pii_type", "match_text",
        "pstart", "pend")
    raw = raw.join(pos, ["column_ref", "value", "pii_type", "match_text"])
    gold = basis.corpus.select(
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
    by_type: dict[str, list] = {}
    for r in pairs.collect():
        by_type.setdefault(r.score_type, []).append((r.raw, r.y))
    params: dict[str, tuple[float, float]] = {}
    for t, prs in by_type.items():
        y = np.array([p[1] for p in prs])
        if y.min() == y.max():  # no positives or all positives
            continue
        s = np.array([p[0] for p in prs])
        params[t] = _fit_platt_1d(s, y)
    return params
