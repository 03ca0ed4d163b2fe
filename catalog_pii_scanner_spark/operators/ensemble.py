"""Ensemble fusion, Platt calibration, normalization, argmax (F1-F5).

Reference semantics (src/catalog_pii_scanner/ensemble.py:96-136): per
candidate and per PII type t,

    raw[t] = w_rule * rule_conf * [rule_label == t]
           + validation_bonus * [validations[t]]
           + w_ner * ner_signal[t]
           + w_embed * embed_prob[t]
    cal[t] = sigmoid(a_t * raw[t] + b_t)          (identity: a=1, b=0)
    prob[t] = cal[t] / sum_u cal[u]
    label  = argmax_t prob[t]   (ties: ALL_PII_TYPES order)

The reference ships TWO default weight sets that disagree (ensemble.py:65-67
dataclass 0.6/0.2/0.4 vs config.py:45-47 config 0.4/0.3/0.3); both are
exposed here, dataclass defaults used for parity (SURVEY §7.6).

Scale design: fusion is computed WITHOUT exploding candidates x types — a
single projection computes the 11 calibrated scores as plain scalar
columns, totals them with ``+``, and argmaxes with ``greatest`` + a
first-match CASE chain (type order == tie-break order). Zero shuffles,
fully JVM-side, stays inside whole-stage codegen — the earlier
array-of-struct + ``aggregate``/``array_sort`` HOF formulation dropped
the stage to interpreted eval (measured 68.8 s -> ~4 s at sf0.1 for
pii_ensemble_predictions after this rewrite). (The DuckDB oracle uses
the equivalent explode + window formulation.)

NER/embedding signals arrive as MAP<STRING,DOUBLE> columns from the model
stages (operators/ner.py, operators/embeddings.py). ``offline_signal``
provides the deterministic hermetic-mode signal (the analog of the
reference's CPS_OFFLINE seeded fallbacks, embeddings.py:66-68) — an
md5-derived value in [0,1], identically computable in Spark and DuckDB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pii_types import ALL_PII_TYPES
from ..plans.barrier import barrier_filter


@dataclass(frozen=True)
class EnsembleWeights:
    w_rule: float = 0.6
    w_ner: float = 0.2
    w_embed: float = 0.4
    validation_bonus: float = 0.2


#: ensemble.py:65-67 dataclass defaults (used by the reference's live path).
REFERENCE_WEIGHTS = EnsembleWeights()

#: Deterministic non-identity Platt parameters per type (exercises F2 with
#: a != 1, b != 0 in a reproducible way; identity would hide calibration
#: bugs). a_t = 1 + 0.05*rank, b_t = -0.1 + 0.02*rank in type order.
CALIBRATION = {
    t: (round(1.0 + 0.05 * i, 2), round(-0.1 + 0.02 * i, 2))
    for i, t in enumerate(ALL_PII_TYPES)
}

#: The reference's LIVE default: an identity Platt calibrator
#: (ensemble.py:34-42's load-fallback, a=1 b=0 per type). The CLI uses
#: this so scale/offset test constants never flip user-facing argmax
#: labels; the oracle queries keep the non-identity CALIBRATION above to
#: exercise F2 with a != 1.
IDENTITY_CALIBRATION = {t: (1.0, 0.0) for t in ALL_PII_TYPES}

_HEX = "0123456789abcdef"


def offline_signal(match_col: Column, pii_type: Column | str,
                   salt: str) -> Column:
    """Deterministic pseudo-signal in [0,1]: first md5 hex digit of
    ``match:salt:type`` scaled by 1/15. Same construction as
    :func:`offline_signal_sql`."""
    t = F.lit(pii_type) if isinstance(pii_type, str) else pii_type
    h = F.md5(F.concat_ws(":", match_col, F.lit(salt), t))
    return (F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - F.lit(1)) / F.lit(15.0)


def offline_signal_sql(match_col: str, type_expr: str, salt: str) -> str:
    h = f"md5({match_col} || ':{salt}:' || {type_expr})"
    return f"((instr('{_HEX}', substr({h}, 1, 1)) - 1) / 15.0)"


def _sigmoid(x: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def _raw_expr(t: str, weights: EnsembleWeights,
              ner_signal: Column | None,
              embed_signal: Column | None) -> Column:
    """raw[t] for one type (the pre-calibration fused score — reference
    ensemble.py:96-110)."""
    def from_map(m: Column) -> Column:
        return F.coalesce(F.element_at(m, F.lit(t)), F.lit(0.0))

    is_label = (F.col("pii_type") == t).cast("double")
    ner = (from_map(ner_signal) if ner_signal is not None
           else offline_signal(F.col("match_text"), t, "ner"))
    emb = (from_map(embed_signal) if embed_signal is not None
           else offline_signal(F.col("match_text"), t, "embed"))
    return (F.lit(weights.w_rule) * F.col("rule_confidence") * is_label
            + F.lit(weights.validation_bonus)
            * F.col("validated").cast("double") * is_label
            + F.lit(weights.w_ner) * ner
            + F.lit(weights.w_embed) * emb)


def raw_type_scores(
    cands: DataFrame,
    ner_signal: Column | None = None,
    embed_signal: Column | None = None,
) -> DataFrame:
    """Per-candidate per-type RAW fused scores, pre-calibration — the
    reference's ``Ensemble.raw_scores`` (ensemble.py:138-167), consumed
    by the calibrator fit. Output: every input column + ``score_type`` +
    ``raw``, exploded 11x per candidate (calibration-fit sets are small
    by construction — the serving path never explodes; see
    fuse_predictions)."""
    rows = F.array(*[
        F.struct(F.lit(t).alias("t"),
                 _raw_expr(t, REFERENCE_WEIGHTS, ner_signal, embed_signal)
                 .alias("raw"))
        for t in ALL_PII_TYPES])
    return (cands.withColumn("_tr", F.explode(rows))
            .select(*cands.columns,
                    F.col("_tr.t").alias("score_type"),
                    F.col("_tr.raw").alias("raw")))


def fuse_predictions(
    cands: DataFrame,
    weights: EnsembleWeights = REFERENCE_WEIGHTS,
    calibration: dict[str, tuple[float, float]] | None = None,
    ner_signal: Column | None = None,
    embed_signal: Column | None = None,
    decision_threshold: float | None = None,
) -> DataFrame:
    """Candidates -> predictions with full 11-type fusion.

    ``cands`` needs columns pii_type (rule label), match_text,
    rule_confidence, validated. ``ner_signal``/``embed_signal`` are
    MAP<STRING,DOUBLE> columns (type -> signal, the shape the N5/E2
    stages emit; absent types read as 0.0) — pass None for the offline
    deterministic md5 signals (the hermetic-mode fallback).

    Adds: ``label`` (argmax type), ``score`` (normalized argmax prob,
    rounded 1e-6), keeping all input columns. ``decision_threshold`` is
    the P6 consumer gate (reference config.py:64 — declared there, applied
    by consumers): it gates on the CALIBRATED argmax probability (the
    sigmoid-scale value, before 11-way normalization), matching the
    reference's scale where 0.55 is an attainable default. Gating on the
    normalized share would cap achievable scores near 1/n_types and make
    the config default drop everything. None skips the gate.
    """
    calibration = calibration or CALIBRATION

    def per_type(t: str) -> Column:
        raw = _raw_expr(t, weights, ner_signal, embed_signal)
        a, b = calibration[t]
        return _sigmoid(F.lit(a) * raw + F.lit(b))

    cal_cols = [f"_cal_{i}" for i in range(len(ALL_PII_TYPES))]
    # batch the column additions into THREE selects instead of 13 chained
    # withColumns: every withColumn re-analyzes the whole (large) fusion
    # expression tree, and the re-analysis rounds dominated driver time
    # (measured 4.6 s -> 0.6 s DataFrame-build for
    # pii_ensemble_predictions at sf0.01; the optimized plan is
    # identical — tests/test_barrier.py still pins the shape).
    out = cands.select(
        "*", *[per_type(t).alias(cal_cols[i])
               for i, t in enumerate(ALL_PII_TYPES)])
    total = sum((F.col(c) for c in cal_cols[1:]), F.col(cal_cols[0]))
    best = F.greatest(*[F.col(c) for c in cal_cols])
    out = out.select("*", best.alias("_best"))
    # first type reaching the max == ALL_PII_TYPES-order tie-break
    # (greatest returns one of the operands verbatim, so == is exact)
    chain = F.when(F.col(cal_cols[0]) == F.col("_best"),
                   F.lit(ALL_PII_TYPES[0]))
    for i, t in list(enumerate(ALL_PII_TYPES))[1:]:
        chain = chain.when(F.col(cal_cols[i]) == F.col("_best"), F.lit(t))
    out = out.select(
        "*", chain.alias("label"),
        F.round(F.col("_best") / total, 6).alias("score"))
    if decision_threshold is not None:
        # gate on the ROUNDED calibrated argmax prob so the oracle's
        # WHERE matches exactly. barrier_filter stops Catalyst pushing
        # the gate below the candidate distinct: pushed, the conjunct is
        # substituted with the FULL 11-type fusion tree (22 md5 calls) and
        # re-evaluated per pre-distinct row, and it drags the checksum
        # ArrowEvalPython stage in with it (measured: 3.1 s -> 10.3 s for
        # the gated query at sf0.1 when pushed).
        out = barrier_filter(
            out, F.round(F.col("_best"), 6) >= F.lit(decision_threshold))
    return out.drop("_best", *cal_cols)


def ensemble_oracle_sql(cands_rel: str,
                        decision_threshold: float | None = None,
                        ner_rel: str | None = None,
                        embed_hash_col: str | None = None) -> str:
    """DuckDB rendering: explode candidates x 11 types, window-normalize,
    argmax via row_number with type-order tie-break. ``cands_rel`` must be a
    relation of DISTINCT candidate rows with the fusion input columns.

    Signal sources (default: the offline md5 placeholders):
    - ``ner_rel``: a (ckey, pii_type, signal) relation (the N5 histogram
      keyed by context hash); requires ``cands_rel`` to expose ``ckey``.
      Absent types contribute 0.0.
    - ``embed_hash_col``: name of a md5(context) column on ``cands_rel``;
      renders the E2 deterministic md5hex logistic heads
      (embeddings.deterministic_head_weights) per type — the exact
      arithmetic the mapInPandas embed stage computes.
    """
    def embed_vals(t: str) -> str:
        from .embeddings import EMBED_DIM, deterministic_head_weights
        w = deterministic_head_weights(t)
        cells = [f"CAST({float(w[EMBED_DIM])!r} AS DOUBLE)"]
        cells += [f"CAST({float(w[j])!r} AS DOUBLE)"
                  for j in range(EMBED_DIM)]
        return ", " + ", ".join(cells)

    extra_names = ""
    if embed_hash_col is not None:
        from .embeddings import EMBED_DIM
        extra_names = ", eb, " + ", ".join(
            f"w{j}" for j in range(EMBED_DIM))
    type_rows = ", ".join(
        f"('{t}', {i}, CAST({CALIBRATION[t][0]} AS DOUBLE), "
        f"CAST({CALIBRATION[t][1]} AS DOUBLE)"
        + (embed_vals(t) if embed_hash_col is not None else "") + ")"
        for i, t in enumerate(ALL_PII_TYPES))

    if ner_rel is None:
        ner = offline_signal_sql("c.match_text", "t.t_type", "ner")
        ner_join = ""
    else:
        ner = "COALESCE(ns.signal, CAST(0.0 AS DOUBLE))"
        ner_join = (f"\n  LEFT JOIN {ner_rel} ns"
                    f" ON ns.ckey = c.ckey AND ns.pii_type = t.t_type")
    if embed_hash_col is None:
        emb = offline_signal_sql("c.match_text", "t.t_type", "embed")
    else:
        from .embeddings import EMBED_DIM
        digits = " + ".join(
            f"t.w{j} * (instr('{_HEX}', "
            f"substr(c.{embed_hash_col}, {j + 1}, 1)) - 1)"
            for j in range(EMBED_DIM))
        emb = f"(1.0 / (1.0 + exp(-(t.eb + {digits}))))"

    raw = (f"({REFERENCE_WEIGHTS.w_rule} * c.rule_confidence * "
           f"(CASE WHEN c.pii_type = t.t_type THEN 1.0 ELSE 0.0 END) + "
           f"{REFERENCE_WEIGHTS.validation_bonus} * "
           f"(CASE WHEN c.validated AND c.pii_type = t.t_type THEN 1.0 "
           f"ELSE 0.0 END) + {REFERENCE_WEIGHTS.w_ner} * {ner} + "
           f"{REFERENCE_WEIGHTS.w_embed} * {emb})")
    cal = f"(1.0 / (1.0 + exp(-(t.a * {raw} + t.b))))"
    part = "c.column_ref, c.value, c.pii_type, c.match_text"
    gate = ("" if decision_threshold is None
            else f" AND cal_best >= {decision_threshold}")
    return f"""
SELECT column_ref, value, pii_type, match_text, label, score FROM (
  SELECT {part}, t.t_type AS label, round({cal}, 6) AS cal_best,
         round({cal} / SUM({cal}) OVER (PARTITION BY {part}), 6) AS score,
         row_number() OVER (PARTITION BY {part}
                            ORDER BY {cal} DESC, t.t_rank) AS rn
  FROM {cands_rel} c
  CROSS JOIN (VALUES {type_rows}) t(t_type, t_rank, a, b{extra_names})
  {ner_join}
) WHERE rn = 1{gate}
"""
