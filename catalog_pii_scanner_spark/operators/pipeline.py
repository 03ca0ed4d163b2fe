"""The flagship scan composition (reference ``Ensemble.predict``,
src/catalog_pii_scanner/ensemble.py:69-136 — the engine behind
``cps scan_text``, cli.py:249-272):

    candidates -> redacted +/-48-char contexts (R4)
               -> N5 ``ner_sig`` share map (one aggregation per
                  distinct context, joined back with no regroup)
               -> E2 embedding probabilities (per distinct context)
               -> 11-type fusion with both signal maps bound
               -> calibrate -> normalize -> argmax [-> P6 gate]

Scale shape: signals compute once per DISTINCT context (keyed by
md5(context)) and join back — the model stages are bounded by
unique-context count, not candidate count. The candidate relation is
localCheckpointed so the extraction lineage isn't re-derived by the two
signal branches plus the fusion join (blocks free on driver GC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .embeddings import EmbedModel, deterministic_model, embed_probs
from .ensemble import (EnsembleWeights, REFERENCE_WEIGHTS, fuse_predictions,
                       raw_type_scores)
from .ner import NER_CONFIDENCE_MIN, ner_signal_map, require_provider
from .redaction import candidate_contexts

#: fusion input key columns.
CAND_COLS = ("column_ref", "value", "pii_type", "match_text")


def full_scan_predictions(
    cands: DataFrame,
    model: EmbedModel | None = None,
    weights: EnsembleWeights = REFERENCE_WEIGHTS,
    decision_threshold: float | None = None,
    ner_provider: str | None = "regex",
    calibration: dict[str, tuple[float, float]] | None = None,
    llm_cost_cap_usd: float | None = None,
    llm_cache_ttl_minutes: int | None = None,
    precomputed_enriched: DataFrame | None = None,
    ner_confidence_min: float = NER_CONFIDENCE_MIN,
) -> DataFrame:
    """Scored candidates (CAND_COLS + rule_confidence + validated) ->
    fused predictions with the REAL signal path bound. ``model`` defaults
    to the deterministic md5hex model (hermetic offline mode — the
    reference's CPS_OFFLINE analog); pass a trained EmbedModel for the
    live path.

    ``precomputed_enriched`` lets a caller that already evaluated the
    signal plumbing (``_enriched_candidates`` over the SAME cands/model/
    provider — identical by construction) hand it over, so compositions
    that fit AND predict (the trained eval) analyze the context/NER/
    embed tree once instead of twice; semantics are unchanged.

    ``ner_provider=None`` builds no N5 stage: every context takes the
    fusion's missing-signal path (null ``ner_sig``). Otherwise
    ``ner_confidence_min`` is the provider's N3 gate.

    With ``ner_provider='fake_llm'`` the declared LLM runtime knobs are
    ENFORCED, not just validated: ``llm_cost_cap_usd`` budget-gates the
    distinct-context relation through ``llm.llm_budget_plan`` before any
    model invocation (out-of-budget contexts simply contribute no NER
    signal — the fusion's missing-signal path), and
    ``llm_cache_ttl_minutes`` reaches the worker-singleton provider
    construction."""
    if precomputed_enriched is not None and (
            ner_provider != "regex" or llm_cost_cap_usd is not None
            or llm_cache_ttl_minutes is not None
            or ner_confidence_min != NER_CONFIDENCE_MIN):
        # the enrichment branch is the ONLY consumer of these knobs —
        # a precomputed relation was built under its caller's knobs, so
        # accepting both would silently drop the budget gate / TTL /
        # provider / gate the caller asked for here.
        raise ValueError(
            "precomputed_enriched already fixes the signal path; pass "
            "ner_provider/llm_cost_cap_usd/llm_cache_ttl_minutes/"
            "ner_confidence_min to the enrichment that builds it, not "
            "alongside it")
    enriched = (precomputed_enriched if precomputed_enriched is not None
                else _enriched_candidates(cands, model, ner_provider,
                                          llm_cost_cap_usd,
                                          llm_cache_ttl_minutes,
                                          ner_confidence_min))
    return fuse_predictions(
        enriched,
        weights=weights,
        calibration=calibration,
        ner_signal=F.col("ner_sig"),
        embed_signal=F.col("embed_probs"),
        decision_threshold=decision_threshold,
    ).select(*CAND_COLS, "label", "score")


def _enriched_candidates(
    cands: DataFrame,
    model: EmbedModel | None,
    ner_provider: str | None,
    llm_cost_cap_usd: float | None = None,
    llm_cache_ttl_minutes: int | None = None,
    ner_confidence_min: float = NER_CONFIDENCE_MIN,
) -> DataFrame:
    """Shared signal plumbing: distinct candidates + context -> N5
    ``ner_sig`` map (``ner_signal_map``, no aggregation here) + E2
    probability map joined back by context hash."""
    model = model or deterministic_model()
    # a missing model package fails here, before the checkpoint job
    require_provider(ner_provider)
    cands = (
        candidate_contexts(cands)
        .select(*CAND_COLS, "rule_confidence", "validated", "context")
        .distinct()
        .withColumn("ckey", F.md5("context"))
        .localCheckpoint(eager=True)
    )
    ctxs = cands.select("ckey", "context").distinct()
    emb_map = embed_probs(ctxs, model).select("ckey", "embed_probs")
    if ner_provider is None:
        return cands.withColumn(
            "ner_sig", F.lit(None).cast("map<string,double>")) \
            .join(emb_map, "ckey", "left")
    ner_ctxs, provider_opts = ctxs, None
    if ner_provider == "fake_llm":
        from .llm import llm_budget_plan
        if llm_cost_cap_usd is not None:
            # cap/price bounds the in-budget set regardless of corpus
            # size, so the semi-join side is broadcast-safe by
            # construction.
            plan = llm_budget_plan(ctxs, id_col="ckey",
                                   text_col="context",
                                   cost_cap_usd=llm_cost_cap_usd)
            allowed = plan.where("in_budget") \
                .select(F.col("ckey").alias("_ok_ckey"))
            ner_ctxs = ctxs.join(
                F.broadcast(allowed),
                F.col("ckey") == F.col("_ok_ckey"), "left_semi")
        if llm_cache_ttl_minutes is not None:
            provider_opts = {"cache_ttl_minutes": llm_cache_ttl_minutes}
    ner_map = ner_signal_map(ner_ctxs, ("ckey",), ner_provider,
                             provider_opts, ner_confidence_min)
    return cands.join(ner_map, "ckey", "left") \
                .join(emb_map, "ckey", "left")


def full_scan_raw_scores(enriched: DataFrame) -> DataFrame:
    """Pre-calibration per-type raw fused scores with the REAL signal
    path bound (reference ``Ensemble.raw_scores``, ensemble.py:138-167) —
    the input to the calibrator fit. ``enriched`` is the output of
    :func:`_enriched_candidates`. Output: CAND_COLS + rule_confidence
    + validated + score_type + raw (11 rows per candidate)."""
    return raw_type_scores(
        enriched, ner_signal=F.col("ner_sig"),
        embed_signal=F.col("embed_probs"),
    ).select(*CAND_COLS, "rule_confidence", "validated",
             "score_type", "raw")
