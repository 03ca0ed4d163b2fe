"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship scan on sf0.001.
``queries()`` — one callable per implemented operator group (SURVEY.md §2
ids noted inline); each takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL per query key.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catalog_pii_scanner_spark import oracles
from catalog_pii_scanner_spark.plans.cache import fan_out
from catalog_pii_scanner_spark.operators import (analytics, bpe, corpus,
                                                 dedup, dsir, llm,
                                                 metadata_rules, multimodal,
                                                 ner, pca, pii_docs,
                                                 quality, simsearch,
                                                 textstats)
from catalog_pii_scanner_spark.operators import evaluate as _evaluate_mod
from catalog_pii_scanner_spark.operators.ensemble import (
    ensemble_oracle_sql, fuse_predictions)
from catalog_pii_scanner_spark.operators.evaluate import (
    eval_metrics, eval_metrics_oracle_sql, eval_trained_oracle_sql,
    eval_trained_query, repeated_span_oracle_sql, repeated_span_scan)
from catalog_pii_scanner_spark.operators.features import (
    candidate_features, candidate_features_oracle_sql)
from catalog_pii_scanner_spark.operators.findings import (
    candidates_rollup, candidates_rollup_oracle_sql, findings_rollup,
    scan_values)
from catalog_pii_scanner_spark.operators.profile import (
    profile_columns, profile_columns_oracle_sql)
from catalog_pii_scanner_spark.operators.redaction import (
    candidate_contexts, redaction_oracle_exprs, suppress_and_redact,
    suppress_redact_oracle_cte)
from catalog_pii_scanner_spark.operators.rules import rules_for_types
from catalog_pii_scanner_spark.sources.catalog import (
    catalog_columns_oracle_sql, hms_catalog_columns,
    parquet_catalog_columns)
from catalog_pii_scanner_spark.sources.glue import (
    GlueEnumerator, glue_columns, glue_columns_oracle_sql,
    stub_glue_client)
from catalog_pii_scanner_spark.sources.demo_catalog import (
    DEMO_TEXT_COLUMNS, demo_pii_df)
from catalog_pii_scanner_spark.sources.melt import melt_df, melt_table
from catalog_pii_scanner_spark.sources.unity import (
    stub_information_schema, stub_rest_client, unity_catalog_columns,
    unity_columns_oracle_sql, unity_rest_columns)
from catalog_pii_scanner_spark.sources.sampler import (
    athena_sample_column, athena_sample_oracle_sql, sample_columns,
    sample_columns_oracle_sql)
from catalog_pii_scanner_spark.operators.sketches import (
    sketch_hll_distinct, sketch_hll_distinct_oracle_sql,
    bloom_semijoin_filter, bloom_semijoin_oracle_sql,
    sketch_histogram_quantiles, sketch_histogram_quantiles_oracle_sql,
    hll_sketch_only_sql, kmv_sketch_only_sql,
    sketch_cms_heavy_hitters, sketch_cms_oracle_sql, cms_counters_sql,
    sketch_hll_union, sketch_hll_union_oracle_sql,
    sketch_kmv_distinct, sketch_kmv_distinct_oracle_sql)
from catalog_pii_scanner_spark.operators.incremental import (
    distinct_basis, findings_merge_upsert, findings_merge_upsert_oracle_sql,
    incremental_findings, incremental_findings_oracle_sql,
    writeback_diff_plan, writeback_diff_plan_oracle_sql)


def sketches_hll_sketch_only_oracle() -> str:
    return hll_sketch_only_sql("duckdb")
from catalog_pii_scanner_spark.operators.dq import (
    dq_constraint_suite, dq_constraint_oracle_sql,
    dq_anomaly_days, dq_anomaly_oracle_sql,
    dq_referential_suite, dq_referential_oracle_sql,
    dq_k_anonymity, dq_k_anonymity_oracle_sql)
from catalog_pii_scanner_spark.operators.layout import (
    layout_zorder_stats, layout_zorder_oracle_sql,
    layout_compaction_plan, layout_compaction_oracle_sql,
    layout_partition_skew, layout_skew_oracle_sql)
from catalog_pii_scanner_spark.streaming.watcher import (
    events_hourly, events_hourly_oracle_sql, events_props_stats,
    events_props_stats_oracle_sql, events_sessions,
    events_value_outliers, events_value_outliers_oracle_sql,
    events_asof_join, events_asof_join_oracle_sql,
    events_hourly_gapfill, events_hourly_gapfill_oracle_sql,
    events_funnel, events_funnel_oracle_sql, events_retention,
    events_retention_oracle_sql,
    events_sessions_oracle_sql, events_sessions_salted,
    stream_dedup_events, stream_dedup_keep_list,
    stream_phash_keep_list, stream_quality_classifier,
    stream_hll_distinct, stream_kmv_distinct, stream_cms_counters,
    stream_events_recent_score, events_recent_score_oracle_sql,
    events_neighbor_window, events_neighbor_window_oracle_sql,
    stream_dedup_events_oracle_sql, stream_doc_pii_density,
    stream_dsir_select,
    stream_events_hourly, stream_events_hourly_oracle_sql,
    stream_events_sessions, stream_events_sessions_oracle_sql)

SF0001 = "/root/testdata/sf0.001"

#: Real testdata tables included in the whole-catalog scan query — the
#: full catalog including the big fact table (lineitem) and the text-heavy
#: tables (events.props JSON, documents.text), so the headline scan
#: benchmarks a realistic whole-catalog pass.
SCAN_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents")

CAND_COLS = ("column_ref", "value", "pii_type", "match_text")


def _demo_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return melt_df(demo_pii_df(spark, sf_dir), "demo_crm", DEMO_TEXT_COLUMNS)


def _tables_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    dfs = [melt_table(spark, sf_dir, t) for t in SCAN_TABLES]
    return reduce(DataFrame.unionByName, dfs)


#: Entry-level memos of checkpointed shared relations. Each memoized
#: relation is a pure function of (sf_dir, registered defaults), so
#: sharing it cannot change any result; each query's OWN plan shape
#: downstream of the shared leaf is unchanged and the oracles still
#: state the full derivation per query. The memos (consumers in
#: parentheses; pre-r13 each consumer re-derived its own copy per
#: bench run — the catalog basis alone was ~16 % of the r12 suite):
#:   _BASIS_MEMO    — distinct catalog basis over the 9 scan tables
#:                    (pii_scan_catalog_tables, sample_columns_topn,
#:                    pii_incremental_scan, findings_merge_upsert,
#:                    writeback_diff_plan)
#:   _DEDUP_CHAIN_MEMO — LSH pairs / connected-component clusters,
#:                    per-stage slots so a pairs-only caller never pays
#:                    label propagation (near_pairs, clusters, keep_list)
#:   _SHINGLES_MEMO — DISTINCT (doc_id, shingle) (minhash signatures,
#:                    the LSH chain build, ngram-jaccard, containment)
#:   _PHASH_MEMO    — decode+aHash (asset_id, b0..b3) (phash_dedup,
#:                    phash_keep_list)
#:   _DEMO_*_MEMO   — demo-CRM melt + scored candidate extraction
#:                    (~10 demo-scan queries)
_BASIS_MEMO: dict = {}
_DEDUP_CHAIN_MEMO: dict = {}
_SHINGLES_MEMO: dict = {}
_PHASH_MEMO: dict = {}
_DEMO_VALS_MEMO: dict = {}
_DEMO_CANDS_MEMO: dict = {}
#: trained-ANN fitted artifacts (the eval_trained_metrics fitted-state
#: discipline): the PQ codebook relation is shared by BOTH trained
#: template queries, the coarse centroids by the IVFADC one; each is a
#: bounded checkpointed relation (codes x DIMS / n_cells x DIMS rows)
#: and the bench's run-1 "cold" row reports the honest fit cost
_ANN_TRAIN_MEMO: dict = {}

#: Every entry-level memo dict, so clear_session_memos can evict them
#: all in one place.
_SESSION_MEMOS = (_BASIS_MEMO, _DEDUP_CHAIN_MEMO, _SHINGLES_MEMO,
                  _PHASH_MEMO, _DEMO_VALS_MEMO, _DEMO_CANDS_MEMO,
                  _ANN_TRAIN_MEMO)


def _session_memo(memo: dict, spark: SparkSession, sf_dir: str,
                  build: Callable[[], DataFrame], slot: str = ""):
    """One-session memo of a checkpointed shared relation: keyed by
    (applicationId, sf_dir, slot). Entries from any other session or
    sf_dir are evicted first, so a dead session's checkpoint blocks are
    never handed out and only one (session, sf_dir)'s relations are
    ever held — the eviction discipline lives here, once, instead of
    being copy-pasted per memo (r13 review finding)."""
    key = (spark.sparkContext.applicationId, sf_dir, slot)
    if key not in memo:
        for stale in [k for k in memo if k[:2] != key[:2]]:
            del memo[stale]
        memo[key] = build()
    return memo[key]


def clear_session_memos() -> None:
    """Evict every entry-level shared-relation memo (plus the trained
    eval memo in operators/evaluate.py). Measurement tools
    (tools/scale_probe.py) call this between timed runs so a "warm"
    timing re-pays the shared-derivation cost the probe is measuring
    instead of silently hitting the memo (r13 review finding)."""
    for m in _SESSION_MEMOS:
        m.clear()
    _evaluate_mod._TRAINED_MEMO.clear()


def _tables_basis(spark: SparkSession, sf_dir: str):
    return _session_memo(
        _BASIS_MEMO, spark, sf_dir,
        lambda: distinct_basis(_tables_values(spark, sf_dir)))


def _dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lsh_near_dup_pairs eager-checkpoints its result itself
    return _session_memo(
        _DEDUP_CHAIN_MEMO, spark, sf_dir,
        lambda: dedup.lsh_near_dup_pairs(
            spark, sf_dir, shingles=_doc_shingles(spark, sf_dir)),
        slot="pairs")


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # separate slot: built only on first clusters/keep_list access, so
    # a pairs-only caller never pays the label-propagation iterations
    return _session_memo(
        _DEDUP_CHAIN_MEMO, spark, sf_dir,
        lambda: dedup.connected_components(_dedup_pairs(spark, sf_dir))
        .localCheckpoint(eager=True),
        slot="clusters")


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_memo(
        _SHINGLES_MEMO, spark, sf_dir,
        lambda: dedup.doc_shingles_df(spark, sf_dir)
        .localCheckpoint(eager=True))


def _phash_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the single-split docs scan would otherwise run the whole
    # Arrow decode+aHash pass as ONE task (the stream drain repartitions
    # its microbatches for exactly this reason — PERF.md r7)
    return _session_memo(
        _PHASH_MEMO, spark, sf_dir,
        lambda: multimodal.ahash_bands(fan_out(
            multimodal.synthetic_pgm_neardup_assets(spark, sf_dir)))
        .localCheckpoint(eager=True))


def _pqt_cb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_memo(
        _ANN_TRAIN_MEMO, spark, sf_dir,
        lambda: simsearch.trained_pq_cb_df(spark, sf_dir),
        slot="pqt_cb")


def _ivfpqt_cent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_memo(
        _ANN_TRAIN_MEMO, spark, sf_dir,
        lambda: simsearch.trained_ivfpq_cent_df(spark, sf_dir),
        slot="ivfpqt_cent")


def _demo_values_ck(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out before the checkpoint: every demo-family consumer's Arrow
    # extraction stage inherits the checkpoint's partitioning, so a
    # 1-split melt would serialize ~10 queries' Python stages
    return _session_memo(
        _DEMO_VALS_MEMO, spark, sf_dir,
        lambda: fan_out(_demo_values(spark, sf_dir))
        .localCheckpoint(eager=True))


def _demo_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_memo(
        _DEMO_CANDS_MEMO, spark, sf_dir,
        lambda: scan_values(_demo_values_ck(spark, sf_dir))
        .localCheckpoint(eager=True))


def _candidates_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _demo_candidates(spark, sf_dir).select(
        *CAND_COLS,
        F.round("rule_confidence", 6).alias("rule_confidence"),
        "validated", F.round("prob", 6).alias("prob"))


def _redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return candidate_contexts(_demo_candidates(spark, sf_dir)).select(
        *CAND_COLS, "masked_match", "redacted_value", "context")


def _ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    cands = _demo_candidates(spark, sf_dir) \
        .select(*CAND_COLS, "rule_confidence", "validated").distinct()
    return fuse_predictions(cands).select(*CAND_COLS, "label", "score")


#: P6 gate value for the oracle-checked query. The gate applies to the
#: CALIBRATED argmax probability (sigmoid scale, reference semantics);
#: with offline signals the demo corpus spans ~[0.61, 0.85], so 0.7
#: meaningfully splits rows.
GATE_THRESHOLD = 0.7

#: P5 subset for the oracle-checked enabled-types scan.
ENABLED_SUBSET = ("EMAIL", "PHONE_NUMBER", "CREDIT_CARD")

#: glob gates for the oracle-checked Unity enumeration (S2/P1).
UNITY_PATTERNS = ("c*", "orders", "line?tem")

#: glob gates for the oracle-checked Glue enumeration (S1/P1).
GLUE_PATTERNS = ("nation", "s*", "events")

#: S6 cost-capped sampler query shape: WHERE predicate pushed to the
#: scan, a 25% hash-fraction (the BytesScannedCutoff analog), top-50 in
#: deterministic pseudo-random order.
ATHENA_SAMPLE_ARGS = ("lineitem", "l_extendedprice")
ATHENA_SAMPLE_KW = dict(n=50, where="l_quantity >= 25",
                        sample_fraction=0.25)


def _ensemble_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    cands = _demo_candidates(spark, sf_dir) \
        .select(*CAND_COLS, "rule_confidence", "validated").distinct()
    return fuse_predictions(cands, decision_threshold=GATE_THRESHOLD) \
        .select(*CAND_COLS, "label", "score")


def _scan_enabled_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from catalog_pii_scanner_spark.operators.rules import rules_for_types
    return findings_rollup(_demo_values_ck(spark, sf_dir),
                           rules=rules_for_types(ENABLED_SUBSET))


def _ner_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The rules and NER branches both consume the melted demo values;
    # localCheckpoint materializes the (small) melt ONCE so the two
    # extraction jobs don't each re-derive — and re-codegen — its lineage
    # (r4 bench: best-of-3 4.07 s with 5.3x spread; the shared-relation
    # checkpoint is the same discipline eval_greedy_metrics uses).
    vals = _demo_values_ck(spark, sf_dir)
    rule_cands = scan_values(vals)
    ner_spans = ner.detect_ner_spans(
        vals.where(F.col("value").isNotNull()).distinct())
    return ner.merge_with_rules(rule_cands, ner_spans)


def _ner_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = _redaction(spark, sf_dir) \
        .select("column_ref", "match_text", "context").distinct()
    return ner.ner_context_signals(ctx)


def _full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship ``scan_text`` semantics end-to-end
    (reference ensemble.py:69-136): extract -> redacted +/-48 contexts
    (R4) -> N5 context-signal histogram -> E2 embed probabilities (real
    mapInPandas stage, deterministic md5hex model) -> 11-type fusion with
    BOTH signal maps bound (not the offline placeholders). See
    operators/pipeline.py for the composition."""
    from catalog_pii_scanner_spark.operators.pipeline import (
        full_scan_predictions)
    return full_scan_predictions(_demo_candidates(spark, sf_dir))


def _full_pipeline_oracle() -> str:
    e = redaction_oracle_exprs("duckdb")
    nersig = ner.ner_context_signals_oracle_sql(
        "ctxh", keep=("ckey",), wrap_cte="nersig").strip()
    return (
        _scored_demo_cte()
        + f""",
cand_rel AS (
  SELECT DISTINCT column_ref, value, pii_type, match_text,
         rule_confidence, validated, {e['context']} AS context
  FROM scored
),
ctxh AS (
  SELECT context, md5(context) AS ckey
  FROM (SELECT DISTINCT context FROM cand_rel)
),
{nersig},
cand2 AS (SELECT c.*, md5(c.context) AS ckey FROM cand_rel c)
"""
        + ensemble_oracle_sql("cand2", ner_rel="nersig",
                              embed_hash_col="ckey"))


def _ner_signals_oracle() -> str:
    e = redaction_oracle_exprs("duckdb")
    return (_scored_demo_cte() +
            f", ctx AS (SELECT DISTINCT column_ref, match_text, "
            f"{e['context']} AS context FROM scored),\n"
            + ner.ner_context_signals_oracle_sql("ctx").lstrip())


def _overlap_suppressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: sequential-greedy overlap suppression + whole-text redaction
    over the eval corpus (whose PERSON-bigram false positives genuinely
    overlap the gold entity spans, so suppression does real work)."""
    from catalog_pii_scanner_spark.operators.evaluate import eval_texts
    from catalog_pii_scanner_spark.operators.rules import (
        extract_candidates_pdf)
    texts = eval_texts(spark, sf_dir)
    # position-exact offsets (oracle stays instr-derived: equal on this
    # corpus since every entity string occurs once per text)
    preds = extract_candidates_pdf(texts, value_col="text",
                                   keep_cols=("text_id",)) \
        .select("text_id", "pstart", "pend", "pii_type", "match_text")
    return suppress_and_redact(texts, preds)


def _overlap_suppressed_oracle() -> str:
    from catalog_pii_scanner_spark.operators.evaluate import eval_entities_sql
    return f"""WITH RECURSIVE {eval_entities_sql('duckdb', 'customer').lstrip()},
{oracles.candidates_cte('texts', key_col='text_id', value_col='text').lstrip()},
preds AS (
  SELECT text_id, pii_type, match_text,
         instr(text, match_text) AS pstart,
         instr(text, match_text) + length(match_text) AS pend
  FROM cand_ok
),
{suppress_redact_oracle_cte('texts', 'preds').lstrip()}
SELECT text_id, n_spans, n_kept, redacted_text FROM osupp"""


def _hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metadata_rules.metadata_hints(
        parquet_catalog_columns(spark, sf_dir))


def _sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals, _, _ = _tables_basis(spark, sf_dir)
    return sample_columns(vals.select("column_ref", "value"),
                          pre_deduped=True)


# --- oracle assembly --------------------------------------------------------

def _scored_demo_cte() -> str:
    return "WITH " + oracles.scored_candidates_cte(
        oracles.demo_melted_sql()).lstrip()


def _candidates_detail_oracle() -> str:
    return (_scored_demo_cte() +
            "\nSELECT column_ref, value, pii_type, match_text, "
            "round(rule_confidence, 6) AS rule_confidence, validated, "
            "round(prob, 6) AS prob FROM scored")


def _redaction_oracle() -> str:
    e = redaction_oracle_exprs("duckdb")
    return (_scored_demo_cte() +
            f"\nSELECT column_ref, value, pii_type, match_text, "
            f"{e['masked_match']} AS masked_match, "
            f"{e['redacted_value']} AS redacted_value, "
            f"{e['context']} AS context FROM scored")


def _ensemble_oracle(decision_threshold: float | None = None) -> str:
    return (_scored_demo_cte() +
            ", cand_rel AS (SELECT DISTINCT column_ref, value, pii_type, "
            "match_text, rule_confidence, validated FROM scored)\n"
            + ensemble_oracle_sql("cand_rel",
                                  decision_threshold=decision_threshold))


# --- driver contract ---------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full PII scan of the demo CRM relation at sf0.001."""
    return findings_rollup(_demo_values(spark, SF0001))


#: DRIVER-ROUND-15 rotation (the driver gate checks the FIRST 50
#: queries() entries; rounds here and below are DRIVER rounds — the
#: committed CORRECTNESS_r*.json artifacts — never internal build
#: iterations).
#:
#: The round-14 rotation never landed, so the r13 and r14 artifacts
#: gated the same 50 entries, and round 15 begins with 100 entries at
#: or over the 3-round age bound: the 50 r11-latest rows at age 4 (the
#: round-14 declared cohort, MUST_FRONT_BY_ROUND[14]) and the 50
#: r12-latest rows at age 3. Fifty slots hold one cohort, so this
#: window fronts the OLDER one, verbatim (MUST_FRONT_BY_ROUND[15]);
#: the r12-latest cohort is declared for round 16
#: (MUST_FRONT_BY_ROUND[16]). Until then the age tripwire
#: (test_parked_driver_age_is_bounded) reports those 50 parked age-3
#: entries: the overflow of the skipped rotation, not a correctness
#: regression. No entry has a red latest row or lacks a driver row.
#: The FULL 150-query set is verified every session by
#: tools/selfcheck.py, tools/edge_sweep.py, and the scaling sweeps in
#: PERF.md.
FRONT_50 = [
    # the 50-entry r11-latest cohort (MUST_FRONT_BY_ROUND[14] and [15])
    "ann_filtered_topk", "ann_ivfpq_trained_topk",
    "ann_pq_trained_matmul", "catalog_columns", "corpus_bpe_apply",
    "corpus_bpe_encode", "corpus_bpe_merges", "corpus_chunk_overlap",
    "corpus_dsir_select", "corpus_line_dedup",
    "corpus_minhash_decontaminate", "corpus_normalize_text",
    "corpus_quality_classifier", "corpus_substring_dedup",
    "corpus_winnow_pairs", "dedup_clusters", "dedup_exact",
    "dedup_keep_list", "dedup_lsh_near_pairs",
    "dedup_minhash_signatures", "dedup_ngram_jaccard",
    "dedup_simhash", "dq_k_anonymity", "dq_referential_suite",
    "embed_hard_negatives", "embed_knn_eval", "embed_spectrum_stats",
    "eval_greedy_metrics", "events_transition_matrix",
    "layout_compaction_plan", "layout_partition_skew",
    "multimodal_phash_keep_list", "orders_basket_pairs",
    "pii_candidates_scored", "pii_full_pipeline",
    "pii_incremental_scan", "pii_metadata_hints",
    "pii_ner_merge_max", "pii_overlap_suppressed",
    "pii_repeated_spans", "pii_scan_catalog_tables",
    "pii_scan_enabled_types", "profile_columns",
    "sketch_cms_heavy_hitters", "stream_cms_counters",
    "stream_dedup_events", "stream_dedup_keep_list",
    "stream_dsir_select", "stream_events_recent_score",
    "tpch_local_supplier_volume",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """FRONT_50 first (driver-gated this round), then the parked tail
    in the catalog's stable literal order."""
    cat = _query_catalog()
    out = {k: cat.pop(k) for k in FRONT_50}
    out.update(cat)
    return out


def _query_catalog() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The full catalog in its historical literal order (comments carry
    # each entry's SURVEY.md ids and plan notes); queries() applies the
    # FRONT_50 rotation above.
    return {
        # --- (a) new / changed this round ---------------------------------
        # PQ with per-subspace Lloyd-TRAINED codebooks (FAISS
        # ProductQuantizer::train): training unrolled IN the
        # dual-dialect template, so DuckDB trains identically; recall
        # gate vs the prefix baseline in tests/test_ann_recall.py
        "ann_pq_trained_topk": lambda s, sf:
            simsearch.ann_pq_trained_topk(s, sf, cb=_pqt_cb(s, sf)),
        # image near-dup dedup: REAL PGM decode -> aHash -> banded
        # Hamming blocking (bucket-capped); oracle re-derives the hash
        # bits arithmetically from the SQL-built near-dup corpus
        "multimodal_phash_dedup": lambda s, sf:
            multimodal.phash_dedup_query(s, sf, hashes=_phash_hashes(s, sf)),
        # BM25 ranked retrieval top-k (eval-set mining / decon audits);
        # salted two-phase per-query top-k, decimal-exact term sums
        "corpus_bm25_topk": corpus.bm25_topk,
        # trained path: now shares ONE candidate extraction between the
        # calibrator fit and the eval (memoized deterministic prefix)
        "eval_trained_metrics": eval_trained_query,
        # PQ/IVFPQ declarative parity twins now gate on a candidate
        # subset (PQ_TWIN_CORPUS_MOD); serving twins keep the FULL
        # corpus and compute exact cosines ONLY for the ADC shortlist
        # (r5 ADVICE)
        "ann_pq_topk": simsearch.ann_pq_topk,
        "ann_pq_matmul": simsearch.ann_pq_matmul,
        "ann_ivfpq_topk": simsearch.ann_ivfpq_topk,
        "ann_ivfpq_matmul": simsearch.ann_ivfpq_matmul,
        # ------------------------------------------------------------------
        # X1-X10 + F1-F4 closed form + A6 rollup over synthesized CRM
        "pii_scan_demo_crm": lambda s, sf:
            findings_rollup(_demo_values_ck(s, sf)),
        # S5/P3/A7 deterministic sampler (salted two-phase top-k)
        "sample_columns_topn": _sample,
        # §2.11 grouping sets: one-pass ROLLUP candidate summary
        "pii_candidates_rollup": lambda s, sf:
            candidates_rollup(_demo_candidates(s, sf)),
        # P8 feature projection (~28 cols, pure codegen)
        "pii_candidate_features": lambda s, sf: candidate_features(
            _demo_candidates(s, sf)
            .select(*CAND_COLS, "rule_confidence", "validated")
            .distinct()),
        # R1/R2/R4 redaction + contexts
        "pii_redaction_contexts": _redaction,
        # F1-F5 full 11-type fusion + calibration + argmax
        "pii_ensemble_predictions": _ensemble,
        # P6 decision-threshold consumer gate on the fused predictions
        "pii_ensemble_gated": _ensemble_gated,
        # N5/A2 entity-label histogram over redacted contexts
        "pii_ner_context_signals": _ner_signals,
        # corpus-wide R3 guarantee: scrubbed documents table
        "corpus_anonymize": pii_docs.corpus_anonymize,
        # the scanner applied to the training corpus: per-doc PII budget
        "doc_pii_density": pii_docs.doc_pii_density,
        # the curation verdict with the PII budget fused in
        "corpus_curate_pii": pii_docs.corpus_curate_pii,
        # the session-window agg through a writeStream drain
        "stream_events_sessions": stream_events_sessions,
        # session windows (native session_window)
        "events_sessions": events_sessions,
        # as-of join (union + running-last window; native ASOF oracle)
        "events_asof_join": events_asof_join,
        # similarity search (declarative oracle-parity + BLAS serving)
        "ann_cosine_topk": simsearch.cosine_topk,
        "ann_cosine_matmul": simsearch.cosine_topk_matmul,
        "ann_lsh_topk": simsearch.ann_lsh_topk,
        # multi-probe LSH as a one-pass broadcast-probe-table search
        "ann_lsh_matmul": simsearch.ann_lsh_matmul,
        "ann_ivf_topk": simsearch.ann_ivf_topk,
        # IVF + BLAS one-pass search (FAISS IVF-flat shape; zero joins)
        "ann_ivf_matmul": simsearch.ann_ivf_matmul,
        # embedding-space topic/domain mixture (data-mixing dashboard)
        "embed_cluster_mix": simsearch.embed_cluster_mix,
        # oracle-checkable iterative Lloyd refinement (quantizer trainer)
        "embed_kmeans_lloyd": simsearch.embed_kmeans_lloyd,
        # multimodal plumbing (binary columns + mapInPandas features)
        "multimodal_features": multimodal.media_features_query,
        "multimodal_frame_sample": multimodal.frame_sample_query,
        # binary resize through the same Arrow mapInPandas signature a
        # real codec plugs into (byte-exact contract in tests)
        "multimodal_resize": multimodal.media_resize_query,
        # classic OLAP over the business tables: Q1-shape wide agg
        "tpch_pricing_summary": analytics.tpch_pricing_summary,
        # star join (broadcast dims) + TakeOrdered top-k
        "top_customers_by_revenue": analytics.top_customers_by_revenue,
        # partition-bounded cumulative window over monthly revenue
        "monthly_revenue_running": analytics.monthly_revenue_running,
        # PIVOT as fixed-schema conditional aggregation
        "orders_priority_pivot": analytics.orders_priority_pivot,
        # LEFT ANTI (NOT EXISTS) churn report with broadcast dims
        "churned_customers": analytics.churned_customers,
        # per-type z-score outliers (exact decimal moments, no window)
        "events_value_outliers": events_value_outliers,
        # cohort retention matrix (first-day cohorts x day offset)
        "events_retention": events_retention,
        # ordered sequential-min conversion funnel per user
        "events_funnel": events_funnel,
        # dense hour spine with zero-filled gaps (date-spine op)
        "events_hourly_gapfill": events_hourly_gapfill,
        # true Structured Streaming drain (availableNow watcher, §2.13)
        "stream_events_hourly": stream_events_hourly,
        # CCNet-style unigram LM doc scoring (decimal-exact reduction)
        "corpus_unigram_logprob": corpus.unigram_logprob,
        # bigram MLE transition model (salad-with-common-words filter)
        "corpus_bigram_logprob": corpus.bigram_logprob,
        # reproducible hash-range train/val/test split (zero shuffles)
        "corpus_split": corpus.corpus_split,
        # character-entropy quality signal (decimal-exact reduction)
        "corpus_char_entropy": corpus.corpus_char_entropy,
        # LLM cost-cap metering as a deterministic plan (ensemble+llm)
        "llm_budget_plan": lambda s, sf: llm.llm_budget_plan(
            s.read.parquet(f"{sf}/documents.parquet")),
        # asymmetric containment: quote/subset pairs the symmetric
        # Jaccard join structurally misses
        "dedup_containment": lambda s, sf:
            dedup.containment_pairs(s, sf,
                                    shingles=_doc_shingles(s, sf)),
        "dedup_embed_cosine": simsearch.embed_cosine_pairs,
        # ------------------------------------------------------------------
        # position-exact extraction over a corpus with REPEATED PII
        # strings (Span-semantics parity gate)
        "pii_repeated_spans": repeated_span_scan,
        # J1/J2 greedy span match + A3-A5 metrics (true offsets)
        "eval_greedy_metrics": eval_metrics,
        # P7 overlap suppression: greedy span skip + whole-text redaction
        "pii_overlap_suppressed": _overlap_suppressed,
        # N1/N3/N4 regex-provider NER + gate + max-merge with rules
        "pii_ner_merge_max": _ner_merge,
        # S1-S4 catalog enumeration -> canonical columns frame
        "catalog_columns": lambda s, sf:
            parquet_catalog_columns(s, sf),
        # S4 HMS walk: session-catalog round-trip (register + enumerate)
        "hms_columns": hms_catalog_columns,
        # S2 Unity information_schema scan with glob-pattern pushdown
        "unity_columns": lambda s, sf:
            unity_catalog_columns(stub_information_schema(s),
                                  table_patterns=UNITY_PATTERNS),
        # S1 Glue paginated+backoff protocol walk with fnmatch gates
        "glue_columns": lambda s, sf:
            glue_columns(s, GlueEnumerator(stub_glue_client()),
                         table_patterns=GLUE_PATTERNS),
        # X11 metadata keyword hints over the catalog frame
        "pii_metadata_hints": _hints,
        # S6 Athena-analog: WHERE pushdown + cost-cap fraction + rand
        # order + LIMIT
        "athena_sample_capped": lambda s, sf:
            athena_sample_column(s, sf, *ATHENA_SAMPLE_ARGS,
                                 **ATHENA_SAMPLE_KW),
        "doc_quality": textstats.doc_quality,
        "doc_lang_id": textstats.lang_id,
        "doc_token_counts": textstats.token_counts,
        "doc_fingerprints": textstats.fingerprints,
        # per-language length percentiles (exact; approx is the scale path)
        "doc_length_quantiles": textstats.length_quantiles,
        "dedup_exact": dedup.exact_dedup,
        "dedup_minhash_signatures": lambda s, sf:
            dedup.minhash_signatures(s, sf,
                                     shingles=_doc_shingles(s, sf)),
        "dedup_simhash": dedup.simhash,
        "corpus_vocab_topk": corpus.vocab_topk,
        "corpus_tfidf_keywords": corpus.tfidf_keywords,
        "corpus_sample_stratified": corpus.stratified_sample,
        "corpus_repetition": corpus.repetition,
        "corpus_decontaminate": corpus.decontaminate,
        # GPT-style concat-then-chunk packing via distributed prefix sum
        "corpus_pack_sequences": corpus.pack_sequences,
        # alpha=0.5 temperature mixture rebalancing by source
        "corpus_temperature_sample": corpus.temperature_sample,
        # fused keep/drop curation verdict
        "corpus_curate": corpus.curate,
        # semi-structured JSON column extraction (from_json, codegen)
        "events_props_stats": events_props_stats,
        # streaming-equivalent tumbling window aggregation
        "events_hourly": events_hourly,
        # X1-X10 candidate detail (the scored-candidate CTE)
        "pii_candidates_scored": _candidates_detail,
        # prefix-filtered exact jaccard join
        "dedup_ngram_jaccard": lambda s, sf:
            dedup.ngram_jaccard_pairs(s, sf,
                                      shingles=_doc_shingles(s, sf)),
        # stateful streaming dedup drain
        "stream_dedup_events": stream_dedup_events,
        # column profiling stats over the melted catalog; n_distinct
        # comes from the shared checkpointed basis (identical by
        # definition), which turns the melt pass into map-side partials
        # instead of an Expand + full-melt distinct exchange
        "profile_columns": lambda s, sf: profile_columns(
            _tables_values(s, sf),
            distinct_basis=_tables_basis(s, sf)[0]),
        # P5 enabled_types gate
        "pii_scan_enabled_types": _scan_enabled_types,
        "dedup_lsh_near_pairs": _dedup_pairs,
        "dedup_clusters": _dedup_clusters,
        # S5 melt boundary + scan over ALL 9 catalog tables (shared
        # checkpointed distinct basis; is_new is the fingerprint
        # queries' gate column, not part of the P3 value basis)
        "pii_scan_catalog_tables": lambda s, sf:
            findings_rollup(_tables_basis(s, sf)[0].drop("is_new"),
                            pre_deduped=True),
        # the flagship scan_text composition: R4 contexts -> N5 signals ->
        # E2 embed probs -> fusion with real signal maps bound
        "pii_full_pipeline": _full_pipeline,
        # audio path: vectorized per-window energy
        "multimodal_audio_energy": multimodal.audio_energy_query,
        # REAL media decode, oracle-gated (PGM / RIFF-PCM16)
        "multimodal_real_pgm_features": multimodal.real_pgm_features_query,
        "multimodal_real_wav_features": multimodal.real_wav_features_query,
        # cross-doc exact-substring duplication stats (Lee et al.)
        "corpus_substring_dedup": corpus.substring_dedup,
        # skew-hardened sessionization: bucketed fragments + merge,
        # row-identical to the global session_window operator
        "events_sessions_salted": events_sessions_salted,
        # the pii_docs scan as a zero-state foreachBatch drain
        "stream_doc_pii_density": stream_doc_pii_density,
        # corpus keep/drop verdict: cluster representative per doc
        "dedup_keep_list": lambda s, sf:
            dedup.dedup_keep_list(s, sf, clusters=_dedup_clusters(s, sf)),
        # the same verdict via a streaming drain (batch-identical)
        "stream_dedup_keep_list": lambda s, sf:
            stream_dedup_keep_list(
                s, sf, shingles=_doc_shingles(s, sf)),
        # ------------------------------------------------------------------
        # image-dedup product verdict: phash pairs -> connected
        # components -> canonical keep/drop per corpus doc
        "multimodal_phash_keep_list": lambda s, sf:
            multimodal.phash_keep_list_query(
                s, sf, hashes=_phash_hashes(s, sf)),
        # RAG/training chunk prep: overlapping token windows, zero
        # shuffles, straggler-capped
        "corpus_chunk_overlap": corpus.chunk_overlap,
        # the FULLY-trained IVFADC (Lloyd coarse + Lloyd PQ codebooks,
        # both unrolled in the dual-dialect template); recall gate in
        # tests/test_ann_recall.py (0.30 -> 0.44 vs untrained)
        "ann_ivfpq_trained_topk": lambda s, sf:
            simsearch.ann_ivfpq_trained_topk(
                s, sf, cent=_ivfpqt_cent(s, sf), cb=_pqt_cb(s, sf)),
        # ------------------------------------------------------------------
        # trained-codebook PQ SERVING twin: fit once (bounded training
        # job), broadcast the fitted codebooks, one-pass mapInPandas
        # ADC-LUT gather + shortlist-only exact re-rank; shares the
        # trained template's oracle (equality gate in
        # tests/test_ann_recall.py)
        "ann_pq_trained_matmul": simsearch.ann_pq_trained_matmul,
        # fastText-style hashed-ngram quality filter: offline fit pinned
        # as integer micro-unit literals (TRAINED_EVAL_COUNTS
        # discipline), integer-exact serving in both dialects, no UDF
        "corpus_quality_classifier": quality.corpus_quality_classifier,
        # incremental image dedup: per-microbatch decode+aHash into a
        # band-state spool + ONE compaction resolve (the
        # stream_dedup_keep_list shape over phash_band_rows);
        # batch-identical, shares multimodal_phash_keep_list's oracle.
        #
        "stream_phash_keep_list": stream_phash_keep_list,
        # content-defined chunking dedup (FastCDC shape): gram-hash
        # boundaries realign after edits, one md5-keyed fingerprint
        # shuffle; per-doc cross-corpus duplication verdict.
        #
        "corpus_cdc_dedup": corpus.cdc_dedup,
        # SemDeDup (Abbas et al. 2023): within-cell semantic near-dup
        # groups -> components -> keep-list with the capped-cell flag.
        #
        "embed_semdedup_keep_list": simsearch.semdedup_keep_list,
        # the quality filter as a zero-state streaming drain
        # (doc-local, batch-identical; shares the batch oracle).
        #
        "stream_quality_classifier": stream_quality_classifier,
        # RANGE self-join via complete 3-bin blocking (the non-equi
        # join scale rewrite); oracle is the plain inequality join, so
        # the binning must be invisible.
        "events_neighbor_window": events_neighbor_window,
        # deterministic HyperLogLog distinct sketch (no-ln, integer-Z
        # design; see operators/sketches.py).
        "sketch_hll_distinct": sketch_hll_distinct,
        # Bloom runtime-filter accounting over the orders semi-join;
        # n_missed = 0 is the no-false-negative invariant.
        #
        "bloom_semijoin_filter": bloom_semijoin_filter,
        # Deequ-style constraint suite: one aggregation pass per
        # table, stack-unpivoted.
        "dq_constraint_suite": dq_constraint_suite,
        # Z-order vs arrival-order zone-map skip accounting.
        #
        "layout_zorder_stats": layout_zorder_stats,
        # JL +-1 projection (64 -> 32 dims) -> shortlist -> exact
        # re-rank, with the in_exact recall audit column.
        #
        "embed_jl_topk": simsearch.embed_jl_topk,
        # 1024-bucket mergeable quantile histogram with per-row
        # err_span_bp audit vs the exact disc quantile.
        #
        "sketch_histogram_quantiles": sketch_histogram_quantiles,
        # the HLL sketch as a streaming drain: per-batch register
        # spool + one MAX-merge compaction, bit-identical to batch.
        #
        "stream_hll_distinct": stream_hll_distinct,
        # per-day drift report vs the global baseline (the Deequ
        # anomaly analog; detection proven by an injected-drift
        # test).
        "dq_anomaly_days": dq_anomaly_days,
        # ------------------------------------------------------------------
        # CCNet-style boilerplate removal: segment hash -> corpus-wide
        # doc frequency -> keep-first verdict, one md5-keyed shuffle.
        "corpus_line_dedup": corpus.line_dedup,
        # fuzzy (MinHash-LSH) benchmark decontamination: the dedup band
        # machinery pointed across train/bench instead of at itself;
        # bench side broadcasts, no train self-join anywhere.
        "corpus_minhash_decontaminate": corpus.minhash_decontaminate,
        # Count-Min heavy hitters with the exact audit twin: fixed
        # 4x1024 SUM-mergeable counter state, the frequency analog of
        # the HLL register table.
        "sketch_cms_heavy_hitters": sketch_cms_heavy_hitters,
        # the CMS counter state as a streaming drain: per-batch partial
        # counters + one SUM-merge compaction, bit-identical to batch.
        "stream_cms_counters": stream_cms_counters,
        # disjoint-slice HLL sketches merged by register MAX — the
        # never-rescan union property, with exact audit per part.
        # (The round-9 HLL stage diagnostics were RETIRED from the
        # registration in round 11 after r10 closed the divergence they
        # existed to localize; their SQL builders hll_registers_sql /
        # hll_rho_parts_sql / hll_state_sql stay in
        # operators/sketches.py, checked in
        # tests/test_sketches_dq_layout.py.)
        "sketch_hll_union": sketch_hll_union,
        # KMV k-minimum-values distinct sketch (Bar-Yossef et al.):
        # the maximally-conservative mergeable distinct estimator —
        # pure-BIGINT order statistics, one integer division, only
        # driver-gate-proven primitives (md5 digits, DISTINCT,
        # TakeOrdered) — the working distinct path while the HLL
        # divergence is localized.
        "sketch_kmv_distinct": sketch_kmv_distinct,
        # the KMV sketch as a streaming drain: per-batch min-k spool +
        # one distinct-union compaction, bit-identical to batch
        # (implemented+tested in round 9; registration was deferred to
        # the round-10 window — rule 1 forbids parking a never-gated
        # entry and the round-9 FRONT_50 was full).
        "stream_kmv_distinct": stream_kmv_distinct,
        # next-fit small-file compaction planner: one window pass over
        # the per-partition file inventory, the OPTIMIZE-planning shape.
        "layout_compaction_plan": layout_compaction_plan,
        # hard-negative mining for contrastive embedding training
        # (DPR recipe): cosine top-k restricted to other-label
        # neighbors; parity gate of the cosine_topk family.
        "embed_hard_negatives": simsearch.embed_hard_negatives,
        # FK orphan accounting over the star schema (Deequ
        # isContainedIn): one anti-join-shaped count per edge,
        # broadcast dims, injected-orphan detection proven in tests.
        "dq_referential_suite": dq_referential_suite,
        # BPE tokenizer training (Sennrich 2016): first 6 merge rules
        # learned from the corpus — one corpus scan into the bounded
        # vocabulary, then driver-looped distributed pair counts with
        # one-row collects (the embed_kmeans_lloyd discipline); the
        # oracle unrolls the same iterations as CTEs.
        "corpus_bpe_merges": bpe.corpus_bpe_merges,
        # ARBITRARY-stateful streaming (applyInPandasWithState): each
        # user's state is their top-K events by (ts, event_id) — a
        # merge-correct total-order top-K, so the drained result is
        # split-invariant; exact dyadic-weight integer score, shared
        # batch oracle. The §2.13/2.14 surface the spool drains
        # deliberately avoid.
        "stream_events_recent_score": stream_events_recent_score,
        # ------------------------------------------------------------------
        # DSIR domain selection (Xie et al. 2023): hashed-bigram
        # importance weights target/raw, per-BUCKET micro-quantized log
        # ratios so doc weights are integer-exact, salted top-k.
        "corpus_dsir_select": dsir.corpus_dsir_select,
        # k-anonymity / l-diversity ladder (Sweeney 2002): one GROUPING
        # SETS pass over the customer QI set — the privacy-risk rollup
        # behind the scanner's column findings.
        "dq_k_anonymity": dq_k_anonymity,
        # BPE ENCODING: apply the trained merges (corpus_bpe_merges'
        # loop, shared) to every document — per-doc token budget under
        # the learned tokenizer; vocabulary-bounded broadcast encode
        # map, the 6 replaces folded into one codegen projection.
        "corpus_bpe_encode": bpe.corpus_bpe_encode,
        # embedding-spectrum diagnostics: exact integer covariance
        # Gram (micro-quantized, order-free) -> per-dim variance +
        # participation-ratio effective rank — the representation-
        # collapse gate for cosine-based dedup/ANN.
        "embed_spectrum_stats": pca.embed_spectrum_stats,
        # shuffle-key skew audit: per-edge key-count stats + heavy-key
        # census + recommended salt fan-out — the planning twin of the
        # measured salted-sessions crossover (PERF.md).
        "layout_partition_skew": layout_partition_skew,
        # audio fingerprint dedup (Haitsma-Kalker delta-sign bits over
        # the energy-window fabric): exact integer cross-multiply bits
        # packed per asset, fingerprint-keyed groups, MIN-id keep rule.
        "multimodal_audio_fingerprint":
            multimodal.multimodal_audio_fingerprint,
        # (The round-10 fingerprint-bits stage diagnostic retired with
        # the HLL diagnostics in round 11 and its builder was later
        # deleted; _audio_fp_bits_rel stays as the packer's input.)
        # TPC-H Q5 analog: 5-way snowflake join, facts shuffle on the
        # order key, every dim broadcast, decimal-exact revenue.
        "tpch_local_supplier_volume": analytics.local_supplier_volume,
        # DSIR as a streaming drain: doc-local featurization per
        # microbatch into a bucket-count spool + one compaction
        # resolve — batch-identical, shares corpus_dsir_select's
        # oracle.
        "stream_dsir_select": stream_dsir_select,
        # winnowing fingerprints (MOSS, SIGMOD 2003): window-argmin
        # k-gram hashes -> df-capped shared-fingerprint pairs — the
        # partial-overlap detector the whole-doc md5 fingerprint and
        # shingle MinHash cannot express.
        "corpus_winnow_pairs": textstats.corpus_winnow_pairs,
        # kNN label-prediction eval (the standard representation-
        # quality protocol): majority label of the k cosine neighbors
        # vs the query's own — rides cosine_topk's tie discipline.
        "embed_knn_eval": simsearch.embed_knn_eval,
        # market-basket pair mining (support/confidence/lift): per-
        # order pairing bounds the quadratic by order size; exact
        # integer supports, one rounded ratio at the end.
        "orders_basket_pairs": analytics.orders_basket_pairs,
        # event-type Markov transition matrix: one user-keyed lead()
        # window under a (ts, event_id) total order + pair-keyed agg.
        "events_transition_matrix": analytics.events_transition_matrix,
        # ------------------------------------------------------------------
        # round 11: the four NEW product-surface queries in the slots
        # freed by retiring the instruments.
        #
        # the reference's promised --since incremental rescan
        # (README.md:200): per-column content fingerprints diff prior
        # vs current snapshot; only changed columns re-enter the regex
        # scan, carried columns forward the prior findings. The action
        # relation is metadata-scale and broadcast.
        "pii_incremental_scan": lambda s, sf:
            incremental_findings(basis=_tables_basis(s, sf)),
        # tokenizer SERVING twin: encode the corpus under a FROZEN
        # merge table (broadcast literal chain, zero training jobs,
        # zero collects) — the day-to-day shape of corpus_bpe_encode.
        "corpus_bpe_apply": bpe.corpus_bpe_apply,
        # ingest-time text normalization (tabs/CRs/control bytes/
        # whitespace runs/padding) over a deterministically-messed raw
        # variant; one zero-shuffle codegen projection.
        "corpus_normalize_text": corpus.corpus_normalize_text,
        # metadata-predicate-filtered ANN: the label filter lands in
        # the candidate parquet scan (PRE-filter semantics), then the
        # shared broadcast-queries BLAS top-k body.
        "ann_filtered_topk": simsearch.ann_filtered_topk,
        # ------------------------------------------------------------------
        # round 12: the two round-11 deferred registrations.
        #
        # PMI collocation mining (Church & Hanks 1990) as EXACT-integer
        # lift over the corpus bigram table — ln is monotone so the
        # lift carries the full PMI ranking with zero transcendentals;
        # vocabulary-bounded map-side aggregates, guarded tie-exact
        # ratio with the basket-lift factor guard.
        "corpus_collocations": corpus.corpus_collocations,
        # SCD-2 user-state history (gaps-and-islands): lag-flag +
        # running-sum run numbering + per-run aggregate + lead validity
        # intervals — ONE user-keyed exchange feeds all three windows.
        "events_user_state_history": analytics.events_user_state_history,
        # the K1/J3 MERGE (sinks/findings_store.py merge_findings, which
        # commits each result as a new versioned snapshot; reference
        # db.py:157-241) as its deterministic result relation: prior
        # store UNION incoming rescan -> one row per column_ref with
        # merge_action provenance.
        "findings_merge_upsert": lambda s, sf:
            findings_merge_upsert(basis=_tables_basis(s, sf)),
        # the K2-K4 idempotent diff-before-write (sinks/writeback.py;
        # reference glue.py:210-229) as the desired-vs-current action
        # plan the apply loop consumes (insert/update/skip + the exact
        # comment wire format).
        "writeback_diff_plan": lambda s, sf:
            writeback_diff_plan(basis=_tables_basis(s, sf)),
        # ------------------------------------------------------------------
        # round 13: the four round-12 deferred registrations.
        #
        # per-BENCH-doc memorization audit (inverse of decontaminate):
        # one gram explode + ONE md5-keyed train-gram distinct; the
        # eval-suite-sized bench gram relation BROADCASTS into the
        # seen-join, so the corpus-scale side never reshuffles.
        "corpus_ngram_novelty": corpus.corpus_ngram_novelty,
        # SemDeDup-style semantic decontamination: each bench vector's
        # nearest TRAIN vector by cosine via the shared one-pass
        # broadcast-queries BLAS body; declarative twin is the oracle.
        "embed_semantic_decon": simsearch.embed_semantic_decon,
        # RFM customer quartiles via the two-level exact rank (bucket
        # histogram + within-bucket row_number) — proven row-for-row
        # equal to ntile(4) in tests, WITHOUT the single-task global
        # ntile window ntile() would cost at scale.
        "orders_rfm_segments": analytics.orders_rfm_segments,
        # per-language tokenizer fertility audit under the FROZEN BPE
        # merge table: composes the registered lang_id + bpe_apply
        # dual-dialect templates as CTEs, so semantics cannot drift.
        "corpus_tokenizer_fertility": bpe.corpus_tokenizer_fertility,
        # S3 Unity REST enumeration (paginated catalogs->schemas->
        # tables->get_table walk over the hermetic stub pager); its
        # oracle is the SAME relation the info_schema path renders —
        # REST/info_schema equality IS the S3 contract.
        "unity_rest_columns": lambda s, sf:
            unity_rest_columns(s, stub_rest_client(),
                               table_patterns=UNITY_PATTERNS),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pii_scan_demo_crm":
            oracles.scan_findings_oracle(oracles.demo_melted_sql()),
        "pii_scan_catalog_tables":
            oracles.scan_findings_oracle(
                oracles.tables_melted_sql(SCAN_TABLES), class_col="vclass"),
        "pii_candidates_scored": _candidates_detail_oracle(),
        "pii_candidates_rollup": (_scored_demo_cte()
                                  + candidates_rollup_oracle_sql()),
        "pii_candidate_features": (
            _scored_demo_cte()
            + ", cand_rel AS (SELECT DISTINCT column_ref, value, pii_type,"
              " match_text, rule_confidence, validated FROM scored)\n"
            + candidate_features_oracle_sql("cand_rel")),
        "pii_redaction_contexts": _redaction_oracle(),
        "pii_ensemble_predictions": _ensemble_oracle(),
        "pii_ensemble_gated": _ensemble_oracle(GATE_THRESHOLD),
        "pii_full_pipeline": _full_pipeline_oracle(),
        "pii_scan_enabled_types": oracles.scan_findings_oracle(
            oracles.demo_melted_sql(),
            rules=rules_for_types(ENABLED_SUBSET)),
        "pii_ner_merge_max": (_scored_demo_cte() + ",\n"
                              + ner.merge_with_rules_oracle_sql()),
        "pii_ner_context_signals": _ner_signals_oracle(),
        "pii_overlap_suppressed": _overlap_suppressed_oracle(),
        "doc_pii_density": pii_docs.doc_pii_density_oracle_sql(),
        # streaming ingest must not change answers: same oracle as batch
        "stream_doc_pii_density": pii_docs.doc_pii_density_oracle_sql(),
        "corpus_anonymize": pii_docs.corpus_anonymize_oracle_sql(),
        "pii_metadata_hints": metadata_rules.metadata_hints_oracle_sql(
            "(" + catalog_columns_oracle_sql() + ")"),
        "catalog_columns": catalog_columns_oracle_sql(),
        "hms_columns": catalog_columns_oracle_sql(
            catalog="spark", schema="session", comments={}),
        "unity_columns": unity_columns_oracle_sql(
            table_patterns=UNITY_PATTERNS),
        "glue_columns": glue_columns_oracle_sql(
            table_patterns=GLUE_PATTERNS),
        "sample_columns_topn": sample_columns_oracle_sql(
            oracles.tables_melted_sql(SCAN_TABLES)),
        "tpch_pricing_summary": analytics.tpch_pricing_summary_oracle_sql(),
        "top_customers_by_revenue": analytics.top_customers_oracle_sql(),
        "monthly_revenue_running":
            analytics.monthly_revenue_running_oracle_sql(),
        "orders_priority_pivot":
            analytics.orders_priority_pivot_oracle_sql(),
        "churned_customers": analytics.churned_customers_oracle_sql(),
        "profile_columns": profile_columns_oracle_sql(
            oracles.tables_melted_sql(SCAN_TABLES)),
        "athena_sample_capped": athena_sample_oracle_sql(
            *ATHENA_SAMPLE_ARGS, **ATHENA_SAMPLE_KW),
        "events_hourly": events_hourly_oracle_sql(),
        "events_props_stats": events_props_stats_oracle_sql(),
        "events_value_outliers": events_value_outliers_oracle_sql(),
        "events_retention": events_retention_oracle_sql(),
        "events_funnel": events_funnel_oracle_sql(),
        "events_asof_join": events_asof_join_oracle_sql(),
        "events_hourly_gapfill": events_hourly_gapfill_oracle_sql(),
        "stream_events_hourly": stream_events_hourly_oracle_sql(),
        "events_sessions": events_sessions_oracle_sql(),
        # execution-strategy twin: identical contract, same oracle
        "events_sessions_salted": events_sessions_oracle_sql(),
        "stream_events_sessions": stream_events_sessions_oracle_sql(),
        "stream_dedup_events": stream_dedup_events_oracle_sql(),
        "doc_quality": textstats.doc_quality_sql("duckdb"),
        "doc_lang_id": textstats.lang_id_sql("duckdb"),
        "doc_token_counts": textstats.token_counts_sql("duckdb"),
        "doc_fingerprints": textstats.fingerprint_sql("duckdb"),
        "doc_length_quantiles": textstats.length_quantiles_oracle_sql(),
        "corpus_decontaminate": corpus.decontaminate_oracle_sql(),
        "corpus_repetition": corpus.repetition_oracle_sql(),
        "corpus_sample_stratified": corpus.stratified_sample_oracle_sql(),
        "corpus_vocab_topk": corpus.vocab_topk_oracle_sql(),
        "corpus_tfidf_keywords": corpus.tfidf_keywords_oracle_sql(),
        "corpus_unigram_logprob": corpus.unigram_logprob_oracle_sql(),
        "corpus_bigram_logprob": corpus.bigram_logprob_oracle_sql(),
        "corpus_pack_sequences": corpus.pack_sequences_oracle_sql(),
        "corpus_temperature_sample": corpus.temperature_sample_oracle_sql(),
        "corpus_curate": corpus.curate_oracle_sql(),
        "corpus_split": corpus.corpus_split_oracle_sql(),
        "corpus_char_entropy": corpus.char_entropy_oracle_sql(),
        "corpus_curate_pii": pii_docs.corpus_curate_pii_oracle_sql(),
        "corpus_substring_dedup": corpus.substring_dedup_oracle_sql(),
        "llm_budget_plan": llm.llm_budget_plan_sql(),
        "dedup_exact": dedup.exact_dedup_sql("duckdb"),
        "dedup_minhash_signatures": dedup.minhash_signatures_sql("duckdb"),
        "dedup_lsh_near_pairs": dedup.lsh_near_dup_pairs_sql("duckdb"),
        "dedup_clusters": dedup.dedup_clusters_sql("duckdb"),
        "dedup_keep_list": dedup.dedup_keep_list_sql("duckdb"),
        # streaming ingest must not change the verdict: batch oracle
        "stream_dedup_keep_list": dedup.dedup_keep_list_sql("duckdb"),
        "dedup_ngram_jaccard": dedup.ngram_jaccard_pairs_sql("duckdb"),
        "dedup_containment": dedup.containment_pairs_sql("duckdb"),
        "dedup_simhash": dedup.simhash_sql("duckdb"),
        "dedup_embed_cosine": simsearch.embed_cosine_pairs_sql("duckdb"),
        "ann_cosine_topk": simsearch.cosine_topk_sql("duckdb"),
        # the BLAS serving path has the identical output contract, so it
        # shares the declarative oracle (bitwise-equal after 1e-6 round)
        "ann_cosine_matmul": simsearch.cosine_topk_sql("duckdb"),
        "ann_lsh_topk": simsearch.ann_lsh_topk_sql("duckdb"),
        # one-pass probe-table form shares the declarative oracle
        # (bitwise-equal after the shared 1e-6 rounding)
        "ann_lsh_matmul": simsearch.ann_lsh_topk_sql("duckdb"),
        "ann_ivf_topk": simsearch.ann_ivf_topk_sql("duckdb"),
        # identical output contract to the declarative IVF (bitwise-equal
        # after the shared 1e-6 rounding), so it shares the oracle
        "ann_ivf_matmul": simsearch.ann_ivf_topk_sql("duckdb"),
        # declarative parity twin gates on the PQ_TWIN_CORPUS_MOD
        # candidate subset (its job is semantics, not scale)
        "ann_pq_topk": simsearch.ann_pq_topk_sql("duckdb"),
        # LUT-gather serving path runs the FULL corpus (corpus_mod=1);
        # its oracle renders the same SQL at full corpus
        "ann_pq_matmul": simsearch.ann_pq_topk_sql("duckdb",
                                                   corpus_mod=1),
        "ann_ivfpq_topk": simsearch.ann_ivfpq_topk_sql("duckdb"),
        # LUT-gather serving twin: full-corpus oracle
        "ann_ivfpq_matmul": simsearch.ann_ivfpq_topk_sql("duckdb",
                                                         corpus_mod=1),
        # trained-codebook PQ: DuckDB runs the IDENTICAL unrolled
        # per-subspace Lloyd training inside the template
        "ann_pq_trained_topk":
            simsearch.ann_pq_trained_topk_sql("duckdb"),
        "embed_cluster_mix": simsearch.embed_cluster_mix_sql("duckdb"),
        "embed_kmeans_lloyd": simsearch.kmeans_lloyd_sql("duckdb"),
        "multimodal_features": multimodal.media_features_oracle_sql(),
        "multimodal_frame_sample": multimodal.frame_sample_oracle_sql(),
        "multimodal_resize": multimodal.media_resize_oracle_sql(),
        "multimodal_audio_energy": multimodal.audio_energy_oracle_sql(),
        "multimodal_real_pgm_features":
            multimodal.real_pgm_features_oracle_sql(),
        "multimodal_real_wav_features":
            multimodal.real_wav_features_oracle_sql(),
        # aHash near-dup pairs: hash bits re-derived arithmetically
        # from the SQL-built near-dup PGM corpus formula
        "multimodal_phash_dedup": multimodal.phash_dedup_oracle_sql(),
        # BM25 top-k: literal query terms inlined as VALUES
        "corpus_bm25_topk": corpus.bm25_topk_oracle_sql(),
        # keep-list over the phash pair graph (RECURSIVE min-reachable)
        "multimodal_phash_keep_list":
            multimodal.phash_keep_list_oracle_sql(),
        "corpus_chunk_overlap": corpus.chunk_overlap_oracle_sql(),
        "ann_ivfpq_trained_topk":
            simsearch.ann_ivfpq_trained_topk_sql("duckdb"),
        # serving twin trains on the template's scand sample and serves
        # the same candidate set, so it shares the trained oracle
        # verbatim (equality gate in tests/test_ann_recall.py)
        "ann_pq_trained_matmul":
            simsearch.ann_pq_trained_topk_sql("duckdb"),
        # pinned integer micro-unit weights render identically in both
        # dialects; keep is integer-exact, score/label round 1e-6
        "corpus_quality_classifier":
            quality.quality_classifier_sql("duckdb"),
        # batch-identical by construction -> shares the batch oracle
        "stream_phash_keep_list":
            multimodal.phash_keep_list_oracle_sql(),
        "corpus_cdc_dedup": corpus.cdc_dedup_sql("duckdb"),
        # component resolution is a RECURSIVE CTE oracle-side; Spark
        # runs the same pair CTEs + bounded label propagation
        "embed_semdedup_keep_list":
            simsearch.semdedup_keep_list_sql("duckdb"),
        # doc-local scoring -> the streaming drain shares the batch
        # classifier's oracle verbatim
        "stream_quality_classifier":
            quality.quality_classifier_sql("duckdb"),
        # the oracle is the NAIVE inequality self-join: the 3-bin
        # blocking must be invisible in the result
        "events_neighbor_window": events_neighbor_window_oracle_sql(),
        "sketch_hll_distinct": sketch_hll_distinct_oracle_sql(),
        "bloom_semijoin_filter": bloom_semijoin_oracle_sql(),
        "dq_constraint_suite": dq_constraint_oracle_sql(),
        "layout_zorder_stats": layout_zorder_oracle_sql(),
        "embed_jl_topk": simsearch.jl_topk_sql("duckdb"),
        "sketch_histogram_quantiles":
            sketch_histogram_quantiles_oracle_sql(),
        # the streaming drain's oracle is the batch sketch-only
        # template (no exact twin: the stream never spools values)
        "stream_hll_distinct": sketches_hll_sketch_only_oracle(),
        "dq_anomaly_days": dq_anomaly_oracle_sql(),
        "eval_greedy_metrics": eval_metrics_oracle_sql(),
        "pii_repeated_spans": repeated_span_oracle_sql(),
        "eval_trained_metrics": eval_trained_oracle_sql(),
        # ------------------------------------------------------------------
        "corpus_line_dedup": corpus.line_dedup_oracle_sql(),
        "corpus_minhash_decontaminate":
            corpus.minhash_decontaminate_oracle_sql(),
        "sketch_cms_heavy_hitters": sketch_cms_oracle_sql(),
        # the streaming drain's oracle is the batch counter state (no
        # candidate probe: the stream never sees an exact vocabulary)
        "stream_cms_counters": cms_counters_sql("duckdb"),
        "sketch_hll_union": sketch_hll_union_oracle_sql(),
        "sketch_kmv_distinct": sketch_kmv_distinct_oracle_sql(),
        # the KMV drain's oracle is the batch sketch-only template
        # (no exact twin: the stream never spools raw values)
        "stream_kmv_distinct": kmv_sketch_only_sql("duckdb", "events"),
        "layout_compaction_plan": layout_compaction_oracle_sql(),
        "embed_hard_negatives": simsearch.hard_negatives_sql("duckdb"),
        "dq_referential_suite": dq_referential_oracle_sql(),
        "corpus_bpe_merges": bpe.bpe_merges_sql("duckdb"),
        # the stateful drain shares the batch ranking oracle: the
        # state machinery must be invisible in the result
        "stream_events_recent_score": events_recent_score_oracle_sql(),
        # ------------------------------------------------------------------
        "corpus_dsir_select": dsir.dsir_select_sql("duckdb"),
        "dq_k_anonymity": dq_k_anonymity_oracle_sql(),
        "corpus_bpe_encode": bpe.bpe_encode_sql("duckdb"),
        "embed_spectrum_stats": pca.spectrum_stats_oracle_sql(),
        "layout_partition_skew": layout_skew_oracle_sql(),
        "multimodal_audio_fingerprint":
            multimodal.audio_fingerprint_oracle_sql(),
        "tpch_local_supplier_volume":
            analytics.local_supplier_volume_oracle_sql(),
        # the streaming drain shares the batch selection oracle: the
        # spool machinery must be invisible in the result
        "stream_dsir_select": dsir.dsir_select_sql("duckdb"),
        "corpus_winnow_pairs": textstats.winnow_pairs_sql("duckdb"),
        "embed_knn_eval": simsearch.knn_eval_sql("duckdb"),
        "orders_basket_pairs": analytics.basket_pairs_oracle_sql(),
        "events_transition_matrix":
            analytics.event_transitions_oracle_sql(),
        # ------------------------------------------------------------------
        # round 11 new surface
        "pii_incremental_scan":
            incremental_findings_oracle_sql(SCAN_TABLES),
        "corpus_bpe_apply": bpe.bpe_apply_sql("duckdb"),
        "corpus_normalize_text": corpus.normalize_text_oracle_sql(),
        # the serving path shares the declarative filtered twin's
        # oracle (the cosine_topk_matmul precedent: identical contract
        # after the shared 1e-6 rounding)
        "ann_filtered_topk": simsearch.ann_filtered_topk_sql("duckdb"),
        # ------------------------------------------------------------------
        # round 12 registrations (implemented + pytest-gated in r11)
        "corpus_collocations": corpus.collocations_oracle_sql(),
        "events_user_state_history":
            analytics.user_state_history_oracle_sql(),
        # round 12: the store-relation twins
        "findings_merge_upsert":
            findings_merge_upsert_oracle_sql(SCAN_TABLES),
        "writeback_diff_plan":
            writeback_diff_plan_oracle_sql(SCAN_TABLES),
        # ------------------------------------------------------------------
        # round 13 registrations (implemented + pytest-gated in r12)
        "corpus_ngram_novelty": corpus.ngram_novelty_oracle_sql(),
        "embed_semantic_decon": simsearch.embed_semantic_decon_sql("duckdb"),
        "orders_rfm_segments": analytics.rfm_segments_oracle_sql(),
        "corpus_tokenizer_fertility": bpe.tokenizer_fertility_oracle_sql(),
        # the REST path must land on the identical relation as the
        # info_schema path — one shared oracle IS that equality gate
        "unity_rest_columns": unity_columns_oracle_sql(
            table_patterns=UNITY_PATTERNS),
    }
