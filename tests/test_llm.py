"""The ensemble+llm surface (operators/llm.py): cost-cap metering as a
deterministic plan, TTL response cache, LLM spans merged with rules, and
the LLM config block, which the reference declares but never consumes."""

from __future__ import annotations

import pytest

from catalog_pii_scanner_spark.operators.llm import (
    FakeLLMProvider, llm_budget_plan)


def _texts(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_budget_plan_caps_cumulative_cost(spark):
    # 10 docs x 100 tokens at $0.03/1k = $0.003 each; cap $0.01 -> first
    # 3 docs (in md5 order) are in budget
    docs = _texts(spark, [(i, " ".join(["w"] * 100)) for i in range(10)])
    plan = llm_budget_plan(docs, cost_cap_usd=0.01, price_per_1k=0.03)
    rows = sorted(plan.collect(), key=lambda r: r.cum_usd)
    assert [r.est_tokens for r in rows] == [100] * 10
    assert sum(r.in_budget for r in rows) == 3
    # metering order is the md5 order, and cum_usd is strictly increasing
    assert [round(r.cum_usd, 6) for r in rows] == \
        [round(0.003 * (i + 1), 6) for i in range(10)]
    # deterministic: rerun selects the identical subset
    again = {r.doc_id: r.in_budget for r in
             llm_budget_plan(docs, cost_cap_usd=0.01,
                             price_per_1k=0.03).collect()}
    assert {r.doc_id: r.in_budget for r in rows} == again


def test_provider_ttl_cache():
    clock = [0.0]
    p = FakeLLMProvider(cache_ttl_minutes=1, clock=lambda: clock[0])
    [first] = p.detect_batch(["mail a@b.io now"])
    assert [(s[0], s[1]) for s in first] == [("EMAIL", "a@b.io")]
    assert (p.model_calls, p.cache_hits) == (1, 0)
    # within TTL: cached, no model call
    [again] = p.detect_batch(["mail a@b.io now"])
    assert again == first
    assert (p.model_calls, p.cache_hits) == (1, 1)
    # past TTL: lazy expiry -> model re-invoked
    clock[0] = 61.0
    p.detect_batch(["mail a@b.io now"])
    assert (p.model_calls, p.cache_hits) == (2, 1)


def test_llm_spans_merge_with_rules(spark):
    from catalog_pii_scanner_spark.operators.findings import scan_values
    from catalog_pii_scanner_spark.operators.ner import (detect_ner_spans,
                                                         merge_with_rules)
    vals = spark.createDataFrame(
        [("c1", "ssn 123-45-6789 mail a@b.io")],
        "column_ref string, value string")
    merged = merge_with_rules(scan_values(vals),
                              detect_ner_spans(vals, provider="fake_llm"))
    by_type = {r.pii_type: r for r in merged.collect()}
    # the LLM stage's 0.95 lifts SSN above its 0.90 rule confidence
    assert by_type["SSN"].merged_score == pytest.approx(0.95)


def test_cli_scan_text_mode_dispatch(spark, tmp_path, capsys, monkeypatch):
    """ai.mode='ensemble+llm' routes scan-text's N5 stage through the LLM
    provider via config alone (no CLI flag) and still produces gated
    ensemble predictions."""
    import json as _json
    import catalog_pii_scanner_spark.cli as cli
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    cfg = tmp_path / "cfg.json"
    cfg.write_text(_json.dumps({
        "ai": {"mode": "ensemble+llm",
               "ensemble": {"decision_threshold": 0.5}}}))
    rc = cli.main(["scan-text", "reach me at a@b.io", "--config", str(cfg)])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out)
    assert any(p["type"] == "EMAIL" and p["text"] == "a@b.io" for p in out)


def test_cli_scan_text_weight_sets_differ(spark, capsys, monkeypatch):
    """Config weights drive fusion; --reference-compat restores the
    reference's dataclass defaults (SURVEY §7.6 discrepancy, exposed as
    the two documented weight sets)."""
    import json as _json
    import catalog_pii_scanner_spark.cli as cli
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    base = ["scan-text", "mail a@b.io", "--ensemble"]
    assert cli.main(base) == 0
    config_score = _json.loads(capsys.readouterr().out)[0]["score"]
    assert cli.main(base + ["--reference-compat"]) == 0
    ref_score = _json.loads(capsys.readouterr().out)[0]["score"]
    assert config_score != ref_score  # 0.4/0.3/0.3 vs 0.6/0.2/0.4


def test_llm_config_block():
    from catalog_pii_scanner_spark.config import ConfigError, load_config
    cfg = load_config(environ={
        "CPS_AI__MODE": "ensemble+llm",
        "CPS_AI__LLM__COST_CAP_USD_PER_SCAN": "0.25",
    })
    assert cfg.ai.mode == "ensemble+llm"
    assert cfg.ai.llm.cost_cap_usd_per_scan == 0.25
    assert cfg.ai.llm.cache_ttl_minutes == 1440  # reference default
    with pytest.raises(ConfigError):  # ranged field
        load_config(environ={"CPS_AI__LLM__CACHE_TTL_MINUTES": "-1"})


def test_provider_cache_lru_bound_and_sweep():
    """The response cache is bounded (LRU eviction) and expired entries
    are swept per batch — executor memory cannot grow without bound over
    a scan of many distinct texts."""
    clock = [0.0]
    p = FakeLLMProvider(cache_ttl_minutes=1, cache_max_entries=3,
                        clock=lambda: clock[0])
    p.detect_batch([f"text {i} a@b.io" for i in range(10)])
    assert len(p._cache) == 3          # LRU cap
    assert p.model_calls == 10
    # the surviving 3 are the most recent; a hit refreshes recency
    [_] = p.detect_batch(["text 9 a@b.io"])
    assert p.cache_hits == 1
    # past TTL the sweep clears everything, even without re-access
    clock[0] = 61.0
    p.detect_batch(["fresh z@y.io"])
    assert len(p._cache) == 1


def test_full_pipeline_llm_cost_cap_enforced(spark):
    """The config-dispatched ensemble+llm path enforces the declared
    cost cap: with a tiny cap the expensive context never reaches the
    model stage, so its NER signal is absent (missing-signal fusion),
    while an uncapped run binds signals for every context."""
    from catalog_pii_scanner_spark.operators.findings import scan_values
    from catalog_pii_scanner_spark.operators.pipeline import (
        full_scan_predictions)
    vals = spark.createDataFrame(
        [("c1", "a@b.io"), ("c2", "b@c.org " + " ".join(["pad"] * 499))],
        "column_ref string, value string")
    cands = scan_values(vals).select(
        "column_ref", "value", "pii_type", "match_text",
        "rule_confidence", "validated").distinct()
    capped = {r.column_ref: r.score for r in full_scan_predictions(
        cands, ner_provider="fake_llm",
        llm_cost_cap_usd=0.0001).collect()}
    open_ = {r.column_ref: r.score for r in full_scan_predictions(
        cands, ner_provider="fake_llm",
        llm_cost_cap_usd=100.0).collect()}
    uncapped = {r.column_ref: r.score for r in full_scan_predictions(
        cands, ner_provider="fake_llm").collect()}
    assert set(capped) == set(open_) == set(uncapped) == {"c1", "c2"}
    # a generous cap changes nothing vs no cap at all
    for c in ("c1", "c2"):
        assert open_[c] == pytest.approx(uncapped[c])
    # the tiny cap pushes the expensive context (and, because metering is
    # cumulative in deterministic md5 order, everything after it) out of
    # the model stage — its NER signal goes missing and the score moves
    assert capped["c2"] != pytest.approx(open_["c2"])


def test_full_pipeline_llm_ttl_reaches_provider(spark):
    """cache_ttl_minutes reaches the worker-singleton construction (the
    singleton is keyed by options, so the declared TTL is never silently
    replaced by a default-constructed provider)."""
    from catalog_pii_scanner_spark.operators.ner import _get_provider
    p1 = _get_provider("fake_llm", {"cache_ttl_minutes": 7})
    assert p1._ttl_s == 7 * 60.0
    assert _get_provider("fake_llm", {"cache_ttl_minutes": 7}) is p1
    p2 = _get_provider("fake_llm")
    assert p2 is not p1


def test_precomputed_enriched_rejects_signal_knobs(spark):
    """r13 review: the enrichment branch is the only consumer of the
    signal knobs, so passing precomputed_enriched together with a
    non-default provider / budget cap / TTL / NER gate would silently
    drop the knobs the caller asked for — the contract fails loudly."""
    from catalog_pii_scanner_spark.operators.pipeline import (
        _enriched_candidates, full_scan_predictions)
    cands = spark.createDataFrame(
        [("c1", "mail a@b.io", "EMAIL", "a@b.io", 0.9, True)],
        "column_ref string, value string, pii_type string, "
        "match_text string, rule_confidence double, validated boolean")
    enriched = _enriched_candidates(cands, None, "regex")
    for kw in ({"ner_provider": "fake_llm"}, {"ner_provider": None},
               {"llm_cost_cap_usd": 1.0},
               {"llm_cache_ttl_minutes": 5},
               {"ner_confidence_min": 0.9}):
        with pytest.raises(ValueError, match="precomputed_enriched"):
            full_scan_predictions(cands, precomputed_enriched=enriched,
                                  **kw)
    # the sanctioned combination (default regex path) still works
    assert full_scan_predictions(
        cands, precomputed_enriched=enriched).count() == 1
