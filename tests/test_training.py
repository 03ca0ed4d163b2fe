"""Training/eval loop end-to-end (reference tests/test_cli_mvp.py:
gen-synth -> train-embed -> calibrate -> eval runs deterministically
offline), plus F6 semantics: degenerate classes fall back to identity,
calibration separates true from false candidates."""

from __future__ import annotations

import pytest

from catalog_pii_scanner_spark.operators.training import (
    calibration_pairs, fit_calibrator, gold_contexts, labeled_candidates,
    train_embed)
from catalog_pii_scanner_spark.sources.datasets import generate_synthetic


@pytest.fixture(scope="module")
def labeled(spark):
    return generate_synthetic(spark, 120).localCheckpoint(eager=True)


def test_gold_contexts_are_redacted(labeled):
    rows = gold_contexts(labeled).collect()
    assert rows
    # the own span is masked: its raw text never survives in its context
    # (sibling entities in the window legitimately stay raw — the
    # reference masks only the training span, cli.py:316-325)
    for r in rows:
        assert r.gold_text not in r.context


def test_calibration_pairs_have_both_classes(labeled):
    rows = calibration_pairs(labeled).collect()
    labels = {r.is_type for r in rows}
    assert labels == {0.0, 1.0}


def test_fit_calibrator_improves_separation(labeled):
    cal = fit_calibrator(labeled)
    assert cal.params, "at least one non-degenerate type fitted"
    pairs = calibration_pairs(labeled)
    scored = cal.apply(pairs, score_col="raw_score")
    rows = scored.collect()
    pos = [r.calibrated for r in rows if r.is_type == 1.0
           and r.pii_type in cal.params]
    neg = [r.calibrated for r in rows if r.is_type == 0.0
           and r.pii_type in cal.params]
    assert pos and neg
    assert sum(pos) / len(pos) > sum(neg) / len(neg)


def test_degenerate_type_falls_back_identity(labeled):
    cal = fit_calibrator(labeled)
    # a type never predicted on this corpus keeps identity params
    assert cal.get("MAC_ADDRESS") == (1.0, 0.0)


def test_full_training_pipeline_deterministic(spark, labeled):
    model1 = train_embed(spark, labeled)
    model2 = train_embed(spark, labeled)
    texts = ["Contact context 000-00-0000"]
    assert model1.predict_proba(texts) == model2.predict_proba(texts)
    cal1, cal2 = fit_calibrator(labeled), fit_calibrator(labeled)
    assert cal1.params.keys() == cal2.params.keys()
    for t in cal1.params:
        assert cal1.params[t] == pytest.approx(cal2.params[t])


def test_candidates_carry_positions(labeled):
    rows = labeled_candidates(labeled).limit(50).collect()
    assert rows
    for r in rows:
        assert r.text[r.pstart - 1:r.pend - 1] == r.match_text


def test_phase3_trained_end_to_end(spark):
    """Phase-3 closure (reference cps eval, cli.py:351-385): gen-synth ->
    train_embed -> fit_calibrator_ensemble -> full ensemble predictions
    with the trained model + calibration -> greedy match -> metric frame,
    asserted EXACTLY (the whole composition is deterministic for the
    seeded corpus; these numbers pin both the semantics and the
    determinism)."""
    from catalog_pii_scanner_spark.operators.evaluate import (
        eval_metrics_trained)
    from catalog_pii_scanner_spark.operators.training import (
        fit_calibrator_ensemble)
    from catalog_pii_scanner_spark.pii_types import ALL_PII_TYPES

    corpus = generate_synthetic(spark, 500, seed=1234) \
        .localCheckpoint(eager=True)
    model = train_embed(spark, corpus)
    cal = fit_calibrator_ensemble(corpus, model=model)
    # the ensemble fit produces proper Platt scalers for every type seen
    # in the corpus: strong positive slope, negative intercept (a biased
    # own-type-only fit yields pathological positive intercepts instead)
    assert set(cal.params) == {"PERSON", "EMAIL", "PHONE_NUMBER", "SSN",
                               "CREDIT_CARD", "IP_ADDRESS", "DATE"}
    for t, (a, b) in cal.params.items():
        assert a > 0 and b < 0, (t, a, b)
    calibration = {t: cal.get(t) for t in ALL_PII_TYPES}
    m = eval_metrics_trained(spark, corpus, model=model,
                             calibration=calibration)
    rows = {(r.level, r.pii_type): r for r in m.collect()}
    micro = rows[("micro", "ALL")]
    assert (micro.tp, micro.fp, micro.fn) == (1025, 375, 175)
    assert (micro.precision, micro.recall, micro.f1) == \
        (0.732143, 0.854167, 0.788462)
    # macro averages over ALL 11 types, zero-filling the 3 types absent
    # from this corpus (reference eval.py:69-77 semantics)
    macro = rows[("macro", "ALL")]
    assert (macro.precision, macro.recall, macro.f1) == \
        (0.576577, 0.537879, 0.54833)
    # the trained model resolves EMAIL/CREDIT_CARD perfectly on this
    # corpus; the PERSON-bigram false positives stay imperfect by design
    for t in ("EMAIL", "CREDIT_CARD", "PHONE_NUMBER", "IP_ADDRESS",
              "DATE"):
        r = rows[("type", t)]
        assert (r.fp, r.fn) == (0, 0), t
        assert r.f1 == 1.0


def test_cli_train_calibrate_eval_trained_roundtrip(spark, tmp_path,
                                                    monkeypatch, capsys):
    """The reference's CLI training loop end-to-end through OUR verbs:
    gen-synth -> train-embed -> calibrate --ensemble -> eval-trained,
    artifacts round-tripping through disk (JSONL corpus, .npz model,
    calibration JSON)."""
    import json as _json
    import catalog_pii_scanner_spark.cli as cli
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    data = str(tmp_path / "synth")
    model = str(tmp_path / "model.npz")
    calib = str(tmp_path / "calib.json")
    assert cli.main(["gen-synth", "--n", "120", "--out", data]) == 0
    assert cli.main(["train-embed", "--data", data, "--out", model]) == 0
    assert cli.main(["calibrate", "--data", data, "--out", calib,
                     "--ensemble", "--model", model]) == 0
    capsys.readouterr()
    with open(calib) as f:
        params = _json.load(f)
    assert params and all(a > 0 and b < 0 for a, b in params.values())
    assert cli.main(["eval-trained", "--data", data, "--model", model,
                     "--calibration", calib]) == 0
    out = capsys.readouterr().out
    micro = [ln for ln in out.splitlines() if ln.startswith("Micro:")]
    assert micro, out
    f1 = float(micro[0].rsplit("F1=", 1)[1])
    assert f1 > 0.5
