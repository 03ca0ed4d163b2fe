"""Training/eval loop end-to-end (reference tests/test_cli_mvp.py:
gen-synth -> train-embed -> calibrate -> eval runs deterministically
offline), plus F6 semantics: degenerate classes are left unfitted and
run at identity, and the fit is deterministic."""

from __future__ import annotations

import json

import pytest

from catalog_pii_scanner_spark.operators.evaluate import (
    eval_metrics_trained)
from catalog_pii_scanner_spark.operators.training import (
    fit_calibrator_ensemble, gold_contexts, labeled_basis, labeled_candidates,
    train_embed)
from catalog_pii_scanner_spark.pii_types import ALL_PII_TYPES
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


def test_degenerate_type_falls_back_identity(labeled):
    basis = labeled_basis(labeled, None)
    params = fit_calibrator_ensemble(basis)
    # a type with no gold positive on this corpus is left unfitted ...
    assert params and "MAC_ADDRESS" not in params
    # ... and the eval runs every unfitted type at identity (1, 0)
    identity = {t: (1.0, 0.0) for t in ALL_PII_TYPES}

    def metrics(cal):
        return sorted(tuple(r) for r in
                      eval_metrics_trained(basis, cal).collect())
    assert metrics(params) == metrics({**identity, **params})


def test_full_training_pipeline_deterministic(spark, labeled):
    model1 = train_embed(spark, labeled)
    model2 = train_embed(spark, labeled)
    texts = ["Contact context 000-00-0000"]
    assert model1.predict_proba(texts) == model2.predict_proba(texts)
    cal1 = fit_calibrator_ensemble(labeled_basis(labeled, model1))
    cal2 = fit_calibrator_ensemble(labeled_basis(labeled, model2))
    assert cal1.keys() == cal2.keys()
    for t in cal1:
        assert cal1[t] == pytest.approx(cal2[t])


def test_candidates_carry_positions(labeled):
    rows = labeled_candidates(labeled).limit(50).collect()
    assert rows
    for r in rows:
        assert r.text[r.pstart - 1:r.pend - 1] == r.match_text


def test_phase3_trained_end_to_end(spark):
    """Phase-3 closure (reference cps eval, cli.py:351-385): gen-synth ->
    train_embed -> labeled_basis -> fit_calibrator_ensemble -> full
    ensemble predictions
    with the trained model + calibration -> greedy match -> metric frame,
    asserted EXACTLY (the whole composition is deterministic for the
    seeded corpus; these numbers pin both the semantics and the
    determinism)."""
    corpus = generate_synthetic(spark, 500, seed=1234) \
        .localCheckpoint(eager=True)
    basis = labeled_basis(corpus, train_embed(spark, corpus))
    cal = fit_calibrator_ensemble(basis)
    # the ensemble fit produces proper Platt scalers for every type seen
    # in the corpus: strong positive slope, negative intercept (a biased
    # own-type-only fit yields pathological positive intercepts instead)
    assert set(cal) == {"PERSON", "EMAIL", "PHONE_NUMBER", "SSN",
                        "CREDIT_CARD", "IP_ADDRESS", "DATE"}
    for t, (a, b) in cal.items():
        assert a > 0 and b < 0, (t, a, b)
    m = eval_metrics_trained(basis, cal)
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


def _cli(spark, *argv: str) -> str:
    """Run one CLI verb on the test session; returns its stdout."""
    import contextlib
    import io
    import catalog_pii_scanner_spark.cli as cli
    out = io.StringIO()
    with pytest.MonkeyPatch.context() as mp, contextlib.redirect_stdout(out):
        mp.setattr(cli, "_spark", lambda app: spark)
        assert cli.main(list(argv)) == 0
    return out.getvalue()


@pytest.fixture(scope="module")
def cli_loop(spark, tmp_path_factory):
    """The reference's CLI training loop through OUR verbs: gen-synth ->
    train-embed -> calibrate -> eval-trained --calibration, artifacts
    round-tripping through disk (JSONL corpus, .npz model, calibration
    JSON)."""
    d = tmp_path_factory.mktemp("cli_loop")
    loop = {"data": str(d / "synth"), "model": str(d / "model.npz"),
            "calib": str(d / "calib.json")}
    _cli(spark, "gen-synth", "--n", "120", "--out", loop["data"])
    _cli(spark, "train-embed", "--data", loop["data"],
         "--out", loop["model"])
    _cli(spark, "calibrate", "--data", loop["data"], "--out", loop["calib"],
         "--model", loop["model"])
    loop["eval_out"] = _cli(spark, "eval-trained", "--data", loop["data"],
                            "--model", loop["model"],
                            "--calibration", loop["calib"])
    return loop


def test_cli_train_calibrate_eval_trained_roundtrip(cli_loop):
    with open(cli_loop["calib"]) as f:
        params = json.load(f)
    assert params and all(a > 0 and b < 0 for a, b in params.values())
    out = cli_loop["eval_out"]
    micro = [ln for ln in out.splitlines() if ln.startswith("Micro:")]
    assert micro, out
    f1 = float(micro[0].rsplit("F1=", 1)[1])
    assert f1 > 0.5


def test_cli_training_loop_self_consistent(spark, cli_loop):
    """`calibrate` writes the reference fit's parameters, and
    `eval-trained --calibration` with that file prints exactly what
    `eval-trained` fitting on the same data and model prints."""
    from catalog_pii_scanner_spark.operators.embeddings import EmbedModel
    from catalog_pii_scanner_spark.sources.datasets import load_jsonl
    with open(cli_loop["calib"]) as f:
        written = json.load(f)
    fitted = fit_calibrator_ensemble(labeled_basis(
        load_jsonl(spark, cli_loop["data"]),
        EmbedModel.load(cli_loop["model"])))
    assert written.keys() == fitted.keys()
    for t, (a, b) in fitted.items():
        assert written[t] == pytest.approx([a, b], rel=1e-9, abs=1e-12), t
    assert cli_loop["eval_out"] == _cli(
        spark, "eval-trained", "--data", cli_loop["data"],
        "--model", cli_loop["model"])


def test_eval_trained_builds_labeled_basis_once(spark, cli_loop,
                                                monkeypatch):
    """Without --calibration the fit and the eval share one extraction
    and one enrichment of the corpus."""
    from catalog_pii_scanner_spark.operators import pipeline, training
    calls = {"extract": 0, "enrich": 0}

    def spy(name, fn):
        def counted(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)
        return counted
    monkeypatch.setattr(training, "labeled_candidates",
                        spy("extract", training.labeled_candidates))
    monkeypatch.setattr(pipeline, "_enriched_candidates",
                        spy("enrich", pipeline._enriched_candidates))
    _cli(spark, "eval-trained", "--data", cli_loop["data"],
         "--model", cli_loop["model"])
    assert calls == {"extract": 1, "enrich": 1}


@pytest.mark.parametrize("entry,key", [
    ({"E-MAIL": [1, 0]}, "E-MAIL"),     # unknown type: was run at identity
    ({"EMAIL": [1]}, "EMAIL"),          # not two numbers
])
def test_eval_trained_rejects_bad_calibration_file(spark, cli_loop, tmp_path,
                                                   monkeypatch, entry, key):
    import catalog_pii_scanner_spark.cli as cli
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    bad = tmp_path / "calib.json"
    bad.write_text(json.dumps(entry))
    with pytest.raises(SystemExit, match=repr(key)):
        cli.main(["eval-trained", "--data", cli_loop["data"],
                  "--model", cli_loop["model"], "--calibration", str(bad)])
