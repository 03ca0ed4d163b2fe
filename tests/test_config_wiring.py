"""P1/P5/P6 wiring: enabled_types gates rule families end-to-end, the
decision threshold gates ensemble predictions, the ai.ner block shapes
scan-text's N5 stage, and glob targets prune tables/columns — the
reference's test_rules_advanced.py type-disable case (lines 54-69) and
cli.py:85-95 target semantics, as Spark pipelines."""

from __future__ import annotations

import pytest

from catalog_pii_scanner_spark.config import ConfigError, load_config
from catalog_pii_scanner_spark.operators.ensemble import fuse_predictions
from catalog_pii_scanner_spark.operators.findings import scan_values
from catalog_pii_scanner_spark.operators.rules import RULES, rules_for_types
from catalog_pii_scanner_spark.sources.targets import (glob_to_rlike,
                                                       match_names,
                                                       parse_target)

TEXT = ("Contact John Smith at john@x.io or (555) 123-4567, "
        "card 4111 1111 1111 1111")


@pytest.fixture(scope="module")
def text_df(spark):
    return spark.createDataFrame([("t", TEXT)],
                                 "column_ref string, value string")


def test_rules_for_types_empty_means_all():
    assert rules_for_types(()) == RULES
    assert rules_for_types(None) == RULES


def test_type_disable_case(spark, text_df):
    """Reference test_rules_advanced.py:54-69 — disabling a family means
    its matches vanish while others survive."""
    enabled = ("EMAIL", "PERSON")  # CREDIT_CARD + PHONE disabled
    got = {r.pii_type
           for r in scan_values(text_df, rules=rules_for_types(enabled))
           .collect()}
    assert got == {"EMAIL", "PERSON"}

    all_types = {r.pii_type for r in scan_values(text_df).collect()}
    assert {"CREDIT_CARD", "PHONE_NUMBER"} <= all_types


def test_enabled_types_config_roundtrip(tmp_path):
    import json
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"rules": {"enabled_types": ["EMAIL", "SSN"]}}))
    cfg = load_config(str(p), environ={})
    assert cfg.rules.enabled_types == ("EMAIL", "SSN")
    assert tuple(r.pii_type for r in rules_for_types(
        cfg.rules.enabled_types)) == ("EMAIL", "SSN")


def test_unknown_enabled_type_rejected():
    with pytest.raises(ConfigError, match="PASSPORT"):
        load_config(environ={"CPS_RULES__ENABLED_TYPES": '["PASSPORT"]'})


def test_decision_threshold_gates_predictions(spark, text_df):
    cands = scan_values(text_df).select(
        "column_ref", "value", "pii_type", "match_text",
        "rule_confidence", "validated").distinct()
    ungated = fuse_predictions(cands).collect()
    # the gate applies to the CALIBRATED argmax prob (reference scale) —
    # 0.7 splits this corpus's [0.6, 0.8] calibrated range
    gated = fuse_predictions(cands, decision_threshold=0.7).collect()
    assert 0 < len(gated) < len(ungated)
    # the config default 0.55 is attainable on the calibrated scale (the
    # normalized 11-way share would cap near 1/n_types and drop all)
    assert fuse_predictions(cands, decision_threshold=0.55).count() > 0
    # a threshold above the achievable sigmoid range drops everything
    assert fuse_predictions(cands, decision_threshold=0.99).count() == 0


def test_parse_target():
    assert parse_target("spark://testdata/cust*") == \
        ("spark", "testdata", "cust*")
    assert parse_target("glue://db1") == ("glue", "db1", "*")
    with pytest.raises(ValueError):
        parse_target("no-scheme/path")


def test_match_names_glob():
    names = ("customer", "supplier", "orders", "lineitem")
    assert match_names(names, "cust*") == ("customer",)
    assert match_names(names, ("cust*", "*item")) == ("customer", "lineitem")
    assert match_names(names, "*") == names


def test_glob_to_rlike_filters_columns(spark):
    from pyspark.sql import functions as F
    from catalog_pii_scanner_spark.sources.catalog import \
        parquet_catalog_columns
    cols = parquet_catalog_columns(spark, "/root/testdata/sf0.001")
    got = {r.table for r in
           cols.where(F.col("table").rlike(glob_to_rlike("c*"))).collect()}
    assert got == {"customer"}
    assert glob_to_rlike("tbl?x") == "^tbl.x$"
    # regex metacharacters in names are escaped, not interpreted
    assert glob_to_rlike("a.b") == r"^a\.b$"


def test_cli_profile_and_dedup_verbs(spark, capsys, monkeypatch):
    import json
    import catalog_pii_scanner_spark.cli as cli
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    assert cli.main(["profile", "--sf-dir", "/root/testdata/sf0.001",
                     "--tables", "region"]) == 0
    rows = json.loads(capsys.readouterr().out)
    assert [r["column_ref"] for r in rows] == \
        ["spark://region/r_name", "spark://region/r_regionkey"]
    assert all(r["n_nulls"] == 0 and r["n_rows"] == 5 for r in rows)
    assert cli.main(["dedup", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    verdict = json.loads(capsys.readouterr().out)
    assert set(verdict) == {"true", "false"}
    assert verdict["true"] + verdict["false"] == 500


def test_serve_healthz():
    """The reference API surface (GET /healthz -> {"status": "ok"},
    reference api.py:7-13), stdlib rendering."""
    import json
    import threading
    import urllib.error
    import urllib.request
    from catalog_pii_scanner_spark.cli import make_health_server
    srv = make_health_server(port=0)
    host, port = srv.server_address
    t = threading.Thread(target=srv.handle_request, daemon=True)
    t.start()
    with urllib.request.urlopen(f"http://{host}:{port}/healthz") as resp:
        assert resp.status == 200
        assert json.loads(resp.read()) == {"status": "ok"}
    t.join(timeout=5)
    t2 = threading.Thread(target=srv.handle_request, daemon=True)
    t2.start()
    try:
        urllib.request.urlopen(f"http://{host}:{port}/other")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404
    t2.join(timeout=5)
    srv.server_close()


def test_cli_scan_target_and_config(tmp_path, spark):
    """CLI round-trip: --target glob prunes tables, --config gates types."""
    import json
    from catalog_pii_scanner_spark.cli import main
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"rules": {"enabled_types": ["PERSON"]}}))
    rc = main(["scan", "--sf-dir", "/root/testdata/sf0.001",
               "--target", "spark://testdata/nation",
               "--config", str(cfg)])
    assert rc == 0


def test_scan_text_ensemble_honours_ner_provider(spark, capsys,
                                                 monkeypatch):
    """ai.ner.provider reaches scan-text --ensemble: with spaCy absent a
    configured 'spacy' provider fails with the guided error instead of
    silently running the regex provider — on the driver, before any
    Spark job (not inside mapInPandas after the contexts were
    checkpointed)."""
    try:
        import spacy  # noqa: F401
        pytest.skip("spacy installed: the configured provider would run")
    except ImportError:
        pass
    import catalog_pii_scanner_spark.cli as cli
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    monkeypatch.setenv("CPS_AI__NER__PROVIDER", '"spacy"')
    sc = spark.sparkContext
    group = "scan-text-missing-ner-package"
    sc.setJobGroup(group, "scan-text with a missing NER package")
    try:
        with pytest.raises(ImportError, match=(
                "NER provider 'spacy' needs its model package, which is "
                "not installed; use provider='regex'")):
            cli.main(["scan-text", "mail a@b.io", "--ensemble"])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert capsys.readouterr().out == ""


def _spy_fusion(monkeypatch):
    """Record each (enriched relation, keyword arguments) the pipeline
    hands to the fusion, then fuse as usual."""
    from catalog_pii_scanner_spark.operators import pipeline
    calls = []
    real = pipeline.fuse_predictions

    def spy(enriched, **kw):
        calls.append((enriched, kw))
        return real(enriched, **kw)

    monkeypatch.setattr(pipeline, "fuse_predictions", spy)
    return calls, real


def _scan_text_ensemble(spark, capsys, monkeypatch, environ):
    import json
    import catalog_pii_scanner_spark.cli as cli
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    for key, value in environ.items():
        monkeypatch.setenv(key, value)
    assert cli.main(["scan-text", TEXT, "--ensemble"]) == 0
    return json.loads(capsys.readouterr().out)


def _ner_families(enriched):
    return {t for r in enriched.select("ner_sig").collect()
            for t in (r.ner_sig or {})}


def test_scan_text_honours_ner_confidence_min(spark, capsys, monkeypatch):
    """ai.ner.confidence_min is the N5 provider's N3 gate: at 0.95 the
    regex provider's PHONE_NUMBER (0.90) and PERSON (0.85) spans drop out
    of every context's ner_sig and EMAIL (0.99) stays."""
    calls, _ = _spy_fusion(monkeypatch)
    _scan_text_ensemble(spark, capsys, monkeypatch, {})
    assert _ner_families(calls[-1][0]) == {"EMAIL", "PHONE_NUMBER",
                                           "PERSON"}
    _scan_text_ensemble(spark, capsys, monkeypatch,
                        {"CPS_AI__NER__CONFIDENCE_MIN": "0.95"})
    assert _ner_families(calls[-1][0]) == {"EMAIL"}


def test_scan_text_ner_disabled_is_null_signal(spark, capsys, monkeypatch):
    """ai.ner.enabled=false builds no N5 stage: the predictions equal the
    fusion of the default run's enriched candidates with ner_sig null —
    the fusion's missing-signal path."""
    from pyspark.sql import functions as F
    calls, real_fuse = _spy_fusion(monkeypatch)
    _scan_text_ensemble(spark, capsys, monkeypatch, {})
    enriched, kw = calls[-1]
    want = real_fuse(
        enriched.withColumn("ner_sig",
                            F.lit(None).cast("map<string,double>")),
        **kw).collect()
    got = _scan_text_ensemble(spark, capsys, monkeypatch,
                              {"CPS_AI__NER__ENABLED": "false"})
    assert _ner_families(calls[-1][0]) == set()
    assert sorted((p["type"], p["text"], p["score"]) for p in got) == \
        sorted((r.label, r.match_text, round(r.score, 6)) for r in want)
    assert len(got) == 4
