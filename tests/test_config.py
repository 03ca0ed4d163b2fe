"""Config validation (reference tests/test_config.py): valid/invalid
layered configs, env overrides with __ nesting, strict unknown-key
rejection, ranged thresholds; every declared field is read."""

from __future__ import annotations

import ast
import dataclasses
import json
from pathlib import Path

import pytest

import catalog_pii_scanner_spark
from catalog_pii_scanner_spark.config import (AppConfig, ConfigError,
                                              load_config)


def test_defaults():
    cfg = load_config(environ={})
    assert cfg.ai.mode == "rules"
    assert cfg.ai.ner.confidence_min == 0.60
    assert cfg.ai.ensemble.decision_threshold == 0.55


def test_file_plus_env_override(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(
        {"ai": {"mode": "ensemble", "ner": {"confidence_min": 0.7}}}))
    cfg = load_config(str(p), environ={
        "CPS_AI__NER__ENABLED": "false",
        "CPS_AI__ENSEMBLE__DECISION_THRESHOLD": "0.8",
        "CPS_AI__LLM__CACHE_TTL_MINUTES": "60",
        "UNRELATED": "x",
    })
    assert cfg.ai.mode == "ensemble"
    assert cfg.ai.ner.confidence_min == 0.7   # from file
    assert cfg.ai.ner.enabled is False        # env override
    assert cfg.ai.ensemble.decision_threshold == 0.8
    assert cfg.ai.llm.cache_ttl_minutes == 60


@pytest.mark.parametrize("environ", [
    {"CPS_AI__MODE": '"nonsense"'},
    {"CPS_AI__NER__CONFIDENCE_MIN": "1.5"},
    {"CPS_AI__NER__PROVIDER": '"gpt"'},
    {"CPS_AI__LLM__COST_CAP_USD_PER_SCAN": "-1"},
])
def test_invalid_values_rejected(environ):
    with pytest.raises(ConfigError):
        load_config(environ=environ)


def test_unknown_keys_rejected(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"ai": {"bogus_key": 1}}))
    with pytest.raises(ConfigError, match="bogus_key"):
        load_config(str(p), environ={})


@pytest.mark.parametrize("key", [
    "CPS_SAMPLE_N", "CPS_AI__LLM__PROVIDER", "CPS_AI__LLM__MODEL",
    "CPS_AI__LLM__MAX_TOKENS", "CPS_AI__LLM__TEMPERATURE",
    "CPS_AI__LLM__REDACT", "CPS_AI__LLM__ENABLED",
])
def test_deleted_keys_rejected(key):
    """Fields that nothing read were deleted; a config still setting one
    fails loudly instead of being ignored."""
    with pytest.raises(ConfigError, match="unknown keys"):
        load_config(environ={key: "1"})


def test_llm_mode_needs_ner_stage():
    """In ensemble+llm mode the LLM stage IS the N5 stage, so disabling
    NER contradicts the mode."""
    with pytest.raises(ConfigError, match="ai.ner.enabled"):
        load_config(environ={"CPS_AI__MODE": '"ensemble+llm"',
                             "CPS_AI__NER__ENABLED": "false"})


def _leaf_paths(cfg, prefix=()):
    for f in dataclasses.fields(cfg):
        value = getattr(cfg, f.name)
        if dataclasses.is_dataclass(value):
            yield from _leaf_paths(value, prefix + (f.name,))
        else:
            yield prefix + (f.name,)


def _attr_chain(node):
    names = []
    while isinstance(node, ast.Attribute):
        names.append(node.attr)
        node = node.value
    return tuple(reversed(names))


def test_every_config_leaf_is_read():
    """Every AppConfig leaf is read somewhere in the package outside
    config.py, as the attribute chain from the config root (e.g.
    ``cfg.ai.ner.confidence_min``). A validated field that nothing reads
    is a setting that silently does nothing."""
    pkg = Path(catalog_pii_scanner_spark.__file__).parent
    chains = set()
    for p in pkg.rglob("*.py"):
        if p.name == "config.py":
            continue
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Attribute):
                c = _attr_chain(node)
                chains.update(c[i:] for i in range(len(c)))
    leaves = list(_leaf_paths(AppConfig()))
    assert ("ai", "ner", "confidence_min") in leaves
    unread = [".".join(leaf) for leaf in leaves if leaf not in chains]
    assert unread == []
