"""Layered, validated app configuration (reference S9,
src/catalog_pii_scanner/config.py:123-191).

Reference behavior: YAML file + ``CPS_A__B__C`` env-var overrides,
deep-merged, validated by strict pydantic models (extra="forbid", ranged
floats). This environment ships neither pydantic nor PyYAML, so the same
contract is provided with dataclasses + JSON files: unknown keys reject,
thresholds are range-checked, env overrides deep-merge with ``__``
nesting and JSON-style scalar coercion. Config is driver-side only; the
data plane receives plain values (weights, thresholds) through operator
arguments.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, fields
from typing import Any

ENV_PREFIX = "CPS"


class ConfigError(ValueError):
    pass


def _check_unit(name: str, v: float) -> float:
    if not 0.0 <= v <= 1.0:
        raise ConfigError(f"{name} must be in [0, 1], got {v}")
    return v


@dataclass(frozen=True)
class NerConfig:
    enabled: bool = True
    provider: str = "regex"
    confidence_min: float = 0.60

    def __post_init__(self) -> None:
        _check_unit("ner.confidence_min", self.confidence_min)
        if self.provider not in ("regex", "spacy", "presidio"):
            raise ConfigError(f"unknown ner.provider {self.provider!r}")


@dataclass(frozen=True)
class EnsembleConfig:
    w_rule: float = 0.4
    w_ner: float = 0.3
    w_embed: float = 0.3
    decision_threshold: float = 0.55

    def __post_init__(self) -> None:
        for n in ("w_rule", "w_ner", "w_embed", "decision_threshold"):
            _check_unit(f"ensemble.{n}", getattr(self, n))


@dataclass(frozen=True)
class RulesConfig:
    enabled_types: tuple[str, ...] = ()  # empty = all

    def __post_init__(self) -> None:
        from .pii_types import ALL_PII_TYPES
        unknown = set(self.enabled_types) - set(ALL_PII_TYPES)
        if unknown:
            raise ConfigError(
                f"unknown rules.enabled_types: {sorted(unknown)}")


@dataclass(frozen=True)
class LLMConfig:
    """Reference config.py:67-78 — declared there, consumed nowhere. Here
    mode ``ensemble+llm`` runs operators/llm.py's offline provider as the
    N5 stage under the cost cap and cache TTL; the reference's model
    knobs (provider, model, tokens, temperature, redact) drive nothing."""
    cost_cap_usd_per_scan: float = 0.50
    cache_ttl_minutes: int = 1440

    def __post_init__(self) -> None:
        if self.cost_cap_usd_per_scan < 0:
            raise ConfigError("llm.cost_cap_usd_per_scan must be >= 0")
        if self.cache_ttl_minutes < 0:
            raise ConfigError("llm.cache_ttl_minutes must be >= 0")


@dataclass(frozen=True)
class AiConfig:
    mode: str = "rules"
    ner: NerConfig = field(default_factory=NerConfig)
    ensemble: EnsembleConfig = field(default_factory=EnsembleConfig)
    llm: LLMConfig = field(default_factory=LLMConfig)

    def __post_init__(self) -> None:
        if self.mode not in ("rules", "ensemble", "ensemble+llm"):
            raise ConfigError(f"unknown ai.mode {self.mode!r}")
        if self.mode == "ensemble+llm" and not self.ner.enabled:
            # the LLM stage IS the N5 stage in this mode
            raise ConfigError(
                "ai.mode 'ensemble+llm' requires ai.ner.enabled=true")


@dataclass(frozen=True)
class AppConfig:
    ai: AiConfig = field(default_factory=AiConfig)
    rules: RulesConfig = field(default_factory=RulesConfig)


_NESTED = {AppConfig: {"ai": AiConfig, "rules": RulesConfig},
           AiConfig: {"ner": NerConfig, "ensemble": EnsembleConfig,
                      "llm": LLMConfig}}


def _build(cls, data: dict[str, Any]):
    allowed = {f.name for f in fields(cls)}
    unknown = set(data) - allowed
    if unknown:
        raise ConfigError(f"unknown keys for {cls.__name__}: "
                          f"{sorted(unknown)}")
    kwargs: dict[str, Any] = {}
    for key, value in data.items():
        sub = _NESTED.get(cls, {}).get(key)
        if sub is not None:
            if not isinstance(value, dict):
                raise ConfigError(f"{key} must be a mapping")
            kwargs[key] = _build(sub, value)
        elif key == "enabled_types" and isinstance(value, list):
            kwargs[key] = tuple(value)
        else:
            kwargs[key] = value
    try:
        return cls(**kwargs)
    except TypeError as exc:
        raise ConfigError(str(exc)) from exc


def _deep_merge(base: dict, extra: dict) -> dict:
    out = dict(base)
    for k, v in extra.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def _env_overrides(environ: dict[str, str]) -> dict:
    out: dict = {}
    for key, raw in environ.items():
        if not key.startswith(ENV_PREFIX + "_"):
            continue
        path = key[len(ENV_PREFIX) + 1:].lower().split("__")
        try:
            value: Any = json.loads(raw)
        except json.JSONDecodeError:
            value = raw
        node = out
        for part in path[:-1]:
            node = node.setdefault(part, {})
        node[path[-1]] = value
    return out


def load_config(path: str | None = None,
                environ: dict[str, str] | None = None) -> AppConfig:
    """JSON file (optional) + CPS_A__B env overrides -> validated config."""
    data: dict = {}
    if path:
        with open(path) as f:
            data = json.load(f)
        if not isinstance(data, dict):
            raise ConfigError("config root must be an object")
    env = _env_overrides(environ if environ is not None
                         else dict(os.environ))
    return _build(AppConfig, _deep_merge(data, env))
