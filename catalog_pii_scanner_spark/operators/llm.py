"""Optional LLM detection stage (the reference's ``ensemble+llm`` mode).

The reference DECLARES this surface but never implements it: ``ai.mode``
admits ``"ensemble+llm"`` and ``LLMConfig`` carries a per-scan cost cap
and a response-cache TTL (reference config.py:67-85), yet no module
consumes either. This engine renders the declared behaviors for real,
Spark-first:

- **Cost cap as a plan, not worker state.** A USD cap over a distributed
  scan cannot be a mutable counter inside executors (workers race, and a
  "stop at $0.50" check per worker caps at N_workers x $0.50). Instead
  the cap is metered AT PLAN TIME: estimated tokens per text, exclusive
  running total in a deterministic order (plans/prefix.py's two-level
  bucketed prefix sum), and ``in_budget = cumulative cost <= cap``. Only
  in-budget rows reach the model stage; skipped rows are visible (the
  reference's BytesScanned-cutoff philosophy, athena.py:138-154, applied
  to model spend). Oracle-expressible — see ``llm_budget_plan_sql``.
- **TTL response cache, per worker.** The reference's
  ``cache_ttl_minutes`` becomes a worker-local memo keyed by exact text:
  module globals live for the Python worker's lifetime (the same
  executor-global pattern as the heavy NER providers), so repeat texts
  within the TTL never re-invoke the model. The cache is LRU-bounded and
  expired entries are swept each batch.
- **Redaction invariant.** The reference's ``redact=True`` default holds
  by construction, not by a knob: the stage runs as the N5 provider over
  the pipeline's redacted contexts, never raw values — identical to the
  N5/E2 stages.

The provider itself is deterministic and offline (``FakeLLMProvider`` —
this environment ships no model, the same honest stub policy as
spacy/presidio), but the budget/cache/batching plumbing is real and
tested.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.prefix import running_total

#: USD per 1k estimated tokens (typical hosted-model order of magnitude;
#: a ``llm_budget_plan`` argument).
LLM_PRICE_PER_1K_USD = 0.03
#: Reference defaults (config.py:77-78).
LLM_COST_CAP_USD = 0.50
LLM_CACHE_TTL_MINUTES = 1440


def est_tokens_col(text_col: str = "text"):
    """Whitespace-token estimate (matches textstats' n_ws_tokens). NULL
    text meters as 0 tokens in BOTH engines — Spark's legacy size(NULL)
    is -1 and DuckDB's len(NULL) is NULL, either of which would corrupt
    the running total."""
    return F.when(F.col(text_col).isNull(), F.lit(0)) \
        .otherwise(F.size(F.split(text_col, " +"))).cast("bigint")


def llm_budget_plan(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    cost_cap_usd: float = LLM_COST_CAP_USD,
                    price_per_1k: float = LLM_PRICE_PER_1K_USD
                    ) -> DataFrame:
    """Per-row spend plan: (id, est_tokens, cum_usd — cost INCLUDING this
    row, rounded 1e-6, in_budget). Deterministic (md5-order metering), so
    re-running a capped scan selects the identical subset."""
    base = df.select(id_col, est_tokens_col(text_col).alias("est_tokens"))
    cum = running_total(base, id_col, "est_tokens", "cum_before")
    cum_usd = ((F.col("cum_before") + F.col("est_tokens"))
               * F.lit(price_per_1k / 1000.0))
    return cum.select(
        id_col, "est_tokens",
        F.round(cum_usd, 6).alias("cum_usd"),
        (cum_usd <= F.lit(cost_cap_usd)).alias("in_budget"))


def llm_budget_plan_sql() -> str:
    """DuckDB oracle: the semantic single-window rendering of the
    two-level prefix sum."""
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(COALESCE(len(regexp_split_to_array(text, ' +')), 0)
              AS BIGINT) AS est_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
cum AS (
  SELECT doc_id, est_tokens,
         SUM(est_tokens) OVER (ORDER BY h, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM base
)
SELECT doc_id, est_tokens,
       round(cum_tokens * {LLM_PRICE_PER_1K_USD / 1000.0!r}, 6) AS cum_usd,
       cum_tokens * {LLM_PRICE_PER_1K_USD / 1000.0!r} <= {LLM_COST_CAP_USD}
         AS in_budget
FROM cum
"""


#: Response-cache entry cap: a scan over many distinct long texts must
#: not grow executor memory without bound — the cache is an LRU, and
#: expired entries are swept per batch (not only lazily on re-access).
LLM_CACHE_MAX_ENTRIES = 10_000


class FakeLLMProvider:
    """Deterministic offline "LLM" span labeler with the declared runtime
    behaviors: worker-lifetime TTL response cache (LRU-bounded, expired
    entries swept each batch) and call accounting. Detection reuses the
    shared rule patterns at confidence 0.95 (an LLM asked to label PII
    spans; determinism keeps it hermetic). The spacy/presidio stub policy
    applies: the model is fake, the cache/batch/singleton plumbing is the
    real production shape."""

    load_count = 0

    def __init__(self, cache_ttl_minutes: int = LLM_CACHE_TTL_MINUTES,
                 cache_max_entries: int = LLM_CACHE_MAX_ENTRIES,
                 clock=time.monotonic) -> None:
        import re
        from collections import OrderedDict
        from .rules import RULES, bounded_pattern
        type(self).load_count += 1
        self._patterns = [(r.pii_type, re.compile(bounded_pattern(r)))
                          for r in RULES]
        self._ttl_s = cache_ttl_minutes * 60.0
        self._max = max(1, cache_max_entries)
        self._clock = clock
        self._cache: OrderedDict[str, tuple[float, list]] = OrderedDict()
        self.model_calls = 0
        self.cache_hits = 0

    def _label(self, text: str) -> list:
        self.model_calls += 1
        return [(t, m.group(0), 0.95)
                for t, pat in self._patterns for m in pat.finditer(text)]

    def _sweep(self, now: float) -> None:
        expired = [k for k, (ts, _) in self._cache.items()
                   if now - ts > self._ttl_s]
        for k in expired:
            del self._cache[k]

    def detect_batch(self, texts):
        now = self._clock()
        self._sweep(now)
        out = []
        for text in texts:
            if text is None:
                out.append([])
                continue
            hit = self._cache.get(text)
            if hit is not None and now - hit[0] <= self._ttl_s:
                self.cache_hits += 1
                self._cache.move_to_end(text)
                out.append(hit[1])
                continue
            spans = self._label(text)
            self._cache[text] = (now, spans)
            self._cache.move_to_end(text)
            while len(self._cache) > self._max:
                self._cache.popitem(last=False)
            out.append(spans)
        return out
