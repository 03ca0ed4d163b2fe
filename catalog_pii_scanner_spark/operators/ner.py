"""NER operators (reference N1-N5, src/catalog_pii_scanner/ner.py).

Provider model mirrors the reference: a pluggable span detector with a
confidence gate (N3, default 0.60), merged with rule candidates by
per-type MAX (N4, ner.py:202-228), plus context-signal histograms (N5):
one ``groupBy`` per context key builds the ``ner_sig`` share map.

Providers:
- ``regex`` (default, hermetic): the reference's spaCy fallback — PERSON
  via the capitalized-bigram pattern at 0.85, EMAIL 0.99, PHONE 0.90
  (ner.py:53-117's fallback scores). Runs as JVM column expressions; this
  is the oracle-checkable path.
- ``spacy`` / ``presidio``: gated behind import-try; load lazily ONCE per
  Python worker (executor-global singleton, the standard heavy-model
  pattern), batch via Arrow in mapInPandas. Selecting one whose package
  is not installed raises ImportError on the driver while the plan is
  built (``require_provider``), before any Spark job runs.

Scale notes: the regex provider is a projection (no shuffle, codegen). The
model providers are mapInPandas stages whose cost is bounded by Arrow
batch size; model weights distribute via SparkFiles/addFile, never
broadcast through the closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracles import ratio_round_halfup_guarded
from ..pii_types import ALL_PII_TYPES

from .rules import RULES, Rule, extract_candidates

NER_CONFIDENCE_MIN = 0.60

#: regex-provider scores (reference ner.py fallback path).
NER_SCORES = {"PERSON": 0.85, "EMAIL": 0.99, "PHONE_NUMBER": 0.90}

_NER_RULES = tuple(
    Rule(r.pii_type, r.pattern, NER_SCORES[r.pii_type])
    for r in RULES if r.pii_type in NER_SCORES
)


# --- heavy-provider path (mapInPandas, executor-global singleton) ------------

#: Per-Python-worker provider cache: the module globals of a UDF module
#: live for the worker's lifetime, so a model loads ONCE per worker, not
#: per batch — the standard heavy-model pattern (reference ner.py's
#: lru-cached _load_spacy, ner.py:19-32, translated to executors).
_PROVIDER_SINGLETONS: dict[str, object] = {}


class FakeHeavyProvider:
    """Deterministic stand-in for a heavy model provider (spaCy/Presidio
    contract, reference ner.py:120-167 + tests/test_ner.py's FakeProvider):
    constructed once per worker (load_count proves it), batch-oriented
    detect over texts. Emits the same three families at the reference's
    fallback scores, so its output is comparable 1:1 with the JVM regex
    provider — that equality IS the pluggability test."""

    load_count = 0

    def __init__(self) -> None:
        import re
        type(self).load_count += 1
        from .rules import bounded_pattern
        self._patterns = [(r.pii_type, re.compile(bounded_pattern(r)),
                           NER_SCORES[r.pii_type]) for r in _NER_RULES]

    def detect_batch(self, texts):
        out = []
        for text in texts:
            spans = []
            if text is not None:
                for t, pat, score in self._patterns:
                    # finditer + group(0): always the FULL match, even if a
                    # pattern carries capturing groups (findall would return
                    # the captures instead and silently diverge from the JVM
                    # regexp_extract_all(..., 0) path).
                    spans += [(t, m.group(0), score)
                              for m in pat.finditer(text)]
            out.append(spans)
        return out


class SpacyProvider:
    """Real spaCy provider (reference ner.py:53-118 SpaCyProvider):
    PERSON via model entities at 0.85; EMAIL/PHONE via the shared rule
    regexes at the reference scores (the reference also runs regex for
    those two families even with the model loaded). Same ``detect_batch``
    contract as FakeHeavyProvider, so it plugs into the identical
    mapInPandas stage. Import-gated: constructing without spaCy raises
    ImportError (``require_provider`` guides first); a missing model
    package degrades to a blank pipeline (no entities), exactly like the
    reference's ``_load_spacy`` fallback."""

    def __init__(self, model: str | None = None) -> None:
        import re as _re

        import spacy

        try:
            self._nlp = spacy.load(model or "en_core_web_sm")
        except OSError:  # model data absent: blank pipeline, no ents
            self._nlp = spacy.blank("en")
        from .rules import bounded_pattern
        self._regex = [(r.pii_type, _re.compile(bounded_pattern(r),
                                                _re.ASCII),
                        NER_SCORES[r.pii_type])
                       for r in _NER_RULES if r.pii_type != "PERSON"]

    def detect_batch(self, texts):
        clean = ["" if t is None else t for t in texts]
        disable = [c for c in ("tagger", "lemmatizer")
                   if c in self._nlp.pipe_names]
        out = []
        for text, doc in zip(clean, self._nlp.pipe(clean,
                                                   disable=disable)):
            spans = [("PERSON", ent.text, NER_SCORES["PERSON"])
                     for ent in (getattr(doc, "ents", []) or [])
                     if ent.label_ == "PERSON"]
            for t, pat, score in self._regex:
                spans += [(t, m.group(0), score)
                          for m in pat.finditer(text)]
            out.append(spans)
        return out


#: Presidio entity-label -> engine label (reference ner.py:146-163).
_PRESIDIO_LABELS = {
    "PERSON": "PERSON", "PER": "PERSON",
    "EMAIL": "EMAIL", "EMAIL_ADDRESS": "EMAIL",
    "PHONE": "PHONE_NUMBER", "PHONE_NUMBER": "PHONE_NUMBER",
    "PHONENUMBER": "PHONE_NUMBER",
}


class PresidioProvider:
    """Real Presidio provider (reference ner.py:120-167): AnalyzerEngine
    per worker, entity labels mapped through the reference's table,
    other labels dropped; scores are the engine's own. Import-gated."""

    def __init__(self) -> None:
        from presidio_analyzer import AnalyzerEngine
        self._engine = AnalyzerEngine()

    def detect_batch(self, texts):
        out = []
        for text in texts:
            spans = []
            if text:
                for r in self._engine.analyze(text=text, language="en"):
                    label = _PRESIDIO_LABELS.get(
                        str(getattr(r, "entity_type", "")).upper())
                    if label is not None:
                        spans.append((label, text[r.start:r.end],
                                      float(r.score)))
            out.append(spans)
        return out


#: Model package each import-gated provider loads on the workers.
_PROVIDER_PACKAGES = {"spacy": "spacy", "presidio": "presidio_analyzer"}


def require_provider(name: str | None) -> None:
    """Check that an import-gated provider's package is installed. Called
    on the driver while the plan is built, so a missing package fails
    before any job instead of inside ``mapInPandas`` on the executors."""
    import importlib.util
    pkg = _PROVIDER_PACKAGES.get(name)
    if pkg is not None and importlib.util.find_spec(pkg) is None:
        raise ImportError(
            f"NER provider '{name}' needs its model package, which is "
            f"not installed; use provider='regex' or 'fake_heavy'")


def _get_provider(name: str, opts: dict | None = None):
    """Lazy once-per-worker provider construction. ``opts`` are provider
    constructor kwargs (e.g. the LLM provider's ``cache_ttl_minutes`` from
    the validated config); they key the singleton so two scans with
    different declared options never share a stale provider."""
    key = name if not opts else f"{name}:{sorted(opts.items())!r}"
    if key not in _PROVIDER_SINGLETONS:
        if name == "fake_heavy":
            _PROVIDER_SINGLETONS[key] = FakeHeavyProvider()
        elif name == "fake_llm":
            from .llm import FakeLLMProvider
            _PROVIDER_SINGLETONS[key] = FakeLLMProvider(**(opts or {}))
        elif name in ("spacy", "presidio"):
            require_provider(name)  # a worker may lack what the driver has
            cls = SpacyProvider if name == "spacy" else PresidioProvider
            _PROVIDER_SINGLETONS[key] = cls(**(opts or {}))
        else:
            raise ValueError(f"unknown NER provider {name!r}")
    return _PROVIDER_SINGLETONS[key]


def detect_ner_spans_model(values_df: DataFrame, value_col: str = "value",
                           keep_cols: tuple[str, ...] = ("column_ref",),
                           provider: str = "fake_heavy",
                           confidence_min: float = NER_CONFIDENCE_MIN,
                           provider_opts: dict | None = None
                           ) -> DataFrame:
    """Heavy-provider N1+N3: Arrow-batched ``mapInPandas`` with the
    executor-global singleton. Partition-preserving (no shuffle); batch
    size governed by spark.sql.execution.arrow.maxRecordsPerBatch."""
    import pandas as pd
    require_provider(provider)
    from pyspark.sql.types import (DoubleType, StringType, StructField,
                                   StructType)

    in_cols = [*keep_cols, value_col]
    schema = StructType(
        [values_df.schema[c] for c in in_cols]
        + [StructField("pii_type", StringType()),
           StructField("match_text", StringType()),
           StructField("ner_score", DoubleType())])
    out_cols = in_cols + ["pii_type", "match_text", "ner_score"]

    def gen(batches):
        prov = _get_provider(provider, provider_opts)
        for pdf in batches:
            keeps = pdf[in_cols].itertuples(index=False, name=None)
            spans = prov.detect_batch(pdf[value_col].tolist())
            yield pd.DataFrame([k + s for k, ss in zip(keeps, spans)
                                for s in ss if s[2] >= confidence_min],
                               columns=out_cols)

    return values_df.select(*in_cols).mapInPandas(gen, schema)


def detect_ner_spans(values_df: DataFrame, value_col: str = "value",
                     keep_cols: tuple[str, ...] = ("column_ref",),
                     provider: str = "regex",
                     confidence_min: float = NER_CONFIDENCE_MIN,
                     provider_opts: dict | None = None) -> DataFrame:
    """N1+N3: provider dispatch + confidence gate.

    Output: keep_cols..., value, pii_type, match_text, ner_score.
    ``regex`` runs JVM-side (codegen, oracle-checkable); every other
    provider routes through the mapInPandas heavy-model stage.
    """
    if provider != "regex":
        return detect_ner_spans_model(values_df, value_col, keep_cols,
                                      provider, confidence_min,
                                      provider_opts)
    spans = extract_candidates(values_df, value_col, keep_cols,
                               rules=_NER_RULES)
    score = F.lit(None).cast("double")
    for t, s in NER_SCORES.items():
        score = F.when(F.col("pii_type") == t, F.lit(s)).otherwise(score)
    return (
        spans.withColumn("ner_score", score)
        .where(F.col("ner_score") >= confidence_min)
        .select(*keep_cols, value_col, "pii_type", "match_text",
                "ner_score")
    )


def merge_with_rules(rule_cands: DataFrame, ner_spans: DataFrame) -> DataFrame:
    """N4/A1: per (column_ref, value, pii_type) MAX over rule
    confidences and NER scores — the union-then-max merge the reference
    applies (ner.py:202-228). One union + one aggregation."""
    keys = ("column_ref", "value", "pii_type")
    r = rule_cands.select(*keys, F.col("rule_confidence").alias("signal"))
    n = ner_spans.select(*keys, F.col("ner_score").alias("signal"))
    return (
        r.unionByName(n)
        .groupBy(*keys)
        .agg(F.round(F.max("signal"), 6).alias("merged_score"))
    )


def merge_with_rules_oracle_sql() -> str:
    """DuckDB rendering over the shared scored-candidates CTE: re-derive
    the NER spans from the same relation (EMAIL/PHONE/PERSON matches at
    provider scores), union with rule confidences, group-max."""
    score_case = " ".join(
        f"WHEN '{t}' THEN CAST({s} AS DOUBLE)"
        for t, s in NER_SCORES.items())
    return f"""
merged_in AS (
  SELECT column_ref, value, pii_type, rule_confidence AS signal
  FROM scored
  UNION ALL
  SELECT column_ref, value, pii_type,
         (CASE pii_type {score_case} END) AS signal
  FROM scored
  WHERE pii_type IN ({", ".join(f"'{t}'" for t in NER_SCORES)})
    AND (CASE pii_type {score_case} END) >= {NER_CONFIDENCE_MIN}
)
SELECT column_ref, value, pii_type,
       round(MAX(signal), 6) AS merged_score
FROM merged_in GROUP BY column_ref, value, pii_type
"""


def ner_context_signals_oracle_sql(ctx_rel: str = "ctx",
                                   keep: tuple[str, ...] = ("column_ref",
                                                            "match_text"),
                                   wrap_cte: str | None = None) -> str:
    """DuckDB rendering of N5 over a (keep..., context) relation: per-rule
    match extraction (same bounded patterns at the provider scores, all
    above the 0.60 gate), histogram per keep key, normalized shares.

    With ``wrap_cte`` the final select becomes a named CTE (for
    composition into a larger query) instead of the query tail."""
    from .rules import bounded_pattern
    keep_sql = ", ".join(keep)
    parts = []
    for r in _NER_RULES:
        pat = bounded_pattern(r).replace("'", "''")
        parts.append(
            f"SELECT {keep_sql}, '{r.pii_type}' AS ent_type, "
            f"unnest(regexp_extract_all(context, '{pat}')) AS m "
            f"FROM {ctx_rel}")
    spans = " UNION ALL ".join(parts)
    out_keep = ", ".join(f"c.{k} AS {k}" for k in keep)
    final = f"""SELECT {out_keep}, c.ent_type AS pii_type,
       {ratio_round_halfup_guarded("duckdb", "c.n", "t.total")} AS signal
FROM counts c
JOIN totals t ON {" AND ".join(f"c.{k} = t.{k}" for k in keep)}"""
    tail = (f",\n{wrap_cte} AS (\n{final}\n)" if wrap_cte is not None
            else f"\n{final}")
    return f"""
spans AS ({spans}),
counts AS (
  SELECT {keep_sql}, ent_type, COUNT(*) AS n
  FROM spans GROUP BY {keep_sql}, ent_type
),
totals AS (
  SELECT {keep_sql}, SUM(n) AS total FROM counts GROUP BY {keep_sql}
){tail}
"""


def ner_signal_map(contexts: DataFrame, keep_cols: tuple[str, ...],
                   provider: str, provider_opts: dict | None,
                   confidence_min: float) -> DataFrame:
    """N5 in ONE aggregation, ``keep_cols..., ner_sig MAP<STRING,DOUBLE>``:
    ``groupBy(keep)`` counts the key's spans over ``context`` and, per
    ``ALL_PII_TYPES`` label, that label's spans (every provider labels in
    ALL_PII_TYPES). The map holds each label counted above 0 at its share,
    rounded by ``ratio_round_halfup_guarded``. Contexts sharing a key sum
    into one histogram; a key with no entity gives no row. Keep columns
    named like the detector's output (pii_type/match_text/ner_score) are
    renamed through the detection and restored."""
    alias = {k: f"_k_{k}" for k in keep_cols
             if k in ("pii_type", "match_text", "ner_score")}
    safe_keep = tuple(alias.get(k, k) for k in keep_cols)
    spans = detect_ner_spans(contexts.withColumnsRenamed(alias), "context",
                             safe_keep, provider, confidence_min,
                             provider_opts)
    n = {t: f"_n{i}" for i, t in enumerate(ALL_PII_TYPES)}
    entries = ", ".join(
        f"IF({c} > 0, struct('{t}', "
        f"{ratio_round_halfup_guarded('spark', c, '_total')}), NULL)"
        for t, c in n.items())
    return spans.groupBy(*safe_keep).agg(
        F.count("*").alias("_total"),
        *(F.count_if(F.col("pii_type") == t).alias(c) for t, c in n.items())
    ).select(*(F.col(a).alias(k) for k, a in zip(keep_cols, safe_keep)),
             F.expr(f"map_from_entries(array_compact(array({entries})))")
             .alias("ner_sig"))


def ner_context_signals(contexts: DataFrame,
                        keep_cols: tuple[str, ...] = ("column_ref",
                                                      "match_text"),
                        provider: str = "regex") -> DataFrame:
    """N5 as rows ``keep_cols..., pii_type, signal``: the entries of the
    one-aggregation histogram :func:`ner_signal_map` builds, exploded."""
    return ner_signal_map(contexts, keep_cols, provider, None,
                          NER_CONFIDENCE_MIN).select(
        *keep_cols, F.explode("ner_sig").alias("pii_type", "signal"))
