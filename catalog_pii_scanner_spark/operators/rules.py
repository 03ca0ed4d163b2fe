"""Rule-based PII candidate extraction (reference operators X1–X10).

Reference behavior surveyed from src/catalog_pii_scanner/rules.py:106-166
(one regex family per PII type, Luhn/Verhoeff checksum validation for
CREDIT_CARD/AADHAAR, a +0.1 confidence boost for DATE near a dob/birth
keyword, per-family rule confidences). Patterns below are written fresh
against the *intersection* of Java regex (Spark) and RE2 (DuckDB) syntax —
no lookaround, no backreferences — so the engine and its correctness oracle
run the identical pattern.

Scale design: extraction is a SINGLE projection over the input — each rule
contributes a match array via ``regexp_extract_all``; ``stack`` pivots the
arrays to rows, which are exploded ONCE. The regex stage is JVM-side
(whole-stage codegen), reads the input exactly once, and preserves the
input partitioning (no shuffle).

The projection is built as SQL text (a few ``selectExpr`` calls, patterns
as raw ``r'...'`` literals), not as Column objects: with the ten default
rules the Column form cost ~1,800 py4j round trips per call, paid on every
scan whatever the data size, the text form ~160; both give the identical
optimized plan.

Checksum validation (Luhn/Verhoeff) stays an Arrow-batched pandas UDF over
the exploded candidates. An unrolled pure-JVM kernel was measured instead:
the extraction pass went from 0.70 s to 3.4 s.

A position-aware pandas-UDF variant (`extract_candidates_pdf`) exists for
the redaction/ensemble pipeline, which needs char offsets (Span.start/end):
it runs the SAME rule table through ``re.finditer`` in one Arrow-batched
stage and emits every occurrence with its exact offsets — the reference's
Span semantics (reference rules.py:89-91 ``find_regex``,
pii_types.py:37-41), including the exact +/-8-char dob-context DATE boost
(reference rules.py:154-161).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.checksums import luhn_ok, verhoeff_ok
from ..plans.barrier import barrier_filter

__all__ = ["Rule", "RULES", "DOB_BOOST", "W_RULE", "W_VALIDATION",
           "extract_candidates", "extract_candidates_pdf",
           "candidate_score", "rules_for_types"]


#: Value classes at the melt boundary: 'num' = stringified int/bigint/
#: double, 'ts' = 'yyyy-MM-dd HH:mm:ss'-formatted timestamps, 'text' =
#: native strings. Used to skip regex families that provably cannot match
#: a class (e.g. EMAIL needs letters+@; a stringified bigint has neither).
VALUE_CLASSES: tuple[str, ...] = ("text", "num", "ts")


@dataclass(frozen=True)
class Rule:
    pii_type: str
    pattern: str
    confidence: float
    validator: str | None = None  # 'luhn' | 'verhoeff12'
    #: melt value classes this pattern can possibly match; classes outside
    #: the tuple skip the regex entirely (pure pruning — a class is
    #: excluded only when NO string of that class can match the pattern).
    classes: tuple[str, ...] = VALUE_CLASSES


#: Dob-context boost for DATE (reference rules.py:154-161). The reference
#: checks +/-8 chars around the span; the SQL-expressible engine variant
#: boosts when the containing value mentions dob/birth (equivalent for the
#: short sampled values this operator scans; the pandas-UDF path is exact).
DOB_BOOST = 0.1

#: Ensemble fusion weights, rules-only path (reference ensemble.py:65-67
#: dataclass defaults: w_rule=0.6, validation term 0.2).
W_RULE = 0.6
W_VALIDATION = 0.2

#: Class-pruning rationale (why each excluded class provably cannot match):
#: letters/'@' never appear in stringified numerics or timestamps (EMAIL,
#: PAN, PERSON, MAC's required ':'/'-' *chain* of 6 hex pairs); SSN/IP need
#: interior '-'/'.' patterns numerics lack (a negative sign is leading, a
#: DECIMAL(18,2) has one dot vs IP's three); the timestamp rendering
#: 'yyyy-MM-dd HH:mm:ss' has max digit-run 4 (phone needs a contiguous
#: \d{3}\d{3} tail) and only 10 digits before a ':' (credit card needs 13).
RULES: tuple[Rule, ...] = (
    Rule("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", 0.95,
         classes=("text",)),
    # leading \b sits inside the digit alternative only: '(' after a space
    # has no word boundary before it, so a blanket \b(...)\b never matches
    # the '(NNN) NNN-NNNN' form.
    # Separators optional so unformatted 10-digit phones ('5551234567')
    # match, as the reference's PHONE_US_RE does. The \b guards keep the
    # pattern out of longer digit runs (12-digit Aadhaar, 13+-digit PANs).
    Rule("PHONE_NUMBER",
         r"(?:\+?1[-. ])?(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ]?)\d{3}[-. ]?\d{4}\b",
         0.85, classes=("text", "num")),
    # Grouping-agnostic 13-19 digit run (reference CC_RE): matches 4-4-4-N,
    # Amex 4-6-5, and unseparated runs alike; Luhn is the precision gate.
    Rule("CREDIT_CARD", r"\d(?:[ -]?\d){12,18}", 0.90,
         validator="luhn", classes=("text", "num")),
    Rule("SSN", r"\d{3}-\d{2}-\d{4}", 0.90, classes=("text",)),
    Rule("IP_ADDRESS",
         r"(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
         r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)", 0.90, classes=("text",)),
    Rule("MAC_ADDRESS", r"[0-9A-Fa-f]{2}(?:[:-][0-9A-Fa-f]{2}){5}", 0.90,
         classes=("text",)),
    Rule("AADHAAR", r"[2-9]\d{3}[ -]?\d{4}[ -]?\d{4}", 0.90,
         validator="verhoeff12", classes=("text", "num")),
    Rule("PAN", r"[A-Za-z]{5}\d{4}[A-Za-z]", 0.90, classes=("text",)),
    # ISO, slashed, and dd-mm-yyyy hyphenated (reference DATE_RE). The \b
    # wrap keeps the dd-mm-yyyy alternative out of SSN interiors
    # ('123-45-6789' offers '23-45-6789' only at a non-boundary).
    Rule("DATE",
         r"\d{4}-\d{2}-\d{2}|\d{1,2}/\d{1,2}/\d{4}|\d{2}-\d{2}-\d{4}", 0.70,
         classes=("text", "ts")),
    Rule("PERSON", r"[A-Z][a-z]+ [A-Z][a-z]+", 0.40, classes=("text",)),
)

# Word-ish boundary guard: candidates must not sit inside a longer
# digit/word run. We wrap patterns needing it with \b explicitly here so
# the raw pattern strings above stay readable.
_BOUNDED = {
    "CREDIT_CARD", "SSN", "IP_ADDRESS", "MAC_ADDRESS", "AADHAAR", "PAN",
    "DATE", "PERSON",
}


def bounded_pattern(rule: Rule) -> str:
    if rule.pii_type in _BOUNDED:
        return r"\b(?:" + rule.pattern + r")\b"
    return rule.pattern


def rules_for_types(enabled_types) -> tuple[Rule, ...]:
    """P5: gate rule families by ``RulesConfig.enabled_types`` (reference
    rules.py:93-103 — ``None``/empty enables every family; otherwise only
    the listed types' regexes run)."""
    if not enabled_types:
        return RULES
    enabled = set(enabled_types)
    return tuple(r for r in RULES if r.pii_type in enabled)


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _raw(text: str) -> str:
    """``text`` as a Spark SQL raw string literal: backslashes reach the
    regex engine exactly as written in the rule table."""
    if "'" in text:
        raise ValueError(f"rule pattern has a single quote: {text!r}")
    return f"r'{text}'"


# BooleanType() instances (not "boolean" DDL strings): string return types
# are parsed through the active SparkContext, which would make this module
# unimportable before a session exists.
@F.pandas_udf(BooleanType())
def _luhn_udf(s: pd.Series) -> pd.Series:
    return s.map(luhn_ok)


@F.pandas_udf(BooleanType())
def _verhoeff_udf(s: pd.Series) -> pd.Series:
    return s.map(verhoeff_ok)


#: ``Rule.validator`` -> its checksum UDF, in CASE order.
_CHECKSUM_UDFS = (("luhn", _luhn_udf), ("verhoeff12", _verhoeff_udf))


def extract_candidates(
    df: DataFrame,
    value_col: str = "value",
    keep_cols: tuple[str, ...] = ("column_ref",),
    rules: tuple[Rule, ...] = RULES,
    class_col: str | None = None,
) -> DataFrame:
    """values DataFrame -> candidate rows.

    Output: ``keep_cols... , value, pii_type, match_text, rule_confidence,
    validated BOOLEAN`` — one row per (value, rule match), checksum-invalid
    candidates dropped (reference invariant: Luhn/Verhoeff-invalid spans are
    never labeled).

    Shape (all codegen-friendly primitives — measured ~100x faster at
    sf0.01 than the earlier HOF transform->struct->concat design, which
    dropped the whole stage to interpreted eval): one projection computes
    every rule's match array via ``regexp_extract_all``; ``stack`` pivots
    the arrays to (pii_type, matches) rows; empty match arrays are filtered
    *before* the explode; per-rule confidence/validator decoration is a
    pair of CASE chains. One input scan, one explode, zero shuffles. All
    of it is rendered as SQL text (module docstring: driver cost).

    When ``class_col`` names a value-class column (see ``VALUE_CLASSES``,
    produced by the melt), each rule's regex runs ONLY on rows whose class
    the rule can possibly match — codegen's CASE short-circuits the regex
    for the rest. On the whole-catalog scan most melted values come from
    numeric columns, so 7 of 10 families skip them entirely.
    """
    value = _ident(value_col)
    keep = [_ident(c) for c in keep_cols]

    def rule_arr(r: Rule) -> str:
        arr = f"regexp_extract_all({value}, {_raw(bounded_pattern(r))}, 0)"
        if class_col is not None and set(r.classes) != set(VALUE_CLASSES):
            # no ELSE => NULL, filtered by the size(matches) > 0 gate
            classes = ", ".join(f"'{c}'" for c in r.classes)
            return (f"CASE WHEN {_ident(class_col)} IN ({classes}) "
                    f"THEN {arr} END")
        return arr

    proj = df.selectExpr(*keep, value, *(f"{rule_arr(r)} AS _m{i}"
                                         for i, r in enumerate(rules)))
    pairs = ", ".join(f"'{r.pii_type}', _m{i}" for i, r in enumerate(rules))
    stacked = proj.selectExpr(
        *keep, value, f"stack({len(rules)}, {pairs}) AS (pii_type, matches)")

    # per-rule decoration: nested CASE chains, the first rule innermost
    conf, vtor = "CAST(NULL AS DOUBLE)", "CAST(NULL AS STRING)"
    for r in rules:
        c = f"{float(r.confidence)!r}D"
        if r.pii_type == "DATE":
            c += (f" + CASE WHEN lower({value}) RLIKE 'dob|birth' "
                  f"THEN {DOB_BOOST!r}D ELSE 0.0D END")
        when = f"CASE WHEN pii_type = '{r.pii_type}' THEN"
        conf = f"{when} {c} ELSE {conf} END"
        vtor = f"{when} '{r.validator or ''}' ELSE {vtor} END"

    exploded = (
        stacked.where("size(matches) > 0")
        .selectExpr(*keep, value, "pii_type",
                    "explode(matches) AS match_text")
        .selectExpr("*", f"{conf} AS rule_confidence",
                    f"{vtor} AS validator")
    )
    # Checksum validation runs as an Arrow-batched pandas UDF on the
    # (already exploded, much smaller) candidate set. The pure-SQL
    # renderings in functions/checksums.py exist and are oracle-tested, but
    # inlining them here knocks the whole stage out of whole-stage codegen
    # (HOF aggregate + mega-CASE => CodegenFallback), making the 10-regex
    # projection ~20x slower. Measured at sf0.01: 16.4s -> 0.8s.
    # The invalid-checksum drop goes through barrier_filter: a plain
    # .where(checksum_ok ...) is pushed below this projection, which
    # duplicates the Luhn/Verhoeff ArrowEvalPython stage (two Python
    # round-trips per scan instead of one).
    # Only the validators of ``rules`` get a branch: a rule set without
    # one (the NER families) plans no Python stage at all.
    checks = [(F.expr(f"validator = '{v}'"), udf("match_text"))
              for v, udf in _CHECKSUM_UDFS
              if v in {r.validator for r in rules}]
    unchecked = F.expr("CAST(NULL AS BOOLEAN)")
    validated = (reduce(lambda case, c: case.when(*c), checks, F)
                 .otherwise(unchecked) if checks else unchecked)
    checked = exploded.withColumn("checksum_ok", validated)
    return (
        barrier_filter(checked, F.expr("checksum_ok IS NULL OR checksum_ok"))
        .selectExpr(*keep, value, "pii_type", "match_text", "rule_confidence",
                    "coalesce(checksum_ok, false) AS validated")
    )


#: Struct emitted per occurrence by the position-exact extraction. pstart
#: is 1-based (matching the engine's instr convention; reference
#: Span.start = pstart - 1), pend is exclusive: pend = pstart +
#: length(match_text).
_SPAN_DDL = ("array<struct<pstart:int,pend:int,pii_type:string,"
             "match_text:string,rule_confidence:double,validated:boolean>>")


def _find_spans_factory(rules: tuple[Rule, ...]):
    """Closure run inside the pandas UDF: text -> list of span tuples.

    ``re.ASCII`` pins ``\\d``/``\\w``/``\\b`` to their Java-regex/RE2
    meanings so the Python path and the ``regexp_extract_all`` path match
    the identical candidate set (asserted by the differential test in
    tests/test_rules.py)."""
    compiled = [(r, re.compile(bounded_pattern(r), re.ASCII)) for r in rules]

    def find_spans(text):
        if text is None:
            return []
        out = []
        for r, pat in compiled:
            for m in pat.finditer(text):
                match = m.group(0)
                validated = False
                if r.validator == "luhn":
                    if not luhn_ok(match):
                        continue
                    validated = True
                elif r.validator == "verhoeff12":
                    if not verhoeff_ok(match):
                        continue
                    validated = True
                conf = r.confidence
                if r.pii_type == "DATE":
                    # exact reference dob boost: +/-8 chars around the span
                    # (reference rules.py:154-161), not the whole value.
                    ctx = text[max(0, m.start() - 8):m.end() + 8].lower()
                    if "dob" in ctx or "birth" in ctx:
                        conf += DOB_BOOST
                out.append((m.start() + 1, m.end() + 1, r.pii_type,
                            match, conf, validated))
        return out

    return find_spans


def extract_candidates_pdf(
    df: DataFrame,
    value_col: str = "value",
    keep_cols: tuple[str, ...] = ("column_ref",),
) -> DataFrame:
    """Position-exact candidate extraction (reference Span semantics).

    Same candidate set as :func:`extract_candidates` plus exact character
    offsets for EVERY occurrence — a text containing the same PII string
    twice yields two rows with distinct ``pstart``. This is the reference's
    ``propose_candidates`` contract (reference rules.py:106-166 over
    ``finditer`` spans, pii_types.py:37-41), which the JVM-side
    array/instr path can only approximate (first occurrence).

    Output: ``keep_cols..., value, pstart, pend, pii_type, match_text,
    rule_confidence, validated`` — pstart 1-based, pend exclusive.

    Scale shape: ONE Arrow-batched pandas-UDF projection (regex + checksum
    + dob-context in a single Python round-trip), one explode, zero
    shuffles; input partitioning preserved. Use this on the detection
    pipeline where offsets matter; the pure-JVM
    :func:`extract_candidates` remains the whole-stage-codegen scan path
    for offset-free rollups and the SQL-renderable oracle queries.
    """
    find_spans = _find_spans_factory(RULES)

    @F.pandas_udf(_SPAN_DDL)
    def _spans_udf(s: pd.Series) -> pd.Series:
        return s.map(find_spans)

    c = F.col("_span")
    return (
        df.select(*keep_cols, value_col,
                  F.explode(_spans_udf(F.col(value_col))).alias("_span"))
        .select(*keep_cols, value_col,
                c["pstart"].alias("pstart"), c["pend"].alias("pend"),
                c["pii_type"].alias("pii_type"),
                c["match_text"].alias("match_text"),
                c["rule_confidence"].alias("rule_confidence"),
                c["validated"].alias("validated"))
    )


def candidate_score() -> Column:
    """Rules-only ensemble score (reference F1/F2/F3/F4 closed form).

    Full ensemble fusion per candidate: raw[t] = w_rule*conf (for the rule's
    own type; other 10 types stay 0) + 0.2*validated, then identity-Platt
    calibration sigmoid(raw), then normalization across the 11-type prob
    vector. With rules-only signals the other types all calibrate to
    sigmoid(0)=0.5, so the label's normalized probability collapses to
    ``sigmoid(raw) / (sigmoid(raw) + 5.0)`` — computed exactly, JVM-side.
    """
    raw = (F.lit(W_RULE) * F.col("rule_confidence")
           + F.lit(W_VALIDATION) * F.col("validated").cast("double"))
    calibrated = F.lit(1.0) / (F.lit(1.0) + F.exp(-raw))
    return calibrated / (calibrated + F.lit(5.0))


def candidate_score_sql(dialect: str) -> str:
    """The exact SQL rendering of :func:`candidate_score` (both dialects)."""
    raw = (f"({W_RULE} * rule_confidence + {W_VALIDATION} * "
           f"(CASE WHEN validated THEN 1.0 ELSE 0.0 END))")
    cal = f"(1.0 / (1.0 + exp(-{raw})))"
    return f"({cal} / ({cal} + 5.0))"
