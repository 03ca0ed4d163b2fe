"""DuckDB oracle SQL builders.

Every query exposed in ``__spark_entry__.queries()`` has its oracle built
here. Builders share rule specs, checksum SQL, fusion math, and melt
formatting with the Spark operators (same modules), so the oracle and the
engine cannot drift apart silently.

Dialect notes encoded here:
- DuckDB ``regexp_replace`` needs the 'g' flag (handled in checksums.py).
- Confidence literals are cast to DOUBLE so DuckDB does not switch to exact
  DECIMAL arithmetic where Spark uses doubles.
- ``unnest`` expands array-valued select items laterally == Spark explode.
"""

from __future__ import annotations

from .operators.rules import (DOB_BOOST, RULES, VALUE_CLASSES, Rule,
                              bounded_pattern, candidate_score_sql)
from .functions.checksums import luhn_sql, verhoeff12_sql
from .sources.demo_catalog import demo_pii_sql, DEMO_TEXT_COLUMNS
from .sources.melt import melt_oracle_sql


def exact_int_div(dialect: str, num: str, den: str) -> str:
    """Exact integer floor division of NON-NEGATIVE BIGINT expressions,
    as BIGINT — the engine-build-proof way to compute basis-point audit
    columns (the round-7 driver gate proved a double floor() quotient
    can diverge between engine builds even without transcendentals; see
    operators/sketches.py). Spark's ``div`` truncates toward zero and
    DuckDB's ``//`` floors — identical on the non-negative operands
    every caller passes."""
    if dialect == "duckdb":
        return f"CAST(({num}) // ({den}) AS BIGINT)"
    return f"CAST(({num}) div ({den}) AS BIGINT)"


def shift1(dialect: str, n_expr: str) -> str:
    """BIGINT ``1 << n`` in either dialect — the ONLY sanctioned way to
    build a power-of-two in any hashed-output expression. ``power()``
    is libm/Math.pow with a licensed 1-ulp error, so a power-of-two it
    returns may render 2^30-eps on one engine build and truncate to
    the wrong bit (the identified root cause of the round-8
    multimodal_audio_fingerprint driver hash failure); shift-left is
    exact integer arithmetic on every build. Callers guarantee
    0 <= n <= 62."""
    if dialect == "duckdb":
        return f"(CAST(1 AS BIGINT) << ({n_expr}))"
    return f"shiftleft(CAST(1 AS BIGINT), {n_expr})"


def _cand_union_sql(vals_rel: str, rules: tuple[Rule, ...] = RULES,
                    key_col: str = "column_ref",
                    value_col: str = "value",
                    class_col: str | None = None) -> str:
    """Candidate extraction over a (key, value-text) relation. With
    ``class_col``, each rule scans only the value classes it can match —
    the same pruning the engine applies (rules.Rule.classes)."""
    parts = []
    for r in rules:
        pat = bounded_pattern(r).replace("'", "''")
        conf = f"CAST({r.confidence} AS DOUBLE)"
        if r.pii_type == "DATE":
            conf = (f"({conf} + CASE WHEN regexp_matches(lower({value_col}), "
                    f"'dob|birth') THEN CAST({DOB_BOOST} AS DOUBLE) "
                    f"ELSE CAST(0.0 AS DOUBLE) END)")
        where = ""
        if class_col is not None and set(r.classes) != set(VALUE_CLASSES):
            allowed = ", ".join(f"'{c}'" for c in r.classes)
            where = f" WHERE {class_col} IN ({allowed})"
        parts.append(
            f"SELECT {key_col}, {value_col}, "
            f"unnest(regexp_extract_all({value_col}, '{pat}')) AS match_text, "
            f"'{r.pii_type}' AS pii_type, {conf} AS rule_confidence, "
            f"'{r.validator or ''}' AS validator FROM {vals_rel}{where}"
        )
    return " UNION ALL ".join(parts)


def candidates_cte(vals_rel: str, key_col: str = "column_ref",
                   value_col: str = "value") -> str:
    """CTE chain ending in relation ``cand_ok`` — checksum-filtered
    candidates with ``validated`` over an arbitrary (key, text) relation."""
    return f"""
cand0 AS ({_cand_union_sql(vals_rel, RULES, key_col, value_col)}),
cand_ok AS (
  SELECT {key_col}, {value_col}, pii_type, match_text, rule_confidence,
         COALESCE(
           CASE WHEN validator = 'luhn'
                THEN {luhn_sql('match_text', 'duckdb')}
                WHEN validator = 'verhoeff12'
                THEN {verhoeff12_sql('match_text', 'duckdb')} END,
           FALSE) AS validated
  FROM cand0
  WHERE validator = '' OR
        CASE WHEN validator = 'luhn'
             THEN {luhn_sql('match_text', 'duckdb')}
             WHEN validator = 'verhoeff12'
             THEN {verhoeff12_sql('match_text', 'duckdb')} END
)"""


def scored_candidates_cte(melted_sql: str, class_col: str | None = None,
                          rules: tuple[Rule, ...] = RULES) -> str:
    """CTE chain: melted -> distinct vals -> candidates -> checksum filter
    -> rules-only ensemble score. Ends defining relations ``vals`` and
    ``scored``."""
    vcols = "column_ref, value" + (f", {class_col}" if class_col else "")
    return f"""
vals AS (
  SELECT DISTINCT {vcols} FROM {melted_sql} m
  WHERE value IS NOT NULL
),
cand0 AS ({_cand_union_sql('vals', rules, class_col=class_col)}),
cand AS (
  SELECT *,
    CASE WHEN validator = 'luhn' THEN {luhn_sql('match_text', 'duckdb')}
         WHEN validator = 'verhoeff12' THEN {verhoeff12_sql('match_text', 'duckdb')}
         ELSE NULL END AS checksum_ok
  FROM cand0
),
scored AS (
  SELECT column_ref, value, pii_type, match_text, rule_confidence,
         COALESCE(checksum_ok, FALSE) AS validated,
         {candidate_score_sql('duckdb')} AS prob
  FROM cand
  WHERE checksum_ok IS NULL OR checksum_ok
)"""


def scan_findings_oracle(melted_sql: str,
                         class_col: str | None = None,
                         rules: tuple[Rule, ...] = RULES) -> str:
    """Full findings rollup oracle over a melted relation SQL."""
    return f"""
WITH {scored_candidates_cte(melted_sql, class_col, rules)},
totals AS (
  SELECT column_ref, COUNT(*) AS n_values FROM vals GROUP BY column_ref
)
SELECT s.column_ref AS column_ref, s.pii_type AS pii_type,
       COUNT(*) AS n_candidates,
       COUNT(DISTINCT s.value) AS n_values_hit,
       round(MAX(s.prob), 6) AS confidence,
       {ratio_round_halfup_guarded("duckdb", "COUNT(DISTINCT s.value)",
                                   "t.n_values")} AS hit_rate
FROM scored s JOIN totals t ON s.column_ref = t.column_ref
GROUP BY s.column_ref, s.pii_type, t.n_values
"""


def demo_melted_sql() -> str:
    """Melt of the synthesized demo CRM relation (DuckDB)."""
    demo = demo_pii_sql("duckdb", "customer")
    selects = [
        f"SELECT 'spark://demo_crm/{c}' AS column_ref, {c} AS value "
        f"FROM demo"
        for c in DEMO_TEXT_COLUMNS
    ]
    return "(WITH demo AS ({demo}) {body})".replace(
        "{demo}", demo).replace("{body}", " UNION ALL ".join(selects))


def tables_melted_sql(tables: tuple[str, ...]) -> str:
    parts = [melt_oracle_sql(t)[1:-1] for t in tables]  # strip outer parens
    return "(" + " UNION ALL ".join(parts) + ")"


def ratio_round_halfup(dialect: str, num: str, den: str,
                       scale: int = 6, num_scale: int = 0) -> str:
    """round-half-up(num / den, scale) as DOUBLE, exact at ties and
    overflow-free at cluster scale.

    The round-10 fuzz sweep (seed 777001) proved ``round()`` of a
    double quotient is NOT cross-engine-stable at exact half-scale
    ties: when the true ratio lands exactly on k.5 at the rounding
    scale (always reachable when the numerator is exact at that scale
    — 129231685 micro-units / 22 tokens = 5874167.5), Spark rounds via
    HALF_UP on BigDecimal.valueOf of the SHORTEST double repr (which
    shows the below-tie neighbor 5.8741674999999995 -> DOWN) while
    DuckDB multiplies by 10^scale first (re-rounding the double ONTO
    the tie -> away from zero -> UP). This fragment removes the class
    with exact integer arithmetic and ONE trailing IEEE division of
    the same integers on both engines.

    To avoid the overflow cliff of the naive form (2 * num * 10^scale
    can exceed BIGINT for cluster-scale aggregate numerators), the
    quotient is long-divided in two steps: with ni = num * 10^num_scale
    (the numerator's exact integer rendering — ``num_scale`` is the
    numerator's native decimal scale, 0 for integer counts),
    q0 = ni intdiv den and r = ni - q0 * den < den, so
    half-up(num * 10^scale / den) = q0 * R + (2 * r * R + den) intdiv
    (2 * den) with R = 10^(scale - num_scale). Every intermediate is
    bounded by max(ni, 2 * den * R) — safe whenever the integer
    rendering of the SUM itself fits BIGINT, which is the best any
    integer scheme can do.

    Preconditions: num non-negative and exact at ``num_scale``
    (integer counts, or DECIMAL sums of scale <= num_scale); den a
    positive integer expression (callers guard den > 0)."""
    if not 0 <= num_scale <= scale:
        raise ValueError("num_scale must be within [0, scale]")
    p = 10 ** scale
    rem = 10 ** (scale - num_scale)
    ni = f"CAST(({num}) * {10 ** num_scale} AS BIGINT)"
    q0 = exact_int_div(dialect, ni, den)
    r = f"({ni} - {q0} * ({den}))"
    half = exact_int_div(dialect, f"2 * {r} * {rem} + ({den})",
                         f"2 * ({den})")
    return (f"CAST(CAST({q0} * {rem} + {half} AS DOUBLE)"
            f" / CAST({p} AS DOUBLE) AS DOUBLE)")


def halfup_den_bound(scale: int = 6, num_scale: int = 0) -> int:
    """The largest denominator ratio_round_halfup's intermediates are
    provably BIGINT-safe for: its half term is bounded by
    den * (2 * 10^(scale - num_scale) + 1)."""
    return (2 ** 63 - 1) // (2 * 10 ** (scale - num_scale) + 1)


def ratio_round_halfup_guarded(dialect: str, num: str, den: str,
                               num_scale: int = 0, guard: str | None = None,
                               fallback_num: str | None = None,
                               fallback_den: str | None = None) -> str:
    """ratio_round_halfup with its overflow precondition ENFORCED at
    runtime — for call sites whose denominator is an UNBOUNDED
    data-dependent aggregate (cohort sizes, out-degree totals,
    per-column value counts), where the documented den bound
    (halfup_den_bound: ~4.6e12 at scale 6) cannot be guaranteed
    statically. Beyond the bound, Spark (non-ANSI) would silently wrap
    the BIGINT multiplication while DuckDB raises — a silent
    cross-engine divergence (round-10 ADVICE); the guard replaces that
    cliff with an explicit SAME-BRANCH-ON-BOTH-ENGINES fallback to the
    plain double round. The fallback reintroduces the half-tie
    rounding ambiguity ONLY where a tie needs den to divide
    2 * num * 10^6 with den > 4.6e12 — vanishingly unlikely for
    data-dependent counts, and the best available once exact integer
    arithmetic no longer fits.

    ``guard`` overrides the default ``den <= bound`` test — required
    when den is itself a PRODUCT that could overflow inside the guard
    expression (basket lift guards the factors instead); the guard
    expression must be overflow-safe to EVALUATE, since CASE only
    protects the branches, not the condition.

    ``fallback_num`` / ``fallback_den`` override the expressions the
    PLAIN branch evaluates — required whenever num or den is a PRODUCT
    of data-dependent counts (basket lift, collocations): the fallback
    is taken precisely when counts are huge, where evaluating the
    BIGINT product before the DOUBLE cast would itself overflow —
    Spark (non-ANSI) silently wraps while DuckDB raises, the exact
    cross-engine cliff this guard exists to remove (round-11 ADVICE).
    Product call sites pass the factors cast to DOUBLE before
    multiplying (e.g. ``CAST(a AS DOUBLE) * b``), which is
    overflow-free at any count magnitude; the <= 2^-53 relative error
    of the double product is irrelevant on the fallback branch, which
    is already IEEE arithmetic."""
    bound = halfup_den_bound(6, num_scale)
    exact = ratio_round_halfup(dialect, num, den, 6, num_scale)
    fn = fallback_num if fallback_num is not None \
        else f"CAST({num} AS DOUBLE)"
    fd = fallback_den if fallback_den is not None else f"({den})"
    plain = f"round({fn} / {fd}, 6)"
    g = guard if guard is not None else f"({den}) <= {bound}"
    return f"(CASE WHEN {g} THEN {exact} ELSE {plain} END)"
