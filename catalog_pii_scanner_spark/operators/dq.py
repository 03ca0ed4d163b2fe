"""Data-quality constraint suite — Deequ-style declarative checks
(Schelter et al., "Automating Large-Scale Data Quality Verification",
VLDB 2018) over the business + corpus tables, computed in ONE
aggregation pass per table.

Each constraint row reports ``(table_name, constraint, metric,
passed)`` where metric is a 1e-6-rounded ratio (completeness /
uniqueness / compliance) or a raw size, and ``passed`` compares the
metric against the constraint's declared threshold. Because the
metric is bit-identical across engines (exact integer counts divided
in IEEE doubles, the repo-wide discipline), the pass verdict is too.

Execution shape (the 100 TB story):

- ONE full-scan aggregation per table — every completeness /
  compliance count is a SUM(CASE ...) inside the same Aggregate, so
  adding a constraint adds a column, not a pass. Uniqueness needs
  COUNT(DISTINCT) (at most 2 per table here, one Expand); at real
  scale you would swap those for the mergeable HLL registers of
  ``sketch_hll_distinct`` (operators/sketches.py) and accept the
  documented estimate error — the suite keeps the exact form because
  it doubles as the oracle gate.
- The per-table single-row aggregate is unpivoted to constraint rows
  JVM-side via ``stack`` (no re-scan per constraint; the DuckDB
  dialect renders UNION ALL over the one-row CTE instead, where
  re-reference is free).
- Empty tables pass ratio constraints vacuously (metric 1.0) and fail
  only ``size_ge_1`` — the CASE guard avoids a cross-engine 0/0.

Beyond-reference surface (the reference has no constraint checker);
the reference's profile verb (reference profile.py) covers min/max/
null counts, which ``profile_columns`` already mirrors — this suite
adds the pass/fail contract layer a pipeline gates on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: constraint kinds: ("size",), ("ratio", NUM_AGG_SQL) — NUM/cnt.
#: Spec rows: (constraint_name, kind, sql_num_expr, threshold_sql).
#: All expressions are dialect-free portable SQL over the raw table.
_N = lambda pred: f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END)"
_C = lambda col: _N(f"{col} IS NOT NULL")
_U = lambda expr: f"COUNT(DISTINCT {expr})"

DQ_SPECS: dict[str, list[tuple[str, str, str]]] = {
    "orders": [
        ("size_ge_1", "size", "1"),
        ("completeness_o_custkey", _C("o_custkey"), "1.0"),
        ("uniqueness_o_orderkey", _U("o_orderkey"), "1.0"),
        ("compliance_totalprice_positive", _N("o_totalprice > 0"), "1.0"),
        ("compliance_orderdate_1992_2002",
         _N("o_orderdate >= TIMESTAMP '1992-01-01 00:00:00' AND "
            "o_orderdate < TIMESTAMP '2002-01-01 00:00:00'"), "1.0"),
    ],
    "lineitem": [
        ("size_ge_1", "size", "1"),
        ("compliance_quantity_1_50",
         _N("l_quantity >= 1 AND l_quantity <= 50"), "1.0"),
        ("compliance_discount_0_1",
         _N("l_discount >= 0 AND l_discount <= 1"), "1.0"),
        # l_linenumber <= 7 in TPC-H shapes; *10 keeps the pair key
        # collision-free without a dialect-split row constructor.
        ("uniqueness_pk",
         _U("l_orderkey * 10 + l_linenumber"), "1.0"),
        ("completeness_l_shipdate", _C("l_shipdate"), "1.0"),
    ],
    "customer": [
        ("size_ge_1", "size", "1"),
        ("uniqueness_c_custkey", _U("c_custkey"), "1.0"),
        ("completeness_c_acctbal", _C("c_acctbal"), "1.0"),
        # Deliberately strict: negative balances exist, so this one
        # FAILS — the suite must demonstrate failure detection, not
        # only green rows.
        ("compliance_acctbal_nonnegative", _N("c_acctbal >= 0"), "1.0"),
    ],
    "events": [
        ("size_ge_1", "size", "1"),
        ("completeness_ts", _C("ts"), "1.0"),
        ("uniqueness_event_id", _U("event_id"), "1.0"),
        ("compliance_value_positive", _N("value > 0"), "1.0"),
    ],
    "documents": [
        ("size_ge_1", "size", "1"),
        ("completeness_text", _C("text"), "1.0"),
        ("compliance_nchars_eq_len", _N("n_chars = length(text)"), "1.0"),
        ("compliance_lang_iso2", _N("length(lang) = 2"), "1.0"),
    ],
}


def _metric_sql(kind: str, alias: str) -> str:
    """Rounded metric from the agg row: raw count for size, else a
    vacuously-passing ratio guarded against empty input."""
    if kind == "size":
        return "CAST(cnt AS DOUBLE)"
    return (f"CASE WHEN cnt = 0 THEN CAST(1 AS DOUBLE) "
            f"ELSE round(CAST({alias} AS DOUBLE) / CAST(cnt AS DOUBLE), 6)"
            f" END")


def dq_constraint_sql(dialect: str, rel_prefix: str = "") -> str:
    """Dual-dialect template for the whole suite, ordered for the gate."""
    blocks, rows = [], []
    for table, specs in DQ_SPECS.items():
        aggs = ["COUNT(*) AS cnt"]
        for i, (_, kind, _) in enumerate(specs):
            if kind != "size":
                aggs.append(f"{kind} AS m_{i}")
        blocks.append(f"agg_{table} AS (\n  SELECT {', '.join(aggs)}"
                      f"\n  FROM {rel_prefix}{table}\n)")
        if dialect == "duckdb":
            for i, (name, kind, thr) in enumerate(specs):
                metric = _metric_sql(kind, f"m_{i}")
                rows.append(
                    f"SELECT '{table}' AS table_name, '{name}' AS"
                    f" constraint_name, {metric} AS metric,\n"
                    f"       CASE WHEN {metric} >= {thr} THEN 1 ELSE 0"
                    f" END AS passed\nFROM agg_{table}")
        else:
            triples = []
            for i, (name, kind, thr) in enumerate(specs):
                metric = _metric_sql(kind, f"m_{i}")
                triples.append(
                    f"'{name}', {metric}, CASE WHEN {metric} >= {thr}"
                    f" THEN 1 ELSE 0 END")
            rows.append(
                f"SELECT '{table}' AS table_name, s.* FROM agg_{table}\n"
                f"LATERAL VIEW stack({len(specs)}, {', '.join(triples)})"
                f" s AS constraint_name, metric, passed")
    body = "\nUNION ALL\n".join(rows)
    ctes = ",\n".join(blocks)
    return (f"WITH {ctes}\n"
            f"SELECT * FROM ({body}) allrows"
            f" ORDER BY table_name, constraint_name")


def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the suite: one aggregation pass per table, stack-unpivoted."""
    for table in DQ_SPECS:
        spark.read.parquet(f"{sf_dir}/{table}.parquet") \
            .createOrReplaceTempView(f"cpss_dq_{table}")
    return spark.sql(dq_constraint_sql("spark", rel_prefix="cpss_dq_"))


def dq_constraint_oracle_sql() -> str:
    return dq_constraint_sql("duckdb")


# --- Anomaly detection vs baseline (the Deequ anomaly analog) ---------------

#: z-score threshold for flagging a day's mean against the global
#: baseline (standard-error scaled: |dmean - gmean| * sqrt(dn) > 3 *
#: gstd flags a day whose mean is implausible under the global
#: distribution at its own sample size).
DQ_ANOMALY_Z = 3


def dq_anomaly_days_sql(dialect: str, rel_prefix: str = "") -> str:
    """Per-day drift detection over events.value: daily mean vs the
    global baseline, z-scored by the day's standard error.

    All moments accumulate in DECIMAL (exact; the events_hourly
    discipline), converted to doubles only for the final mean /
    variance / sqrt — IEEE correctly-rounded ops on identical
    operands, so the z column and the flag agree across engines (the
    acknowledged 1e-6 rounding-boundary caveat applies to z's 6-digit
    rounding only, never the flag, which compares unrounded doubles
    computed identically).

    Scale shape: ONE keyed aggregation (day grain — bounded by the
    calendar, not the data), a one-row global reduce over the daily
    relation, and a broadcast join back. Output: day, n, mean_value,
    z, flagged."""
    del dialect  # portable
    dec = "CAST(value AS DECIMAL(18,2))"
    return f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         COUNT(*) AS n,
         SUM({dec}) AS s,
         SUM({dec} * {dec}) AS ss
  FROM {rel_prefix}events
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY CAST(date_trunc('day', ts) AS TIMESTAMP)
),
gstats AS (
  SELECT SUM(n) AS gn, SUM(s) AS gs, SUM(ss) AS gss FROM daily
),
scored AS (
  SELECT d.day, d.n,
         CAST(d.s AS DOUBLE) / CAST(d.n AS DOUBLE) AS dmean,
         CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE) AS gmean,
         (CAST(g.gss AS DOUBLE) / CAST(g.gn AS DOUBLE))
           - (CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE))
             * (CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE)) AS gvar
  FROM daily d CROSS JOIN gstats g
)
SELECT day, CAST(n AS BIGINT) AS n,
       round(dmean, 6) AS mean_value,
       CASE WHEN gvar <= 0 THEN CAST(0 AS DOUBLE)
            ELSE round((dmean - gmean) / sqrt(gvar / CAST(n AS DOUBLE)), 6)
       END AS z,
       CASE WHEN gvar > 0 AND
                 abs(dmean - gmean) > {DQ_ANOMALY_Z} *
                 sqrt(gvar / CAST(n AS DOUBLE))
            THEN 1 ELSE 0 END AS flagged
FROM scored
ORDER BY day
"""


def dq_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily drift report; see dq_anomaly_days_sql."""
    from ..sources.melt import read_table
    read_table(spark, sf_dir, "events") \
        .createOrReplaceTempView("cpss_dq_anom_events")
    return spark.sql(dq_anomaly_days_sql("spark",
                                         rel_prefix="cpss_dq_anom_"))


def dq_anomaly_oracle_sql() -> str:
    return dq_anomaly_days_sql("duckdb")


# --- referential-integrity suite (r8) ----------------------------------------
#
# The constraint suite above checks per-table invariants; this one
# checks the CROSS-table contracts a star schema lives on: every
# foreign key resolves to a parent row (Deequ's isContainedIn; the FK
# edges are the TPC-H-documented ones). An orphaned FK at 100 TB means
# a broken ingest partition or an out-of-order backfill — the earlier
# it surfaces, the cheaper it is.
#
# Execution shape: per edge, one LEFT ANTI-shaped count (child LEFT
# JOIN parent keyed on the FK, counting unmatched non-NULL rows) plus
# one child-side aggregate for row/NULL totals. Dimension parents
# (region/nation/customer/part/supplier) broadcast; the one fact-fact
# edge (lineitem -> orders) shuffles on its join key exactly once.
# Adding an edge adds one bounded join, never a re-scan of unrelated
# tables.

#: (child rel suffix, fk column, parent rel suffix, pk column)
FK_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def dq_referential_sql(dialect: str, rel_prefix: str = "",
                       edges=FK_EDGES) -> str:
    """One row per FK edge: fk_ref, n_child_rows, n_null_fk,
    n_orphans (non-NULL FK with no parent row), orphan_bp
    (exact integer n_orphans * 10000 / non-NULL rows; 0 when vacuous),
    passed (n_orphans == 0). Counts are integers, so the basis-point
    column is exact integer division — engine-build-proof, never a
    double floor() (the round-7 HLL lesson)."""
    from ..oracles import exact_int_div
    rows = []
    for child, fk, parent, pk in edges:
        c, p = rel_prefix + child, rel_prefix + parent
        ref = f"{child}.{fk} -> {parent}.{pk}"
        bp = exact_int_div(dialect, "b.n_orphans * CAST(10000 AS BIGINT)",
                           "a.n_rows - a.n_null")
        rows.append(f"""
SELECT '{ref}' AS fk_ref,
       CAST(a.n_rows AS BIGINT) AS n_child_rows,
       CAST(a.n_null AS BIGINT) AS n_null_fk,
       CAST(b.n_orphans AS BIGINT) AS n_orphans,
       CASE WHEN a.n_rows - a.n_null = 0 THEN CAST(0 AS BIGINT)
            ELSE {bp} END AS orphan_bp,
       b.n_orphans = 0 AS passed
FROM (SELECT COUNT(*) AS n_rows,
             COALESCE(SUM(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END),
                      0) AS n_null
      FROM {c}) a
CROSS JOIN (SELECT COUNT(*) AS n_orphans
            FROM {c} ch LEFT JOIN {p} pa ON ch.{fk} = pa.{pk}
            WHERE ch.{fk} IS NOT NULL AND pa.{pk} IS NULL) b""")
    body = "\nUNION ALL".join(rows)
    return (f"SELECT * FROM ({body}) allrows ORDER BY fk_ref")


def dq_referential_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK orphan accounting over the star schema; see
    dq_referential_sql."""
    tables = {t for e in FK_EDGES for t in (e[0], e[2])}
    for t in sorted(tables):
        spark.read.parquet(f"{sf_dir}/{t}.parquet") \
            .createOrReplaceTempView(f"cpss_ref_{t}")
    return spark.sql(dq_referential_sql("spark", rel_prefix="cpss_ref_"))


def dq_referential_oracle_sql() -> str:
    return dq_referential_sql("duckdb")


# --- k-anonymity / l-diversity audit (privacy DQ) ----------------------------
#
# The privacy-risk counterpart of the PII scanner's value-level findings
# (reference scope: the scanner flags columns; this audits RE-IDENTIFIABILITY
# of the rows behind them — Sweeney 2002 k-anonymity, Machanavajjhala 2007
# l-diversity, both public): walk a generalization ladder over the
# quasi-identifier set and report, per level, how many rows sit in
# equivalence classes smaller than K_ANON_K and how diverse the sensitive
# attribute is inside the worst class. The ARX-style lattice walk collapsed
# to the three levels a fixed QI set admits.
#
# QI set on customer: (c_nationkey, c_mktsegment, acctbal kilobucket);
# sensitive attribute: in_debt = c_acctbal < 0 (account standing).
# Ladder: L0 full QI -> L1 drop the balance bucket -> L2 segment only.
#
# Scale shape (100 TB): one GROUPING SETS aggregation pass produces every
# level's equivalence classes in a single shuffle (Catalyst expands the
# sets map-side; no per-level rescan); the per-level rollup is a second
# tiny aggregation over class rows. Deterministic integer outputs; the
# one ratio is a floor() basis-point count (the referential-suite rule).

#: k-anonymity threshold: classes smaller than this put their rows at
#: re-identification risk.
K_ANON_K = 10


def dq_k_anonymity_sql(dialect: str, rel: str = "customer") -> str:
    """One row per generalization level: level, n_classes, min_k,
    rows_at_risk (rows in classes with k < K_ANON_K), risk_bp (exact
    integer basis points of total — counts are integers, so no double
    floor()), min_l (distinct sensitive values in the least-diverse
    class)."""
    from ..oracles import exact_int_div
    bp = exact_int_div(
        dialect,
        f"SUM(CASE WHEN c.k < {K_ANON_K} THEN c.k ELSE 0 END)"
        f" * CAST(10000 AS BIGINT)",
        "t.n")
    return f"""
WITH base AS (
  SELECT c_nationkey AS qi_nation, c_mktsegment AS qi_segment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS qi_balk,
         CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS in_debt
  FROM {rel}
),
classes AS (
  -- level from GROUPING(), never from column nullness: a real NULL
  -- in a QI column must stay a value inside its own equivalence
  -- class, not silently reassign the class to another ladder level
  -- (r7 ADVICE; GROUPING() has identical semantics in both engines)
  SELECT CAST(GROUPING(qi_balk) AS INT)
           + CAST(GROUPING(qi_nation) AS INT) AS level,
         COUNT(*) AS k, COUNT(DISTINCT in_debt) AS l
  FROM base
  GROUP BY GROUPING SETS ((qi_nation, qi_segment, qi_balk),
                          (qi_nation, qi_segment),
                          (qi_segment))
),
totals AS (SELECT COUNT(*) AS n FROM base)
SELECT CAST(c.level AS BIGINT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(c.k) AS BIGINT) AS min_k,
       CAST(COALESCE(SUM(CASE WHEN c.k < {K_ANON_K} THEN c.k ELSE 0 END),
                     0) AS BIGINT) AS rows_at_risk,
       CASE WHEN t.n = 0 THEN CAST(0 AS BIGINT)
            ELSE {bp} END AS risk_bp,
       CAST(MIN(c.l) AS BIGINT) AS min_l
FROM classes c CROSS JOIN totals t
GROUP BY c.level, t.n
ORDER BY c.level
"""


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity ladder over the customer table; see
    dq_k_anonymity_sql. The ladder level comes from GROUPING(), so
    real NULLs in QI columns are ordinary class values — no
    non-NULL precondition on the base relation."""
    spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .createOrReplaceTempView("cpss_kanon_customer")
    return spark.sql(dq_k_anonymity_sql("spark", "cpss_kanon_customer"))


def dq_k_anonymity_oracle_sql() -> str:
    return dq_k_anonymity_sql("duckdb")
