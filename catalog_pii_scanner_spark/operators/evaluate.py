"""Evaluation pipeline: gold-span matching + P/R/F1 metrics
(reference J1/J2 + A3/A4/A5, src/catalog_pii_scanner/eval.py:20-77).

Reference semantics: greedy 1:1 match — for each prediction in order, the
first unused gold span with character overlap AND equal type is a TP;
unmatched predictions are FPs, unmatched golds FNs; then per-type
precision/recall/F1 with 0-guards, plus micro (global counts) and macro
(unweighted mean over types) rollups.

Spark shape: the match is a range join (p.start < g.end AND g.start <
p.end AND p.type = g.type) followed by an iterative commit loop that
reproduces sequential greedy EXACTLY — including the contended case
where a pred's first-choice gold was claimed and the reference moves on
to the next free overlapping gold (see greedy_match). Metrics are
GROUPING-SETS-shaped aggregations.

The eval corpus is synthesized from ``customer`` like the demo CRM —
every text carries PERSON/EMAIL/PHONE/SSN/DATE golds plus an ADDRESS gold
no rule can hit (a guaranteed FN) and capitalized bigrams that force
PERSON FPs, so tp/fp/fn paths are all exercised. Engine span offsets come
from the position-exact extraction (`extract_candidates_pdf`); the DuckDB
oracle derives them via ``instr``, equal here because every entity string
occurs exactly once per text. The repeated-span corpus below drops that
crutch: strings repeat and the oracle computes offsets arithmetically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pii_types import ALL_PII_TYPES
from ..plans.cache import fan_out
from ..sources.demo_catalog import FIRST_NAMES, LAST_NAMES, _case_pool
from .rules import extract_candidates_pdf
from .training import (LabeledBasis, fit_calibrator_ensemble, labeled_basis,
                       train_embed)


# --- corpus -----------------------------------------------------------------

def _entity_exprs(dialect: str, k: str = "c_custkey") -> dict[str, str]:
    """Deterministic per-customer PII entity string expressions, rendered
    identically for Spark SQL and DuckDB (the corpus generator both
    dialects share)."""
    s = "STRING" if dialect == "spark" else "VARCHAR"

    def cs(e: str) -> str:
        return f"CAST({e} AS {s})"

    def pad(e: str, n: int) -> str:
        return f"lpad({cs(e)}, {n}, '0')"

    return {
        "person": (_case_pool(k, 5, FIRST_NAMES) + " || ' ' || "
                   + _case_pool(k, 7, LAST_NAMES)),
        "email": f"'user' || {cs(k)} || '@example.com'",
        "phone": (f"'(' || {pad(f'200 + {k} % 800', 3)} || ') ' || "
                  f"{pad(f'({k} * 7) % 1000', 3)} || '-' || "
                  f"{pad(f'({k} * 13) % 10000', 4)}"),
        "ssn": (f"{pad(f'100 + ({k} * 7) % 900', 3)} || '-' || "
                f"{pad(f'10 + ({k} * 13) % 89', 2)} || '-' || "
                f"{pad(f'1000 + ({k} * 31) % 9000', 4)}"),
        "iso_date": (f"'199' || {cs(f'{k} % 10')} || '-04-' || "
                     f"{pad(f'1 + {k} % 28', 2)}"),
    }


def eval_entities_sql(dialect: str, customer_rel: str = "customer") -> str:
    """CTE: per-customer entity strings + the assembled text."""
    k = "c_custkey"
    e = _entity_exprs(dialect, k)
    person, email, phone = e["person"], e["email"], e["phone"]
    ssn, iso_date = e["ssn"], e["iso_date"]
    return f"""
entities AS (
  SELECT {k} AS text_id, {person} AS person, {email} AS email,
         {phone} AS phone, {ssn} AS ssn, {iso_date} AS dt,
         '12 Main Street' AS addr
  FROM {customer_rel}
),
texts AS (
  SELECT text_id,
         'Contact ' || person || ' via ' || email || ' or ' || phone ||
         ' ssn ' || ssn || ' born ' || dt || ' at ' || addr ||
         '. Regards Support Team' AS text,
         person, email, phone, ssn, dt, addr
  FROM entities
),
gold AS (
  SELECT text_id, pii_type, gold_text,
         instr(text, gold_text) AS gstart,
         instr(text, gold_text) + length(gold_text) AS gend
  FROM (
    SELECT text_id, text, 'PERSON' AS pii_type, person AS gold_text FROM texts
    UNION ALL SELECT text_id, text, 'EMAIL', email FROM texts
    UNION ALL SELECT text_id, text, 'PHONE_NUMBER', phone FROM texts
    UNION ALL SELECT text_id, text, 'SSN', ssn FROM texts
    UNION ALL SELECT text_id, text, 'DATE', dt FROM texts
    UNION ALL SELECT text_id, text, 'ADDRESS', addr FROM texts
  ) g
)"""


def eval_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .createOrReplaceTempView("cpss_customer")
    return spark.sql(
        "WITH " + eval_entities_sql("spark", "cpss_customer")
        + " SELECT text_id, text FROM texts")


def eval_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .createOrReplaceTempView("cpss_customer")
    return spark.sql(
        "WITH " + eval_entities_sql("spark", "cpss_customer")
        + " SELECT text_id, pii_type, gold_text, gstart, gend FROM gold")


# --- repeated-span corpus (position-exact extraction gate) ------------------
#
# A corpus where every PII string occurs TWICE per text, with offsets known
# by construction — the differential gate for `extract_candidates_pdf`
# (reference Span semantics, rules.py:89-91): the instr first-occurrence
# approximation provably collapses these, so the oracle's arithmetic
# positions can only be matched by true finditer offsets. The second DATE
# occurrence additionally sits OUTSIDE the +/-8-char dob window while the
# first sits inside it, so the two occurrences of the *same string* carry
# different confidences — inexpressible in the value-level boost.

#: template: 'id '+ssn+' dup '+ssn+' mail '+email+' alt '+email
#:           +' tel '+phone+' dob '+dt+' vs '+dt+' end'
#: All filler is lowercase (no PERSON bigrams); the entity pieces cannot
#: cross-match other families (digit-run/boundary analysis in
#: tests/test_rules.py::test_repeated_corpus_exact_candidate_set).
_REPEAT_POS = {
    # 1-based starts; 'id ' is 3 chars, separators are 5/6/5/5/5/4 chars.
    "ssn1": "4",
    "ssn2": "(9 + length(ssn))",
    "em1": "(15 + 2 * length(ssn))",
    "em2": "(20 + 2 * length(ssn) + length(email))",
    "ph": "(25 + 2 * length(ssn) + 2 * length(email))",
    "dt1": "(30 + 2 * length(ssn) + 2 * length(email) + length(phone))",
    "dt2": ("(34 + 2 * length(ssn) + 2 * length(email) + length(phone)"
            " + length(dt))"),
}


def repeated_entities_sql(dialect: str, customer_rel: str = "customer") -> str:
    """CTEs ``rents``/``rtexts``: the repeated-PII corpus (shared dialect)."""
    e = _entity_exprs(dialect)
    return f"""
rents AS (
  SELECT c_custkey AS text_id, {e['ssn']} AS ssn, {e['email']} AS email,
         {e['phone']} AS phone, {e['iso_date']} AS dt
  FROM {customer_rel}
),
rtexts AS (
  SELECT text_id,
         'id ' || ssn || ' dup ' || ssn || ' mail ' || email || ' alt '
           || email || ' tel ' || phone || ' dob ' || dt || ' vs ' || dt
           || ' end' AS text,
         ssn, email, phone, dt
  FROM rents
)"""


def repeated_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .createOrReplaceTempView("cpss_customer")
    return spark.sql(
        "WITH " + repeated_entities_sql("spark", "cpss_customer")
        + " SELECT text_id, text FROM rtexts")


def repeated_span_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query for position-exact extraction: every occurrence,
    exact offsets, exact dob-context boost, plus the R4 context slice taken
    at the true position inside the whole-text R2 redaction.

    Shape: one Arrow extraction stage (no shuffle), one groupBy(text_id)
    for the redaction fold, one join back to the spans — both keyed on
    text_id, so at 100 TB this is a single co-partitioned exchange.
    """
    from .redaction import suppress_and_redact
    # fan_out: the corpus derives from a single-split scan, which would
    # run the Arrow extraction as one task (guide (4.1)
    texts = fan_out(repeated_texts(spark, sf_dir))
    spans = extract_candidates_pdf(texts, value_col="text",
                                   keep_cols=("text_id",))
    red = suppress_and_redact(texts, spans.select(
        "text_id", "pstart", "pend", "pii_type", "match_text"))
    ctx_len = F.col("pend") - F.col("pstart") + F.lit(96)
    ctx_start = F.greatest(F.col("pstart") - F.lit(48), F.lit(1))
    return (
        spans.join(red.select("text_id", "redacted_text"), "text_id")
        .select("text_id", "pii_type", "match_text",
                F.col("pstart").cast("int").alias("pstart"),
                F.col("pend").cast("int").alias("pend"),
                F.round("rule_confidence", 6).alias("rule_confidence"),
                "validated",
                F.substring(F.col("redacted_text"), ctx_start,
                            ctx_len).alias("context"))
    )


def repeated_span_oracle_sql() -> str:
    """Pure-arithmetic oracle: positions, confidences, and contexts are
    COMPUTED from the template layout (no regex anywhere) — an independent
    derivation the engine can only match with true per-occurrence offsets.
    """
    from .redaction import mask_sql
    m = {p: mask_sql(p, "duckdb") for p in ("ssn", "email", "phone", "dt")}
    rows = [
        ("ssn1", "SSN", "ssn", "0.9"),
        ("ssn2", "SSN", "ssn", "0.9"),
        ("em1", "EMAIL", "email", "0.95"),
        ("em2", "EMAIL", "email", "0.95"),
        ("ph", "PHONE_NUMBER", "phone", "0.85"),
        ("dt1", "DATE", "dt", "0.8"),   # inside the +/-8 'dob' window
        ("dt2", "DATE", "dt", "0.7"),   # outside it: base confidence
    ]
    selects = []
    for key, ptype, piece, conf in rows:
        p = _REPEAT_POS[key]
        selects.append(
            f"SELECT text_id, '{ptype}' AS pii_type, {piece} AS match_text,\n"
            f"       CAST({p} AS INT) AS pstart,\n"
            f"       CAST({p} + length({piece}) AS INT) AS pend,\n"
            f"       CAST({conf} AS DOUBLE) AS rule_confidence,\n"
            f"       false AS validated,\n"
            f"       substr(redtext, greatest({p} - 48, 1),\n"
            f"              length({piece}) + 96) AS context\n"
            f"FROM rred")
    return ("WITH " + repeated_entities_sql("duckdb").lstrip()
            + f""",
rred AS (
  SELECT text_id, ssn, email, phone, dt,
         'id ' || {m['ssn']} || ' dup ' || {m['ssn']} || ' mail '
           || {m['email']} || ' alt ' || {m['email']} || ' tel '
           || {m['phone']} || ' dob ' || {m['dt']} || ' vs ' || {m['dt']}
           || ' end' AS redtext
  FROM rtexts
)
""" + "\nUNION ALL ".join(selects))


# --- match + metrics (engine) -----------------------------------------------

#: Overlap-graph size (rows) under which the greedy match runs as the
#: reference's sequential loop on the driver (bounded collect) instead
#: of the distributed commit rounds.
GREEDY_DRIVER_MAX_OVERLAPS = 1_000_000


def _greedy_driver(overlaps: DataFrame) -> DataFrame:
    """Sequential greedy 1:1 match on a collected overlap graph — the
    literal reference semantics (eval.py:20-50): within each
    (text_id, pii_type), preds in (pstart, pend) order each claim the
    first still-unused overlapping gold in (gstart, gend) order; gold
    identity is its gstart (the distributed rounds key golds the same
    way)."""
    from collections import defaultdict

    import pandas as pd
    spark = overlaps.sparkSession
    pdf = overlaps.toPandas()       # Arrow path; bounded by the gate
    groups: dict = defaultdict(lambda: (set(), set()))
    for tid, pt, ps, pe, gs, ge in zip(
            pdf["text_id"], pdf["pii_type"], pdf["pstart"], pdf["pend"],
            pdf["gstart"], pdf["gend"]):
        ps_, gs_ = groups[(tid, pt)]
        ps_.add((ps, pe))
        gs_.add((gs, ge))
    out: list = []
    for (tid, pt), (ps_, gs_) in groups.items():
        used: set = set()
        golds = sorted(gs_)
        for ps, pe in sorted(ps_):
            for gs, ge in golds:
                if gs in used:
                    continue
                if ps < ge and gs < pe:
                    used.add(gs)
                    out.append((tid, pt, ps, pe, gs, ge))
                    break
    cols = ["text_id", "pii_type", "pstart", "pend", "gstart", "gend"]
    out_pdf = pd.DataFrame(out, columns=cols)
    for c in cols:                  # empty frame: keep source dtypes
        out_pdf[c] = out_pdf[c].astype(pdf[c].dtype, copy=False)
    return spark.createDataFrame(out_pdf, schema=overlaps.schema)


def greedy_match(preds: DataFrame, gold: DataFrame) -> DataFrame:
    """Exact sequential greedy 1:1 match (reference eval.py:20-50): preds
    in pstart order each claim the first still-unused overlapping gold of
    equal type. ``preds`` needs text_id, pii_type, pstart, pend; ``gold``
    needs text_id, pii_type, gstart, gend. Returns matched (tp) pairs.

    Distributed shape: one range join builds the overlap graph, then an
    iterative commit loop. Per round, a pair (p, g) commits iff g is p's
    first REMAINING gold (rn_p) AND p is the minimum remaining pred
    overlapping g (rn_g over all remaining overlaps, not just proposers)
    — a commit under that rule is exactly what sequential play would do,
    and the globally-minimum unmatched pred always commits, so rounds <=
    max chain length (1 for corpora without overlap contention; the loop
    exits after one extra empty check). Matched preds and golds leave the
    graph via anti-joins; each round's residual graph is localCheckpointed
    so re-planning doesn't compound."""
    j = preds.join(
        gold,
        (preds.text_id == gold.text_id)
        & (preds.pii_type == gold.pii_type)
        & (preds.pstart < gold.gend) & (gold.gstart < preds.pend),
    ).select(preds.text_id, preds.pii_type, "pstart", "pend",
             "gstart", "gend")
    w_pred = Window.partitionBy("text_id", "pii_type", "pstart") \
        .orderBy("gstart")
    w_gold = Window.partitionBy("text_id", "pii_type", "gstart") \
        .orderBy("pstart")
    overlaps = j.localCheckpoint(eager=True)
    # small-graph fast path (the connected_components discipline): the
    # commit loop pays several fixed-latency jobs per round, which
    # dominates on overlap graphs a fraction of the corpus size; a
    # BOUNDED collect runs the reference's sequential greedy directly
    # (the very semantics the loop replicates — same pin tests).
    if overlaps.count() <= GREEDY_DRIVER_MAX_OVERLAPS:
        return _greedy_driver(overlaps)
    matched: DataFrame | None = None
    pkey = ["text_id", "pii_type", "pstart"]
    gkey = ["text_id", "pii_type", "gstart"]
    while True:
        commits = (
            overlaps.withColumn("rn_p", F.row_number().over(w_pred))
            .withColumn("rn_g", F.row_number().over(w_gold))
            .where((F.col("rn_p") == 1) & (F.col("rn_g") == 1))
            .drop("rn_p", "rn_g")
            .localCheckpoint(eager=True)
        )
        if commits.isEmpty():
            return matched if matched is not None \
                else commits  # empty overlap graph -> empty result
        matched = commits if matched is None \
            else matched.unionByName(commits)
        overlaps = (
            overlaps.join(commits.select(*pkey), pkey, "left_anti")
            .join(commits.select(*gkey), gkey, "left_anti")
            .select("text_id", "pii_type", "pstart", "pend",
                    "gstart", "gend")
            .localCheckpoint(eager=True)
        )


def _metrics_from_counts(counts: DataFrame) -> DataFrame:
    """counts(pii_type, tp, fp, fn) -> type + micro + macro metric rows."""
    def prf(df: DataFrame) -> DataFrame:
        p = F.when(F.col("tp") + F.col("fp") > 0,
                   F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
        r = F.when(F.col("tp") + F.col("fn") > 0,
                   F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
        return df.withColumn("precision", F.round(p, 6)) \
                 .withColumn("recall", F.round(r, 6)) \
                 .withColumn(
                     "f1",
                     F.round(F.when(p + r > 0,
                                    2 * p * r / (p + r)).otherwise(0.0), 6))

    per_type = prf(counts).select(
        F.lit("type").alias("level"), "pii_type",
        "tp", "fp", "fn", "precision", "recall", "f1")
    micro = prf(
        counts.agg(F.sum("tp").alias("tp"), F.sum("fp").alias("fp"),
                   F.sum("fn").alias("fn"))
    ).select(F.lit("micro").alias("level"),
             F.lit("ALL").alias("pii_type"),
             "tp", "fp", "fn", "precision", "recall", "f1")
    macro = prf(counts).agg(
        F.round(F.avg("precision"), 6).alias("precision"),
        F.round(F.avg("recall"), 6).alias("recall"),
        F.round(F.avg("f1"), 6).alias("f1"),
    ).select(F.lit("macro").alias("level"), F.lit("ALL").alias("pii_type"),
             F.lit(None).cast("bigint").alias("tp"),
             F.lit(None).cast("bigint").alias("fp"),
             F.lit(None).cast("bigint").alias("fn"),
             "precision", "recall", "f1")
    return per_type.unionByName(micro).unionByName(macro)


def _match_metrics(preds: DataFrame, gold: DataFrame) -> DataFrame:
    """preds(text_id, pii_type, pstart, pend) + gold(text_id, pii_type,
    gstart, gend) -> greedy match -> per-type tp/fp/fn -> the type/micro/
    macro metric frame."""
    # preds/gold each feed the match AND a count aggregation. A plain
    # persist still re-plans (and re-compiles) the full extraction lineage
    # for every downstream job; localCheckpoint truncates the lineage so
    # the 3 consumer jobs plan against a materialized relation.
    preds = preds.localCheckpoint(eager=True)
    gold = gold.localCheckpoint(eager=True)
    tp = greedy_match(preds, gold).groupBy("pii_type") \
        .agg(F.count("*").alias("tp"))
    n_pred = preds.groupBy("pii_type").agg(F.count("*").alias("n_pred"))
    n_gold = gold.groupBy("pii_type").agg(F.count("*").alias("n_gold"))
    counts = (
        n_pred.join(n_gold, "pii_type", "full")
        .join(tp, "pii_type", "left")
        .select(
            "pii_type",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            (F.coalesce("n_pred", F.lit(0))
             - F.coalesce("tp", F.lit(0))).alias("fp"),
            (F.coalesce("n_gold", F.lit(0))
             - F.coalesce("tp", F.lit(0))).alias("fn"),
        )
    )
    # Materialize the (<= 11-row) counts on the driver: the metrics layout
    # references counts three times (type/micro/macro), and leaving it
    # lazy re-plans + re-executes the whole extraction subtree per branch
    # (measured 276s -> seconds at sf0.001).
    local = [tuple(r) for r in counts.collect()]
    # Reference macro semantics (reference eval.py:69-77): average over ALL
    # 11 PII types, zero-filling types absent from preds and gold.
    present = {r[0] for r in local}
    local += [(t, 0, 0, 0) for t in ALL_PII_TYPES if t not in present]
    counts_df = preds.sparkSession.createDataFrame(
        local, "pii_type string, tp bigint, fp bigint, fn bigint")
    return _metrics_from_counts(counts_df)


def eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full eval job: corpus -> predictions -> greedy match -> metrics."""
    # position-exact extraction (true finditer offsets, every occurrence).
    # The DuckDB oracle derives positions via instr, which is equal on this
    # corpus by construction (each entity string occurs once per text);
    # on corpora with repeats only this path is correct.
    preds = (
        extract_candidates_pdf(eval_texts(spark, sf_dir), value_col="text",
                               keep_cols=("text_id",))
        .select("text_id", "pii_type", "match_text", "pstart", "pend")
    )
    return _match_metrics(preds, eval_gold(spark, sf_dir))


def eval_metrics_trained(basis: LabeledBasis,
                         calibration: dict[str, tuple[float, float]]
                         ) -> DataFrame:
    """Phase-3 closure: evaluate the TRAINED ensemble on a labeled corpus
    (reference ``cps eval``, cli.py:351-385): the basis's candidates ->
    full ensemble predictions over its enrichment with the fitted
    ``calibration`` (types it leaves out run at identity (1, 0)) -> the
    prediction's argmax label (not the rule label) greedy-matches against
    the corpus's gold spans -> the same type/micro/macro metric frame as
    :func:`eval_metrics`. The whole composition is deterministic for a
    seeded ``generate_synthetic`` corpus — asserted end-to-end in
    tests/test_training.py."""
    from .pipeline import full_scan_predictions

    fused = full_scan_predictions(
        basis.fusion_candidates,
        calibration={t: calibration.get(t, (1.0, 0.0))
                     for t in ALL_PII_TYPES},
        precomputed_enriched=basis.enriched)
    preds = (
        fused.join(
            basis.candidates.select(
                F.col("text_id").cast("string").alias("column_ref"),
                F.col("text").alias("value"), "match_text",
                "pstart", "pend").distinct(),
            ["column_ref", "value", "match_text"])
        .select(F.col("column_ref").cast("bigint").alias("text_id"),
                F.col("label").alias("pii_type"), "pstart", "pend"))
    gold = (basis.corpus.select("text_id", F.explode("labels").alias("l"))
            .select("text_id", F.col("l.type").alias("pii_type"),
                    (F.col("l.start") + 1).alias("gstart"),
                    (F.col("l.end") + 1).alias("gend")))
    return _match_metrics(preds, gold)


# --- oracle -----------------------------------------------------------------

def eval_metrics_oracle_sql() -> str:
    from ..oracles import candidates_cte
    all_types = ", ".join(f"('{t}')" for t in ALL_PII_TYPES)
    return f"""
WITH {eval_entities_sql('duckdb')},
{candidates_cte('texts', key_col='text_id', value_col='text').lstrip()},
preds AS (
  SELECT text_id, pii_type, match_text,
         instr(text, match_text) AS pstart,
         instr(text, match_text) + length(match_text) AS pend
  FROM cand_ok
),
matched AS (
  SELECT * FROM (
    SELECT * FROM (
      SELECT p.text_id, p.pii_type, p.pstart, g.gstart,
             row_number() OVER (PARTITION BY p.text_id, p.pii_type, p.pstart
                                ORDER BY g.gstart) AS rn_p
      FROM preds p JOIN gold g
        ON p.text_id = g.text_id AND p.pii_type = g.pii_type
       AND p.pstart < g.gend AND g.gstart < p.pend
    ) WHERE rn_p = 1
  ) QUALIFY row_number() OVER (PARTITION BY text_id, pii_type, gstart
                               ORDER BY pstart) = 1
),
counts AS (
  -- all 11 types zero-filled: macro averages over the full vocabulary
  -- (reference eval.py:69-77), not just types present in preds/gold.
  SELECT at.pii_type AS pii_type,
         COALESCE(tp, 0) AS tp,
         COALESCE(n_pred, 0) - COALESCE(tp, 0) AS fp,
         COALESCE(n_gold, 0) - COALESCE(tp, 0) AS fn
  FROM (SELECT * FROM (VALUES {all_types}) v(pii_type)) at
  LEFT JOIN (SELECT pii_type, COUNT(*) AS n_pred
             FROM preds GROUP BY 1) np ON at.pii_type = np.pii_type
  LEFT JOIN (SELECT pii_type AS gt, COUNT(*) AS n_gold
             FROM gold GROUP BY 1) ng ON at.pii_type = ng.gt
  LEFT JOIN (SELECT pii_type AS mt, COUNT(*) AS tp
             FROM matched GROUP BY 1) m ON at.pii_type = m.mt
),
{_metrics_tail_sql()}"""


def _metrics_tail_sql() -> str:
    """Metric arithmetic over a ``counts(pii_type, tp, fp, fn)`` relation:
    the type/micro/macro frame (shared by the regex-eval and trained-eval
    oracles; exactly mirrors :func:`_metrics_from_counts`)."""
    return """counts2 AS (
  SELECT pii_type, tp, fp, fn,
         CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp)
              ELSE 0.0 END AS p,
         CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn)
              ELSE 0.0 END AS r
  FROM counts
),
per_type AS (
  SELECT 'type' AS level, pii_type, tp, fp, fn,
         round(p, 6) AS precision, round(r, 6) AS recall,
         round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                    ELSE 0.0 END, 6) AS f1
  FROM counts2
),
micro AS (
  SELECT 'micro' AS level, 'ALL' AS pii_type, tp, fp, fn,
         round(p, 6) AS precision, round(r, 6) AS recall,
         round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                    ELSE 0.0 END, 6) AS f1
  FROM (
    -- CAST the widening SUMs back to BIGINT: DuckDB's SUM(BIGINT)
    -- returns HUGEINT, and a HUGEINT output column is banned repo-wide
    -- (the round-10 driver-divergence census, operators/sketches.py)
    SELECT CAST(SUM(tp) AS BIGINT) AS tp, CAST(SUM(fp) AS BIGINT) AS fp,
           CAST(SUM(fn) AS BIGINT) AS fn,
           CASE WHEN SUM(tp) + SUM(fp) > 0
                THEN CAST(SUM(tp) AS DOUBLE) / (SUM(tp) + SUM(fp))
                ELSE 0.0 END AS p,
           CASE WHEN SUM(tp) + SUM(fn) > 0
                THEN CAST(SUM(tp) AS DOUBLE) / (SUM(tp) + SUM(fn))
                ELSE 0.0 END AS r
    FROM counts2
  )
),
macro AS (
  SELECT 'macro' AS level, 'ALL' AS pii_type,
         CAST(NULL AS BIGINT) AS tp, CAST(NULL AS BIGINT) AS fp,
         CAST(NULL AS BIGINT) AS fn,
         round(AVG(round(p, 6)), 6) AS precision,
         round(AVG(round(r, 6)), 6) AS recall,
         round(AVG(round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                              ELSE 0.0 END, 6)), 6) AS f1
  FROM counts2
)
SELECT * FROM per_type
UNION ALL SELECT * FROM micro
UNION ALL SELECT * FROM macro
"""


#: Deterministic per-type (tp, fp, fn) of the TRAINED pipeline on the
#: seeded synthetic corpus (n=500, seed=1234) — the whole composition
#: (gen-synth -> train_embed -> labeled_basis -> fit_calibrator_ensemble
#: -> ensemble predictions -> greedy match) is deterministic, and these
#: exact counts are independently pinned by tests/test_training.py::
#: test_phase3_trained_end_to_end. The oracle inlines them as literals
#: and re-derives every downstream metric in DuckDB; if the trained
#: pipeline drifts by a single span, the driver hash gate fails.
TRAINED_EVAL_COUNTS: tuple[tuple[str, int, int, int], ...] = (
    ("PERSON", 200, 100, 100),
    ("IP_ADDRESS", 100, 0, 0),
    ("EMAIL", 200, 0, 0),
    ("PHONE_NUMBER", 200, 0, 0),
    ("CREDIT_CARD", 100, 0, 0),
    ("DATE", 200, 0, 0),
    ("MAC_ADDRESS", 0, 263, 0),
    ("SSN", 25, 12, 75),
    ("AADHAAR", 0, 0, 0),
    ("PAN", 0, 0, 0),
    ("ADDRESS", 0, 0, 0),
)


#: (app_id, n, seed) -> (labeled basis, fitted calibration): the whole
#: prefix is a deterministic pure function of the seeded corpus (pinned
#: by tests/test_training.py), so repeated gate/bench invocations in one
#: process reuse the checkpointed corpus, candidates and enrichment AND
#: the fitted constants instead of re-extracting and re-running the
#: numpy fits. Keyed by applicationId so a stale session's checkpointed
#: RDDs are never reused across sessions; clear_session_memos empties it.
_TRAINED_MEMO: dict = {}


def eval_trained_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query for the trained path (reference ``cps eval``,
    cli.py:351-385): the full Phase-3 composition on the seeded synthetic
    corpus — sf-independent by design so the fitted constants stay the
    documented ones at every gate scale. The calibrator fit and the eval
    read one labeled basis (one extraction, one enrichment)."""
    from ..sources.datasets import generate_synthetic
    key = (spark.sparkContext.applicationId, 500, 1234)
    if key not in _TRAINED_MEMO:
        corpus = generate_synthetic(spark, 500, seed=1234) \
            .localCheckpoint(eager=True)
        basis = labeled_basis(corpus, train_embed(spark, corpus))
        _TRAINED_MEMO.clear()     # one live session at a time
        _TRAINED_MEMO[key] = (basis, fit_calibrator_ensemble(basis))
    return eval_metrics_trained(*_TRAINED_MEMO[key])


def eval_trained_oracle_sql() -> str:
    values = ",\n         ".join(
        f"('{t}', {tp}, {fp}, {fn})"
        for t, tp, fp, fn in TRAINED_EVAL_COUNTS)
    return f"""
WITH counts AS (
  SELECT pii_type, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         CAST(fn AS BIGINT) AS fn
  FROM (VALUES {values}) v(pii_type, tp, fp, fn)
),
{_metrics_tail_sql()}"""
