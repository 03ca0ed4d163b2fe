"""Cross-run incremental scan — the reference's promised ``--since``
rescan (reference README.md:200 "scan only what changed since the last
run"; the reference CLI declares the flag but v0 never wires it, so the
semantics here are the ones its findings store implies: a per-column
content fingerprint decides whether the stored finding is still valid).

Semantics (dual-dialect, deterministic):

- the PRIOR run's snapshot is the melted catalog minus the "arrived
  since" rows — a deterministic md5 gate marks ~1/8 of the values of
  ~1/4 of the columns as new (``NEW_ROW_GATE``), standing in for the
  data that landed between runs; in production the prior side is the
  findings store (sinks/findings_store.py MERGE keyed on column_ref)
  plus the stored per-column fingerprints, not a re-derivation;
- fingerprints are computed over the DISTINCT NON-NULL VALUE SET of
  each column — deliberately, not over raw rows: the scanner dedups
  values before extraction (reference P3, sampler.py:104-117), so a
  new row whose value the column already contained CANNOT change any
  finding and must not trigger a rescan. Each side collapses to
  ``(n, h)``: distinct-value count + ``bit_xor`` of a 48-bit
  md5-derived value hash (the KMV hash domain, sketches.py:527) —
  order-free, overflow-free, mergeable, one metadata-scale row per
  column;
- the fingerprint diff classifies every column: ``new`` (no prior
  value), ``rescanned`` (count or xor moved), ``carried`` (identical)
  — and ONLY the non-carried columns' values flow into the regex
  scan; carried columns forward the prior run's findings untouched;
- output = findings_rollup columns + ``scan_action``.

Scale shape (the 100 TB story): ONE distinct shuffle (the same one
the plain scan pays), a metadata-scale conditional-aggregate
fingerprint pass over it, the action relation broadcast, and the
expensive stage — regex extraction + checksum validation — runs only
over the changed columns' values: a 24h delta on a 100 TB catalog
typically touches a few percent of columns, so the rescan cost tracks
the delta, not the catalog. Per-column totals for hit_rate fall out
of the fingerprints (no second counting pass). The carried branch is
a findings-store read in production; it is derived from the prior
snapshot here so the DuckDB oracle can replay the whole contract from
the same parquet inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import oracles
from ..oracles import ratio_round_halfup_guarded
from ..plans.cache import checkpoint_release
from .rules import candidate_score, extract_candidates
from .sketches import _kmv_h_expr

#: Deterministic "arrived since the last run" value gate, one SQL text
#: for both engines (md5/substr/||/COALESCE are dialect-shared): ~1/4
#: of columns receive new values, and inside them ~1/8 of the distinct
#: values are new. The QUERY never relies on this shape — change
#: detection is the fingerprint diff — the gate only synthesizes the
#: two snapshots from one parquet input. The gate is a pure function
#: of (column_ref, value), so "prior snapshot" is well-defined on the
#: distinct-value basis the fingerprints use.
NEW_ROW_GATE = ("(substr(md5(column_ref), 1, 1) IN ('0', '1', '2', '3') "
                "AND substr(md5(column_ref || ':' || COALESCE(value, '')), "
                "1, 1) IN ('0', '1'))")


def _fp_rows_exprs() -> tuple[str, str]:
    """(h16 SQL, h48-over-h16 SQL) for the DUCKDB side: the md5 digest
    is named once in a CTE and the 48-bit integer is digit arithmetic
    over it — the KMV discipline."""
    return "md5(COALESCE(value, ''))", _kmv_h_expr("h16")


#: The SAME 48-bit value (first 12 md5 hex digits) as ONE Spark
#: expression. The digit-arithmetic form is correct on Spark too but
#: catastrophically slow on an unmaterialized input: Catalyst's
#: projection collapse re-inlines the named h16 into each of the 12
#: digit terms, re-evaluating md5 — and the whole melt expression
#: chain under it — 12x per row (measured 20.7 s -> 5.0 s for the
#: sf0.1 fingerprint job). ``conv`` has no DuckDB equivalent, so this
#: is a genuine dialect split; value equality with the digit form is
#: pinned in tests/test_r11_ops.py.
_SPARK_H48 = ("cast(conv(substr(md5(coalesce(value, '')), 1, 12), "
              "16, 10) as bigint)")


def distinct_basis(values_df: DataFrame
                   ) -> tuple[DataFrame, list[str], str | None]:
    """(checkpointed distinct non-null value basis + is_new, the value
    columns, the value-class column name) — the one input of the
    incremental scan and the two store-relation twins, so their
    snapshots cannot drift. Callers share it across queries (the
    entry-level memo: pii_scan_catalog_tables, sample_columns_topn and
    the three fingerprint/store queries all derive the identical
    relation from the same melted catalog, so a suite re-derived it
    five times — ~16 % of the r12 bench).

    Eager localCheckpoint, NOT persist (round-11 verdict item: cold
    46 s vs 10 s warm on the driver map, the suite-worst spread): with
    persist, every downstream consumer (fingerprints, the pruned-scan
    join, the final rollup join) re-ANALYZES the full 9-table
    melt+distinct expression tree — the giant-tree analysis/codegen
    cost this module's conv() note already measures — because
    InMemoryTableScan keeps the whole lineage in the plan. The
    checkpoint truncates lineage so each consumer plans against the
    materialized relation (the _ner_merge discipline,
    __spark_entry__._ner_merge). Blocks free on driver GC when the
    caller drops the result (plans/cache.py)."""
    vcols = ["column_ref", "value"] + (
        ["vclass"] if "vclass" in values_df.columns else [])
    class_col = "vclass" if "vclass" in values_df.columns else None
    vals = (values_df.select(*vcols)
            .where(F.col("value").isNotNull()).distinct()
            .withColumn("is_new", F.expr(NEW_ROW_GATE))
            .localCheckpoint(eager=True))
    return vals, vcols, class_col


def _snapshot_fingerprints(vals: DataFrame) -> DataFrame:
    """Both snapshots' fingerprints in ONE conditional aggregation pass
    (the oracle states them as two CTEs over the same rows — same
    values); the prior side is the NOT-is_new filter folded into the
    aggregates. A column with zero prior values has o_n = 0 <=> the
    oracle's "no old_fp row" case. n / o_n double as the hit_rate
    denominators (n_values per column per snapshot) — no second
    counting pass. ONE ROW PER COLUMN, checkpointed eagerly so the
    consumers (filters + broadcast joins) do not each replay the
    fingerprint pass."""
    return (vals.select("column_ref", "is_new",
                        F.expr(_SPARK_H48).alias("h"))
            .groupBy("column_ref")
            .agg(F.count("*").alias("n"),
                 F.expr("bit_xor(h)").alias("h"),
                 F.count(F.when(~F.col("is_new"), 1)).alias("o_n"),
                 F.expr("bit_xor(CASE WHEN NOT is_new THEN h END)")
                 .alias("o_h"))
            .localCheckpoint(eager=True))


#: A column's fingerprint moved (or it is new) — the rescan predicate
#: over the _snapshot_fingerprints relation.
def _changed_pred():
    return ((F.col("o_n") == 0) | (F.col("n") != F.col("o_n"))
            | (F.col("h") != F.col("o_h")))


def incremental_findings(basis) -> DataFrame:
    """Spark path over a :func:`distinct_basis` of a melted
    (column_ref, value[, vclass]) relation.

    Plan: ONE distinct shuffle (checkpointed — it feeds the
    fingerprint pass and the pruned scan, the findings_rollup
    discipline), one conditional-aggregate fingerprint pass producing
    the checkpointed metadata-scale per-column relation WITH the
    totals, then extraction over the broadcast-pruned value set only.
    """
    vals, vcols, class_col = basis
    fps = _snapshot_fingerprints(vals)
    # the action relation is a trivial projection over the checkpointed
    # fingerprints — no second checkpoint needed
    acts = fps.select(
        "column_ref",
        F.when(F.col("o_n") == 0, F.lit("new"))
        .when((F.col("n") != F.col("o_n"))
              | (F.col("h") != F.col("o_h")), F.lit("rescanned"))
        .otherwise(F.lit("carried")).alias("scan_action"),
        F.when(_changed_pred(), F.col("n"))
        .otherwise(F.col("o_n")).alias("n_values"))
    # rescan/new columns scan ALL current values, carried columns keep
    # only the prior-snapshot values (identical by fingerprint, and a
    # findings-store read in production — derived here for the oracle)
    keep = (vals.join(F.broadcast(acts), "column_ref")
            .where((F.col("scan_action") != "carried")
                   | (~F.col("is_new"))))
    cands = extract_candidates(
        keep.select(*vcols), class_col=class_col) \
        .withColumn("prob", candidate_score())
    per_type = cands.groupBy("column_ref", "pii_type").agg(
        F.count("*").alias("n_candidates"),
        F.countDistinct("value").alias("n_values_hit"),
        F.round(F.max("prob"), 6).alias("confidence"))
    out = (per_type.join(F.broadcast(acts), "column_ref")
           .select("column_ref", "pii_type", "n_candidates",
                   "n_values_hit", "confidence",
                   F.expr(ratio_round_halfup_guarded(
                       "spark", "n_values_hit", "n_values"))
                   .alias("hit_rate"),
                   "scan_action"))
    # nothing persisted to release — vals is checkpointed (GC-freed);
    # the eager materialization keeps the contract: callers get a
    # small, lineage-free result
    return checkpoint_release(out)


def incremental_findings_oracle_sql(tables: tuple[str, ...]) -> str:
    """DuckDB oracle: same distinct basis, same gate, same
    fingerprints, same prune; extraction via the shared
    scored-candidates chain over the pruned value set."""
    melted = oracles.tables_melted_sql(tables)
    h16_sql, h48_sql = _fp_rows_exprs()
    keep_src = ("(SELECT column_ref, value, vclass FROM fv JOIN acts "
                "USING (column_ref) WHERE scan_action <> 'carried' "
                "OR NOT is_new)")
    scan_cte = oracles.scored_candidates_cte(keep_src,
                                             class_col="vclass")
    return f"""
WITH dvals AS (
  SELECT DISTINCT column_ref, value, vclass FROM {melted} m
  WHERE value IS NOT NULL
),
fv AS (
  SELECT column_ref, value, vclass, {NEW_ROW_GATE} AS is_new FROM dvals
),
fph AS (
  SELECT column_ref, is_new, {h16_sql} AS h16 FROM fv
),
fp_rows AS (
  SELECT column_ref, is_new, {h48_sql} AS h FROM fph
),
cur_fp AS (
  SELECT column_ref, COUNT(*) AS n, bit_xor(h) AS h
  FROM fp_rows GROUP BY column_ref
),
old_fp AS (
  SELECT column_ref, COUNT(*) AS n, bit_xor(h) AS h
  FROM fp_rows WHERE NOT is_new GROUP BY column_ref
),
acts AS (
  SELECT c.column_ref,
         CASE WHEN o.column_ref IS NULL THEN 'new'
              WHEN c.n <> o.n OR c.h <> o.h THEN 'rescanned'
              ELSE 'carried' END AS scan_action,
         CASE WHEN o.column_ref IS NULL THEN c.n
              WHEN c.n <> o.n OR c.h <> o.h THEN c.n
              ELSE o.n END AS n_values
  FROM cur_fp c LEFT JOIN old_fp o ON o.column_ref = c.column_ref
),
{scan_cte.lstrip()}
SELECT s.column_ref AS column_ref, s.pii_type AS pii_type,
       COUNT(*) AS n_candidates,
       COUNT(DISTINCT s.value) AS n_values_hit,
       round(MAX(s.prob), 6) AS confidence,
       {ratio_round_halfup_guarded("duckdb", "COUNT(DISTINCT s.value)",
                                   "a.n_values")} AS hit_rate,
       a.scan_action
FROM scored s JOIN acts a ON a.column_ref = s.column_ref
GROUP BY s.column_ref, s.pii_type, a.n_values, a.scan_action
"""


# --- store-relation twins (round 12) ------------------------------------------
#
# The two driver-side sinks expressed as deterministic RELATIONS so the
# oracle gate can verify their semantics (round-11 verdict item 3):
#
# - findings_merge_upsert: the K1/J3 MERGE
#   (sinks/findings_store.py merge_findings; reference db.py:157-241
#   get-or-create/update) as its result relation — prior store UNION
#   incoming rescan -> exactly one row per column_ref, incoming wins.
# - writeback_diff_plan: the K2-K4 idempotent diff-before-write
#   (sinks/writeback.py apply_writeback/desired_tags; reference
#   glue.py:210-229 diff, unity.py:263-311, hms.py:110-162) as the
#   desired-vs-current action plan the apply loop consumes.
#
# Both reuse the incremental module's deterministic prior/current
# snapshot synthesis (NEW_ROW_GATE): the prior store/catalog state is
# what the PRIOR run's scan would have written, the incoming side is
# the current snapshot — so the whole store lifecycle replays from one
# parquet input on both engines.


def findings_merge_upsert(basis) -> DataFrame:
    """MERGE-result relation: one row per column_ref after upserting
    the incremental rescan's findings into the prior store.

    - incoming = store-shaped findings over the CURRENT snapshot, for
      columns whose fingerprint moved (the incremental contract: only
      rescanned columns produce new store rows);
    - prior = store-shaped findings over the PRIOR snapshot;
    - merge_action: 'updated' (both sides), 'inserted' (incoming
      only), 'kept' (prior only — unchanged columns' rows survive; a
      MERGE never deletes).

    Plan: the shared checkpointed distinct basis, ONE extraction pass
    with both snapshots' aggregates folded as conditional aggregates
    (is_new is a pure function of (column_ref, value), so the prior
    candidate set is a filter, not a second scan), per-column store
    shaping, and a full outer join of two findings-store-scale
    relations. 100 TB: everything after extraction is metadata-scale.
    ``basis`` as in :func:`incremental_findings`.
    """
    vals, vcols, class_col = basis
    fps = _snapshot_fingerprints(vals)
    cands = (extract_candidates(vals.select(*vcols), class_col=class_col)
             .withColumn("prob", candidate_score())
             .withColumn("is_new", F.expr(NEW_ROW_GATE)))
    pt = (cands.groupBy("column_ref", "pii_type").agg(
        F.countDistinct("value").alias("c_hits"),
        F.countDistinct(F.when(~F.col("is_new"), F.col("value")))
        .alias("p_hits"),
        F.round(F.max("prob"), 6).alias("c_conf"),
        F.round(F.max(F.when(~F.col("is_new"), F.col("prob"))), 6)
        .alias("p_conf"))
        .join(F.broadcast(fps), "column_ref"))
    inc_pt = (pt.where(_changed_pred())
              .select("column_ref", "pii_type",
                      F.col("c_conf").alias("conf"),
                      F.expr(ratio_round_halfup_guarded(
                          "spark", "c_hits", "n")).alias("hr")))
    pri_pt = (pt.where(F.col("p_hits") > 0)
              .select("column_ref", "pii_type",
                      F.col("p_conf").alias("conf"),
                      F.expr(ratio_round_halfup_guarded(
                          "spark", "p_hits", "o_n")).alias("hr")))

    def store_shape(ptd: DataFrame) -> DataFrame:
        return ptd.groupBy("column_ref").agg(
            F.concat_ws(",", F.array_sort(F.collect_set("pii_type")))
            .alias("types_csv"),
            F.count("*").alias("n_types"),
            F.max("conf").alias("confidence"),
            F.max("hr").alias("hit_rate"))

    inc_f, pri_f = store_shape(inc_pt), store_shape(pri_pt)
    p = pri_f.select(F.col("column_ref").alias("p_ref"),
                     F.col("types_csv").alias("p_types"),
                     F.col("n_types").alias("p_n_types"),
                     F.col("confidence").alias("p_conf"),
                     F.col("hit_rate").alias("p_hr"))
    return (inc_f.join(p, inc_f.column_ref == p.p_ref, "full")
            .select(
                F.coalesce("column_ref", "p_ref").alias("column_ref"),
                F.when(F.col("column_ref").isNull(), F.lit("kept"))
                .when(F.col("p_ref").isNull(), F.lit("inserted"))
                .otherwise(F.lit("updated")).alias("merge_action"),
                F.coalesce("types_csv", "p_types").alias("types_csv"),
                F.coalesce("n_types", "p_n_types").alias("n_types"),
                F.coalesce("confidence", "p_conf").alias("confidence"),
                F.coalesce("hit_rate", "p_hr").alias("hit_rate")))


def _merge_oracle_ctes(melted: str) -> str:
    """The shared CTE chain: scored candidates + is_new + both
    snapshots' fingerprints + the per-(column, type) dual-snapshot
    aggregates."""
    h16_sql, h48_sql = _fp_rows_exprs()
    scan_cte = oracles.scored_candidates_cte(melted, class_col="vclass")
    return f"""{scan_cte.lstrip()},
fv AS (SELECT column_ref, value, {NEW_ROW_GATE} AS is_new FROM vals),
fph AS (SELECT column_ref, is_new, {h16_sql} AS h16 FROM fv),
fp_rows AS (SELECT column_ref, is_new, {h48_sql} AS h FROM fph),
cur_fp AS (
  SELECT column_ref, COUNT(*) AS n, bit_xor(h) AS h
  FROM fp_rows GROUP BY column_ref
),
old_fp AS (
  SELECT column_ref, COUNT(*) AS n, bit_xor(h) AS h
  FROM fp_rows WHERE NOT is_new GROUP BY column_ref
),
den AS (
  SELECT c.column_ref, c.n, c.h,
         COALESCE(o.n, 0) AS o_n, o.h AS o_h
  FROM cur_fp c LEFT JOIN old_fp o ON o.column_ref = c.column_ref
),
sc AS (SELECT s.*, {NEW_ROW_GATE} AS is_new FROM scored s),
pt AS (
  SELECT column_ref, pii_type,
         COUNT(DISTINCT value) AS c_hits,
         COUNT(DISTINCT CASE WHEN NOT is_new THEN value END) AS p_hits,
         round(MAX(prob), 6) AS c_conf,
         round(MAX(CASE WHEN NOT is_new THEN prob END), 6) AS p_conf
  FROM sc GROUP BY column_ref, pii_type
),
ptf AS (SELECT pt.*, den.n, den.o_n, den.h, den.o_h
        FROM pt JOIN den ON den.column_ref = pt.column_ref)"""


def findings_merge_upsert_oracle_sql(tables: tuple[str, ...]) -> str:
    melted = oracles.tables_melted_sql(tables)
    hr_cur = ratio_round_halfup_guarded("duckdb", "c_hits", "n")
    hr_pri = ratio_round_halfup_guarded("duckdb", "p_hits", "o_n")
    return f"""
WITH {_merge_oracle_ctes(melted)},
inc_pt AS (
  SELECT column_ref, pii_type, c_conf AS conf, {hr_cur} AS hr
  FROM ptf WHERE o_n = 0 OR n <> o_n OR h <> o_h
),
pri_pt AS (
  SELECT column_ref, pii_type, p_conf AS conf, {hr_pri} AS hr
  FROM ptf WHERE p_hits > 0
),
inc_f AS (
  SELECT column_ref,
         string_agg(pii_type, ',' ORDER BY pii_type) AS types_csv,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         MAX(conf) AS confidence, MAX(hr) AS hit_rate
  FROM inc_pt GROUP BY column_ref
),
pri_f AS (
  SELECT column_ref,
         string_agg(pii_type, ',' ORDER BY pii_type) AS types_csv,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         MAX(conf) AS confidence, MAX(hr) AS hit_rate
  FROM pri_pt GROUP BY column_ref
)
SELECT COALESCE(i.column_ref, p.column_ref) AS column_ref,
       CASE WHEN i.column_ref IS NULL THEN 'kept'
            WHEN p.column_ref IS NULL THEN 'inserted'
            ELSE 'updated' END AS merge_action,
       COALESCE(i.types_csv, p.types_csv) AS types_csv,
       COALESCE(i.n_types, p.n_types) AS n_types,
       COALESCE(i.confidence, p.confidence) AS confidence,
       COALESCE(i.hit_rate, p.hit_rate) AS hit_rate
FROM inc_f i FULL JOIN pri_f p ON p.column_ref = i.column_ref
"""


#: desired_tags' comment vocabulary — imported from the sink itself
#: (cycle-free: sinks/writeback.py imports only pyspark) so the
#: relation genuinely pins the sink's CURRENT wire format instead of a
#: copy that could go stale (round-12 review finding).
from ..sinks.writeback import COMMENT_PREFIX as _WB_PREFIX  # noqa: E402
from ..sinks.writeback import MAX_COMMENT as _WB_MAX  # noqa: E402


def writeback_diff_plan(basis) -> DataFrame:
    """The K2-K4 diff-before-write as a relation: desired tags from the
    CURRENT scan anti-diffed against the catalog state the PRIOR run's
    apply left behind. One row per column the current scan tags:

    - action 'insert' (no prior tag), 'update' (prior tag differs),
      'skip' (identical — the applier's skipped counter);
    - pii_types / prior_pii_types / comment pin the sink's exact
      write payload (comment = 'PII:' + csv, truncated at 255: the
      text apply_writeback appends to a column's own comment).

    Idempotency is an oracle PROPERTY: when prior == current (apply
    then re-scan unchanged data) every row is 'skip' — pinned in
    tests. Fingerprints are irrelevant here: the diff is on tag
    CONTENT, exactly like the sink (writeback.py apply_writeback).

    ``basis`` as in :func:`incremental_findings` (its is_new is dropped:
    the extraction output re-derives it). The checkpoint sits on the
    (small, post-extraction) candidate set, which the two per-column
    aggregates both consume."""
    bvals, vcols, class_col = basis
    cands = (extract_candidates(bvals.select(*vcols), class_col=class_col)
             .withColumn("is_new", F.expr(NEW_ROW_GATE))
             .localCheckpoint(eager=True))
    cur_t = cands.groupBy("column_ref").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("pii_type")))
        .alias("pii_types"),
        F.count("*").alias("n_spans"))
    pri_t = (cands.where(~F.col("is_new"))
             .groupBy("column_ref")
             .agg(F.concat_ws(",", F.array_sort(F.collect_set("pii_type")))
                  .alias("prior_pii_types")))
    # the SAME decomposition the real sink applies (r12 ADVICE: the
    # plan split refs 2-segment while desired_tags assumed 3 — now one
    # shared helper handles both arities for every consumer)
    from ..sinks.writeback import ref_parts
    _schema, _table, _column = ref_parts()
    return (cur_t.join(pri_t, "column_ref", "left")
            .select(
                "column_ref",
                _table.alias("table_name"),
                _column.alias("column_name"),
                F.when(F.col("prior_pii_types").isNull(),
                       F.lit("insert"))
                .when(F.col("prior_pii_types") != F.col("pii_types"),
                      F.lit("update"))
                .otherwise(F.lit("skip")).alias("action"),
                "pii_types", "prior_pii_types",
                F.substring(
                    F.concat(F.lit(_WB_PREFIX), F.col("pii_types")),
                    1, _WB_MAX).alias("comment"),
                F.col("n_spans").cast("bigint").alias("n_spans")))


def writeback_diff_plan_oracle_sql(tables: tuple[str, ...]) -> str:
    melted = oracles.tables_melted_sql(tables)
    scan_cte = oracles.scored_candidates_cte(melted, class_col="vclass")
    return f"""
WITH {scan_cte.lstrip()},
sc AS (SELECT s.*, {NEW_ROW_GATE} AS is_new FROM scored s),
cur_t AS (
  SELECT column_ref,
         string_agg(DISTINCT pii_type, ',' ORDER BY pii_type)
           AS pii_types,
         CAST(COUNT(*) AS BIGINT) AS n_spans
  FROM sc GROUP BY column_ref
),
pri_t AS (
  SELECT column_ref,
         string_agg(DISTINCT pii_type, ',' ORDER BY pii_type)
           AS prior_pii_types
  FROM sc WHERE NOT is_new GROUP BY column_ref
),
refd AS (
  -- mirror sinks/writeback.ref_parts' arity-aware decomposition
  -- (3-segment cat://schema/table/column vs the melt boundary's
  -- 2-segment spark://table/column) so the dual dialects cannot
  -- drift if a 3-segment enumeration ever feeds the plan
  SELECT c.*, p.prior_pii_types,
         str_split(regexp_replace(c.column_ref, '^[a-z]+://', ''),
                   '/') AS parts
  FROM cur_t c LEFT JOIN pri_t p ON p.column_ref = c.column_ref
)
SELECT column_ref,
       CASE WHEN len(parts) >= 3 THEN parts[2] ELSE parts[1] END
         AS table_name,
       CASE WHEN len(parts) >= 3 THEN parts[3] ELSE parts[2] END
         AS column_name,
       CASE WHEN prior_pii_types IS NULL THEN 'insert'
            WHEN prior_pii_types <> pii_types THEN 'update'
            ELSE 'skip' END AS action,
       pii_types, prior_pii_types,
       substr('{_WB_PREFIX}' || pii_types, 1, {_WB_MAX}) AS comment,
       n_spans
FROM refd
"""


def column_fingerprints(values_df: DataFrame) -> DataFrame:
    """Per-column content fingerprint of a melted relation on the
    distinct non-null value basis: (column_ref, n_values, fp_hash).
    The store-facing half of the incremental contract — the CLI's
    ``--incremental`` mode persists these in the findings store
    sidecar (sinks/findings_store.py) and diffs them on the next run
    to decide which columns rescan."""
    return (values_df.select("column_ref", "value")
            .where(F.col("value").isNotNull()).distinct()
            .select("column_ref", F.expr(_SPARK_H48).alias("h"))
            .groupBy("column_ref")
            .agg(F.count("*").alias("n_values"),
                 F.expr("bit_xor(h)").alias("fp_hash")))
