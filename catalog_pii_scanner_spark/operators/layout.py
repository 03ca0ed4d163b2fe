"""Data-layout optimization accounting — Z-order clustering vs
arrival order, measured as file-skipping effectiveness.

At 100 TB the dominant cost of a selective two-dimensional predicate
(``l_partkey BETWEEN .. AND l_suppkey BETWEEN ..``) is how many
parquet files the min/max zone map lets the scan SKIP. That is a
LAYOUT property: files written in arrival order have near-full-range
min/max on both columns (nothing skips), while files clustered by an
interleaved Morton/Z-order key keep both ranges tight.
``layout_zorder_stats`` models both layouts at once and reports, per
probe rectangle, exactly how many "files" (buckets) each layout must
read — the number a table-format OPTIMIZE ZORDER decision is based
on (public technique: Morton 1966; widely documented for Delta/
Iceberg table layout).

Construction (all portable integer SQL, dual-dialect):

- both dimensions are normalized to an 8-bit grid with exact
  arithmetic: ``floor((x - min) * 256 / span)`` over IEEE doubles of
  exact integers (deterministic cross-engine; global min/max come
  from a one-row bounds relation every executor would get broadcast);
- the Morton key interleaves the two 8-bit values with pure ``%``
  arithmetic (``((x % 2^(b+1)) - (x % 2^b)) * 2^b`` is bit b shifted
  to position 2b — no shift operators, no dialect split);
- 256 equal Z-ranges form the Z-layout "files" (each an aligned
  16x16 quadtree tile); 256 equal ``l_orderkey`` ranges form the
  arrival-order files (orderkey is the synthetic arrival sequence —
  deliberately NOT a global row_number, which would be a
  single-partition window);
- per bucket, the zone map (min/max of both dims + row count) for
  BOTH layouts comes from one GROUPING SETS pass — a single fact
  scan and one <= 512-group shuffle, not a two-arm UNION; probe
  rectangles are a broadcast-sized 8-row literal relation, so the
  scan accounting never shuffles the fact side again. The exact
  ``rows_matched`` twin costs one further fact pass (an 8-way
  conditional count a production run would skip — it exists for the
  gate and the effectiveness report).

Output: one row per (probe rectangle, layout): buckets scanned under
the zone map, total buckets, rows scanned (sum of scanned-bucket
sizes) and rows actually matching — all exact integers. The Z-order
rows_scanned/rows_matched ratio approaching 1 while arrival-order
reads ~everything is the whole optimization, made auditable.

Beyond-reference surface (the reference engine has no layout
optimizer); registered with the sketch/DQ family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Probe rectangles in the normalized 0..255 grid: two big quadrants,
#: a thin x-stripe, a thin y-stripe, a mid block and three small tiles
#: — the mix separates zone-map behavior (stripes favor one layout's
#: clustering axis; tiles favor Z-order).
ZORDER_QUERIES = (
    ("q1_low_quadrant", 0, 63, 0, 63),
    ("q2_high_quadrant", 192, 255, 192, 255),
    ("q3_small_tile", 100, 115, 50, 65),
    ("q4_y_stripe", 0, 255, 0, 15),
    ("q5_x_stripe", 240, 255, 0, 255),
    ("q6_mid_block", 64, 127, 64, 127),
    ("q7_tiny_tile", 32, 47, 200, 215),
    ("q8_x_band", 0, 31, 0, 255),
)

ZORDER_BUCKETS = 256


def _norm8(col: str, mn: str, mx: str) -> str:
    """Exact 0..255 normalization of an integer column."""
    return (f"CAST(floor(CAST(({col} - {mn}) AS DOUBLE)"
            f" * CAST(256 AS DOUBLE)"
            f" / CAST(({mx} - {mn} + 1) AS DOUBLE)) AS INT)")


def _morton16(xcol: str, ycol: str) -> str:
    """Interleave two 8-bit ints into a 16-bit Morton key with pure
    modular arithmetic (no shift operators)."""
    terms = []
    for b in range(8):
        lo, hi, w = 1 << b, 1 << (b + 1), 1 << b
        terms.append(f"(({xcol} % {hi}) - ({xcol} % {lo})) * {w}")
        terms.append(f"(({ycol} % {hi}) - ({ycol} % {lo})) * {w} * 2")
    return "(" + " + ".join(terms) + ")"


def zorder_stats_sql(dialect: str, rel_prefix: str = "") -> str:
    """Dual-dialect template: zone-map scan accounting, both layouts."""
    del dialect  # fully portable — kept for the repo-wide signature
    nb = ZORDER_BUCKETS
    values = ",\n    ".join(
        f"('{q}', {x0}, {x1}, {y0}, {y1})"
        for q, x0, x1, y0, y1 in ZORDER_QUERIES)
    morton = _morton16("px", "py")
    return f"""
WITH bounds AS (
  SELECT MIN(l_partkey) AS minp, MAX(l_partkey) AS maxp,
         MIN(l_suppkey) AS mins, MAX(l_suppkey) AS maxs,
         MIN(l_orderkey) AS mino, MAX(l_orderkey) AS maxo
  FROM {rel_prefix}lineitem
),
base AS (
  SELECT {_norm8('l_partkey', 'b.minp', 'b.maxp')} AS px,
         {_norm8('l_suppkey', 'b.mins', 'b.maxs')} AS py,
         {_norm8('l_orderkey', 'b.mino', 'b.maxo')} AS arrival
  FROM {rel_prefix}lineitem li CROSS JOIN bounds b
),
keyed AS (
  SELECT px, py,
         CAST(floor(CAST({morton} AS DOUBLE)
                    / CAST({65536 // nb} AS DOUBLE)) AS INT) AS zbucket,
         arrival AS linbucket
  FROM base
),
buckets AS (
  -- both bucketings in ONE fact pass (grouping sets, not a two-arm
  -- UNION that would scan the fact side twice)
  SELECT CASE WHEN GROUPING(zbucket) = 0 THEN 'zorder'
              ELSE 'arrival' END AS layout,
         CASE WHEN GROUPING(zbucket) = 0 THEN zbucket
              ELSE linbucket END AS bucket,
         MIN(px) AS minx, MAX(px) AS maxx,
         MIN(py) AS miny, MAX(py) AS maxy, COUNT(*) AS cnt
  FROM keyed GROUP BY GROUPING SETS ((zbucket), (linbucket))
),
totals AS (
  SELECT layout, COUNT(*) AS buckets_total FROM buckets GROUP BY layout
),
probes(query_id, x0, x1, y0, y1) AS (
  VALUES
    {values}
),
scans AS (
  SELECT q.query_id, b.layout,
         COUNT(*) AS buckets_scanned,
         SUM(b.cnt) AS rows_scanned
  FROM probes q JOIN buckets b
    ON b.maxx >= q.x0 AND b.minx <= q.x1
   AND b.maxy >= q.y0 AND b.miny <= q.y1
  GROUP BY q.query_id, b.layout
),
matched AS (
  SELECT q.query_id, COUNT(*) AS rows_matched
  FROM probes q JOIN keyed k
    ON k.px >= q.x0 AND k.px <= q.x1
   AND k.py >= q.y0 AND k.py <= q.y1
  GROUP BY q.query_id
)
SELECT s.query_id, s.layout,
       CAST(s.buckets_scanned AS BIGINT) AS buckets_scanned,
       CAST(t.buckets_total AS BIGINT) AS buckets_total,
       CAST(s.rows_scanned AS BIGINT) AS rows_scanned,
       CAST(COALESCE(m.rows_matched, 0) AS BIGINT) AS rows_matched
FROM scans s
JOIN totals t ON t.layout = s.layout
LEFT JOIN matched m ON m.query_id = s.query_id
ORDER BY s.query_id, s.layout
"""


def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skip accounting for Z-order vs arrival layout; see
    zorder_stats_sql. One fact scan feeds both bucketings via a
    two-arm UNION aggregate; probes/totals are broadcast joins."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .createOrReplaceTempView("cpss_zorder_lineitem")
    return spark.sql(zorder_stats_sql("spark", rel_prefix="cpss_zorder_"))


def layout_zorder_oracle_sql() -> str:
    return zorder_stats_sql("duckdb")


# --- small-file compaction planner -------------------------------------------
#
# The other half of the layout story: a 100 TB table accumulates
# millions of small files (streaming ingest, per-executor writes), and
# a table-format OPTIMIZE/compaction job first PLANS — group input
# files into output bins of ~target size, per table partition — before
# any data moves. The plan itself is pure metadata arithmetic over the
# file inventory (path, partition, bytes), which at scale is millions
# of rows, not bytes of data: exactly a window-function job.
#
# Bin assignment is deterministic next-fit over the partition's files
# in file-id order: a file joins bin floor(cum_bytes_before / target).
# A file straddling a boundary lands in the bin its first byte falls
# in, so a bin can overflow by at most one file — the standard
# streaming-pack property (no bin re-ordering, one pass, mergeable by
# partition). First-fit-decreasing would pack ~11% tighter but needs
# a size sort AND loses prefix-sum parallelism; next-fit is what keeps
# the planner one window pass at metadata scale.
#
# The demo inventory treats each documents row as one small file
# (bytes = n_chars) partitioned by source — the shape of a per-record
# streaming sink gone unchecked.
#
# 100 TB shape: ONE shuffle on the table-partition key, then a
# per-partition running-sum window (the sequential constraint IS
# next-fit's semantics; partitions plan independently and in
# parallel, and a production planner runs per-partition anyway). The
# rollup re-aggregates on the same (partition, bin) key.

#: Target output file size for the plan (bytes). Small enough that the
#: gate-scale inventory (~500 files, ~250 B mean) yields multi-file
#: bins with visible fill variance.
COMPACT_TARGET_BYTES = 4096


def compaction_plan_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Dual-dialect plan rollup: one row per (source, bin_id) with
    n_files, total_bytes, and fill_bp = total_bytes * 10000 /
    COMPACT_TARGET_BYTES
    (exact integer division — byte counts are integers, and a double
    floor() quotient is not engine-build-stable; the HLL lesson) —
    >= 10000 flags the one-file overflow bins.

    Output: source, bin_id, n_files, total_bytes, fill_bp."""
    from ..oracles import exact_int_div
    bin_id = exact_int_div(
        dialect,
        f"""SUM(bytes) OVER (PARTITION BY source
                                      ORDER BY file_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - bytes""",
        f"CAST({COMPACT_TARGET_BYTES} AS BIGINT)")
    fill = exact_int_div(dialect, "SUM(bytes) * CAST(10000 AS BIGINT)",
                         f"CAST({COMPACT_TARGET_BYTES} AS BIGINT)")
    return f"""
WITH inv AS (
  SELECT source, doc_id AS file_id, CAST(n_chars AS BIGINT) AS bytes
  FROM {docs_rel} WHERE n_chars IS NOT NULL AND n_chars > 0
),
planned AS (
  SELECT source, file_id, bytes,
         {bin_id} AS bin_id
  FROM inv
)
SELECT source, bin_id, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       {fill} AS fill_bp
FROM planned GROUP BY source, bin_id
ORDER BY source, bin_id
"""


def layout_compaction_plan(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Next-fit compaction plan over the simulated small-file
    inventory; see compaction_plan_sql."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("cpss_compact_documents")
    return spark.sql(
        compaction_plan_sql("spark", "cpss_compact_documents"))


def layout_compaction_oracle_sql() -> str:
    return compaction_plan_sql("duckdb")


# --- partition-skew report (shuffle-key diagnostics) -------------------------
#
# The planning twin of the salted-sessions crossover measured in PERF.md:
# before a 100 TB job picks its shuffle keys, this reports — per
# (relation, key) edge — how skewed the key's row distribution is and
# what salt fan-out would bound the biggest key's partition at
# SKEW_TARGET_ROWS rows per task. The metrics deliberately avoid any
# global window over the key universe (billions of keys at scale): one
# per-key COUNT aggregation per edge (the only real shuffle), then a
# broadcast join of the 1-row stats relation back onto the per-key
# counts for the heavy-key census.

#: A salted partition should stay under this many rows per task.
SKEW_TARGET_ROWS = 100_000
#: A key is "heavy" when it exceeds this multiple of the mean.
SKEW_HEAVY_X = 10

#: (relation, key column) edges to audit.
SKEW_EDGES = (
    ("events", "user_id"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_custkey"),
)


def partition_skew_sql(dialect: str, rel_prefix: str = "",
                       target: int = SKEW_TARGET_ROWS) -> str:
    """One row per audited edge: rel_key, n_rows, n_keys,
    max_key_rows, skew_x (max / mean, rounded 1e-6), n_heavy_keys
    (keys above SKEW_HEAVY_X * mean), rec_salt (ceil(max_key_rows /
    target) as exact integer arithmetic — a double ceil() quotient is
    not engine-build-stable, the HLL lesson; 1 = no salting needed).
    NULL keys are excluded (they shuffle to one partition by
    definition and the referential suite already counts them)."""
    from ..oracles import exact_int_div
    salt = exact_int_div(dialect,
                         f"s.max_k + CAST({target - 1} AS BIGINT)",
                         f"CAST({target} AS BIGINT)")
    parts = []
    for rel, key in SKEW_EDGES:
        r = rel_prefix + rel
        parts.append(f"""
SELECT '{rel}.{key}' AS rel_key,
       CAST(s.n_rows AS BIGINT) AS n_rows,
       CAST(s.n_keys AS BIGINT) AS n_keys,
       CAST(s.max_k AS BIGINT) AS max_key_rows,
       round(s.max_k * CAST(s.n_keys AS DOUBLE) / s.n_rows, 6)
         AS skew_x,
       CAST(h.n_heavy AS BIGINT) AS n_heavy_keys,
       CASE WHEN s.max_k <= {target} THEN CAST(1 AS BIGINT)
            ELSE {salt} END AS rec_salt
FROM (
  SELECT COALESCE(SUM(cnt), 0) AS n_rows, COUNT(*) AS n_keys,
         MAX(cnt) AS max_k
  FROM (SELECT {key} AS k, COUNT(*) AS cnt FROM {r}
        WHERE {key} IS NOT NULL GROUP BY {key}) _c
) s
CROSS JOIN (
  SELECT COUNT(*) AS n_heavy
  FROM (SELECT COUNT(*) AS cnt FROM {r}
        WHERE {key} IS NOT NULL GROUP BY {key}) _c2
  CROSS JOIN (SELECT SUM(cnt2) * 1.0 / COUNT(*) AS mean_k
              FROM (SELECT COUNT(*) AS cnt2 FROM {r}
                    WHERE {key} IS NOT NULL GROUP BY {key}) _m) _mm
  WHERE _c2.cnt > {SKEW_HEAVY_X} * _mm.mean_k
) h""")
    body = "\nUNION ALL".join(parts)
    return f"SELECT * FROM ({body}) allrows ORDER BY rel_key"


def layout_partition_skew(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit over the star schema's natural join/agg
    keys; see partition_skew_sql. Each edge runs three column-pruned
    aggregation passes over its base table (stats, heavy census, mean);
    a production variant would materialize the per-key counts once per
    edge — acceptable for a diagnostic, and noted in PLANS.md."""
    tables = sorted({rel for rel, _ in SKEW_EDGES})
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet") \
            .createOrReplaceTempView(f"cpss_skew_{t}")
    return spark.sql(partition_skew_sql("spark", rel_prefix="cpss_skew_"))


def layout_skew_oracle_sql() -> str:
    return partition_skew_sql("duckdb")
