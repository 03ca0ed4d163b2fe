"""Classic OLAP queries over the business tables — the engine's general
analytical surface beyond the scanner (the reference samples these
tables; a replacement engine must also ANALYZE them).

Canonical shapes, dual-dialect:

- ``tpch_pricing_summary``: the TPC-H Q1 shape — wide scan, pushed date
  predicate, one groupBy with many aggregates. The Spark plan is the
  textbook columnar path: parquet scan pruned to 7 columns with the
  shipdate filter in PushedFilters, whole-stage-codegen partial
  aggregation map-side, ONE shuffle over 6 (returnflag, linestatus)
  groups. All money sums accumulate in DECIMAL so the engines cannot
  drift a ULP (the same discipline as events_hourly's sum_value).
- ``top_customers_by_revenue``: 3-way star join (orders facts against
  the customer and nation dims) + top-k. Both dims are broadcast —
  Catalyst already chooses broadcast-hash under the 10 MB threshold, and
  at 100 TB the dims remain broadcast-sized while orders stays
  shuffle-free through both joins; the top-k is TakeOrderedAndProject
  (per-partition heads + driver merge, never a global sort).
- ``monthly_revenue_running``: partition-bounded cumulative window.
- ``orders_priority_pivot``: PIVOT as fixed-schema conditional
  aggregation (no distinct-values pre-job).

Floating point: every emitted average divides two exact quantities
(DECIMAL sum / BIGINT count) through the tie-exact half-up fragment
(oracles.ratio_round_halfup) — round() of a double quotient is
engine-dependent exactly at half-1e-6 ties, which exact-decimal
numerators CAN hit (the round-10 fuzz finding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracles import ratio_round_halfup_guarded

#: Q1-style cutoff inside the synthetic data's 1995..2001 shipdate range
#: (prunes ~1/3 of lineitem, so the pushed filter is observable).
PRICING_CUTOFF = "2000-01-01"

TOP_CUSTOMERS_K = 25


def tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .where(F.col("l_shipdate")
                 <= F.lit(PRICING_CUTOFF).cast("timestamp")))
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                           - dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(dec("l_quantity")).alias("_sq"),
             F.sum(dec("l_extendedprice")).alias("_sbp"),
             F.sum(disc_price).alias("_sdp"),
             F.sum(charge).alias("_sc"),
             F.count("*").alias("count_order"))
        .select(
            "l_returnflag", "l_linestatus",
            F.round(F.col("_sq").cast("double"), 2).alias("sum_qty"),
            F.round(F.col("_sbp").cast("double"), 2)
            .alias("sum_base_price"),
            F.round(F.col("_sdp").cast("double"), 4)
            .alias("sum_disc_price"),
            # charge is an exact scale-6 decimal, so its sum can land
            # exactly on a half-1e-4 tie; round in the DECIMAL domain
            # (HALF_UP in both engines, verified) BEFORE the double cast
            F.round(F.col("_sc"), 4).cast("double").alias("sum_charge"),
            # tie-exact averages (oracles.ratio_round_halfup): the
            # decimal sums are exact cent-units, so sum/count can land
            # exactly on a half-micro tie where a double round() is
            # engine-dependent
            F.expr(ratio_round_halfup_guarded(
                "spark", "_sq", "count_order", num_scale=2))
            .alias("avg_qty"),
            F.expr(ratio_round_halfup_guarded(
                "spark", "_sbp", "count_order", num_scale=2))
            .alias("avg_price"),
            F.col("count_order").cast("bigint").alias("count_order"))
    )


def tpch_pricing_summary_oracle_sql() -> str:
    dec = lambda c: f"CAST({c} AS DECIMAL(18,2))"
    disc = (f"({dec('l_extendedprice')} * (CAST(1 AS DECIMAL(18,2)) "
            f"- {dec('l_discount')}))")
    charge = f"({disc} * (CAST(1 AS DECIMAL(18,2)) + {dec('l_tax')}))"
    return f"""
SELECT l_returnflag, l_linestatus,
       round(CAST(SUM({dec('l_quantity')}) AS DOUBLE), 2) AS sum_qty,
       round(CAST(SUM({dec('l_extendedprice')}) AS DOUBLE), 2)
         AS sum_base_price,
       round(CAST(SUM({disc}) AS DOUBLE), 4) AS sum_disc_price,
       CAST(round(SUM({charge}), 4) AS DOUBLE) AS sum_charge,
       {ratio_round_halfup_guarded("duckdb", f"SUM({dec('l_quantity')})", "COUNT(*)", num_scale=2)}
         AS avg_qty,
       {ratio_round_halfup_guarded("duckdb", f"SUM({dec('l_extendedprice')})", "COUNT(*)", num_scale=2)}
         AS avg_price,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{PRICING_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def top_customers_by_revenue(spark: SparkSession, sf_dir: str,
                             k: int = TOP_CUSTOMERS_K) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (orders.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("_rev"),
                F.count("*").alias("n_orders")))
    out = (rev.join(F.broadcast(cust),
                    rev.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation),
                 cust.c_nationkey == nation.n_nationkey)
           .select(F.col("c_custkey").cast("bigint").alias("custkey"),
                   "c_name",
                   F.col("n_name").alias("nation"),
                   F.col("n_orders").cast("bigint").alias("n_orders"),
                   F.round(F.col("_rev").cast("double"), 2)
                   .alias("revenue")))
    return (out.orderBy(F.desc("revenue"), F.asc("custkey")).limit(k))


def top_customers_oracle_sql() -> str:
    return f"""
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT CAST(c.c_custkey AS BIGINT) AS custkey, c.c_name,
       n.n_name AS nation,
       CAST(v.n_orders AS BIGINT) AS n_orders,
       round(CAST(v.r AS DOUBLE), 2) AS revenue
FROM rev v
JOIN customer c ON c.c_custkey = v.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
ORDER BY revenue DESC, custkey ASC
LIMIT {TOP_CUSTOMERS_K}
"""


def monthly_revenue_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer monthly revenue with a cumulative running total —
    the canonical partition-bounded window (PARTITION BY custkey ORDER
    BY month): state per task is one partial sum, and the shuffle is
    keyed on the customer, so the window never sees more than one
    customer's months in a frame. Money stays DECIMAL through both the
    monthly sum and the running total; the cast to double happens once
    at the output.

    Output: custkey, month (ISO yyyy-MM-01 string), revenue,
    running_revenue."""
    from pyspark.sql import Window
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    monthly = (orders.groupBy(
                   F.col("o_custkey").cast("bigint").alias("custkey"),
                   F.date_format(F.date_trunc("month", "o_orderdate"),
                                 "yyyy-MM-dd").alias("month"))
               .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .alias("_rev")))
    w = (Window.partitionBy("custkey").orderBy("month")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return monthly.select(
        "custkey", "month",
        F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
        F.round(F.sum("_rev").over(w).cast("double"), 2)
        .alias("running_revenue"))


def monthly_revenue_running_oracle_sql() -> str:
    return """
WITH monthly AS (
  SELECT CAST(o_custkey AS BIGINT) AS custkey,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2
)
SELECT custkey, month,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       round(CAST(SUM(rev) OVER (PARTITION BY custkey ORDER BY month
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2)
         AS running_revenue
FROM monthly
"""


#: Fixed pivot columns — explicit value lists keep the pivot a plain
#: conditional aggregation (deterministic schema; Spark's inferring
#: pivot would launch an extra distinct job at scale).
ORDER_STATUSES = ("O", "F", "P")


def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT shape: order counts per priority, one column per order
    status. Rendered as conditional aggregation (SUM of CASE) rather
    than the pivot API so the plan is ONE groupBy over the fact scan
    with a fixed output schema — the same rows the SQL PIVOT produces,
    without the extra distinct-values job.

    Output: o_orderpriority, n_O, n_F, n_P, n_total."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    aggs = [F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))
            .cast("bigint").alias(f"n_{s}") for s in ORDER_STATUSES]
    return (orders.groupBy("o_orderpriority")
            .agg(*aggs, F.count("*").cast("bigint").alias("n_total")))


def orders_priority_pivot_oracle_sql() -> str:
    cols = ", ".join(
        f"CAST(SUM(CASE WHEN o_orderstatus = '{s}' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_{s}" for s in ORDER_STATUSES)
    return f"""
SELECT o_orderpriority, {cols},
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM orders GROUP BY o_orderpriority
"""


#: Churn cutoff inside the synthetic order range (orders span
#: 1995..2001-08; ~40% of customers have no order after this date).
CHURN_SINCE = "2001-01-01"


def churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn report: customers with NO order since the cutoff — the
    LEFT ANTI join shape (Spark's NOT EXISTS). The anti-join's right
    side is the distinct recent-customer set (already reduced before the
    join, so AQE broadcasts it at any realistic recency window); the
    last-order enrichment is a customer-keyed aggregate join and the
    nation dim is broadcast.

    Output: custkey, c_name, nation, last_order."""
    cut = F.lit(CHURN_SINCE).cast("timestamp")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    recent = (orders.where(F.col("o_orderdate") >= cut)
              .select("o_custkey").distinct())
    last = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"))
    return (cust
            .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
            .join(last, cust.c_custkey == last.o_custkey, "left")
            .join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
            .select(F.col("c_custkey").cast("bigint").alias("custkey"),
                    "c_name", F.col("n_name").alias("nation"),
                    "last_order"))


def churned_customers_oracle_sql() -> str:
    return f"""
SELECT CAST(c.c_custkey AS BIGINT) AS custkey, c.c_name,
       n.n_name AS nation, l.last_order
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
LEFT JOIN (SELECT o_custkey, MAX(o_orderdate) AS last_order
           FROM orders GROUP BY o_custkey) l
  ON l.o_custkey = c.c_custkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '{CHURN_SINCE} 00:00:00')
"""


# --- local supplier volume (TPC-H Q5 analog) ---------------------------------
#
# The classic snowflake-join benchmark shape (reference scope: the
# scanner's SQL surface; this is the §2.11 OLAP family): revenue by
# nation where the ordering customer and the line's supplier sit in the
# SAME nation — a 5-way join whose ONLY big relations are the two fact
# tables. Plan discipline: lineitem joins orders on the fact key
# (the one real shuffle pair), while customer / supplier / nation are
# broadcast dims; revenue sums as DECIMAL before the one rounded cast.

def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    # the pricing-summary decimal discipline: decimal-cast each column
    # first, multiply exactly, round ONCE at the end
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                    - dec("l_discount"))
    out = (li
           .join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
           .where(F.col("c_nationkey") == F.col("s_nationkey"))
           .join(F.broadcast(nation),
                 F.col("c_nationkey") == nation.n_nationkey)
           .groupBy("n_name")
           .agg(F.sum(rev).alias("_rev"),
                F.count("*").alias("n_lines"))
           .select(F.col("n_name").alias("nation"),
                   F.col("n_lines").cast("bigint").alias("n_lines"),
                   F.round(F.col("_rev").cast("double"), 2)
                   .alias("revenue")))
    return out


def local_supplier_volume_oracle_sql() -> str:
    return """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l.l_discount AS DECIMAL(18,2))))
             AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE c.c_nationkey = s.s_nationkey
GROUP BY n.n_name
"""


# --- market-basket pair mining (association rules) ---------------------------
#
# Classic co-occurrence analytics (Agrawal-Srikant 1994 support/
# confidence framing; public): which part pairs appear together in the
# same order more often than chance. The quadratic stage is bounded BY
# CONSTRUCTION: pairs are generated per order, so fan-out is
# sum(order_size^2)/2 — order sizes are small and independent of corpus
# scale (the within-group pairing discipline of SemDeDup cells). Only
# pairs reaching MIN_PAIR_SUPPORT survive to the metric join.
#
# Determinism: support counts are exact integers; confidence and lift
# round once at 1e-6 from exact integer ratios.

BASKET_MIN_SUPPORT = 3

#: Largest order universe for which the lift's tie-exact integer path
#: is BIGINT-provable end to end: with every count bounded by n,
#: n^2 <= halfup_den_bound(6) requires n <= isqrt(4611683712585).
_LIFT_GUARD_N = 2_147_483


def basket_pairs_segments(dialect: str,
                          min_support: int = BASKET_MIN_SUPPORT
                          ) -> tuple[str, str]:
    """(the ``op`` CTE, the metric CTEs + final SELECT consuming
    ``op``) — composed by callers, never re-parsed (r7 ADVICE).
    Output per qualifying pair (part_a < part_b): part_a, part_b,
    pair_orders, a_orders, b_orders, confidence_ab (pair/a), lift
    (pair * n_orders / (a * b)). The only dialect split is the
    integer-division token inside the tie-exact confidence ratio."""
    op_segment = """op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
)"""
    metric_segment = f"""n_ord AS (SELECT COUNT(DISTINCT o) AS n FROM op),
part_n AS (SELECT p, COUNT(*) AS cnt FROM op GROUP BY p),
pairs AS (
  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS pair_orders
  FROM op a JOIN op b ON b.o = a.o AND b.p > a.p
  GROUP BY a.p, b.p
  HAVING COUNT(*) >= {min_support}
)
SELECT pr.part_a, pr.part_b,
       CAST(pr.pair_orders AS BIGINT) AS pair_orders,
       CAST(pa.cnt AS BIGINT) AS a_orders,
       CAST(pb.cnt AS BIGINT) AS b_orders,
       {ratio_round_halfup_guarded(dialect, "pr.pair_orders", "pa.cnt")}
         AS confidence_ab,
       -- lift = pair * n / (a * b): both the numerator and the
       -- denominator are PRODUCTS of data-dependent counts, so the
       -- tie-exact integer path is taken only under the factor guard
       -- n <= {_LIFT_GUARD_N} (every count <= n, so pair * n and
       -- a * b and the fragment's 2*den*1e6 intermediates all fit
       -- BIGINT — the guard tests the FACTOR because testing the
       -- product could itself overflow); beyond it the plain double
       -- round is the same explicit branch on both engines, with the
       -- fallback's own products evaluated factor-cast-to-DOUBLE so
       -- the fallback itself cannot overflow (round-11 ADVICE)
       {ratio_round_halfup_guarded(
           dialect, "pr.pair_orders * n.n", "pa.cnt * pb.cnt",
           guard=f"n.n <= {_LIFT_GUARD_N}",
           fallback_num="(CAST(pr.pair_orders AS DOUBLE) * n.n)",
           fallback_den="(CAST(pa.cnt AS DOUBLE) * pb.cnt)")} AS lift
FROM pairs pr
JOIN part_n pa ON pa.p = pr.part_a
JOIN part_n pb ON pb.p = pr.part_b
CROSS JOIN n_ord n
"""
    return op_segment, metric_segment


def basket_pairs_sql(dialect: str,
                     min_support: int = BASKET_MIN_SUPPORT) -> str:
    op, metric = basket_pairs_segments(dialect, min_support=min_support)
    return f"WITH {op},\n{metric}"


def orders_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-pair mining over lineitem; the distinct (order,
    part) relation feeds four consumers, so the Spark path materializes
    it once and splices its view into the template's metric segment
    (segment composition, not rendered-SQL re-parsing)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    op = (li.where(F.col("l_orderkey").isNotNull()
                   & F.col("l_partkey").isNotNull())
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p"))
          .distinct().localCheckpoint(eager=True))
    op.createOrReplaceTempView("cpss_basket_op")
    _, metric = basket_pairs_segments("spark")
    return spark.sql("WITH op AS (SELECT o, p FROM cpss_basket_op),\n"
                     + metric)


def basket_pairs_oracle_sql() -> str:
    return basket_pairs_sql("duckdb")


# --- event-type transition matrix (sequence analytics) -----------------------
#
# The Markov-chain view of the event stream: per (from_type, to_type),
# how often a user's NEXT event has that type, with the row-normalized
# transition probability. One user-keyed window (ordered by ts,
# event_id — a total order, so ties are deterministic) plus one
# pair-keyed aggregation; no self-join.

def event_transitions_sql(dialect: str, ev_rel: str = "events") -> str:
    """Output: from_type, to_type, n (BIGINT), prob (n / out-degree of
    from_type, rounded 1e-6 via the tie-exact fragment — the only
    dialect split is its integer-division token)."""
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM {ev_rel}
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
tr AS (
  SELECT event_type AS from_type, next_type AS to_type,
         COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
outd AS (SELECT from_type, SUM(n) AS total FROM tr GROUP BY from_type)
SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
       {ratio_round_halfup_guarded(dialect, "t.n", "o.total")} AS prob
FROM tr t JOIN outd o ON o.from_type = t.from_type
"""


def events_transition_matrix(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("cpss_trans_events")
    return spark.sql(event_transitions_sql("spark", "cpss_trans_events"))


def event_transitions_oracle_sql() -> str:
    return event_transitions_sql("duckdb")


# --- SCD-2 state history (gaps-and-islands over the event stream) ------------
#
# The classic warehouse reconstruction: from an append-only event log,
# rebuild each user's slowly-changing-dimension (type-2) history —
# one row per RUN of consecutive equal states with its validity
# interval. Consecutive-run collapse is the textbook gaps-and-islands
# pattern: flag run starts with lag(), number runs with a running SUM,
# aggregate per run, then lead() the next run's start as valid_to.
#
# Determinism: the per-user order is the (ts, event_id) total order
# every sequence operator here uses, so runs are unique. Shuffle
# shape: ONE user-keyed exchange feeds all three windows and the
# per-run aggregate (same partition key throughout); no self-joins.
#
# NOTE: implemented and tested in round 11; queries()/oracle_sql()
# registration is deferred to the round-12 window (the round-11
# FRONT_50 is exactly full and a never-gated entry may not be parked —
# tests/test_entry_contract.py rule 1).

def user_state_history_sql(dialect: str, ev_rel: str = "events") -> str:
    """Output: user_id, run_id (1-based BIGINT), state, valid_from,
    valid_to (NULL for the current run), n_events (BIGINT),
    is_current. The dialect parameter is nominal — every construct here
    (lag/lead/SUM OVER with an explicit ROWS frame, CASE, MIN) renders
    identically in Spark SQL and DuckDB."""
    return f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM {ev_rel}
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
),
runs AS (
  SELECT user_id, ts, event_type,
         SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_id
  FROM seq
),
per_run AS (
  SELECT user_id, run_id, MIN(event_type) AS state,
         MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM runs GROUP BY user_id, run_id
)
SELECT user_id, CAST(run_id AS BIGINT) AS run_id, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
         AS valid_to,
       n_events,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
         IS NULL AS is_current
FROM per_run
"""


def events_user_state_history(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Dual-dialect template execution over the events table
    (read_table, so TIMESTAMP(NANOS) sources surface as the same
    microsecond timestamps DuckDB reads)."""
    from ..sources.melt import read_table
    read_table(spark, sf_dir, "events") \
        .createOrReplaceTempView("cpss_scd_events")
    return spark.sql(user_state_history_sql("spark", "cpss_scd_events"))


def user_state_history_oracle_sql() -> str:
    return user_state_history_sql("duckdb")


# --- RFM customer segmentation (round 12; deferred registration) -------------
#
# Classic recency/frequency/monetary quartile segmentation (Hughes
# 1994; the standard CRM product query) with SCALE-CORRECT quartile
# scores: a naive ntile() is one un-partitioned window — a single-task
# global sort of the per-customer relation (billions of rows at
# 100 TB). Scores here come from the proven two-level exact-rank
# discipline (sketch_histogram_quantiles): the equi-width bucket
# function is monotone in the metric, so global rank = prefix count of
# preceding buckets + rank WITHIN the bucket — per-bucket windows over
# <= RFM_BUCKETS partitions, never a global sort. The quartile index
# is then EXACT ntile(4) arithmetic on the rank (base = n div 4,
# rem = n % 4; the first rem buckets take base+1 rows): the naive
# 1 + (rank-1)*4 intdiv n shortcut deviates from ntile whenever
# n % 4 == 2 (round-12 review finding, verified at n = 6: rank 4 gets
# 3 vs ntile's 2), so the full piecewise form is used and pinned
# against a real ntile(4) on corpora with n % 4 != 0 in tests.
#
# NOTE: implemented and tested in round 12; queries()/oracle_sql()
# registration is deferred to the round-13 window (the round-12
# FRONT_50 is exactly full and a never-gated entry may not be parked —
# tests/test_entry_contract.py rule 1).

RFM_BUCKETS = 1024


def _ntile4_expr(dialect: str, rank: str, n: str) -> str:
    """EXACT 1-based ntile(4) index from a UNIQUE gapless 1..n
    row_number-style rank (ties already broken — a true dense_rank
    with ties would misassign tiles; the two-level rank the RFM blocks
    build is row_number-shaped by construction, r12 ADVICE wording):
    base = n div 4, rem = n % 4; the first rem tiles hold base+1 rows
    (the SQL-standard remainder-spreads-early rule). CASE short-circuit
    guards the base = 0 division (n < 4 puts every rank in the early
    branch, matching ntile's one-row tiles)."""
    from ..oracles import exact_int_div
    base = exact_int_div(dialect, f"({n})", "4")
    rem = f"(({n}) % 4)"
    cut = f"({rem} * ({base} + 1))"
    early = exact_int_div(dialect, f"(({rank}) - 1)", f"({base} + 1)")
    late = f"({rem} + {exact_int_div(dialect, f'(({rank}) - 1 - {cut})', base)})"
    return (f"(1 + CASE WHEN ({rank}) <= {cut} THEN {early} "
            f"ELSE {late} END)")


def _rfm_rank_block(tag: str, metric: str) -> str:
    """CTE chain ranking ``cust.{metric}`` ascending (ties by
    c_custkey) via the two-level exact rank; ends defining
    ``{tag}_rank(c_custkey, rank, n)``. Fully dialect-portable."""
    nb = RFM_BUCKETS
    width = f"(b.mx - b.mn) / CAST({nb} AS DOUBLE)"
    return f"""
{tag}_bounds AS (
  SELECT MIN(CAST({metric} AS DOUBLE)) AS mn,
         MAX(CAST({metric} AS DOUBLE)) AS mx,
         COUNT(*) AS n
  FROM cust
),
{tag}_bvals AS (
  SELECT c.c_custkey, CAST(c.{metric} AS DOUBLE) AS v,
         CASE WHEN b.mx = b.mn THEN 0
              ELSE least({nb - 1},
                         CAST(floor((CAST(c.{metric} AS DOUBLE) - b.mn)
                                    / ({width})) AS INT))
         END AS bucket
  FROM cust c CROSS JOIN {tag}_bounds b
),
{tag}_cum AS (
  SELECT bucket,
         SUM(cnt) OVER (ORDER BY bucket) - cnt AS cprev
  FROM (SELECT bucket, COUNT(*) AS cnt FROM {tag}_bvals
        GROUP BY bucket) _h
),
{tag}_rank AS (
  SELECT v.c_custkey,
         c.cprev + row_number() OVER (PARTITION BY v.bucket
                                      ORDER BY v.v, v.c_custkey)
           AS rank,
         b.n
  FROM {tag}_bvals v
  JOIN {tag}_cum c ON c.bucket = v.bucket
  CROSS JOIN {tag}_bounds b
)"""


def rfm_cust_sql(dialect: str, orders_rel: str = "orders") -> str:
    """The per-customer RFM base relation (c_custkey, recency_days,
    frequency, monetary_cents, last_order) — factored out so the Spark
    execution path can MATERIALIZE it once: Spark inlines SQL CTEs, so
    the full inline template recomputed this orders-scale aggregation
    inside every rank block (87 exchanges in the sf0.01 plan audit).
    The oracle keeps the inline form (DuckDB materializes CTEs)."""
    if dialect == "duckdb":
        days = "date_diff('day', c.last_order, a.maxd)"
    else:
        days = "datediff(a.maxd, c.last_order)"
    return f"""
WITH cust0 AS (
  SELECT o_custkey AS c_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS monetary_cents
  FROM {orders_rel}
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
  GROUP BY o_custkey
),
anchor AS (SELECT MAX(last_order) AS maxd FROM cust0)
SELECT c.c_custkey, CAST({days} AS BIGINT) AS recency_days,
       c.frequency, c.monetary_cents, c.last_order
FROM cust0 c CROSS JOIN anchor a
"""


def rfm_segments_sql(dialect: str, orders_rel: str = "orders",
                     cust_rel: str | None = None) -> str:
    """Output per customer: c_custkey, recency_days, frequency,
    monetary_cents (all BIGINT), r_score/f_score/m_score (BIGINT,
    1-4), segment (VARCHAR). recency_days counts from the corpus max
    order date (the 'as of' anchor, derived, so the query is
    deterministic on any snapshot); r_score INVERTS its quartile
    (most recent = 4). Monetary is exact integer cents
    (floor(x*100+0.5) per order, summed as BIGINT).

    ``cust_rel``: name of a PRE-MATERIALIZED :func:`rfm_cust_sql`
    relation — the Spark execution path checkpoints it once so the
    rank blocks plan against a leaf (value-identical; the inline form
    re-ran the orders aggregation per CTE reference)."""
    if cust_rel is not None:
        cust_cte = f"cust AS (SELECT * FROM {cust_rel})"
    else:
        inner = rfm_cust_sql(dialect, orders_rel).strip()
        # splice the factored derivation back in as inline CTEs: the
        # oracle form stays one self-contained statement
        inner_body = inner[len("WITH "):]  # cust0 ... SELECT ...
        ctes, tail = inner_body.rsplit("\nSELECT", 1)
        cust_cte = f"{ctes},\ncust AS (SELECT{tail})"
    nt = {t: _ntile4_expr(dialect, f"{t}_rank.rank", f"{t}_rank.n")
          for t in ("rec", "frq", "mon")}
    return f"""
WITH {cust_cte},
{_rfm_rank_block('rec', 'recency_days')},
{_rfm_rank_block('frq', 'frequency')},
{_rfm_rank_block('mon', 'monetary_cents')}
SELECT c.c_custkey, c.recency_days, c.frequency, c.monetary_cents,
       CAST(5 - {nt['rec']} AS BIGINT) AS r_score,
       CAST({nt['frq']} AS BIGINT) AS f_score,
       CAST({nt['mon']} AS BIGINT) AS m_score,
       CASE
         WHEN 5 - {nt['rec']} >= 4 AND {nt['frq']} >= 4
           THEN 'champion'
         WHEN 5 - {nt['rec']} >= 3 AND {nt['frq']} >= 3
           THEN 'loyal'
         WHEN {nt['mon']} >= 4 THEN 'big_spender'
         WHEN 5 - {nt['rec']} <= 1 AND {nt['frq']} >= 3
           THEN 'at_risk'
         WHEN 5 - {nt['rec']} <= 1 THEN 'hibernating'
         ELSE 'regular'
       END AS segment
FROM cust c
JOIN rec_rank ON rec_rank.c_custkey = c.c_custkey
JOIN frq_rank ON frq_rank.c_custkey = c.c_custkey
JOIN mon_rank ON mon_rank.c_custkey = c.c_custkey
"""


def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("cpss_rfm_orders")
    # materialize the customer base once (Spark inlines CTEs, so the
    # inline template re-ran the orders aggregation inside every rank
    # block — 87 exchanges in the sf0.01 plan audit, 34 after; the
    # remaining exchanges are projections/windows over the checkpointed
    # customer-scale leaf, never the orders scan)
    spark.sql(rfm_cust_sql("spark", "cpss_rfm_orders")) \
        .localCheckpoint(eager=True) \
        .createOrReplaceTempView("cpss_rfm_cust")
    return spark.sql(rfm_segments_sql("spark", "cpss_rfm_orders",
                                      cust_rel="cpss_rfm_cust"))


def rfm_segments_oracle_sql() -> str:
    return rfm_segments_sql("duckdb")
