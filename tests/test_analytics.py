"""Classic OLAP queries over the business tables: results sane and the
physical plans are the shapes that survive 100x — pushed scan predicate,
broadcast dimension joins, TakeOrdered top-k (never a global sort)."""

from __future__ import annotations

from catalog_pii_scanner_spark.operators.analytics import (
    tpch_pricing_summary, top_customers_by_revenue)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    # AQE's toString carries BOTH the final and the initial plan; count
    # operators in the final section only
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


def test_pricing_summary_shape_and_plan(spark):
    df = tpch_pricing_summary(spark, SF)
    rows = df.collect()
    # 6 (returnflag, linestatus) groups; averages consistent with sums
    assert 1 <= len(rows) <= 6
    for r in rows:
        assert r.count_order > 0
        assert abs(r.avg_qty - r.sum_qty / r.count_order) < 1e-4
        assert r.sum_disc_price <= r.sum_base_price  # discount <= 0 off
        assert r.sum_charge >= r.sum_disc_price      # tax adds back
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), " \
        in plan or "LessThanOrEqual(l_shipdate" in plan
    # single-shuffle aggregation: partial + final HashAggregate pairs
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1


def test_top_customers_plan_broadcasts_dims(spark):
    df = top_customers_by_revenue(spark, SF, k=10)
    rows = df.collect()
    assert len(rows) == 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r.n_orders > 0 and r.nation for r in rows)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 2     # both dims broadcast
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan          # top-k, no global sort


def test_monthly_running_revenue_is_cumulative(spark):
    from catalog_pii_scanner_spark.operators.analytics import (
        monthly_revenue_running)
    rows = monthly_revenue_running(spark, SF).collect()
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r.custkey, []).append(r)
    assert by_cust
    for cust, rs in by_cust.items():
        rs.sort(key=lambda r: r.month)
        run = 0.0
        for r in rs:
            run += r.revenue
            assert abs(r.running_revenue - run) < 0.02, (cust, r.month)


def test_orders_pivot_columns_sum_to_total(spark):
    from catalog_pii_scanner_spark.operators.analytics import (
        orders_priority_pivot)
    rows = orders_priority_pivot(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_O + r.n_F + r.n_P == r.n_total


def test_churned_customers_anti_join(spark):
    from catalog_pii_scanner_spark.operators.analytics import (
        churned_customers)
    df = churned_customers(spark, SF)
    rows = df.collect()
    assert rows
    cut = __import__("datetime").datetime(2001, 1, 1)
    # every churned customer's last order predates the cutoff
    assert all(r.last_order is not None and r.last_order < cut
               for r in rows)
    plan = _plan(df)
    assert "LeftAnti" in plan or "left_anti" in plan.lower()


# --- local supplier volume (TPC-H Q5 analog, r9) -------------------------------

def test_local_supplier_volume_hand_check(spark):
    """Only lines whose customer and supplier share a nation count,
    revenue is the discounted extended price."""
    from catalog_pii_scanner_spark.operators.analytics import (
        local_supplier_volume)
    import tempfile
    d = tempfile.mkdtemp(prefix="cpss_q5_")
    spark.createDataFrame(
        [(1, 10, "O", 100.0, None, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string").write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        # orderkey, partkey, suppkey, ..., extprice, discount
        [(1, 1, 100, 1, 1.0, 200.0, 0.10, 0.0, "N", "O", None),
         (1, 1, 200, 2, 1.0, 999.0, 0.00, 0.0, "N", "O", None)],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp") \
        .write.parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(10, "c", 3, 0.0, "AUTO")],
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string") \
        .write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        # supplier 100 shares nation 3 with the customer; 200 does not
        [(100, "s1", 3, 0.0), (200, "s2", 4, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int,"
        " s_acctbal double").write.parquet(f"{d}/supplier.parquet")
    spark.createDataFrame(
        [(3, "GERMANY", 1), (4, "FRANCE", 1)],
        "n_nationkey long, n_name string, n_regionkey long") \
        .write.parquet(f"{d}/nation.parquet")
    rows = local_supplier_volume(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.nation == "GERMANY" and r.n_lines == 1
    assert r.revenue == 180.0


# --- basket pairs + transition matrix (r9) --------------------------------------

def test_basket_pairs_hand_check():
    """Support / confidence / lift on a crafted basket set."""
    import duckdb
    from catalog_pii_scanner_spark.operators.analytics import (
        basket_pairs_sql)
    con = duckdb.connect()
    # 4 orders: {1,2} x3, {1,3} x1 -> pair (1,2) support 3;
    # part 1 in 4 orders, part 2 in 3, part 3 in 1
    rows = [(10, 1), (10, 2), (20, 1), (20, 2), (30, 1), (30, 2),
            (40, 1), (40, 3)]
    vals = ", ".join(f"({o}, {p})" for o, p in rows)
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM (VALUES {vals})"
            f" _v(l_orderkey, l_partkey)")
    d = con.sql(basket_pairs_sql("duckdb", min_support=2)).fetchall()
    assert len(d) == 1
    pa, pb, pair, a, b, conf, lift = d[0]
    assert (pa, pb, pair, a, b) == (1, 2, 3, 4, 3)
    assert conf == 0.75              # 3/4
    assert lift == 1.0               # 3*4/(4*3)


def test_transition_matrix_hand_check(spark):
    """lead() under the (ts, event_id) total order; probabilities
    row-normalize."""
    import duckdb
    from catalog_pii_scanner_spark.operators.analytics import (
        event_transitions_sql)
    con = duckdb.connect()
    # user 1: a->b->a ; user 2: a->b  => a->b: 2, b->a: 1
    con.sql("""CREATE VIEW events AS SELECT * FROM (VALUES
      (1, TIMESTAMP '2024-01-01 00:00:01', 1, 'a'),
      (2, TIMESTAMP '2024-01-01 00:00:02', 1, 'b'),
      (3, TIMESTAMP '2024-01-01 00:00:03', 1, 'a'),
      (4, TIMESTAMP '2024-01-01 00:00:01', 2, 'a'),
      (5, TIMESTAMP '2024-01-01 00:00:02', 2, 'b')
    ) _v(event_id, ts, user_id, event_type)""")
    d = {(r[0], r[1]): (r[2], r[3]) for r in
         con.sql(event_transitions_sql("duckdb")).fetchall()}
    assert d[("a", "b")] == (2, 1.0)
    assert d[("b", "a")] == (1, 1.0)
