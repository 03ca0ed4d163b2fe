"""Semantic invariants for the sketch / DQ / layout family (the
cross-engine hash gate lives in tools/selfcheck.py; these tests pin
the MATH, not just Spark-vs-DuckDB agreement)."""

from __future__ import annotations

import hashlib
import math

import duckdb

from catalog_pii_scanner_spark.operators.dq import (
    DQ_SPECS, dq_constraint_sql, dq_constraint_suite)
from catalog_pii_scanner_spark.operators.layout import (
    ZORDER_QUERIES, layout_zorder_stats, _morton16)
from catalog_pii_scanner_spark.operators.sketches import (
    HLL_ALPHA_M2_E12, HLL_LC_EST, HLL_M, bloom_semijoin_filter,
    hll_distinct_sql, sketch_hll_distinct)

from conftest import SF_DIR


def _duck_with_views(tables):
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


# --- HLL --------------------------------------------------------------------

def _python_hll(values):
    """Independent reimplementation of the operator's exact spec."""
    regs = [0] * HLL_M
    for v in values:
        h = hashlib.md5(v.encode()).hexdigest()
        reg = (int(h[0], 16) * 16 + int(h[1], 16)) % HLL_M
        suf = int(h[2:14], 16)
        if suf == 0:
            rho = 49
        else:
            bits = bin(suf)[2:].zfill(48)
            rho = len(bits) - len(bits.lstrip("0")) + 1
        regs[reg] = max(regs[reg], rho)
    z = sum(1 << (49 - r) for r in regs)
    # integer-only estimator: the pinned alpha*m^2*10^12 literal times
    # 2^49, floor-divided by z * 10^12 in exact integer arithmetic,
    # then the pinned-literal linear-counting lookup below the 2.5 m
    # knee (mirrors operators/sketches._hll_est_expr)
    est = (HLL_ALPHA_M2_E12 * (1 << 49)) // (z * 10**12)
    v_zero = regs.count(0)
    if 0 < v_zero < HLL_M and est <= 5 * HLL_M // 2:
        est = HLL_LC_EST[v_zero - 1]
    return z, est, v_zero


def test_hll_oracle_matches_python_reference():
    con = _duck_with_views(["events", "orders", "lineitem", "documents"])
    rows = {r[0]: r for r in con.sql(hll_distinct_sql("duckdb")).fetchall()}
    vals = [str(r[0]) for r in con.sql(
        "SELECT DISTINCT o_custkey FROM orders"
        " WHERE o_custkey IS NOT NULL").fetchall()]
    z, est, v_zero = _python_hll(vals)
    _, m, vz, z_hi, z_lo, est_d, exact_d, _ = rows["orders.o_custkey"]
    assert m == HLL_M
    assert (vz, z_hi * (1 << 28) + z_lo, est_d) == (v_zero, z, est)
    assert exact_d == len(set(vals))


def test_hll_templates_are_integer_only():
    """r7 driver regression: the HLL hash diverged on the driver box
    because est_distinct/err_bp were floor()s of IEEE double
    quotients. The fix contract: NO double (and no floor, which only
    existed for doubles) may appear in any rendered HLL template, in
    either dialect. Round 9 extends the contract: no REGEXP either —
    the anchored regexp_replace leading-zero count was the one
    primitive unique to the family while it hash-failed two driver
    gates the regex-free CMS passed, and is now a substr CASE
    ladder."""
    from catalog_pii_scanner_spark.operators.sketches import (
        hll_registers_sql, hll_rho_parts_sql, hll_sketch_only_sql,
        hll_state_sql, hll_union_sql)
    for d in ("spark", "duckdb"):
        for sql in (hll_distinct_sql(d), hll_union_sql(d),
                    hll_sketch_only_sql(d, rel="events"),
                    hll_registers_sql(d), hll_rho_parts_sql(d),
                    hll_state_sql(d)):
            up = sql.upper()
            assert "DOUBLE" not in up and "FLOOR" not in up, d
            assert "REGEXP" not in up, d


def _python_registers(values):
    """(register -> mrho) map via the independent reference spec."""
    regs = {}
    for v in values:
        h = hashlib.md5(v.encode()).hexdigest()
        reg = (int(h[0], 16) * 16 + int(h[1], 16)) % HLL_M
        suf = int(h[2:14], 16)
        if suf == 0:
            rho = 49
        else:
            bits = bin(suf)[2:].zfill(48)
            rho = len(bits) - len(bits.lstrip("0")) + 1
        regs[reg] = max(regs.get(reg, 0), rho)
    return regs


def test_hll_diag_registers_match_python_reference():
    """The round-9 stage diagnostic emits the RAW register state; it
    must agree with the independent Python reimplementation."""
    from catalog_pii_scanner_spark.operators.sketches import (
        hll_registers_sql)
    con = _duck_with_views(["events", "orders", "lineitem",
                            "documents"])
    rows = con.sql(hll_registers_sql("duckdb")).fetchall()
    got = {(r[1], r[2]) for r in rows if r[0] == "orders.o_custkey"}
    vals = [str(r[0]) for r in con.sql(
        "SELECT o_custkey FROM orders"
        " WHERE o_custkey IS NOT NULL").fetchall()]
    assert got == set(_python_registers(vals).items())


def test_hll_diag_stages_are_mutually_consistent():
    """registers -> state -> sketch must be one pipeline: z_scaled
    and v_zero recomputed in Python from the registers diagnostic
    must equal the state diagnostic, and the per-column value counts
    in rho_parts must equal the NOT-NULL counts."""
    from catalog_pii_scanner_spark.operators.sketches import (
        HLL_DIAG_TRACKED, hll_registers_sql, hll_rho_parts_sql,
        hll_state_sql)
    con = _duck_with_views(["events", "orders", "lineitem",
                            "documents"])
    regs = con.sql(hll_registers_sql("duckdb")).fetchall()
    state = {r[0]: r for r in
             con.sql(hll_state_sql("duckdb")).fetchall()}
    parts = con.sql(hll_rho_parts_sql("duckdb")).fetchall()
    for rel, _, notnull, colref in HLL_DIAG_TRACKED:
        mrhos = {r[1]: r[2] for r in regs if r[0] == colref}
        z = sum(1 << (49 - m) for m in mrhos.values()) \
            + (HLL_M - len(mrhos)) * (1 << 49)
        _, v_zero, z_hi, z_lo, filled = state[colref]
        assert (v_zero, z_hi * (1 << 28) + z_lo, filled) == (
            HLL_M - len(mrhos), z, len(mrhos)), colref
        n_vals = sum(r[3] for r in parts if r[0] == colref)
        want = con.sql(f"SELECT COUNT(*) FROM {rel}"
                       f" WHERE {notnull} IS NOT NULL").fetchone()[0]
        assert n_vals == want, colref


def _python_kmv(values, k=64):
    """Independent KMV reference: k smallest distinct 48-bit md5
    prefixes; est = (k-1) * 2^48 // h_k (exact if fewer than k)."""
    hs = sorted({int(hashlib.md5(v.encode()).hexdigest()[:12], 16)
                 for v in values})[:k]
    n_k, h_k = len(hs), (hs[-1] if hs else 0)
    est = n_k if n_k < k else (k - 1) * (1 << 48) // h_k
    return n_k, h_k, est


def test_kmv_oracle_matches_python_reference():
    from catalog_pii_scanner_spark.operators.sketches import (
        kmv_distinct_sql)
    con = _duck_with_views(["events", "orders", "lineitem",
                            "documents"])
    rows = {r[0]: r for r in con.sql(kmv_distinct_sql("duckdb")).fetchall()}
    vals = [str(r[0]) for r in con.sql(
        "SELECT o_custkey FROM orders"
        " WHERE o_custkey IS NOT NULL").fetchall()]
    n_k, h_k, est = _python_kmv(vals)
    _, k, got_nk, got_hk, got_est, exact_d, _ = rows["orders.o_custkey"]
    assert (got_nk, got_hk, got_est) == (n_k, h_k, est)
    assert exact_d == len(set(vals))


def test_kmv_template_is_integer_only():
    """The KMV template must stay PURE BIGINT end to end — no DOUBLE,
    no floor, no regex, and (unlike the HLL) no DECIMAL/HUGEINT
    widening anywhere, err_bp included (the pre-multiply clamp keeps
    it in int64). This is the sketch's whole reason to exist next to
    the HLL: nothing but driver-gate-proven primitives."""
    from catalog_pii_scanner_spark.operators.sketches import (
        kmv_distinct_sql)
    for d in ("spark", "duckdb"):
        up = kmv_distinct_sql(d).upper()
        assert "DOUBLE" not in up and "FLOOR" not in up, d
        assert "REGEXP" not in up, d
        assert "DECIMAL" not in up and "HUGEINT" not in up, d


def test_kmv_merge_property():
    """The 100 TB property: min-k over the union of two disjoint
    parts' min-k sets == min-k of the whole — the sketch state merges
    without rescanning, exactly like the HLL register MAX."""
    import random
    rng = random.Random(97)
    vals = [str(rng.randrange(10**9)) for _ in range(5000)]
    even = [v for v in vals if int(v) % 2 == 0]
    odd = [v for v in vals if int(v) % 2 != 0]

    def min_k_set(vs, k=64):
        return sorted({int(hashlib.md5(v.encode()).hexdigest()[:12], 16)
                       for v in vs})[:k]

    merged = sorted(set(min_k_set(even)) | set(min_k_set(odd)))[:64]
    assert merged == min_k_set(vals)


def test_nz_case_ladder_matches_python_on_crafted_suffixes():
    """The regex-free leading-zero ladder, probed directly on crafted
    12-char suffixes covering every nz value 0..12 in both engines."""
    from catalog_pii_scanner_spark.operators.sketches import (
        _nz_case_ladder)
    sufs = ["0" * i + "f" * (12 - i) for i in range(13)] + [
        "000a00000000", "100000000000", "00000000000b"]
    expect = [len(s) - len(s.lstrip("0")) for s in sufs]
    con = duckdb.connect()
    rows = " UNION ALL ".join(f"SELECT '{s}' AS suf, {i} AS i"
                              for i, s in enumerate(sufs))
    got = dict(con.sql(
        f"SELECT i, {_nz_case_ladder('suf')} FROM ({rows}) _s"
    ).fetchall())
    assert [got[i] for i in range(len(sufs))] == expect


def test_hll_spark_output_schema_has_no_double(spark):
    df = sketch_hll_distinct(spark, SF_DIR)
    assert all("double" not in f.dataType.simpleString()
               and "float" not in f.dataType.simpleString()
               for f in df.schema.fields), df.schema


def test_hll_lc_table_matches_regeneration():
    """The pinned linear-counting literals are round(m * ln(m / V))
    for V = 1..63. Regenerate with Python math and require EXACT
    round() equality — the table is pinned (not computed at import)
    precisely so a platform libm's 1-ulp ln() drift can never flip a
    rounding boundary between builds, and this test keeps the pins
    honest. Round-10 ADVICE: the old 0.51 absolute tolerance would
    have accepted an off-by-one pin whenever the computed value sat
    within 0.01 of a half boundary — weaker than the contract the
    table docstring states — so the check is now (a) exact round
    equality and (b) no computed value within 1e-6 of a half-integer
    (so the 1-ulp drift can never flip THIS regeneration check
    either)."""
    for v, pinned in enumerate(HLL_LC_EST, start=1):
        computed = HLL_M * math.log(HLL_M / v)
        assert round(computed) == pinned, (v, pinned, computed)
        frac = abs(computed - math.floor(computed) - 0.5)
        assert frac > 1e-6, (v, computed, "on a rounding boundary")
    # strictly decreasing in V (more empty registers = fewer distinct)
    assert list(HLL_LC_EST) == sorted(HLL_LC_EST, reverse=True)


def test_hll_small_range_linear_counting(spark):
    """At sf0.001, events.user_id has 15 distinct values over 64
    registers — deep in linear-counting territory, where the raw
    estimate read 53 (253% off) before round 10. The correction must
    bring the estimate within the LC error envelope (and it lands
    exactly on 15 for this input)."""
    rows = {r["col_ref"]: r.asDict()
            for r in sketch_hll_distinct(
                spark, "/root/testdata/sf0.001").collect()}
    r = rows["events.user_id"]
    assert r["exact_distinct"] == 15
    assert r["v_zero"] > 0
    assert abs(r["est_distinct"] - r["exact_distinct"]) <= 2, r


def test_hll_spark_estimate_sane(spark):
    rows = {r["col_ref"]: r.asDict()
            for r in sketch_hll_distinct(spark, SF_DIR).collect()}
    assert set(rows) == {"events.user_id", "orders.o_custkey",
                         "lineitem.l_partkey", "documents.text"}
    for r in rows.values():
        assert r["est_distinct"] >= 0
        assert r["v_zero"] + (HLL_M - r["v_zero"]) == HLL_M
        # documented raw-estimate regime: above the ~2.5m knee the
        # estimate must land within 5 standard errors (1.04/sqrt(m))
        if r["exact_distinct"] >= int(2.5 * HLL_M):
            rel = abs(r["est_distinct"] - r["exact_distinct"]) \
                / r["exact_distinct"]
            assert rel <= 5 * 1.04 / math.sqrt(HLL_M), r


# --- Bloom ------------------------------------------------------------------

def test_bloom_invariants(spark):
    row = bloom_semijoin_filter(spark, SF_DIR).collect()[0].asDict()
    # a Bloom filter never misses a member
    assert row["n_missed"] == 0
    # every member passes, so pass-count dominates member-count
    assert row["n_pass"] >= row["n_members"]
    assert row["n_false_pos"] == row["n_pass"] - row["n_members"]
    assert row["n_probes"] > 0


# --- DQ suite ---------------------------------------------------------------

def test_dq_failure_detection(spark):
    rows = {(r["table_name"], r["constraint_name"]): r.asDict()
            for r in dq_constraint_suite(spark, SF_DIR).collect()}
    n_specs = sum(len(v) for v in DQ_SPECS.values())
    assert len(rows) == n_specs
    # the deliberately-strict check fails on real negative balances
    assert rows[("customer", "compliance_acctbal_nonnegative")]["passed"] == 0
    # physically-guaranteed checks pass
    for key in [("orders", "completeness_o_custkey"),
                ("lineitem", "compliance_quantity_1_50"),
                ("documents", "completeness_text")]:
        assert rows[key]["passed"] == 1, key
    for r in rows.values():
        assert 0.0 <= r["metric"] <= max(r["metric"], 1.0)


def test_dq_empty_tables_vacuous():
    con = duckdb.connect()
    for t, specs in DQ_SPECS.items():
        cols = {
            "orders": "1 AS o_orderkey, 1 AS o_custkey, 1.0 AS o_totalprice,"
                      " TIMESTAMP '1995-01-01 00:00:00' AS o_orderdate",
            "lineitem": "1 AS l_orderkey, 1 AS l_linenumber, 1.0 AS"
                        " l_quantity, 0.0 AS l_discount,"
                        " TIMESTAMP '1995-01-01 00:00:00' AS l_shipdate",
            "customer": "1 AS c_custkey, 1.0 AS c_acctbal",
            "events": "1 AS event_id, TIMESTAMP '1995-01-01 00:00:00' AS ts,"
                      " 1.0 AS value",
            "documents": "1 AS doc_id, 'x' AS text, 1 AS n_chars,"
                         " 'en' AS lang",
        }[t]
        con.sql(f"CREATE VIEW {t} AS SELECT {cols} WHERE 1 = 0")
    for tname, cname, metric, passed in \
            con.sql(dq_constraint_sql("duckdb")).fetchall():
        if cname == "size_ge_1":
            assert (metric, passed) == (0.0, 0), (tname, cname)
        else:
            # ratio constraints pass vacuously on empty input
            assert (metric, passed) == (1.0, 1), (tname, cname)


# --- Z-order layout ---------------------------------------------------------

def test_morton_expression_is_true_interleave():
    con = duckdb.connect()
    expr = _morton16("px", "py")
    for px, py in [(0, 0), (255, 255), (1, 0), (0, 1), (170, 85), (200, 3)]:
        got = con.sql(f"SELECT {expr} FROM (SELECT {px} AS px,"
                      f" {py} AS py) t").fetchone()[0]
        want = 0
        for b in range(8):
            want |= ((px >> b) & 1) << (2 * b)
            want |= ((py >> b) & 1) << (2 * b + 1)
        assert got == want, (px, py, got, want)


def test_zorder_skips_more_than_arrival(spark):
    rows = layout_zorder_stats(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["layout"]] = r.asDict()
    assert len(by_q) == len(ZORDER_QUERIES)
    for q, layouts in by_q.items():
        z, a = layouts["zorder"], layouts["arrival"]
        # totals count OCCUPIED buckets (empty files don't exist), so
        # they may differ between layouts at sparse SF; compare scan
        # FRACTIONS and absolute rows read instead.
        assert z["buckets_scanned"] <= z["buckets_total"]
        assert a["buckets_scanned"] <= a["buckets_total"]
        # the zone map can never read fewer rows than actually match
        assert z["rows_scanned"] >= z["rows_matched"]
        assert a["rows_scanned"] >= a["rows_matched"]
        assert z["rows_matched"] == a["rows_matched"], q
        # the clustering claim itself: Z-order never reads more rows
        assert z["rows_scanned"] <= a["rows_scanned"], q
        z_frac = z["buckets_scanned"] / z["buckets_total"]
        a_frac = a["buckets_scanned"] / a["buckets_total"]
        assert z_frac <= a_frac + 1e-9, q
    tile_qs = [q for q, *_ in ZORDER_QUERIES if "tile" in q]
    assert any(
        by_q[q]["zorder"]["buckets_scanned"]
        < by_q[q]["arrival"]["buckets_scanned"]
        for q in tile_qs if q in by_q), "Z-order never beat arrival"


# --- Histogram quantile sketch ----------------------------------------------

def test_qhist_error_bound(spark):
    from catalog_pii_scanner_spark.operators.sketches import (
        QHIST_BUCKETS, QHIST_QS, QHIST_TRACKED,
        sketch_histogram_quantiles)
    rows = [r.asDict()
            for r in sketch_histogram_quantiles(spark, SF_DIR).collect()]
    assert len(rows) == len(QHIST_TRACKED) * len(QHIST_QS)
    max_bp = 10000 // QHIST_BUCKETS + 1
    for r in rows:
        # the bucket lower bound can never exceed the true quantile,
        # and the error is bounded by one bucket width (span/1024)
        assert r["est"] <= r["exact"] + 1e-6, r
        assert 0 <= r["err_span_bp"] <= max_bp, r
        assert r["n_rows"] > 0


# --- Daily anomaly detection -------------------------------------------------

def test_dq_anomaly_fires_on_injected_drift(spark, tmp_path, sf_dir):
    """The stationary synthetic corpus flags nothing (asserted), and a
    3x value drift injected into one day MUST fire — detection proven,
    not assumed."""
    from pyspark.sql import functions as F
    from catalog_pii_scanner_spark.operators.dq import dq_anomaly_days

    base = dq_anomaly_days(spark, sf_dir).collect()
    assert base and all(r.flagged == 0 for r in base)

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    drift_day = base[3].day
    (events.withColumn(
        "value",
        F.when(F.date_trunc("day", F.col("ts")) == F.lit(drift_day),
               F.col("value") * 3).otherwise(F.col("value")))
     .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet"))
    drifted = {r.day: r for r in
               dq_anomaly_days(spark, str(tmp_path)).collect()}
    assert drifted[drift_day].flagged == 1, drifted[drift_day]
    # the drifted day is the outlier, not a global false-alarm storm
    n_flagged = sum(r.flagged for r in drifted.values())
    assert n_flagged <= max(1, len(drifted) // 10)


# --- partition-skew report (r9) ------------------------------------------------

def _skew_duck(event_user_ids):
    import duckdb as _dd
    con = _dd.connect()
    vals = ", ".join(f"({i}, {u})" for i, u in enumerate(event_user_ids))
    con.sql(f"CREATE VIEW events AS SELECT * FROM (VALUES {vals})"
            f" _v(event_id, user_id)")
    con.sql("CREATE VIEW lineitem AS SELECT CAST(1 AS BIGINT) AS"
            " l_orderkey WHERE false")
    con.sql("CREATE VIEW orders AS SELECT CAST(1 AS BIGINT) AS"
            " o_custkey WHERE false")
    return con


def test_partition_skew_flags_planted_hot_key():
    from catalog_pii_scanner_spark.operators.layout import (
        partition_skew_sql)
    # 40 uniform keys x 2 rows + ONE key with 920 rows
    ids = [k for k in range(40) for _ in range(2)] + [999] * 920
    con = _skew_duck(ids)
    rows = {r[0]: r for r in con.sql(partition_skew_sql("duckdb"))
            .fetchall()}
    ev = rows["events.user_id"]
    assert ev[1] == 1000 and ev[2] == 41 and ev[3] == 920
    # skew_x = max / mean = 920 / (1000/41)
    assert abs(ev[4] - 920 * 41 / 1000) < 1e-6
    assert ev[5] == 1          # exactly one heavy key
    assert ev[6] == 1          # under target -> no salting needed
    # empty edges: NULL max, NULL-propagated metrics, zero counts
    li = rows["lineitem.l_orderkey"]
    assert li[1] == 0 and li[2] == 0 and li[3] is None


def test_partition_skew_recommends_salt():
    from catalog_pii_scanner_spark.operators.layout import (
        partition_skew_sql)
    ids = [7] * 50
    con = _skew_duck(ids)
    rows = {r[0]: r for r in
            con.sql(partition_skew_sql("duckdb", target=8)).fetchall()}
    # one key, 50 rows, target 8 -> ceil(50/8) = 7 salts
    assert rows["events.user_id"][6] == 7


def test_hll_finalize_three_way_on_random_register_states(spark):
    """Property pin for the integer-only estimator: on RANDOM register
    states (not just states reachable from the md5 pipeline), the
    finalize must agree exactly between Spark, DuckDB, and a pure
    Python-integer reference — including the degenerate all-empty and
    all-saturated states. With integer-only math the agreement is by
    construction; this test keeps it that way under refactors."""
    import random

    from catalog_pii_scanner_spark.operators.sketches import (
        HLL_ALPHA_M2_E12, hll_finalize_rendered)

    rng = random.Random(8)
    states = []
    for case in range(6):
        if case == 0:
            regs = []                                   # empty
        elif case == 1:
            regs = [(r, 49) for r in range(HLL_M)]      # saturated
        else:
            regs = [(r, rng.randint(1, 49))
                    for r in range(HLL_M) if rng.random() < 0.7]
        states.append((f"col{case}", regs))

    rows = [(c, r, m) for c, regs in states for r, m in regs]
    tracked = tuple(("x", "x", "x", c) for c, _ in states)

    def py_finalize(regs):
        filled = len(regs)
        z = sum(1 << (49 - m) for _, m in regs) \
            + (HLL_M - filled) * (1 << 49)
        est = (0 if filled == 0
               else (HLL_ALPHA_M2_E12 * (1 << 49)) // (z * 10**12))
        v_zero = HLL_M - filled
        if 0 < v_zero < HLL_M and 0 < filled and est <= 5 * HLL_M // 2:
            est = HLL_LC_EST[v_zero - 1]
        # z is emitted as the (z_hi, z_lo) split pair (round 10:
        # outputs must stay BIGINT-typed and below 2^48)
        return (HLL_M, v_zero, z >> 28, z % (1 << 28), est)

    want = sorted((c, *py_finalize(regs)) for c, regs in states
                  if regs)  # finalize emits no row for spool-absent cols

    sdf = spark.createDataFrame(
        rows or [("none", 0, 0)], "col_ref string, register int, mrho int")
    sdf.createOrReplaceTempView("cpss_hll_prop_regs")
    got_spark = sorted(
        tuple(r) for r in spark.sql(hll_finalize_rendered(
            "spark", "cpss_hll_prop_regs", tracked)).collect())

    import duckdb
    con = duckdb.connect()
    con.register("cpss_hll_prop_regs", sdf.toPandas())
    got_duck = sorted(
        tuple(r) for r in con.sql(hll_finalize_rendered(
            "duckdb", "cpss_hll_prop_regs", tracked)).fetchall())

    assert got_spark == got_duck == want
