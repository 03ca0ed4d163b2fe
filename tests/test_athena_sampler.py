"""Athena-analog cost-capped sampler (reference S6, athena.py:97-154):
WHERE pushdown must reach the parquet scan, and the fraction + limit
must bound the output deterministically."""

from __future__ import annotations

from catalog_pii_scanner_spark.sources.sampler import athena_sample_column


def test_where_predicate_pushed_to_scan(spark, sf_dir):
    df = athena_sample_column(spark, sf_dir, "lineitem",
                              "l_extendedprice", n=10,
                              where="l_quantity >= 25")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # both the explicit WHERE and the IS NOT NULL reach the scan
    assert "l_quantity" in plan.split("PushedFilters")[1][:300]


def test_fraction_prunes_and_limit_caps(spark, sf_dir):
    full = athena_sample_column(spark, sf_dir, "lineitem",
                                "l_extendedprice", n=10**6)
    frac = athena_sample_column(spark, sf_dir, "lineitem",
                                "l_extendedprice", n=10**6,
                                sample_fraction=0.25)
    n_full, n_frac = full.count(), frac.count()
    # ~25% of distinct values survive the hash-fraction predicate
    assert 0.1 * n_full < n_frac < 0.4 * n_full
    # the fraction subsets the full value set (same hash space)
    vals_frac = {r.value for r in frac.collect()}
    vals_full = {r.value for r in full.collect()}
    assert vals_frac <= vals_full
    capped = athena_sample_column(spark, sf_dir, "lineitem",
                                  "l_extendedprice", n=7,
                                  sample_fraction=0.25)
    assert capped.count() == 7


def test_deterministic_across_runs(spark, sf_dir):
    a = athena_sample_column(spark, sf_dir, "orders", "o_totalprice",
                             n=15, sample_fraction=0.5).collect()
    b = athena_sample_column(spark, sf_dir, "orders", "o_totalprice",
                             n=15, sample_fraction=0.5).collect()
    assert [r.value for r in a] == [r.value for r in b]
