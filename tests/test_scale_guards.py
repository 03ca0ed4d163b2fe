"""Scale guards: LSH bucket caps complete on boilerplate-heavy corpora
without forced broadcasts, and persisted intermediates are released after
each query (no cached-relation accumulation across a long session)."""

from __future__ import annotations

import gc
import glob
import os
import time

import duckdb
import pytest

from catalog_pii_scanner_spark.operators import dedup

BOILERPLATE = ("terms and conditions apply to all users of this service "
               "as described in the governing policy document")
# J=0.92 over 3-gram shingles; shares 2 of 4 deterministic md5 bands
_NEAR_BASE = ("the quick brown fox jumps over the lazy dog while the calm "
              "river flows gently past the old stone bridge near the quiet "
              "village green")
NEAR_A = _NEAR_BASE + " today"
NEAR_B = _NEAR_BASE + " tonight"


@pytest.fixture(scope="module")
def boiler_dir(spark, tmp_path_factory):
    """300 identical boilerplate docs (over MAX_BAND_BUCKET=200, all in
    one band bucket), one near-dup pair, filler docs."""
    rows = [(i, BOILERPLATE) for i in range(300)]
    rows += [(1000, NEAR_A), (1001, NEAR_B)]
    rows += [(2000 + i,
              f"completely unrelated filler document number {i} with "
              f"unique words alpha{i} beta{i} gamma{i}")
             for i in range(20)]
    out = str(tmp_path_factory.mktemp("boiler"))
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{out}/documents.parquet")
    return out


def test_bucket_cap_drops_boilerplate_keeps_neardups(spark, boiler_dir):
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.lsh_near_dup_pairs(spark, boiler_dir).collect()}
    # the 300-doc boilerplate bucket (44850 identical pairs) is excluded
    assert (0, 1) not in got
    assert all(a >= 1000 for a, _ in got)
    # the genuine near-dup pair survives
    assert (1000, 1001) in got
    assert got[(1000, 1001)] >= 0.5


def test_bucket_cap_engine_matches_oracle(spark, boiler_dir):
    sdf = dedup.lsh_near_dup_pairs(spark, boiler_dir)
    srows = {tuple(r) for r in sdf.collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{boiler_dir}/documents.parquet/*.parquet'")
    orows = {tuple(r) for r in con.execute(
        dedup.lsh_near_dup_pairs_sql("duckdb")).fetchall()}
    assert srows == orows


def test_boilerplate_within_cap_still_pairs(spark, tmp_path):
    """Sanity: identical docs in a bucket UNDER the cap still pair up."""
    rows = [(i, BOILERPLATE) for i in range(5)]
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = dedup.lsh_near_dup_pairs(spark, str(tmp_path)).collect()
    assert len(got) == 10  # C(5,2), jaccard 1.0
    assert all(r.jaccard == 1.0 for r in got)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _settle_to(spark, target: int, seconds: float = 45.0) -> int:
    """GC driver + JVM until persistent-RDD count drops to ``target``
    (ContextCleaner reaps checkpoint blocks asynchronously after GC)."""
    deadline = time.time() + seconds
    while time.time() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        if _n_persistent(spark) <= target:
            break
        time.sleep(1.0)
    return _n_persistent(spark)


#: A single finished query may leave its LAST checkpoint block pinned
#: JVM-side until the next query executes (observed: the block frees on
#: the following round's run + GC, never accumulates past one). The
#: guard is against MONOTONIC growth across a long session, so the
#: per-round bound allows that steady-state slack.
STEADY_STATE_SLACK = 2


def test_no_cached_relation_accumulation(spark):
    """Intermediates (shingles/vecs/vals) are unpersisted before each
    query returns; result checkpoints free on driver GC. A long session
    running many queries must not ACCUMULATE persisted RDDs: after each
    round + GC settle the count stays within a constant of baseline —
    five rounds of checkpoint-heavy queries would exceed it by round 3
    if any round leaked."""
    from catalog_pii_scanner_spark.operators import simsearch
    from catalog_pii_scanner_spark.operators.findings import findings_rollup
    from catalog_pii_scanner_spark.sources.melt import melt_table

    sf = "/root/testdata/sf0.001"
    baseline = _n_persistent(spark)
    bound = baseline + STEADY_STATE_SLACK
    rounds = [
        lambda: dedup.lsh_near_dup_pairs(spark, sf),
        lambda: findings_rollup(melt_table(spark, sf, "customer")),
        lambda: dedup.lsh_near_dup_pairs(spark, sf),
        # the round-4 additions follow the same discipline: containment's
        # eager checkpoints and cluster-mix's persisted vector relation
        # must not survive their query
        lambda: dedup.containment_pairs(spark, sf),
        lambda: simsearch.embed_cluster_mix(spark, sf),
    ]
    for i, mk in enumerate(rounds):
        df = mk()
        df.count()
        del df
        assert _settle_to(spark, bound) <= bound, f"round {i}"


def test_monster_document_shingles_bounded(spark):
    """The per-doc token cap bounds a multi-MB document's shingle set (and
    its window task) — the straggler guard. A ~10 MB doc completes fast
    and contributes at most cap-2 shingles."""
    from catalog_pii_scanner_spark.operators.dedup import shingles_from_docs

    monster = " ".join(f"tok{i}" for i in range(1_500_000))  # ~10 MB text
    docs = spark.createDataFrame(
        [(1, monster), (2, "a small doc here")],
        "doc_id bigint, text string")
    t0 = time.time()
    rows = shingles_from_docs(docs, cap=100).groupBy("doc_id") \
        .count().collect()
    counts = {r.doc_id: r["count"] for r in rows}
    assert counts[1] == 98  # cap - (SHINGLE_K - 1)
    assert counts[2] == 2
    assert time.time() - t0 < 60


def test_matmul_query_collect_guard(spark, sf_dir, monkeypatch):
    """The BLAS path's driver collect is bounded: a query subset larger
    than MAX_QUERY_VECTORS fails fast with a clear error instead of
    silently collecting an unbounded relation to the driver."""
    from catalog_pii_scanner_spark.operators import simsearch
    monkeypatch.setattr(simsearch, "MAX_QUERY_VECTORS", 3)
    with pytest.raises(ValueError, match="MAX_QUERY_VECTORS"):
        simsearch.cosine_topk_matmul(spark, sf_dir, k=2, query_mod=1)


def test_results_invariant_under_parallelism(spark):
    """Distributed determinism: the order-sensitive operators (global
    prefix sums, iterative Lloyd, greedy span matching) return IDENTICAL
    rows when the shuffle width changes 8 -> 3 — partitioning is an
    execution detail, never a semantics input. (Each of these went
    through a deliberate design for this: md5-bucketed prefix sums,
    rounded-argmax ties, iterative commit loops.)"""
    from catalog_pii_scanner_spark.operators import corpus, simsearch
    from catalog_pii_scanner_spark.operators.llm import llm_budget_plan

    sf = "/root/testdata/sf0.001"

    def runs():
        from catalog_pii_scanner_spark.operators.evaluate import (
            eval_metrics)
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return {
            "pack": corpus.pack_sequences(spark, sf),
            "lloyd": simsearch.embed_kmeans_lloyd(spark, sf),
            "budget": llm_budget_plan(docs),
            "split": corpus.corpus_split(spark, sf),
            "greedy": eval_metrics(spark, sf),
        }

    def snap(dfs):
        return {k: sorted(map(tuple, df.collect()))
                for k, df in dfs.items()}

    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        a = snap(runs())
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = snap(runs())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base_parts)
    for k in a:
        assert a[k] == b[k], f"{k}: differs across shuffle widths"


def test_melt_fan_out_sized_on_uri_paths(spark, sf_dir):
    """The melt's size-derived fan-out comes from the Hadoop listing the
    footer read makes, so a ``file://`` table melts into as many
    partitions as the same table by its plain path (an ``os``-level
    size probe could not stat the URI and fell back to the session
    parallelism)."""
    from catalog_pii_scanner_spark.sources.melt import (TESTDATA_SCHEMAS,
                                                        melt_table)
    tables = [t for t in TESTDATA_SCHEMAS
              if os.path.exists(f"{sf_dir}/{t}.parquet")]
    assert "orders" in tables
    uri = "file://" + os.path.abspath(sf_dir)
    for t in tables:
        assert melt_table(spark, uri, t).rdd.getNumPartitions() == \
            melt_table(spark, sf_dir, t).rdd.getNumPartitions(), t


def test_melt_survives_unstatable_storage(spark, sf_dir, monkeypatch):
    """melt_table must work when the storage layer is opaque to driver-side
    os.path (remote object stores): sizing and reading go through the
    path's Hadoop FileSystem, so a failing os-level stat changes
    nothing."""
    import os as _os

    from catalog_pii_scanner_spark.sources import melt as M

    def _boom(path):
        raise OSError(f"stat not supported: {path}")

    n_parts = M.melt_table(spark, sf_dir, "region").rdd.getNumPartitions()
    monkeypatch.setattr(_os.path, "getsize", _boom)
    monkeypatch.setattr(_os.path, "isdir", _boom)
    df = M.melt_table(spark, sf_dir, "region")
    assert df.rdd.getNumPartitions() == n_parts
    # region: r_regionkey + r_name melted over every row
    n_rows = spark.read.parquet(f"{sf_dir}/region.parquet").count()
    assert df.count() == 2 * n_rows


def _inferred_then_nanos(spark, path):
    """The schema read_table gave when it let Spark infer: the inferred
    schema with every TIMESTAMP(NANOS) column (read as long under
    nanosAsLong) converted to a microsecond timestamp."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    probe = path
    if os.path.isdir(path):
        probe = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    sch = pq.ParquetFile(probe).schema
    for i in range(len(sch)):
        lt = sch.column(i).logical_type
        if lt is not None and lt.type == "TIMESTAMP" and json.loads(
                lt.to_json()).get("timeUnit") == "nanoseconds":
            c = sch.column(i).name
            df = df.withColumn(c, F.timestamp_micros(
                F.expr(f"`{c}` div 1000")))
    return df.schema


def test_typed_read_matches_inference(spark, sf_dir, tmp_path):
    """read_table takes its schema from the parquet footer instead of an
    inference job; the schema must be exactly what inference followed
    by the nanos conversion gives — on every testdata table (events.ts
    may be TIMESTAMP(NANOS) or NTZ micros), a Spark-written INT96 file
    and a pyarrow file with NTZ, UTC, nanos and unsigned columns."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from catalog_pii_scanner_spark.sources.melt import (TESTDATA_SCHEMAS,
                                                        read_table)
    tables = [t for t in TESTDATA_SCHEMAS
              if os.path.exists(f"{sf_dir}/{t}.parquet")]
    assert "events" in tables
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        spark.sql("SELECT 1L AS id, timestamp'2024-01-02 03:04:05' AS ts, "
                  "'x' AS s").write.parquet(f"{tmp_path}/int96.parquet")
    finally:
        spark.conf.set(key, before)
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5)]
    pq.write_table(pa.table({
        "ntz": pa.array(ts, pa.timestamp("us")),
        "utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "nanos": pa.array(ts, pa.timestamp("ns")),
        "u8": pa.array([1], pa.uint8()),
        "u16": pa.array([1], pa.uint16()),
        "u32": pa.array([1], pa.uint32()),
        "u64": pa.array([1], pa.uint64()),
        "s": pa.array(["x"], pa.string()),
    }), f"{tmp_path}/arrow.parquet")
    cases = [(sf_dir, t) for t in tables] + [(str(tmp_path), "int96"),
                                             (str(tmp_path), "arrow")]
    for d, t in cases:
        want = _inferred_then_nanos(spark, f"{d}/{t}.parquet")
        assert read_table(spark, d, t).schema == want, t


def test_melt_build_launches_no_job(spark, sf_dir):
    """Building the melt of every testdata table plans without running
    a Spark job: no schema-inference read, no fan-out planning."""
    from catalog_pii_scanner_spark.sources.melt import (TESTDATA_SCHEMAS,
                                                        melt_table)
    sc = spark.sparkContext
    group = "test_melt_build_launches_no_job"
    sc.setJobGroup(group, "melt build")
    try:
        for t in TESTDATA_SCHEMAS:
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                melt_table(spark, sf_dir, t)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []


def test_session_parallelism_non_numeric_conf_falls_back():
    """Platforms where spark.sql.shuffle.partitions reads back non-numeric
    (e.g. 'auto') must fall back to defaultParallelism, not ValueError."""
    from catalog_pii_scanner_spark.plans.cache import session_parallelism

    class _Conf:
        def get(self, key, default):
            return "auto"

    class _SC:
        defaultParallelism = 7

    class _Spark:
        conf = _Conf()
        sparkContext = _SC()

    assert session_parallelism(_Spark()) == 7


def test_session_parallelism_unset_conf_falls_back():
    """A session that never set spark.sql.shuffle.partitions falls back
    to defaultParallelism: the key is read with a default, because
    RuntimeConfig.get on an unset key without one raises."""
    from catalog_pii_scanner_spark.plans.cache import session_parallelism

    class _Conf:
        def get(self, key, *default):
            if not default:
                raise LookupError(key)  # py4j NoSuchElementException
            return default[0]

    class _SC:
        defaultParallelism = 5

    class _Spark:
        conf = _Conf()
        sparkContext = _SC()

    assert session_parallelism(_Spark()) == 5


def test_driver_memory_default_fits_the_machine(tmp_path):
    """The driver heap defaults to 3/4 of MemTotal, capped at 24g;
    SPARK_DRIVER_MEMORY wins; no readable MemTotal -> Spark's 1g."""
    from catalog_pii_scanner_spark.session import driver_memory

    def meminfo(kib):
        p = tmp_path / f"meminfo{kib}"
        p.write_text(f"MemTotal:       {kib} kB\nMemFree:  1000 kB\n")
        return str(p)

    assert driver_memory({}, meminfo(16 * 1024 * 1024)) == "12288m"
    assert driver_memory({}, meminfo(128 * 1024 * 1024)) == "24576m"
    assert driver_memory({"SPARK_DRIVER_MEMORY": "2g"},
                         meminfo(16 * 1024 * 1024)) == "2g"
    assert driver_memory({}, str(tmp_path / "missing")) == "1g"


def test_repeat_scan_reuses_generated_classes(spark, sf_dir,
                                              tmp_path_factory):
    """A second identical scan in one session compiles (almost) no new
    classes: the codegen cache holds a whole scan's generated classes.
    At Spark's default of 100 entries it thrashes and the second scan
    recompiles most of them."""
    from catalog_pii_scanner_spark.scan import scan_catalog
    from catalog_pii_scanner_spark.session import codegen_counters
    from catalog_pii_scanner_spark.sinks.writeback import FakeCatalogClient
    from catalog_pii_scanner_spark.sources.melt import TESTDATA_SCHEMAS
    tables = {t: TESTDATA_SCHEMAS[t]
              for t in ("customer", "supplier", "orders", "lineitem")}

    def scan(name):
        store = str(tmp_path_factory.mktemp(name) / "findings")
        return scan_catalog(spark, sf_dir, tables, store, incremental=True,
                            client=FakeCatalogClient(), full_catalog=True)

    first = scan("codegen1")
    before = codegen_counters(spark)[0]
    second = scan("codegen2")
    compiled = codegen_counters(spark)[0] - before
    assert first.findings and len(second.findings) == len(first.findings)
    assert compiled <= 10, compiled


def test_local_cpus_default_to_the_affinity_count():
    """With SPARK_GRAFT_CPUS unset, the default local master and shuffle
    partitions take the CPUs this process may run on, not a fixed
    count. The session factory runs against a recording builder in a
    fresh interpreter, which reads the variable at import."""
    import subprocess
    import sys
    code = """
import catalog_pii_scanner_spark.session as S

class Builder:
    conf = {}
    def appName(self, name): return self
    def master(self, m): self.conf["master"] = m; return self
    def config(self, k, v): self.conf[k] = v; return self
    def getOrCreate(self): return self.conf

class Session:
    builder = Builder()

S.SparkSession = Session
conf = S.get_spark()
print(conf["master"], conf["spark.sql.shuffle.partitions"])
"""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_MASTER")}
    out = subprocess.run([sys.executable, "-c", code], env=env, check=True,
                         capture_output=True, text=True).stdout.split()
    n = len(os.sched_getaffinity(0))
    assert out == [f"local[{n}]", str(n)]


def test_extra_conf_overrides_codegen_cache_default():
    from catalog_pii_scanner_spark.session import session_conf
    key = "spark.sql.codegen.cache.maxEntries"
    assert session_conf(extra_conf={key: "7"})[key] == "7"
