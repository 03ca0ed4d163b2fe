"""Streaming watcher: the poll-mode drain must equal the batch
aggregation, and the incremental scan must emit candidates for
newly-arriving files (the reference's promised-but-unimplemented watcher
surface, README.md:229-233)."""

from __future__ import annotations

from pyspark.sql import functions as F

from catalog_pii_scanner_spark.sources.melt import read_table
from catalog_pii_scanner_spark.streaming.watcher import (
    _hourly_agg, run_watcher_once, scan_stream)


def test_watcher_drain_equals_batch(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream") / "events")
    # stage the events table as a 4-file directory (the "arriving" files)
    read_table(spark, sf_dir, "events").repartition(4) \
        .write.mode("overwrite").parquet(out)
    streamed = run_watcher_once(spark, out, "t_watch")
    batch = _hourly_agg(spark.read.parquet(out))
    # n_users is approx (HLL) on the stream path - compare exact columns
    exact = ("window_start", "event_type", "n_events", "sum_value")
    s = {tuple(r) for r in streamed.select(*exact).collect()}
    b = {tuple(r) for r in batch.select(*exact).collect()}
    assert s == b
    assert len(s) > 0
    assert all(r.n_users >= 1 for r in streamed.collect())


def test_stream_events_hourly_drains_in_place(spark, sf_dir, monkeypatch):
    """The product query streams the source file directly — no staging
    rewrite may run inside it (r2 verdict: the temp-dir copy doubled the
    query's I/O). Any tempfile/write use inside the query is a failure."""
    import tempfile

    from catalog_pii_scanner_spark.streaming.watcher import (
        events_hourly, stream_events_hourly)

    def _no_staging(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("stream_events_hourly staged a copy")

    monkeypatch.setattr(tempfile, "mkdtemp", _no_staging)
    streamed = stream_events_hourly(spark, sf_dir)
    batch = events_hourly(spark, sf_dir)
    exact = ("window_start", "event_type", "n_events", "sum_value")
    assert {tuple(r) for r in streamed.select(*exact).collect()} == \
        {tuple(r) for r in batch.select(*exact).collect()}


def test_incremental_scan_stream(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("values_stream")
    src = str(d / "in")
    spark.createDataFrame(
        [("c1", "mail a@b.io"), ("c2", "nothing here")],
        "column_ref string, value string",
    ).write.mode("overwrite").parquet(src)
    q = (
        scan_stream(spark, src)
        .writeStream.format("memory").queryName("t_scan_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table("t_scan_stream").collect()
    assert [(r.column_ref, r.pii_type, r.match_text) for r in rows] == \
        [("c1", "EMAIL", "a@b.io")]


def test_scan_watcher_merges_store_incrementally(spark, tmp_path_factory):
    """Full watcher loop: drain -> findings in the MERGE store; new files
    -> second drain processes ONLY them (checkpoint) and upserts without
    duplicating keys."""
    from catalog_pii_scanner_spark.sinks.findings_store import (
        read_merged_findings)
    from catalog_pii_scanner_spark.streaming.watcher import (
        run_scan_watcher_once)
    d = tmp_path_factory.mktemp("watcher")
    src, store, ckpt = str(d / "in"), str(d / "store"), str(d / "ckpt")
    spark.createDataFrame(
        [("t1/email", "reach me: x@y.dev"), ("t1/notes", "plain words")],
        "column_ref string, value string",
    ).write.mode("append").parquet(src)
    assert run_scan_watcher_once(spark, src, store, ckpt) == 1
    first = {r.column_ref: r for r in
             read_merged_findings(spark, store).collect()}
    assert set(first) == {"t1/email"}
    assert first["t1/email"].types == ["EMAIL"]

    # second wave: a rescan of the same column (now with a phone too) and
    # a brand-new column
    spark.createDataFrame(
        [("t1/email", "x@y.dev or 555-204-1123"), ("t2/ssn", "123-45-6789")],
        "column_ref string, value string",
    ).write.mode("append").parquet(src)
    assert run_scan_watcher_once(spark, src, store, ckpt) == 1
    rows = read_merged_findings(spark, store).collect()
    got = {r.column_ref: r for r in rows}
    assert set(got) == {"t1/email", "t2/ssn"}      # upsert, no dup keys
    assert len(rows) == 2
    assert got["t1/email"].types == ["EMAIL", "PHONE_NUMBER"]  # updated
    assert got["t2/ssn"].types == ["SSN"]

    # nothing new -> zero batches processed
    assert run_scan_watcher_once(spark, src, store, ckpt) == 0


def test_outliers_degenerate_groups_filtered(spark, tmp_path):
    """A single-row event type (n-1 = 0) and a constant-valued type
    (var = 0) have no defined z-score; both engines must drop those
    groups explicitly rather than diverge on NULL-vs-inf division."""
    from catalog_pii_scanner_spark.streaming.watcher import (
        events_value_outliers)
    d = str(tmp_path / "ev")
    # a lone outlier's max z is (n-1)/sqrt(n), so n must exceed ~11 for
    # any single point to clear the 3.0 threshold — use 19 ones + one 500
    rows = ([(1, "solo", 100.0)]                       # n == 1
            + [(10 + i, "const", 5.0) for i in range(4)]   # var == 0
            + [(20 + i, "normal", 1.0) for i in range(19)]
            + [(39, "normal", 500.0)])                     # the outlier
    import datetime
    ts = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, ts, 1, t, v, "{}") for (i, t, v) in rows],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = events_value_outliers(spark, d).collect()
    assert [(r.event_id, r.event_type) for r in got] == [(39, "normal")]


def test_stream_events_sessions_equals_batch(spark, sf_dir):
    """The streaming session-window drain must produce exactly the batch
    sessionization frame (state-store merge across microbatches is an
    execution detail, never a semantics change)."""
    from catalog_pii_scanner_spark.streaming.watcher import (
        events_sessions, stream_events_sessions)
    batch = {(r.user_id, r.session_start): (r.n_events, r.sum_value)
             for r in events_sessions(spark, sf_dir).collect()}
    streamed = {(r.user_id, r.session_start): (r.n_events, r.sum_value)
                for r in stream_events_sessions(spark, sf_dir).collect()}
    assert batch == streamed


def test_stream_doc_pii_density_equals_batch(spark, sf_dir):
    """The foreachBatch drain returns exactly the batch operator's rows —
    streaming ingest must not change answers, and the drain holds zero
    streaming state (density is doc-local)."""
    from catalog_pii_scanner_spark.operators.pii_docs import doc_pii_density
    from catalog_pii_scanner_spark.streaming.watcher import (
        stream_doc_pii_density)
    batch = {r.doc_id: tuple(r) for r in
             doc_pii_density(spark, sf_dir).collect()}
    streamed = {r.doc_id: tuple(r) for r in
                stream_doc_pii_density(spark, sf_dir).collect()}
    assert streamed == batch and batch


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")


def test_events_retention_hand_check(spark, tmp_path):
    """Two cohorts; user 1 returns on day 2, user 2 never returns."""
    import datetime as dt
    t = lambda d, h=0: dt.datetime(2024, 1, d, h)
    rows = [
        (1, t(1), 1, "view", 0.0, "{}"),
        (2, t(1, 5), 1, "click", 0.0, "{}"),      # same day, same cell
        (3, t(3), 1, "view", 0.0, "{}"),          # day offset 2
        (4, t(2), 2, "view", 0.0, "{}"),          # cohort 2024-01-02
    ]
    d = str(tmp_path)
    _events(spark, rows).write.mode("overwrite") \
        .parquet(f"{d}/events.parquet")
    from catalog_pii_scanner_spark.streaming.watcher import events_retention
    got = {(r.cohort, r.day_offset): (r.n_active, r.retention)
           for r in events_retention(spark, d).collect()}
    assert got == {
        ("2024-01-01", 0): (1, 1.0),
        ("2024-01-01", 2): (1, 1.0),
        ("2024-01-02", 0): (1, 1.0),
    }


def test_events_funnel_requires_order(spark, tmp_path):
    """A purchase BEFORE the first click never converts; a later one
    does; users without the first step produce no row."""
    import datetime as dt
    t = lambda h: dt.datetime(2024, 1, 1, h)
    rows = [
        # user 1: view -> click -> purchase, in order
        (1, t(1), 1, "view", 0.0, "{}"),
        (2, t(2), 1, "click", 0.0, "{}"),
        (3, t(3), 1, "purchase", 0.0, "{}"),
        # user 2: purchase precedes the click -> no purchase conversion
        (4, t(1), 2, "view", 0.0, "{}"),
        (5, t(2), 2, "purchase", 0.0, "{}"),
        (6, t(3), 2, "click", 0.0, "{}"),
        # user 3: never views -> absent
        (7, t(1), 3, "click", 0.0, "{}"),
    ]
    d = str(tmp_path)
    _events(spark, rows).write.mode("overwrite") \
        .parquet(f"{d}/events.parquet")
    from catalog_pii_scanner_spark.streaming.watcher import events_funnel
    got = {r.user_id: r for r in events_funnel(spark, d).collect()}
    assert set(got) == {1, 2}
    assert got[1].t_click is not None and got[1].t_purchase is not None
    assert got[2].t_click is not None and got[2].t_purchase is None


def test_events_asof_join_strictly_earlier_last_touch(spark, tmp_path):
    """The attached view is the LATEST strictly-earlier one: same-ts
    views don't match (strict <), later views never match, no-view users
    get NULL."""
    import datetime as dt
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = [
        (1, t(1), 1, "view", 0.0, "{}"),
        (2, t(2), 1, "view", 0.0, "{}"),       # latest prior
        (3, t(3), 1, "purchase", 0.0, "{}"),
        (4, t(4), 1, "view", 0.0, "{}"),       # after: ignored
        (5, t(5), 2, "purchase", 0.0, "{}"),   # user 2: no view
        (6, t(6), 3, "view", 0.0, "{}"),
        (7, t(6), 3, "purchase", 0.0, "{}"),   # same-ts view: excluded
    ]
    d = str(tmp_path)
    _events(spark, rows).write.mode("overwrite") \
        .parquet(f"{d}/events.parquet")
    from catalog_pii_scanner_spark.streaming.watcher import events_asof_join
    got = {r.event_id: r for r in events_asof_join(spark, d).collect()}
    assert set(got) == {3, 5, 7}
    assert got[3].last_view_ts == t(2)
    assert got[3].gap_us == 3600 * 1_000_000
    assert got[5].last_view_ts is None and got[5].gap_us is None
    assert got[7].last_view_ts is None    # strict: same-ts view excluded


def test_events_hourly_gapfill_fills_zeros(spark, tmp_path):
    """Gaps in the hour spine appear as zero rows flagged filled; dense
    cells carry their exact counts."""
    import datetime as dt
    t = lambda h: dt.datetime(2024, 1, 1, h, 30)
    rows = [
        (1, t(1), 1, "view", 0.0, "{}"),
        (2, t(1), 2, "view", 0.0, "{}"),
        (3, t(3), 1, "view", 0.0, "{}"),       # hour 2 is a gap
        (4, t(2), 1, "click", 0.0, "{}"),
    ]
    d = str(tmp_path)
    _events(spark, rows).write.mode("overwrite") \
        .parquet(f"{d}/events.parquet")
    from catalog_pii_scanner_spark.streaming.watcher import (
        events_hourly_gapfill)
    got = {(r.window_start.hour, r.event_type): (r.n_events, r.filled)
           for r in events_hourly_gapfill(spark, d).collect()}
    # spine: hours 1..3 x {view, click} = 6 cells, all present
    assert len(got) == 6
    assert got[(1, "view")] == (2, False)
    assert got[(2, "view")] == (0, True)       # the gap, zero-filled
    assert got[(3, "view")] == (1, False)
    assert got[(2, "click")] == (1, False)
    assert got[(1, "click")] == (0, True)
    assert got[(3, "click")] == (0, True)


def test_session_window_exact_gap_merges(spark, tmp_path):
    """Spark's session_window treats the session end as CLOSED: an event
    landing exactly gap after the previous one joins the session (found
    by the sf0.1 differential sweep; the oracle's break is strict >)."""
    import datetime as dt
    rows = [
        (1, dt.datetime(2024, 1, 6, 22, 16, 14, 740464), 511, "view",
         13.44, "{}"),
        # exactly 1800 s after the first once truncated to seconds
        (2, dt.datetime(2024, 1, 6, 22, 46, 14, 77845), 511, "view",
         194.58, "{}"),
        # strictly over the gap -> its own session
        (3, dt.datetime(2024, 1, 6, 23, 16, 15), 511, "view", 1.0, "{}"),
    ]
    d = str(tmp_path)
    _events(spark, rows).write.mode("overwrite") \
        .parquet(f"{d}/events.parquet")
    from catalog_pii_scanner_spark.streaming.watcher import events_sessions
    got = sorted(events_sessions(spark, d).collect(),
                 key=lambda r: r.session_start)
    assert [(r.n_events, r.sum_value) for r in got] == [(2, 208.02),
                                                        (1, 1.0)]
    # the oracle agrees on the same corpus
    import duckdb
    from catalog_pii_scanner_spark.streaming.watcher import (
        events_sessions_oracle_sql)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{d}/events.parquet/*.parquet'")
    orows = sorted(con.execute(events_sessions_oracle_sql()).fetchall(),
                   key=lambda r: r[1])
    assert [(r[2], r[3]) for r in orows] == [(2, 208.02), (1, 1.0)]


def test_stream_dedup_keep_list_matches_batch_across_microbatches(
        spark, tmp_path, sf_dir):
    """The incremental dedup drain must produce the BATCH-IDENTICAL
    verdict even when near-dup cluster members arrive in different
    microbatches: the corpus is split into 12 files (maxFilesPerTrigger=4
    -> 3 microbatches) with doc_ids striped across files, so most
    clusters span batches and resolution depends on the accumulated
    band state, not any single batch."""
    from catalog_pii_scanner_spark.operators.dedup import dedup_keep_list
    from catalog_pii_scanner_spark.streaming.watcher import (
        stream_dedup_keep_list)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = str(tmp_path)
    # stripe by doc_id so sequential ids (the likeliest near-dups in the
    # synthetic corpus) land in different files/batches
    (docs.repartition(12, F.pmod(F.col("doc_id"), F.lit(12)))
     .write.mode("overwrite").parquet(f"{d}/documents.parquet"))
    import glob
    n_files = len(glob.glob(f"{d}/documents.parquet/part-*"))
    # AQE may coalesce the requested 12; >= 5 files at
    # maxFilesPerTrigger=4 still forces >= 2 microbatches
    assert n_files >= 5, n_files

    batch = sorted(map(tuple, dedup_keep_list(spark, d).collect()))
    stream = sorted(map(tuple, stream_dedup_keep_list(spark, d).collect()))
    assert batch and batch == stream
    # sanity: the corpus genuinely has near-dup clusters to resolve
    assert any(not keep for _, _, keep in batch)


def test_stream_phash_keep_list_matches_batch_across_microbatches(
        spark, tmp_path, sf_dir):
    """The incremental IMAGE dedup drain must produce the
    BATCH-IDENTICAL verdict (including the in_capped_bucket flag) even
    when phash cluster members arrive in different microbatches — the
    stream_dedup_keep_list striping recipe over the multimodal path."""
    from catalog_pii_scanner_spark.operators.multimodal import (
        phash_keep_list_query)
    from catalog_pii_scanner_spark.streaming.watcher import (
        stream_phash_keep_list)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = str(tmp_path)
    # stripe by doc_id: phash classes are doc_id % 64, so class members
    # are maximally separated across files/batches
    (docs.repartition(12, F.pmod(F.col("doc_id"), F.lit(12)))
     .write.mode("overwrite").parquet(f"{d}/documents.parquet"))
    import glob
    n_files = len(glob.glob(f"{d}/documents.parquet/part-*"))
    assert n_files >= 5, n_files

    batch = sorted(map(tuple, phash_keep_list_query(spark, d).collect()))
    stream = sorted(map(tuple, stream_phash_keep_list(spark, d).collect()))
    assert batch and batch == stream
    assert any(not keep for _, _, keep, _ in batch)


def test_stream_quality_classifier_matches_batch(spark, tmp_path, sf_dir):
    """Zero-state streaming quality filter: verdicts must be
    row-identical to the batch classifier even with docs split across
    microbatches (doc-local scoring, the stream_doc_pii_density
    contract)."""
    from catalog_pii_scanner_spark.operators.quality import (
        corpus_quality_classifier)
    from catalog_pii_scanner_spark.streaming.watcher import (
        stream_quality_classifier)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = str(tmp_path)
    (docs.repartition(12, F.pmod(F.col("doc_id"), F.lit(12)))
     .write.mode("overwrite").parquet(f"{d}/documents.parquet"))
    batch = sorted(map(tuple, corpus_quality_classifier(spark, d).collect()))
    stream = sorted(map(tuple,
                        stream_quality_classifier(spark, d).collect()))
    assert batch and batch == stream


def test_stream_hll_distinct_matches_batch_across_microbatches(
        spark, tmp_path, sf_dir):
    """The streaming HLL drain must be BIT-identical to the batch
    sketch regardless of how rows split into microbatches (register
    MAX is associative/commutative/idempotent): the events table is
    striped into 12 files (maxFilesPerTrigger=4 -> >= 2 microbatches)
    so every register accumulates across batches."""
    from catalog_pii_scanner_spark.operators.sketches import (
        hll_sketch_only_sql)
    from catalog_pii_scanner_spark.streaming.watcher import (
        stream_hll_distinct)
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = str(tmp_path)
    (events.repartition(12, F.pmod(F.col("event_id"), F.lit(12)))
     .write.mode("overwrite").parquet(f"{d}/events.parquet"))
    import glob
    assert len(glob.glob(f"{d}/events.parquet/part-*")) >= 5

    spark.read.parquet(f"{d}/events.parquet") \
        .createOrReplaceTempView("cpss_hll_batch_twin")
    batch = sorted(map(tuple, spark.sql(
        hll_sketch_only_sql("spark", rel="cpss_hll_batch_twin")
    ).collect()))
    stream = sorted(map(tuple, stream_hll_distinct(spark, d).collect()))
    assert batch and batch == stream
