"""Findings store round-trip + export schema (reference tests/test_store.py)
and write-back idempotency (reference tests/test_hms_fake.py:120-140)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from catalog_pii_scanner_spark.sinks.findings_store import (
    export_csv, export_json, merge_findings, to_findings_records)
from catalog_pii_scanner_spark.sinks.writeback import (FakeCatalogClient,
                                                       apply_writeback)

PER_TYPE_ROWS = [
    ("parquet://testdata/users/email_addr", "EMAIL", 10, 10, 0.92, 1.0),
    ("parquet://testdata/users/email_addr", "PHONE_NUMBER", 2, 2, 0.61, 0.2),
    ("parquet://testdata/users/notes", "SSN", 5, 4, 0.87, 0.5),
]
SCHEMA = ("column_ref string, pii_type string, n_candidates bigint, "
          "n_values_hit bigint, confidence double, hit_rate double")


@pytest.fixture(scope="module")
def findings(spark):
    return to_findings_records(spark.createDataFrame(PER_TYPE_ROWS, SCHEMA))


def test_findings_record_shape(findings):
    rows = {r.column_ref: r for r in findings.collect()}
    assert rows["parquet://testdata/users/email_addr"].types == \
        ["EMAIL", "PHONE_NUMBER"]
    assert rows["parquet://testdata/users/email_addr"].confidence == \
        pytest.approx(0.92)
    cols = set(findings.columns)
    assert cols == {"column_ref", "types", "confidence", "hit_rate",
                    "model_version", "scanned_at", "source"}


def test_export_json_csv(spark, findings, tmp_path_factory):
    out = tmp_path_factory.mktemp("export")
    export_json(findings, str(out / "j"))
    export_csv(findings, str(out / "c"))
    jrows = [json.loads(line) for p in (out / "j").glob("part-*")
             for line in open(p) if line.strip()]
    assert len(jrows) == 2
    assert set(jrows[0]) == {"column_ref", "types", "confidence",
                             "hit_rate", "model_version", "scanned_at",
                             "source"}
    csv_text = "".join(open(p).read()
                       for p in (out / "c").glob("part-*.csv"))
    assert "EMAIL,PHONE_NUMBER" in csv_text  # list -> comma-joined


def test_parse_since():
    from catalog_pii_scanner_spark.sinks.findings_store import parse_since
    assert parse_since("24h") == 24.0
    assert parse_since("7d") == 168.0
    assert parse_since("1.5") == 1.5


def test_recently_scanned_refs_window(spark, tmp_path_factory):
    from catalog_pii_scanner_spark.sinks.findings_store import (
        recently_scanned_refs)
    store = str(tmp_path_factory.mktemp("inc") / "findings")
    rows = [
        ("spark://users/email", ["EMAIL"], 0.9, 1.0, "m1",
         "2026-01-02 00:00:00", "scan"),
        ("spark://users/phone", ["PHONE_NUMBER"], 0.8, 1.0, "m1",
         "2026-01-01 00:00:00", "scan"),
    ]
    df = spark.createDataFrame(
        rows,
        "column_ref string, types array<string>, confidence double, "
        "hit_rate double, model_version string, scanned_at string, "
        "source string",
    ).withColumn("scanned_at", F.to_timestamp("scanned_at"))
    merge_findings(spark, df, store)
    now = "2026-01-02 12:00:00"
    # 24h lookback at that clock covers only the newer finding
    assert recently_scanned_refs(spark, store, 24.0, now=now) \
        == {"spark://users/email"}
    # 72h covers both; 1h covers none
    assert recently_scanned_refs(spark, store, 72.0, now=now) \
        == {"spark://users/email", "spark://users/phone"}
    assert recently_scanned_refs(spark, store, 1.0, now=now) == frozenset()
    # missing store -> empty skip set, not an error
    assert recently_scanned_refs(spark, "/nonexistent/store", 24.0) \
        == frozenset()
    # a store that exists but holds no findings yet skips nothing
    empty = str(tmp_path_factory.mktemp("inc_empty") / "findings")
    merge_findings(spark, df.limit(0), empty)
    assert recently_scanned_refs(spark, empty, 24.0, now=now) \
        == frozenset()


def test_cli_scan_since_prunes_scanned_columns(spark, tmp_path_factory,
                                               capsys, monkeypatch):
    """End-to-end incremental flow: a full scan populates the store, an
    immediate --since rescan prunes every previously-scanned column at
    plan construction and emits []."""
    import catalog_pii_scanner_spark.cli as cli
    store = str(tmp_path_factory.mktemp("inc2") / "findings")
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    args = ["scan", "--sf-dir", "/root/testdata/sf0.001",
            "--tables", "orders", "--store", store]
    assert cli.main(args) == 0
    first = json.loads(capsys.readouterr().out)
    assert [f["column_ref"] for f in first] == ["spark://orders/o_orderdate"]
    assert cli.main(args + ["--since", "24h"]) == 0
    captured = capsys.readouterr()
    # the scanned column is pruned; the other 5 re-scan but find nothing
    assert json.loads(captured.out) == []
    assert '"skipped_columns": 1' in captured.err


def test_ref_decomposition_unified_across_sink_and_plan(spark):
    """r12 ADVICE: desired_tags parsed 3-segment refs while the engine's
    melt refs are 2-segment (spark://table/column) — a 2-segment ref
    landed as schema=<table>, table=<column>, column=NULL, so the apply
    loop would tag the wrong object. One shared ref_parts helper now
    handles both arities, and the diff plan's table_name/column_name
    must equal the sink's parse on the SAME refs."""
    from catalog_pii_scanner_spark.sinks.writeback import (desired_tags,
                                                           ref_parts)
    refs = spark.createDataFrame(
        [("spark://orders/o_comment", ["EMAIL"]),
         ("parquet://testdata/users/email_addr", ["EMAIL"])],
        "column_ref string, types array<string>")
    tags = {r.column_ref: r for r in refs.select(
        "column_ref", *ref_parts()).collect()}
    two, three = (tags["spark://orders/o_comment"],
                  tags["parquet://testdata/users/email_addr"])
    assert (two.schema, two.table, two.column) == \
        (None, "orders", "o_comment")
    assert (three.schema, three.table, three.column) == \
        ("testdata", "users", "email_addr")
    # the sink's desired_tags applies the same decomposition
    dt = {(r.schema, r.table, r.column)
          for r in desired_tags(refs).collect()}
    assert dt == {(None, "orders", "o_comment"),
                  ("testdata", "users", "email_addr")}
    # and the diff plan's table_name/column_name match the sink's parse
    from catalog_pii_scanner_spark.operators.incremental import (
        distinct_basis, writeback_diff_plan)
    vals = spark.createDataFrame(
        [("spark://orders/o_comment", "reach me at a@b.io")],
        "column_ref string, value string")
    plan = writeback_diff_plan(distinct_basis(vals)).collect()
    assert [(r.table_name, r.column_name) for r in plan] == \
        [("orders", "o_comment")]


def test_session_catalog_two_segment_ref(spark):
    """A 2-segment melt ref addresses the bare table in the session
    catalog (current database) — never the broken 'None.<t>' ident."""
    from catalog_pii_scanner_spark.sinks.writeback import \
        SessionCatalogClient
    spark.sql("CREATE TABLE IF NOT EXISTS cpss_wb2seg (notes STRING) "
              "USING parquet")
    try:
        findings = to_findings_records(spark.createDataFrame(
            [("spark://cpss_wb2seg/notes", "EMAIL", 1, 1, 0.9, 0.5)],
            SCHEMA))
        client = SessionCatalogClient(spark)
        assert apply_writeback(findings, client) == \
            {"applied": 1, "skipped": 0}
        # idempotent re-run, same bare-table addressing
        assert apply_writeback(findings, client) == \
            {"applied": 0, "skipped": 1}
        props = {r.key: r.value for r in spark.sql(
            "SHOW TBLPROPERTIES cpss_wb2seg").collect()}
        assert props["cps.pii.col.notes"] == "true"
    finally:
        spark.sql("DROP TABLE IF EXISTS cpss_wb2seg")


def test_writeback_idempotent(findings):
    client = FakeCatalogClient()
    first = apply_writeback(findings, client)
    assert first == {"applied": 2, "skipped": 0}
    calls_after_first = client.api_calls
    second = apply_writeback(findings, client)
    assert second == {"applied": 0, "skipped": 2}
    assert client.api_calls == calls_after_first  # no duplicate mutation
    props, comment = client.get_column("testdata", "users", "email_addr")
    assert props["cps.pii"] == "true"
    assert props["cps.pii.types"] == "EMAIL,PHONE_NUMBER"
    assert comment == "PII:EMAIL,PHONE_NUMBER"


def _mk_findings(spark, rows):
    return to_findings_records(spark.createDataFrame(rows, SCHEMA))


def test_merge_findings_updates_never_duplicates(spark, tmp_path_factory):
    from catalog_pii_scanner_spark.sinks.findings_store import (
        merge_findings, read_merged_findings)
    store = str(tmp_path_factory.mktemp("merge") / "findings")
    base = [(f"parquet://testdata/t/c{i}", "EMAIL", 5, 5, 0.5, 0.5)
            for i in range(40)]
    merge_findings(spark, _mk_findings(spark, base), store)
    first = read_merged_findings(spark, store)
    assert first.count() == 40

    # re-scan updates ONE column with a new confidence + adds one column
    update = [("parquet://testdata/t/c7", "EMAIL", 9, 9, 0.99, 1.0),
              ("parquet://testdata/t/brand_new", "SSN", 1, 1, 0.7, 0.1)]
    merge_findings(spark, _mk_findings(spark, update), store)
    merged = read_merged_findings(spark, store)
    assert merged.count() == 41  # updated, never duplicated
    assert merged.groupBy("column_ref").count() \
        .where(F.col("count") > 1).count() == 0
    got = merged.where(
        F.col("column_ref") == "parquet://testdata/t/c7").collect()[0]
    assert got.confidence == 0.99


def _committed(part: str) -> str:
    """The snapshot directory a store part's newest commit names."""
    import os
    n = max(int(c) for c in os.listdir(os.path.join(part, "_commits"))
            if c.isdigit())
    with open(os.path.join(part, "_commits", str(n))) as f:
        return os.path.join(part, f.read())


def _files(d: str) -> dict[str, tuple[int, int]]:
    import os
    return {f: (os.stat(os.path.join(d, f)).st_mtime_ns,
                os.stat(os.path.join(d, f)).st_size) for f in os.listdir(d)}


def test_merge_findings_never_rewrites_committed_snapshots(
        spark, tmp_path_factory):
    """Version isolation: a merge writes a new snapshot and never
    rewrites a committed snapshot's files, which stay readable until
    pruned; after a third merge only the newest two snapshots remain."""
    import os
    from catalog_pii_scanner_spark.sinks.findings_store import (
        merge_findings, read_merged_findings)
    store = str(tmp_path_factory.mktemp("merge2") / "findings")
    part = os.path.join(store, "findings")
    base = [(f"parquet://testdata/t/c{i}", "EMAIL", 5, 5, 0.5, 0.5)
            for i in range(40)]
    merge_findings(spark, _mk_findings(spark, base), store)
    v1 = _committed(part)
    files = _files(v1)
    assert any(f.endswith(".parquet") for f in files)
    merge_findings(spark, _mk_findings(
        spark, [("parquet://testdata/t/c7", "EMAIL", 9, 9, 0.99, 1.0)]),
        store)
    v2 = _committed(part)
    assert v2 != v1
    assert _files(v1) == files  # every committed file is intact
    assert spark.read.parquet(v1).count() == 40
    assert read_merged_findings(spark, store).where(
        "confidence = 0.99").count() == 1
    merge_findings(spark, _mk_findings(
        spark, [("parquet://testdata/t/c8", "EMAIL", 9, 9, 0.99, 1.0)]),
        store)
    assert sorted(d for d in os.listdir(part) if d != "_commits") == \
        sorted([os.path.basename(v2), os.path.basename(_committed(part))])


def test_merge_findings_uri_store_keeps_stored_rows(spark,
                                                   tmp_path_factory):
    """A ``file://`` store is merged into, not overwritten: two scoped
    merges of different keys keep both rows. An ``os``-level probe sees
    no URI store, so every merge would look like a first write and
    replace the store with its incoming rows."""
    from catalog_pii_scanner_spark.sinks.findings_store import (
        read_merged_findings)
    a, b = "parquet://testdata/t/c0", "parquet://testdata/t/c1"
    store = (tmp_path_factory.mktemp("merge_uri") / "findings").as_uri()
    for ref in (a, b):
        merge_findings(spark, _mk_findings(
            spark, [(ref, "EMAIL", 5, 5, 0.5, 0.5)]), store)
    assert sorted(r.column_ref for r in
                  read_merged_findings(spark, store).collect()) == \
        sorted([a, b])


def test_store_crash_before_commit_leaves_previous_version(
        spark, tmp_path_factory, monkeypatch):
    """Fault injection: a writer that dies after writing its snapshot
    and before creating the commit file changes nothing readers see,
    and its orphan directory is pruned within two later commits."""
    import os

    import catalog_pii_scanner_spark.sinks.findings_store as FS
    store = str(tmp_path_factory.mktemp("crash") / "findings")
    part = os.path.join(store, "findings")
    merge_findings(spark, _mk_findings(spark, PER_TYPE_ROWS[:1]), store)
    before = sorted(r.column_ref for r in
                    FS.read_merged_findings(spark, store).collect())
    real_fs = FS._fs

    class NoCreate:
        def __init__(self, fs):
            self._fs = fs

        def create(self, *args):
            raise OSError("injected crash before the commit file")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def no_create(spark, path):
        fs, p = real_fs(spark, path)
        return NoCreate(fs), p

    with monkeypatch.context() as m:
        m.setattr(FS, "_fs", no_create)
        with pytest.raises(OSError, match="injected"):
            merge_findings(spark, _mk_findings(spark, PER_TYPE_ROWS[2:]),
                           store)
    orphans = {d for d in os.listdir(part) if d != "_commits"} - \
        {os.path.basename(_committed(part))}
    assert len(orphans) == 1  # written, never committed
    assert sorted(r.column_ref for r in FS.read_merged_findings(
        spark, store).collect()) == before
    for rows in (PER_TYPE_ROWS[1:2], PER_TYPE_ROWS[2:]):
        merge_findings(spark, _mk_findings(spark, rows), store)
    assert orphans.isdisjoint(os.listdir(part))
    assert FS.read_merged_findings(spark, store).count() == 2


def test_store_stale_writer_loses_the_commit(spark, tmp_path_factory,
                                            monkeypatch):
    """A writer whose base version was already committed past fails its
    commit, and the store keeps the winner's state — for both parts."""
    import catalog_pii_scanner_spark.sinks.findings_store as FS
    store = str(tmp_path_factory.mktemp("stale") / "findings")
    merge_findings(spark, _mk_findings(spark, PER_TYPE_ROWS[:1]), store)
    merge_findings(spark, _mk_findings(spark, PER_TYPE_ROWS[2:]), store)
    fps = spark.createDataFrame([("spark://t/a", 3, 7)],
                                "column_ref string, n_values bigint, "
                                "fp_hash bigint")
    FS.write_column_fingerprints(fps, store)
    FS.write_column_fingerprints(fps, store)
    winner = sorted(r.column_ref for r in
                    FS.read_merged_findings(spark, store).collect())
    with monkeypatch.context() as m:
        m.setattr(FS, "_latest_version", lambda fs, root: 1)  # stale base
        with pytest.raises(Exception, match="already exists"):
            merge_findings(spark, _mk_findings(
                spark, [("spark://t/late", "SSN", 1, 1, 0.7, 0.1)]), store)
        with pytest.raises(Exception, match="already exists"):
            FS.write_column_fingerprints(spark.createDataFrame(
                [("spark://t/late", 1, 1)], "column_ref string, "
                "n_values bigint, fp_hash bigint"), store)
    assert sorted(r.column_ref for r in
                  FS.read_merged_findings(spark, store).collect()) == winner
    assert [r.column_ref for r in
            FS.read_column_fingerprints(spark, store).collect()] == \
        ["spark://t/a"]


def test_older_layout_store_is_refused(spark, tmp_path_factory):
    """A store directory of the older bucketed layout (hash-bucket
    partitions, a ``_fingerprints`` sidecar) is refused with a clear
    message by every reader and writer, not read as an empty store."""
    import catalog_pii_scanner_spark.sinks.findings_store as FS
    from catalog_pii_scanner_spark.operators.incremental import (
        column_fingerprints)
    vals = spark.createDataFrame([("spark://t/a", "v")],
                                 "column_ref string, value string")
    for old in ("key_bucket=3", "_fingerprints"):
        store = tmp_path_factory.mktemp("old_layout") / "findings"
        (store / old).mkdir(parents=True)
        (store / old / "part-00000.parquet").write_bytes(b"PAR1")
        for call in (
                lambda: FS.read_merged_findings(spark, str(store)),
                lambda: FS.recently_scanned_refs(spark, str(store), 24.0),
                lambda: FS.read_column_fingerprints(spark, str(store)),
                lambda: FS.merge_findings(
                    spark, _mk_findings(spark, PER_TYPE_ROWS), str(store)),
                lambda: FS.write_column_fingerprints(
                    column_fingerprints(vals), str(store))):
            with pytest.raises(ValueError, match="start a new store"):
                call()


def test_merge_findings_leaves_session_conf(spark, tmp_path_factory):
    """A merge leaves the session's partitionOverwriteMode, which every
    later overwrite in the session reads, as it found it."""
    from catalog_pii_scanner_spark.sinks.findings_store import (
        read_merged_findings)
    key = "spark.sql.sources.partitionOverwriteMode"
    store = str(tmp_path_factory.mktemp("merge_conf") / "findings")
    spark.conf.set(key, "STATIC")
    try:
        for rows in (PER_TYPE_ROWS[:1], PER_TYPE_ROWS[2:]):
            merge_findings(spark, _mk_findings(spark, rows), store)
            assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.unset(key)
    # the second merge kept the first merge's row
    assert read_merged_findings(spark, store).count() == 2


def test_jdbc_roundtrip_and_merge(spark, findings, tmp_path_factory):
    """Real JDBC against embedded Derby (the driver Spark ships): the
    first merge creates the table and reads back intact; further merges
    are an idempotent keyed upsert."""
    from catalog_pii_scanner_spark.sinks.findings_store import (
        merge_findings_jdbc, read_findings_jdbc)
    db = str(tmp_path_factory.mktemp("derby") / "findingsdb")
    url = f"jdbc:derby:{db};create=true"
    merge_findings_jdbc(spark, findings, url, "findings")
    back = read_findings_jdbc(spark, url, "findings")
    assert back.count() == 2
    assert {tuple(r.types) for r in back.collect()} == \
        {("EMAIL", "PHONE_NUMBER"), ("SSN",)}

    # MERGE: same keys re-scanned -> updated, never duplicated
    merge_findings_jdbc(spark, findings, url, "findings")
    merge_findings_jdbc(spark, findings, url, "findings")
    merged = read_findings_jdbc(spark, url, "findings")
    assert merged.count() == 2
    assert merged.groupBy("column_ref", "model_version").count() \
        .where(F.col("count") > 1).count() == 0


def test_column_fingerprint_sidecar_roundtrip(spark, tmp_path_factory):
    from catalog_pii_scanner_spark.operators.incremental import (
        column_fingerprints)
    from catalog_pii_scanner_spark.sinks.findings_store import (
        changed_column_refs, read_column_fingerprints,
        write_column_fingerprints)
    store = str(tmp_path_factory.mktemp("fps") / "findings")
    vals = spark.createDataFrame(
        [("spark://t/a", f"v{i}") for i in range(20)]
        + [("spark://t/b", f"w{i}") for i in range(10)]
        + [("spark://t/b", None)],   # NULLs excluded from the basis
        "column_ref string, value string")
    fps = column_fingerprints(vals)
    # no sidecar yet -> None (full scan)
    assert changed_column_refs(spark, store, fps) is None
    write_column_fingerprints(fps, store)
    stored = read_column_fingerprints(spark, store)
    assert {r.column_ref: r.n_values for r in stored.collect()} \
        == {"spark://t/a": 20, "spark://t/b": 10}
    # identical content -> nothing changed
    assert changed_column_refs(spark, store, fps) == frozenset()
    # duplicate rows do NOT change the distinct-basis fingerprint
    dup = vals.unionByName(vals.limit(5))
    assert changed_column_refs(
        spark, store, column_fingerprints(dup)) == frozenset()
    # a genuinely new value in one column -> only that column rescans
    vals2 = vals.unionByName(spark.createDataFrame(
        [("spark://t/a", "BRAND-NEW")], "column_ref string, value string"))
    assert changed_column_refs(
        spark, store, column_fingerprints(vals2)) \
        == {"spark://t/a"}
    # a column the store never saw -> rescans
    vals3 = vals.unionByName(spark.createDataFrame(
        [("spark://t/c", "x")], "column_ref string, value string"))
    assert changed_column_refs(
        spark, store, column_fingerprints(vals3)) \
        == {"spark://t/c"}
    # SCOPED merge keeps out-of-scope refs (r11 ADVICE fix)...
    only_b = vals.where("column_ref = 'spark://t/b'")
    write_column_fingerprints(column_fingerprints(only_b), store)
    assert {r.column_ref for r in
            read_column_fingerprints(spark, store).collect()} \
        == {"spark://t/a", "spark://t/b"}
    # ...but a FULL-scope compaction evicts refs the catalog no longer
    # carries (r12 ADVICE: the default retention keeps dropped/renamed
    # columns' rows forever, and a recreated same-ref column with
    # matching content would be pruned by its stale row)
    write_column_fingerprints(column_fingerprints(only_b), store,
                              evict_missing=True)
    assert {r.column_ref for r in
            read_column_fingerprints(spark, store).collect()} \
        == {"spark://t/b"}
    # a committed sidecar snapshot that cannot be read raises: it must
    # never pass for a first run, which would mask the damage
    import os
    snap = _committed(os.path.join(store, "fingerprints"))
    for f in os.listdir(snap):
        if f.endswith(".parquet"):
            os.remove(os.path.join(snap, f))
            with open(os.path.join(snap, f), "wb") as out:
                out.write(b"not parquet")
    with pytest.raises(Exception, match="parquet"):
        changed_column_refs(spark, store, fps)


def test_cli_scan_incremental_prunes_unchanged_columns(
        spark, tmp_path_factory, capsys, monkeypatch):
    """End-to-end content-based incremental flow: the first
    --incremental scan fingerprints everything and scans in full; an
    immediate rerun on unchanged data prunes EVERY column (the --since
    path can only prune columns that produced findings; the
    fingerprint path proves absence-of-change for the finding-less
    ones too) and refreshes the sidecar."""
    import catalog_pii_scanner_spark.cli as cli
    from catalog_pii_scanner_spark.sinks.findings_store import (
        read_column_fingerprints)
    store = str(tmp_path_factory.mktemp("inc3") / "findings")
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    args = ["scan", "--sf-dir", "/root/testdata/sf0.001",
            "--tables", "orders", "--store", store,
            "--incremental"]
    assert cli.main(args) == 0
    captured = capsys.readouterr()
    first = json.loads(captured.out)
    assert [f["column_ref"] for f in first] \
        == ["spark://orders/o_orderdate"]
    assert '"first_run": true' in captured.err
    before = [r.scanned_at for r in
              read_column_fingerprints(spark, store).collect()]
    assert len(before) == 6
    # unchanged data -> all 6 orders columns pruned, sidecar refreshed
    assert cli.main(args) == 0
    captured = capsys.readouterr()
    assert json.loads(captured.out) == []
    assert '"skipped_columns": 6' in captured.err
    after = [r.scanned_at for r in
             read_column_fingerprints(spark, store).collect()]
    assert len(after) == 6 and min(after) > max(before)


def test_failed_scan_never_marks_columns_fresh(
        spark, sf_dir, tmp_path_factory, capsys, monkeypatch):
    """Fault injection for the sidecar-last invariant: the write-back,
    which runs after the store merge, fails on a first --incremental
    scan. No fingerprint sidecar may be written, the store must still
    hold one row per column_ref, and the next --incremental run must
    rescan every column."""
    import catalog_pii_scanner_spark.cli as cli
    import catalog_pii_scanner_spark.scan as scan
    from catalog_pii_scanner_spark.sinks.findings_store import (
        read_column_fingerprints, read_merged_findings)
    store = str(tmp_path_factory.mktemp("fault") / "findings")
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    args = ["scan", "--sf-dir", sf_dir, "--tables", "orders",
            "--store", store, "--incremental", "--apply"]

    def crash(findings, client):
        raise RuntimeError("injected write-back failure")

    with monkeypatch.context() as m:
        m.setattr(scan, "apply_writeback", crash)
        with pytest.raises(RuntimeError, match="injected"):
            cli.main(args)
    capsys.readouterr()
    assert read_column_fingerprints(spark, store) is None
    stored = read_merged_findings(spark, store)
    assert stored.count() == 1
    assert stored.groupBy("column_ref").count() \
        .where(F.col("count") > 1).count() == 0
    # no sidecar -> the rerun is a first run over all 6 columns
    assert cli.main(args) == 0
    captured = capsys.readouterr()
    assert '"first_run": true' in captured.err
    assert [f["column_ref"] for f in json.loads(captured.out)] \
        == ["spark://orders/o_orderdate"]
    assert read_column_fingerprints(spark, store).count() == 6
    assert read_merged_findings(spark, store).count() == 1


def test_scan_findings_evaluated_once(spark, sf_dir, tmp_path_factory):
    """A scan computes its findings records once: the rows it returns,
    the rows the store holds and the write-back all come from the same
    evaluation — equal field by field, ``scanned_at`` included (a lazy
    ``current_timestamp()`` re-evaluated per action differs)."""
    from catalog_pii_scanner_spark.scan import scan_catalog
    from catalog_pii_scanner_spark.sinks.findings_store import (
        read_merged_findings)
    from catalog_pii_scanner_spark.sources.melt import TESTDATA_SCHEMAS
    store = str(tmp_path_factory.mktemp("once") / "findings")
    client = FakeCatalogClient()
    res = scan_catalog(spark, sf_dir, {"orders": TESTDATA_SCHEMAS["orders"]},
                       store, client=client)

    def rows(rs):
        return sorted((r.asDict() for r in rs),
                      key=lambda d: d["column_ref"])

    returned = rows(res.findings)
    assert returned
    assert returned == rows(read_merged_findings(spark, store).collect())
    assert [e["writeback"] for e in res.events if "writeback" in e] \
        == [{"applied": len(returned), "skipped": 0}]


def test_cli_incremental_column_glob_fingerprints_only_in_scope(
        spark, tmp_path_factory, capsys, monkeypatch):
    """Round-11 ADVICE (high): a --target COLUMN glob must gate the
    fingerprint basis, not just the scanned values — otherwise columns
    the glob excluded are persisted as freshly scanned without ever
    being scanned, and later --incremental runs prune their PII
    forever. After a scoped first run, the sidecar must hold ONLY the
    in-scope column, and a following full run must rescan (not carry)
    every out-of-scope column."""
    import catalog_pii_scanner_spark.cli as cli
    from catalog_pii_scanner_spark.sinks.findings_store import (
        read_column_fingerprints)
    store = str(tmp_path_factory.mktemp("inc4") / "findings")
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    # scoped run: one column of orders
    assert cli.main(["scan", "--sf-dir", "/root/testdata/sf0.001",
                     "--target", "spark://orders/o_orderdate",
                     "--store", store, "--incremental"]) == 0
    capsys.readouterr()
    fps = read_column_fingerprints(spark, store)
    assert {r.column_ref for r in fps.collect()} \
        == {"spark://orders/o_orderdate"}
    # full run over orders: the 5 out-of-scope columns have NO stored
    # fingerprint, so they must enter the scan (only 1 column pruned)
    assert cli.main(["scan", "--sf-dir", "/root/testdata/sf0.001",
                     "--tables", "orders", "--store", store,
                     "--incremental"]) == 0
    captured = capsys.readouterr()
    assert '"skipped_columns": 1' in captured.err
    fps = read_column_fingerprints(spark, store)
    assert fps.count() == 6  # now the whole table is fingerprinted


def test_cli_incremental_scoped_run_keeps_out_of_scope_fingerprints(
        spark, tmp_path_factory, capsys, monkeypatch):
    """Round-11 ADVICE (sidecar merge-upsert): a scoped --incremental
    run must not drop stored fingerprints for out-of-scope columns —
    alternating scoped runs would otherwise thrash each other into
    full rescans."""
    import catalog_pii_scanner_spark.cli as cli
    from catalog_pii_scanner_spark.sinks.findings_store import (
        read_column_fingerprints)
    store = str(tmp_path_factory.mktemp("inc5") / "findings")
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    full = ["scan", "--sf-dir", "/root/testdata/sf0.001",
            "--tables", "orders", "--store", store,
            "--incremental"]
    assert cli.main(full) == 0
    capsys.readouterr()
    assert read_column_fingerprints(spark, store).count() == 6
    # scoped run on ONE column: unchanged -> pruned, and the sidecar
    # must still hold all 6 fingerprints afterwards
    assert cli.main(["scan", "--sf-dir", "/root/testdata/sf0.001",
                     "--target", "spark://orders/o_orderdate",
                     "--store", store, "--incremental"]) == 0
    captured = capsys.readouterr()
    assert '"skipped_columns": 1' in captured.err
    assert read_column_fingerprints(spark, store).count() == 6
    # full rerun: every column still pruned (no thrash-induced rescan)
    assert cli.main(full) == 0
    captured = capsys.readouterr()
    assert '"skipped_columns": 6' in captured.err


def test_diff_plan_oracle_mirrors_ref_parts():
    """r13 review: the Spark plan parses refs arity-aware via
    ref_parts, so the DuckDB oracle's decomposition must be arity-aware
    too or the dual dialects drift on 3-segment enumeration refs. Pin
    the oracle's CASE against both arities."""
    import duckdb
    from catalog_pii_scanner_spark.operators.incremental import \
        writeback_diff_plan_oracle_sql
    sql = writeback_diff_plan_oracle_sql(("orders",))
    # lift the decomposition expressions straight out of the template
    assert "len(parts) >= 3" in sql
    rows = duckdb.sql("""
        SELECT CASE WHEN len(parts) >= 3 THEN parts[2] ELSE parts[1] END
                 AS table_name,
               CASE WHEN len(parts) >= 3 THEN parts[3] ELSE parts[2] END
                 AS column_name
        FROM (SELECT str_split(regexp_replace(ref, '^[a-z]+://', ''),
                               '/') AS parts
              FROM (VALUES ('spark://orders/o_comment'),
                           ('parquet://testdata/users/email_addr'))
                   t(ref))
        ORDER BY table_name""").fetchall()
    assert rows == [("orders", "o_comment"), ("users", "email_addr")]

