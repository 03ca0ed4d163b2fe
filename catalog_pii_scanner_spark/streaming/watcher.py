"""Incremental / watcher mode — Structured Streaming.

The reference only *promises* watchers (poll / EventBridge / HMS listener —
README.md:41,229-233; no code exists). Here it is the real surface:

- ``watch_events``: file-source stream over an events directory -> tumbling
  1-hour event-time aggregation with a watermark for late data -> sink.
  ``trigger(availableNow=True)`` gives the poll-mode semantics (drain
  what's new, stop); a processingTime trigger gives continuous polling.
- ``scan_stream``: the incremental PII scan — new text values arriving as
  files are scanned with the same extraction operators (the batch/stream
  unification Spark gives for free: `extract_candidates` is a projection,
  usable verbatim on a streaming DataFrame).
- ``events_hourly``: the batch-equivalent of the windowed aggregation
  (identical results on a static directory) — this is what the DuckDB
  oracle checks; the streaming path is asserted equal in tests.

Scale notes: the file source lists incrementally (maxFilesPerTrigger
bounds batch size); the windowed agg state is bounded by the watermark;
findings MERGE into the store keyed on (column_ref, window) would be the
Delta path in production — here the sink is parquet/memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rules import candidate_score, extract_candidates
from ..oracles import ratio_round_halfup_guarded

EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")


def _hourly_agg(events: DataFrame, streaming: bool = False) -> DataFrame:
    """Shared batch/stream aggregation: tumbling 1h x event_type.

    Streaming cannot run exact distinct aggregations, so the stream path
    uses approx_count_distinct (HLL state, bounded memory) — exact for the
    small per-window cardinalities here; the batch/oracle path stays
    exact.
    """
    n_users = (F.approx_count_distinct("user_id") if streaming
               else F.countDistinct("user_id"))
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type")
        .agg(
            F.count("*").alias("n_events"),
            n_users.alias("n_users"),
            (F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
             .cast("double")).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "n_users", "sum_value")
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalent windowed aggregation (oracle-checked)."""
    from ..sources.melt import read_table
    return _hourly_agg(read_table(spark, sf_dir, "events"))


def events_hourly_oracle_sql() -> str:
    return """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY 1, 2
"""


def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column path: parse the events ``props`` JSON with
    ``from_json`` (typed extraction inside codegen — not a UDF) and
    aggregate the extracted field per event type. The extraction is a
    projection, so Catalyst still prunes the scan to (event_type, props)
    and the single shuffle is the groupBy. SUM over ints stays exact in
    doubles, so avg_k is engine-order-independent."""
    from ..sources.melt import read_table
    ev = read_table(spark, sf_dir, "events")
    k = F.from_json("props", "k int").getField("k")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.count("k").alias("n_with_k"),
             F.sum("k").cast("bigint").alias("sum_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"),
             F.round(F.avg("k"), 6).alias("avg_k"))
    )


def events_props_stats_oracle_sql() -> str:
    return """
SELECT event_type, COUNT(*) AS n_events, COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k,
       MAX(k) AS max_k, round(AVG(k), 6) AS avg_k
FROM (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events
) GROUP BY event_type
"""


#: |z| cutoff for the outlier query.
OUTLIER_Z = 3.0


def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers — the monitoring query a watcher
    feeds. Two-pass exact: per-type count/sum/sum-of-squares accumulate
    in DECIMAL (exact, so the reduction order between engines cannot
    perturb them — a double SUM would hash-diverge in the last ULP), the
    moment arithmetic then runs in doubles on the already-exact sums.
    Shuffle shape: one partial-aggregated groupBy over ~#event_types
    rows, broadcast back to the row-level scan; no window over the data.

    Output: event_id, event_type, value, z (|z| >= threshold only).

    Degenerate groups are filtered, not left to engine luck: a
    single-row type (n-1 = 0) or a constant-valued type (var = 0) has no
    defined z — Spark's non-ANSI division would yield NULL (rows silently
    dropped) while DuckDB's IEEE semantics give inf/NaN, so both engines
    must exclude those groups explicitly for the oracle to agree."""
    from ..sources.melt import read_table
    v = F.col("value").cast("decimal(18,2)")
    ev = read_table(spark, sf_dir, "events") \
        .select("event_id", "event_type", v.alias("v"))
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").cast("double").alias("sumv"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("sumsq"))
    mean = F.col("sumv") / F.col("n")
    var = (F.col("sumsq") - F.col("n") * mean * mean) / (F.col("n") - 1)
    stats = stats.where((F.col("n") > 1) & (var > 0))
    enriched = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("_z", (F.col("v").cast("double") - mean)
                    / F.sqrt(var)))
    return (enriched.where(F.abs("_z") >= F.lit(OUTLIER_Z))
            .select("event_id", "event_type",
                    F.col("v").cast("double").alias("value"),
                    F.round("_z", 6).alias("z")))


def events_value_outliers_oracle_sql() -> str:
    return f"""
WITH ev AS (
  SELECT event_id, event_type, CAST(value AS DECIMAL(18,2)) AS v
  FROM events
),
stats AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(v) AS DOUBLE) AS sumv,
         CAST(SUM(v * v) AS DOUBLE) AS sumsq
  FROM ev GROUP BY event_type
  HAVING COUNT(*) > 1
     AND (CAST(SUM(v * v) AS DOUBLE)
          - COUNT(*) * (CAST(SUM(v) AS DOUBLE) / COUNT(*))
            * (CAST(SUM(v) AS DOUBLE) / COUNT(*))) / (COUNT(*) - 1) > 0
),
z AS (
  SELECT e.event_id, e.event_type, CAST(e.v AS DOUBLE) AS value,
         (CAST(e.v AS DOUBLE) - s.sumv / s.n)
           / sqrt((s.sumsq - s.n * (s.sumv / s.n) * (s.sumv / s.n))
                  / (s.n - 1)) AS zval
  FROM ev e JOIN stats s USING (event_type)
)
SELECT event_id, event_type, value, round(zval, 6) AS z
FROM z WHERE abs(zval) >= {OUTLIER_Z}
"""


#: Stream-source schema when the parquet carries TIMESTAMP(NANOS): Spark's
#: reader surfaces nanos as LONG under nanosAsLong; the stream projects it
#: back to a microsecond timestamp (same truncation as sources/melt.py).
EVENTS_SCHEMA_NANOS = EVENTS_SCHEMA.replace("ts timestamp", "ts bigint")


def _single_file_glob(path: str) -> str:
    """A glob matching exactly ``path``. The file stream source refuses a
    plain file path (it forces basePath to the path, which must be a
    directory) but accepts a glob — wrapping the first character of the
    final component in a character class makes any file path streamable
    without staging a copy."""
    head, _, tail = path.rpartition("/")
    return f"{head}/[{tail[0]}]{tail[1:]}" if tail else path


def _read_spool_or(spark: SparkSession, spool: str,
                   make_empty) -> DataFrame:
    """Read the drained spool — or, if the source yielded ZERO
    microbatches (a file-less source dir writes nothing, so the spool
    holds no parquet and a plain read raises AnalysisException), the
    schema-correct EMPTY relation from ``make_empty()``. ONE guard
    shared by every spool-draining stream so the finalize schema is
    identical in both regimes (round-10 ADVICE on the KMV drain; the
    other drains shared the latent pattern)."""
    import glob as _glob
    import os
    if _glob.glob(os.path.join(spool, "**", "*.parquet"),
                  recursive=True):
        return spark.read.parquet(spool)
    return make_empty()


def _spool_view(spark: SparkSession, spool: str, view: str,
                extract_sql, src_schema, empty_view: str) -> None:
    """Register the drained spool as ``view`` via _read_spool_or; the
    empty relation is built by running the SAME per-batch extraction
    SQL over a zero-row relation with the source schema, so the two
    regimes can never drift."""
    def make_empty() -> DataFrame:
        spark.createDataFrame([], src_schema) \
            .createOrReplaceTempView(empty_view)
        return spark.sql(extract_sql(empty_view))

    _read_spool_or(spark, spool, make_empty) \
        .createOrReplaceTempView(view)


def _events_stream(spark: SparkSession, events_path: str,
                   nanos: bool = False) -> DataFrame:
    """File-source events stream (directory, glob, or — via the
    single-file glob rewrite — one parquet file). ``nanos=True`` reads
    TIMESTAMP(NANOS) sources in place (requires
    spark.sql.legacy.parquet.nanosAsLong)."""
    import os
    if os.path.isfile(events_path):
        events_path = _single_file_glob(events_path)
    stream = (
        spark.readStream
        .schema(EVENTS_SCHEMA_NANOS if nanos else EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_path)
    )
    if nanos:
        # integer `div` — floor(ts / 1000) loses precision on ns-epoch
        # longs past 2^53 (see sources/melt.py)
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def watch_events(spark: SparkSession, events_path: str, nanos: bool = False):
    """Streaming watcher: hourly windowed aggregation over the events
    stream. Returns the streaming DataFrame (caller picks sink/trigger)."""
    stream = _events_stream(spark, events_path, nanos=nanos)
    return _hourly_agg(stream.withWatermark("ts", "2 hours"),
                       streaming=True)


def run_watcher_once(spark: SparkSession, events_path: str,
                     query_name: str = "cpss_watch",
                     nanos: bool = False) -> DataFrame:
    """Poll-mode drain: process all currently-available files into an
    in-memory sink and return the result as a batch DataFrame."""
    q = (
        watch_events(spark, events_path, nanos=nanos)
        .writeStream.format("memory").queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the REAL Structured Streaming path — drain
    the events table IN PLACE with an availableNow watcher (no staging
    rewrite; the source file streams directly via the single-file glob).
    n_users is dropped from the output because the stream path uses HLL
    approx_count_distinct (bounded state); the exact columns are
    oracle-checked against the same SQL as the batch query."""
    from ..sources.melt import nanos_timestamp_columns
    path = f"{sf_dir}/events.parquet"
    nanos = "ts" in nanos_timestamp_columns(spark, path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    drained = run_watcher_once(spark, path, "cpss_stream_hourly",
                               nanos=nanos)
    return drained.select("window_start", "event_type", "n_events",
                          "sum_value")


def stream_events_hourly_oracle_sql() -> str:
    return """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY 1, 2
"""


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication drain: the stateful streaming dedup
    operator (``dropDuplicatesWithinWatermark`` on (user_id, event_type)
    — dedup state is evicted once the watermark passes an entry's event
    time, so state stays bounded on an unbounded stream), drained with an
    availableNow trigger, then a batch rollup of the surviving distinct
    keys. Deterministic regardless of arrival order: only the KEYS
    survive into the output, so which duplicate row wins is irrelevant.

    Here the whole table drains in one microbatch so the dedup is exact;
    on a live stream, duplicates arriving later than the watermark delay
    can re-emit — the documented within-watermark contract.

    Output: event_type, n_users (distinct users per event type)."""
    from ..sources.melt import nanos_timestamp_columns
    path = f"{sf_dir}/events.parquet"
    nanos = "ts" in nanos_timestamp_columns(spark, path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    deduped = (
        _events_stream(spark, path, nanos=nanos)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = "cpss_stream_dedup"
    q = (deduped.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name).groupBy("event_type")
            .agg(F.count("*").alias("n_users")))


def stream_dedup_events_oracle_sql() -> str:
    return """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


SESSION_GAP = "30 minutes"


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user session windows with a 30-minute
    inactivity gap (``F.session_window`` — Spark's native session
    operator, usable identically on a stream with a watermark).
    Timestamps truncate to seconds first so the micro-vs-nano reader
    difference cannot flip a boundary; the DuckDB oracle renders the
    same sessions as a gaps-and-islands window (lag + running sum).

    Output: user_id, session_start, n_events, sum_value.
    """
    from ..sources.melt import read_table
    ev = read_table(spark, sf_dir, "events") \
        .withColumn("ts", F.date_trunc("second", "ts"))
    return (
        ev.groupBy("user_id",
                   F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count("*").alias("n_events"),
             (F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
              .cast("double")).alias("sum_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events", "sum_value")
    )


def events_sessions_oracle_sql() -> str:
    """Gaps-and-islands rendering: a session break is a gap STRICTLY
    over 30 min. Spark's session_window merges an event landing exactly
    on last+gap (closed end — verified empirically; an sf0.1 event pair
    exactly 1800 s apart after the second-truncation caught the >= vs >
    mismatch the sf0.01 gate never exercised)."""
    return """
WITH e AS (
  SELECT user_id, date_trunc('second', ts) AS ts, value FROM events
),
o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   IS NULL OR
                   ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM e
),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_value
FROM s GROUP BY user_id, sid
"""


#: Coarse salt bucket for the skew-hardened sessionization: the per-user
#: shuffle key becomes (user_id, day), so a power-law hot user splits
#: across ~days tasks instead of pinning one straggler. Within a day,
#: dense bot traffic COLLAPSES to few sessions (dense events = few
#: sessions), so the boundary-merge pass runs over a relation orders of
#: magnitude smaller than the events.
SESSION_SALT_BUCKET = "day"  # date_trunc unit; "hour" for hotter keys


def events_sessions_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened twin of :func:`events_sessions` — identical output
    contract (shares its oracle; equality-tested in
    tests/test_fuzz_events.py incl. a power-law hot-key corpus).

    Why it exists: ``session_window`` shuffles on user_id alone, and AQE
    splits skewed *joins*, not window/session aggregations — one
    power-law user turns sessionization into a single straggler task at
    1000-executor scale. Here the aggregation key is (user_id,
    tumbling day), then fragments that touch a day boundary are merged
    by a gaps-and-islands pass over the per-bucket SESSIONS (not
    events): fragment f' merges into f iff f'.start <= f.end, where
    ``session_window``'s end is last_event + gap — exactly the
    closed-boundary break rule the global operator applies, so the
    composition is semantics-preserving (no false merges within a
    bucket: those fragments are > gap apart by construction).

    The merge window is still user-keyed, but over <= sessions-per-user
    rows — a hot user's millions of dense events become at most
    ~day/gap fragments per day.

    Deployment guidance (measured, PERF.md round 5): below ~a task's
    worth of events per (user, gap-window) the global operator is
    cheaper (the salt costs one extra shuffle + a session-level window);
    switch to this twin — or tighten SESSION_SALT_BUCKET to "hour" — when a
    power-law key exceeds that, i.e. when one user's events no longer
    fit one executor's task comfortably."""
    from ..sources.melt import read_table
    ev = read_table(spark, sf_dir, "events") \
        .withColumn("ts", F.date_trunc("second", "ts"))
    # plain date_trunc column, not F.window: Spark rejects a time-window
    # and a session-window in one groupBy, and a day column is the same
    # tumbling bucket.
    frags = (
        ev.withColumn("b", F.date_trunc(SESSION_SALT_BUCKET, "ts"))
        .groupBy("user_id", "b",
                 F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"))
        .select("user_id", F.col("w.start").alias("s"),
                F.col("w.end").alias("e"), "n_events", "sv")
    )
    mw = Window.partitionBy("user_id").orderBy("s")
    merged = (
        frags
        .withColumn("new_s", F.when(
            F.lag("e").over(mw).isNull()
            | (F.col("s") > F.lag("e").over(mw)), 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(
            mw.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("s").alias("session_start"),
             F.sum("n_events").alias("n_events"),
             (F.round(F.sum("sv"), 2).cast("double")).alias("sum_value"))
    )
    return merged.select("user_id", "session_start", "n_events",
                         "sum_value")


def stream_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events_sessions`` through a REAL Structured Streaming drain:
    the same per-user 30-minute-gap ``session_window`` aggregation run
    as a ``writeStream`` with an availableNow trigger over the events
    file source (multiple microbatches via maxFilesPerTrigger — sessions
    spanning batch boundaries merge in the session state store, which is
    the semantics being proven here; the batch query only proves the API
    shape). Complete output mode so the final memory-sink snapshot holds
    every merged session; on an unbounded production stream this runs in
    append mode where the watermark finalizes sessions.

    Output: user_id, session_start, n_events, sum_value — oracle-checked
    against the same gaps-and-islands SQL as the batch query."""
    from ..sources.melt import nanos_timestamp_columns
    path = f"{sf_dir}/events.parquet"
    nanos = "ts" in nanos_timestamp_columns(spark, path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        _events_stream(spark, path, nanos=nanos)
        .withColumn("ts", F.date_trunc("second", "ts"))
        .withWatermark("ts", "2 hours")
    )
    agg = (
        stream.groupBy("user_id",
                       F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count("*").alias("n_events"),
             (F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
              .cast("double")).alias("sum_value"))
    )
    name = "cpss_stream_sessions"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events", "sum_value"))


def stream_events_sessions_oracle_sql() -> str:
    return events_sessions_oracle_sql()


def scan_stream(spark: SparkSession, values_dir: str, schema: str =
                "column_ref string, value string") -> DataFrame:
    """Incremental PII scan over a stream of (column_ref, value) files —
    the batch extraction operators apply verbatim (projection-only, so the
    stream runs in append mode; the rollup/distinct would be per-window
    stateful aggregations downstream)."""
    stream = (
        spark.readStream.schema(schema)
        .parquet(values_dir)
        .where(F.col("value").isNotNull())
    )
    return extract_candidates(stream).withColumn("prob", candidate_score())


def run_scan_watcher_once(spark: SparkSession, values_dir: str,
                          store_path: str, checkpoint_dir: str) -> int:
    """The end-to-end incremental watcher the reference only roadmapped
    (reference README.md:41,229-233: watchers + incremental scans are
    v0.2 promises with no code): stream newly-arrived (column_ref, value)
    parquet files, run the FULL batch scan per micro-batch (distinct ->
    extract -> per-column rollup), and MERGE the resulting findings into
    the keyed store — new columns insert, rescanned columns update,
    nothing duplicates (the MERGE store's natural-key semantics).

    The file-source checkpoint makes polling incremental for free: a
    second drain after new files arrive processes ONLY those files. Scale
    shape: each micro-batch is the ordinary batch plan (same shuffles,
    same pruning); state lives in the checkpoint's file log, not in
    executor memory. Returns the number of non-empty micro-batches.
    """
    from ..operators.findings import findings_rollup
    from ..sinks.findings_store import merge_findings, to_findings_records

    stream = (
        spark.readStream.schema("column_ref string, value string")
        .option("maxFilesPerTrigger", 4)
        .parquet(values_dir)
    )
    n_batches = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        findings = to_findings_records(findings_rollup(batch_df),
                                       source="watcher")
        merge_findings(spark, findings, store_path)
        n_batches.append(batch_id)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return len(n_batches)


def stream_doc_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus PII scan as a Structured Streaming drain: documents
    stream through an availableNow watcher and each microbatch runs the
    SAME batch operator (augment + extract_candidates + doc-keyed agg)
    via foreachBatch, appending per-doc density rows to the result set.

    Why foreachBatch and not a streaming aggregation: density is
    DOC-LOCAL (a document never spans source files), so per-batch
    computation is exact with ZERO streaming state — the shape that
    survives an unbounded corpus feed, unlike a complete-mode global
    aggregation whose state grows with every doc ever seen. The oracle
    is the batch query's own SQL (identical rows by construction, which
    is the point: streaming ingest must not change answers)."""
    import os
    import tempfile

    from ..operators.pii_docs import augment_docs, doc_pii_density_docs

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    out_dir = tempfile.mkdtemp(prefix="cpss_stream_pii_out_")
    ckpt = tempfile.mkdtemp(prefix="cpss_stream_pii_ckpt_")
    src = _single_file_glob(path) if os.path.isfile(path) else path
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        (doc_pii_density_docs(augment_docs(bdf))
         .write.mode("append").parquet(out_dir))

    # materialize, then drop the drain's scratch dirs (in a finally so a
    # FAILED drain cannot accumulate spool directories either)
    import shutil
    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def stream_dedup_keep_list(spark: SparkSession, sf_dir: str,
                           shingles: DataFrame | None = None) -> DataFrame:
    """Incremental near-dup dedup: the corpus keep/drop verdict computed
    through a Structured Streaming drain — the production shape for
    dedup over an unbounded document feed (streaming signature
    extraction + periodic compaction, the way large-crawl pipelines
    actually run MinHash dedup).

    Per microbatch (foreachBatch): shingling + the 8 min-hash
    aggregations + band-key derivation — the corpus-scan-bound stage —
    runs on JUST the new documents (signatures are doc-local, so
    per-slice computation is exact) and appends (doc_id, band, band_key)
    rows to a band-state spool. State is 4 rows per document ever seen —
    constant per doc, independent of doc length.

    At drain end, resolution (the compaction job) runs ONCE over the
    accumulated band state: bucket-cap filter, bucket self-join, exact
    Jaccard verification against re-derived shingles of the candidate
    docs, connected components, verdict join. Same signatures -> same
    pairs -> same components, so the verdict is BATCH-IDENTICAL by
    construction and the query shares ``dedup_keep_list``'s oracle.

    Output: doc_id, cluster_rep, keep."""
    import os
    import shutil
    import tempfile

    from ..operators.dedup import (MAX_BAND_BUCKET, _jaccard_verify,
                                   _signatures_from_shingles, band_keys,
                                   capped_band_pairs, connected_components,
                                   doc_shingles_df, shingles_from_docs)

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    band_dir = tempfile.mkdtemp(prefix="cpss_stream_bands_")
    ckpt = tempfile.mkdtemp(prefix="cpss_stream_bands_ckpt_")
    src = _single_file_glob(path) if os.path.isfile(path) else path
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        sigs = _signatures_from_shingles(shingles_from_docs(bdf))
        band_keys(sigs).write.mode("append").parquet(band_dir)

    # scratch dirs must not survive a FAILED drain either (the density
    # drain's cleanup discipline): rmtree sits in a finally
    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        bands = spark.read.parquet(band_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(band_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    # resolution / compaction over the accumulated state
    pairs = capped_band_pairs(bands, MAX_BAND_BUCKET)
    # verify needs shingles only for docs that appear in candidate pairs;
    # the semi-join prunes the shingle (re-)derivation to that small
    # set. ``shingles`` lets the entry hand over the session's shared
    # checkpointed DISTINCT (doc_id, shingle) relation (r13: the
    # compaction is a batch job over the same corpus, so re-deriving
    # the explode+window chain here only repeated work the dedup
    # family's memo already materialized).
    cand_ids = (pairs.select(F.col("doc_a").alias("doc_id"))
                .union(pairs.select("doc_b")).distinct())
    if shingles is None:
        shingles = doc_shingles_df(spark, sf_dir)
    shingles = (shingles.join(cand_ids, "doc_id", "left_semi")
                .localCheckpoint(eager=True))
    verified = _jaccard_verify(pairs, shingles, 0.5,
                               sizes_attached=False)
    clusters = connected_components(verified)
    docs = spark.read.parquet(path).select("doc_id")
    out = docs.join(clusters, "doc_id", "left")
    rep = F.coalesce(F.col("cluster_rep"), F.col("doc_id"))
    return out.select(
        "doc_id", rep.alias("cluster_rep"),
        (rep == F.col("doc_id")).alias("keep"))


def stream_quality_classifier(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The hashed-ngram quality filter as a Structured Streaming drain:
    documents stream through an availableNow watcher and each
    microbatch scores with the SAME pinned-weight SQL the batch query
    uses (operators.quality) via foreachBatch.

    The score is DOC-LOCAL (hashed-ngram frequencies + the capped
    length feature need nothing beyond the row), so per-batch
    computation is exact with ZERO streaming state — the
    stream_doc_pii_density shape: the filter a production ingest
    applies at the door, verdict-identical to the batch pass (which is
    the point, and why it shares corpus_quality_classifier's oracle).

    Output: doc_id, n_tokens, ngram_total, score, keep, label."""
    import os
    import shutil
    import tempfile

    from ..operators.quality import quality_classifier_sql

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    out_dir = tempfile.mkdtemp(prefix="cpss_stream_qc_out_")
    ckpt = tempfile.mkdtemp(prefix="cpss_stream_qc_ckpt_")
    src = _single_file_glob(path) if os.path.isfile(path) else path
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # two measured fixes (sf0.1, PERF.md r7): a parquet microbatch
        # arrives as ONE partition, so without the repartition the whole
        # classifier runs single-threaded inside the sink (12-18 s); and
        # the template scans its relation four ways (grams / tokens /
        # ratios / verdict join), so the slice is materialized ONCE
        # (shared-relation discipline) instead of re-planning the
        # streaming source per consumer
        from ..plans.cache import session_parallelism
        n_parts = session_parallelism(bdf.sparkSession)
        slice_ = bdf.repartition(n_parts).localCheckpoint(eager=True)
        slice_.createOrReplaceTempView(f"cpss_qc_batch_{batch_id}")
        (slice_.sparkSession.sql(
            quality_classifier_sql("spark", f"cpss_qc_batch_{batch_id}"))
         .write.mode("append").parquet(out_dir))

    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def stream_phash_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IMAGE dedup: the multimodal keep/drop verdict
    computed through a Structured Streaming drain — the
    stream_dedup_keep_list shape over perceptual hashes instead of
    MinHash bands.

    Per microbatch (foreachBatch): payload synthesis + the REAL PGM
    decode + aHash — the decode-bound stage — runs on JUST the new
    documents (the hash is doc-local, so per-slice computation is
    exact) and appends (asset_id, b0..b3) rows to a hash-state spool:
    ONE small integer row per image ever seen (r13: was 4 band rows —
    spooling the pivoted hash directly quarters the spool and lets the
    resolver skip its re-pivot shuffle), independent of image size,
    and NO raw pixels retained.

    At drain end, resolution runs ONCE over the accumulated hash state
    via the SAME _phash_resolve the batch query uses (band rows derived
    by a cheap explode — no second decode pass — bucket-cap filter,
    banded self-join, hamming verification, connected components,
    verdict join, in_capped_bucket flag). Same hashes -> same pairs ->
    same components, so the verdict is BATCH-IDENTICAL by construction
    and the query shares phash_keep_list's oracle.

    Output: doc_id, cluster_rep, keep, in_capped_bucket."""
    import os
    import shutil
    import tempfile

    from ..operators.multimodal import (PHASH_HAM_MAX, PHASH_MAX_BUCKET,
                                        _phash_resolve, ahash_bands,
                                        pgm_neardup_assets_from_docs)

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    band_dir = tempfile.mkdtemp(prefix="cpss_stream_phash_")
    ckpt = tempfile.mkdtemp(prefix="cpss_stream_phash_ckpt_")
    src = _single_file_glob(path) if os.path.isfile(path) else path
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # a parquet microbatch arrives as ONE partition; spread the
        # slice so the decode+hash Arrow stage runs on every core (the
        # stream_quality_classifier fix, PERF.md r7)
        from ..plans.cache import session_parallelism
        n_parts = session_parallelism(bdf.sparkSession)
        hashes = ahash_bands(
            pgm_neardup_assets_from_docs(
                bdf.select("doc_id").repartition(n_parts)))
        hashes.write.mode("append").parquet(band_dir)

    # scratch dirs must not survive a FAILED drain (rmtree in finally)
    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        hashes = spark.read.parquet(band_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(band_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    docs = spark.read.parquet(path)
    return _phash_resolve(spark, None, docs, PHASH_HAM_MAX, PHASH_MAX_BUCKET,
                          hashes=hashes)


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the events stream: cohort = a user's
    first active calendar day; a (cohort, offset) cell counts users
    active offset days after their first day, with the rate against
    cohort size. Shuffle shape: one distinct on (user, day), one
    user-keyed min, then two small keyed aggs; the per-user cohort
    relation is runtime-small (one row per user) so AQE broadcasts it
    into the activity join.

    Output: cohort (ISO day string — DATE objects don't survive the
    driver's frame comparator), day_offset, n_active, retention
    (rounded 1e-6)."""
    from ..sources.melt import read_table
    ev = read_table(spark, sf_dir, "events")
    days = (ev.select("user_id", F.to_date("ts").alias("day"))
            .distinct())
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort"))
    activity = (days.join(first, "user_id")
                .select("cohort",
                        F.datediff("day", "cohort").alias("day_offset")))
    sizes = first.groupBy("cohort").agg(
        F.count("*").alias("n_cohort"))
    return (activity.groupBy("cohort", "day_offset")
            .agg(F.count("*").alias("n_active"))
            .join(sizes, "cohort")
            .select(F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
                    F.col("day_offset").cast("bigint").alias("day_offset"),
                    F.col("n_active").cast("bigint").alias("n_active"),
                    F.expr(ratio_round_halfup_guarded(
                        "spark", "n_active", "n_cohort"))
                    .alias("retention")))


def events_retention_oracle_sql() -> str:
    return f"""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first AS (SELECT user_id, MIN(day) AS cohort FROM days GROUP BY user_id),
activity AS (
  SELECT f.cohort, d.day - f.cohort AS day_offset
  FROM days d JOIN first f ON f.user_id = d.user_id
),
sizes AS (SELECT cohort, COUNT(*) AS n_cohort FROM first GROUP BY cohort)
SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort,
       CAST(a.day_offset AS BIGINT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       {ratio_round_halfup_guarded("duckdb", "COUNT(*)", "s.n_cohort")} AS retention
FROM activity a JOIN sizes s ON s.cohort = a.cohort
GROUP BY a.cohort, a.day_offset, s.n_cohort
"""


#: Ordered funnel the conversion query walks: each stage's timestamp must
#: strictly follow the previous stage's.
FUNNEL_STEPS = ("view", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-min funnel per user: stage k's timestamp is the
    earliest event of that type strictly AFTER the user's stage-(k-1)
    timestamp (the standard ordered-funnel semantics — a purchase before
    any click does not convert). Each stage is a user-keyed min over a
    type-pruned scan joined to the previous stage's (runtime-small,
    one-row-per-user) relation — AQE broadcasts it, so the events
    relation shuffles once per stage at most and never all-pairs.

    Output: user_id, t_<step> per step (NULL where the funnel stalled)."""
    from ..sources.melt import read_table
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts")
    prev = (ev.where(F.col("event_type") == FUNNEL_STEPS[0])
            .groupBy("user_id").agg(F.min("ts").alias(f"t_{FUNNEL_STEPS[0]}")))
    out = prev
    for k in range(1, len(FUNNEL_STEPS)):
        prev_col = f"t_{FUNNEL_STEPS[k - 1]}"
        stage = (ev.where(F.col("event_type") == FUNNEL_STEPS[k])
                 .join(out.select("user_id", prev_col), "user_id")
                 .where(F.col("ts") > F.col(prev_col))
                 .groupBy("user_id")
                 .agg(F.min("ts").alias(f"t_{FUNNEL_STEPS[k]}")))
        out = out.join(stage, "user_id", "left")
    return out


def events_funnel_oracle_sql() -> str:
    ctes = [f"""
s0 AS (
  SELECT user_id, MIN(ts) AS t_{FUNNEL_STEPS[0]} FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
)"""]
    joined = "s0"
    for k in range(1, len(FUNNEL_STEPS)):
        ctes.append(f"""
s{k} AS (
  SELECT e.user_id, MIN(e.ts) AS t_{FUNNEL_STEPS[k]}
  FROM events e JOIN s{k - 1} p ON p.user_id = e.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[k]}' AND e.ts > p.t_{FUNNEL_STEPS[k - 1]}
  GROUP BY e.user_id
)""")
        joined += f" LEFT JOIN s{k} USING (user_id)"
    cols = ", ".join(f"t_{s}" for s in FUNNEL_STEPS)
    return f"WITH {','.join(ctes)}\nSELECT user_id, {cols} FROM {joined}\n"


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event attached to the user's most
    recent STRICTLY-earlier view event (last-touch
    attribution). Spark has no ASOF JOIN operator; the idiomatic
    distributed form is a tagged UNION + one per-user running
    ``last(..., ignoreNulls)`` window ordered by (ts, kind) — purchases
    sort BEFORE same-timestamp views so the running last excludes ties
    (strict <). ONE shuffle on user_id and a linear window — no range
    join, no per-pair blowup, state bounded by one row per window frame.
    The oracle is DuckDB's native ASOF LEFT JOIN, so the semantics are
    checked against a first-class implementation, not a mirror of our
    own formulation.

    Output: event_id, user_id, ts, last_view_ts (NULL when no prior
    view), gap_us (exact integer microseconds)."""
    from pyspark.sql import Window
    from ..sources.melt import read_table
    ev = read_table(spark, sf_dir, "events")
    tagged = (ev.where(F.col("event_type").isin("purchase", "view"))
              .select("event_id", "user_id", "ts", "event_type",
                      F.when(F.col("event_type") == "view",
                             F.col("ts")).alias("r_ts"),
                      # same-ts ordering: left rows first so the running
                      # last() sees only strictly-earlier right rows
                      F.when(F.col("event_type") == "purchase", 0)
                      .otherwise(1).alias("kind")))
    w = (Window.partitionBy("user_id").orderBy("ts", "kind")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (tagged
            .withColumn("last_view_ts",
                        F.last("r_ts", ignorenulls=True).over(w))
            .where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts", "last_view_ts",
                    (F.unix_micros(F.col("ts").cast("timestamp"))
                     - F.unix_micros(F.col("last_view_ts")
                                     .cast("timestamp")))
                    .alias("gap_us")))


def events_asof_join_oracle_sql() -> str:
    return """
WITH p AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'purchase'
),
v AS (SELECT user_id, ts FROM events
      WHERE event_type = 'view')
SELECT p.event_id, p.user_id, p.ts, v.ts AS last_view_ts,
       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts < p.ts
"""


def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type with zero-filled gaps — the
    time_bucket_gapfill/date_spine operation dashboards need (a missing
    bucket must chart as 0, not vanish). The hour spine explodes from a
    ONE-ROW global min/max aggregate crossed with the (tiny) distinct
    type relation, so the grid costs no data-sized shuffle; the counts
    join is keyed on (hour, type) and AQE broadcasts the spine.

    Output: window_start, event_type, n_events, filled."""
    from ..sources.melt import read_table
    ev = read_table(spark, sf_dir, "events")
    hours = ev.select(F.date_trunc("hour", "ts").alias("h"))
    bounds = hours.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (bounds.select(F.explode(F.sequence(
                "h0", "h1", F.expr("interval 1 hour"))).alias("window_start"))
             .crossJoin(ev.select("event_type").distinct()))
    counts = (ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                         "event_type")
              .agg(F.count("*").alias("n")))
    return (spine.join(counts, ["window_start", "event_type"], "left")
            .select("window_start", "event_type",
                    F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
                    .alias("n_events"),
                    F.col("n").isNull().alias("filled")))


def events_hourly_gapfill_oracle_sql() -> str:
    return """
WITH bounds AS (
  SELECT MIN(date_trunc('hour', ts)) AS h0,
         MAX(date_trunc('hour', ts)) AS h1
  FROM events
),
spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS window_start
  FROM bounds
),
grid AS (
  SELECT s.window_start, t.event_type
  FROM spine s CROSS JOIN (SELECT DISTINCT event_type
                           FROM events) t
),
counts AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT g.window_start, g.event_type,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
       c.n IS NULL AS filled
FROM grid g
LEFT JOIN counts c
  ON c.window_start = g.window_start AND c.event_type = g.event_type
"""


#: Range-join window (microseconds): neighbors = same-user events with
#: |delta ts| <= 5 minutes.
NEIGHBOR_WINDOW_US = 300_000_000


def events_neighbor_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event activity context via a RANGE self-join — the non-equi
    join class Spark has no native optimization for (a naive
    ``a.ts BETWEEN b.ts - W AND b.ts + W`` predicate joins every
    same-user pair: quadratic in the hot user). The standard scale
    rewrite, implemented here: bucket events into W-sized time bins,
    probe each event against its own and both adjacent bins (3
    bounded-fan-out probe rows per event — any |delta| <= W pair shares
    or adjoins a bin, so the blocking is COMPLETE, not approximate),
    then apply the exact range predicate inside the (user, bin) hash
    join. Candidate volume is bin co-population instead of
    user-population squared; the shuffle keys on (user_id, bin), so a
    hot user's events spread across their time bins instead of one
    task.

    Timestamps compare in MICROSECOND-exact LONGs (unix_micros /
    epoch_us — the events_asof_join discipline; double-epoch seconds
    would quantize sub-second deltas differently per engine).

    Output: event_id, user_id, n_neighbors (0-neighbor events kept via
    the left verdict join). Oracle: the plain inequality self-join —
    the binning must be invisible in the result."""
    from ..sources.melt import read_table
    ev = (read_table(spark, sf_dir, "events")
          .select("event_id", "user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("us"))
          .where(F.col("user_id").isNotNull() & F.col("us").isNotNull()))
    w = F.lit(NEIGHBOR_WINDOW_US)
    binned = ev.withColumn("bin", F.expr(f"us DIV {NEIGHBOR_WINDOW_US}"))
    probes = binned.withColumn(
        "probe_bin", F.explode(F.array(F.col("bin") - 1, F.col("bin"),
                                       F.col("bin") + 1)))
    cand = (probes.alias("a")
            .join(binned.alias("b"),
                  (F.col("a.user_id") == F.col("b.user_id"))
                  & (F.col("a.probe_bin") == F.col("b.bin"))
                  & (F.col("a.event_id") != F.col("b.event_id"))
                  & (F.abs(F.col("a.us") - F.col("b.us")) <= w)))
    counts = (cand.groupBy(F.col("a.event_id").alias("event_id"))
              .agg(F.count("*").alias("n_neighbors")))
    return (ev.join(counts, "event_id", "left")
            .select("event_id", "user_id",
                    F.coalesce(F.col("n_neighbors"), F.lit(0))
                    .cast("bigint").alias("n_neighbors")))


def events_neighbor_window_oracle_sql() -> str:
    return f"""
SELECT e.event_id, e.user_id,
       CAST(COUNT(n.event_id) AS BIGINT) AS n_neighbors
FROM events e
LEFT JOIN events n
  ON n.user_id = e.user_id
 AND n.event_id <> e.event_id
 AND abs(epoch_us(n.ts) - epoch_us(e.ts)) <= {NEIGHBOR_WINDOW_US}
WHERE e.user_id IS NOT NULL AND e.ts IS NOT NULL
GROUP BY e.event_id, e.user_id
"""


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL distinct sketch as a Structured Streaming drain: each
    events microbatch extracts its own (col_ref, register, mrho) rows
    — the per-slice sketch — into a spool, and ONE compaction merges
    registers by MAX and finalizes with the exact estimator expression
    the batch template uses (operators.sketches._hll_est_expr).

    MAX over registers is associative, commutative and idempotent, so
    the drained result is BIT-identical to the batch sketch no matter
    how the files split into microbatches (asserted in
    tests/test_streaming.py) — this is the mergeable-sketch property
    that lets a 100 TB ingest keep running distinct counts without
    ever spooling raw values: per-batch state is <= 64 rows per
    column, and the compaction shuffles only registers.

    Shares ``hll_sketch_only_sql``'s oracle (sketch columns, no exact
    twin — the stream never sees the full value set, by design).

    Output: col_ref, m, v_zero, z_hi, z_lo, est_distinct (the Z
    accumulator is emitted split — operators/sketches._Z_SPLIT)."""
    import os
    import shutil
    import tempfile

    from ..operators.sketches import (hll_finalize_rendered,
                                      hll_register_rows_sql)

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    spool = tempfile.mkdtemp(prefix="cpss_stream_hll_spool_")
    ckpt = tempfile.mkdtemp(prefix="cpss_stream_hll_ckpt_")
    src = _single_file_glob(path) if os.path.isfile(path) else path
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        view = f"cpss_hll_batch_{batch_id}"
        bdf.createOrReplaceTempView(view)
        (bdf.sparkSession.sql(hll_register_rows_sql("spark", view))
         .write.mode("append").parquet(spool))

    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        _spool_view(spark, spool, "cpss_hll_spool",
                    lambda v: hll_register_rows_sql("spark", v),
                    schema, "cpss_hll_empty_src")
        out = spark.sql(
            hll_finalize_rendered("spark", "cpss_hll_spool")) \
            .localCheckpoint(eager=True)
    finally:
        shutil.rmtree(spool, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV distinct sketch as a Structured Streaming drain: each
    events microbatch extracts its own (col_ref, h) min-k rows — the
    per-slice k-set — into a spool, and ONE compaction takes min-k
    over the distinct union and finalizes with the same pure-BIGINT
    estimator the batch template uses (operators.sketches).

    min-k over set union is associative, commutative and idempotent,
    so the drained result is BIT-identical to the batch sketch no
    matter how the files split into microbatches (asserted in
    tests/test_streaming_r8.py) — per-batch state is <= k rows per
    column and the compaction shuffles only k-sets, the same
    mergeable-state posture as stream_hll_distinct but with zero
    wide-type arithmetic anywhere.

    NOTE: implemented and batch-vs-stream tested in round 9; its
    queries()/oracle_sql() registration is deferred to the round-10
    window (the round-9 FRONT_50 is full and a never-gated entry may
    not be parked — tests/test_entry_contract.py rule 1).

    Output: col_ref, k, n_k, h_k, est_distinct."""
    import os
    import shutil
    import tempfile

    from ..operators.sketches import (kmv_finalize_rendered,
                                      kmv_topk_rows_sql)

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    spool = tempfile.mkdtemp(prefix="cpss_stream_kmv_spool_")
    ckpt = tempfile.mkdtemp(prefix="cpss_stream_kmv_ckpt_")
    src = _single_file_glob(path) if os.path.isfile(path) else path
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        view = f"cpss_kmv_batch_{batch_id}"
        bdf.createOrReplaceTempView(view)
        (bdf.sparkSession.sql(kmv_topk_rows_sql("spark", view))
         .write.mode("append").parquet(spool))

    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        _spool_view(spark, spool, "cpss_kmv_spool",
                    lambda v: kmv_topk_rows_sql("spark", v),
                    schema, "cpss_kmv_empty_src")
        out = spark.sql(
            kmv_finalize_rendered("spark", "cpss_kmv_spool")) \
            .localCheckpoint(eager=True)
    finally:
        shutil.rmtree(spool, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def stream_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min frequency sketch as a Structured Streaming drain:
    each documents microbatch extracts its own (rj, bucket, total)
    counter rows — the per-slice sketch — into a spool, and ONE
    compaction merges counters by SUM (associative and commutative, so
    the drained state is BIT-identical to the batch sketch no matter
    how the files split into microbatches; asserted in
    tests/test_streaming.py).

    This is the stream_hll_distinct shape for FREQUENCIES: a 100 TB
    ingest keeps running token counts in CMS_D * CMS_W BIGINTs of
    state, never spooling raw tokens; heavy-hitter point reads happen
    downstream against the merged counter table (the batch operator
    sketch_cms_heavy_hitters demonstrates that read with its exact
    audit twin — the stream cannot, because an exact global vocabulary
    is exactly what the sketch exists to avoid, so its oracle is the
    counter state itself: operators.sketches.cms_counters_sql).

    Output: rj, bucket, total (nonzero counters only)."""
    import os
    import shutil
    import tempfile

    from ..operators.sketches import cms_counter_rows_sql

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    spool = tempfile.mkdtemp(prefix="cpss_stream_cms_spool_")
    ckpt = tempfile.mkdtemp(prefix="cpss_stream_cms_ckpt_")
    src = _single_file_glob(path) if os.path.isfile(path) else path
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # parquet microbatches arrive as ONE partition (see
        # stream_quality_classifier's measured note) — spread the
        # token explode before the counter aggregation
        from ..plans.cache import session_parallelism
        n_parts = session_parallelism(bdf.sparkSession)
        view = f"cpss_cms_batch_{batch_id}"
        bdf.repartition(n_parts).createOrReplaceTempView(view)
        (bdf.sparkSession.sql(cms_counter_rows_sql("spark", view))
         .write.mode("append").parquet(spool))

    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

        def _empty_counters() -> DataFrame:
            spark.createDataFrame([], schema) \
                .createOrReplaceTempView("cpss_cms_empty_src")
            return spark.sql(
                cms_counter_rows_sql("spark", "cpss_cms_empty_src"))

        out = (_read_spool_or(spark, spool, _empty_counters)
               .groupBy("rj", "bucket")
               .agg(F.sum("total").alias("total"))
               .where(F.col("total") > 0)
               .select(F.col("rj").cast("bigint").alias("rj"),
                       F.col("bucket").cast("bigint").alias("bucket"),
                       F.col("total").cast("bigint").alias("total"))
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(spool, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


#: Recent-activity score: top-RECENT_K events per user by (ts,
#: event_id), newest weighted 2^(RECENT_K-1) down to 2^0 — the exact
#: integer numerator of a truncated alpha=1/2 EWMA (dyadic weights, so
#: no float pow anywhere; the r6-verdict integer-quantized
#: discipline applied to stateful streaming).
RECENT_K = 20
#: Integer quantization of the event value: milli-units (round 12 —
#: the score is a ranking signal; milli precision is plenty). The
#: round-11 full-fuzz sweep drove the old micro-unit score to ~3.5e14,
#: ABOVE the 2^48 output-magnitude design tripwire
#: (tests/test_entry_contract.py MAX_INT_OUTPUT), and the old clamp
#: (2^39 micro-units) even allowed a structural worst case of
#: 2^39 * (2^20 - 1) ~ 2^59 — past the 2^53 float64-exactness hard
#: ceiling. Both bounds are now closed BY CONSTRUCTION, not by data
#: luck.
RECENT_SCALE = 1_000
#: Value clamp in milli-units (values beyond +-2.68e5 saturate): the
#: worst-case weighted sum is CLAMP * (2^RECENT_K - 1) =
#: 2^28 * (2^20 - 1) < 2^48 — the design tripwire is unreachable for
#: ANY input, so the bound hierarchy needs no per-query exception.
#: Mirrored in the oracle.
RECENT_CLAMP = 1 << 28


def stream_events_recent_score(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """ARBITRARY-stateful streaming via ``applyInPandasWithState`` —
    the surface the spool-drain family deliberately avoids (their
    state is mergeable rows; here the state is a per-user STRUCTURE
    the built-in stateful ops cannot express): each user's state is
    their top-RECENT_K events by (ts, event_id) plus a total count,
    carried across microbatches in the state store.

    Split-invariance argument (asserted across microbatch splits in
    tests/test_streaming_r8.py): top-K under a TOTAL order is
    merge-correct — top-K(top-K(A) ∪ B) = top-K(A ∪ B), because an
    element evicted from A's top-K is dominated by K surviving
    elements that remain candidates forever — so the final state does
    not depend on how files split into batches, and (ts, event_id) is
    a total order because event_id is unique. Every update emits the
    user's running (n_events, recent_score); the final row per user is
    the one with the maximum n_events (strictly increasing per
    emission), selected after the drain.

    Output: user_id, n_events, recent_score — recent_score =
    SUM over the i-th newest retained event of
    clamp(floor(value * RECENT_SCALE + 0.5)) * 2^(RECENT_K - i), an
    exact sub-2^48 BIGINT in both engines (shares the batch oracle
    events_recent_score_oracle_sql)."""
    import os
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    k, clamp, scale = RECENT_K, RECENT_CLAMP, RECENT_SCALE

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, ts, ids, xs = state.get
            top = list(zip(ts, ids, xs))
        else:
            n, top = 0, []
        import math
        for pdf in pdfs:
            pdf = pdf[pdf["value"].notna() & pdf["user_id"].notna()
                      & pdf["ts"].notna()]
            if not len(pdf):
                continue
            n += len(pdf)
            # datetime64[ns] and raw int64-ns sources both order
            # identically under astype(int64) — full precision, no
            # truncation (the ns-epoch fuzz case)
            tsv = pdf["ts"].astype("int64")
            for t, e, v in zip(tsv, pdf["event_id"], pdf["value"]):
                x = int(math.floor(float(v) * scale + 0.5))
                x = max(-clamp, min(clamp, x))
                top.append((int(t), int(e), x))
        # total order (ts, event_id) DESC; keep the global top-k
        top.sort(key=lambda r: (r[0], r[1]), reverse=True)
        top = top[:k]
        state.update((n, [r[0] for r in top], [r[1] for r in top],
                      [r[2] for r in top]))
        score = sum(x << (k - i) for i, (_, _, x)
                    in enumerate(top, start=1))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "recent_score": [score]})

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    src = _single_file_glob(path) if os.path.isfile(path) else path
    spool = tempfile.mkdtemp(prefix="cpss_recent_spool_")
    ckpt = tempfile.mkdtemp(prefix="cpss_recent_ckpt_")
    # NULL ts rows are excluded (they have no recency rank — mirrored
    # in the oracle; NULL-ordering defaults differ across engines) and
    # NaN values are excluded explicitly: NaN passes isNotNull in
    # Spark but pandas notna() drops it, and the oracle's floor(NaN)
    # errors — the filter is the shared semantics, in both engines.
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src)
              .where(F.col("user_id").isNotNull()
                     & F.col("ts").isNotNull()
                     & F.col("value").isNotNull()
                     & ~F.isnan(F.col("value"))))
    updates = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=("user_id bigint, n_events bigint, "
                          "recent_score bigint"),
        stateStructType=("n bigint, ts array<bigint>, "
                         "ids array<bigint>, xs array<bigint>"),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("append").parquet(spool)

    try:
        q = (updates.writeStream.foreachBatch(_sink)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        emitted = _read_spool_or(
            spark, spool,
            lambda: spark.createDataFrame(
                [], "user_id bigint, n_events bigint, "
                    "recent_score bigint"))
        w = Window.partitionBy("user_id").orderBy(
            F.col("n_events").desc())
        out = (emitted.withColumn("_rk", F.row_number().over(w))
               .where(F.col("_rk") == 1)
               .select("user_id", "n_events", "recent_score")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(spool, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def events_recent_score_oracle_sql() -> str:
    """Batch oracle for the stateful drain: rank each user's events by
    (ts, event_id) DESC and sum the clamped milli-unit values weighted
    by the recency power of two — identical integer arithmetic, no
    float pow (the weights are a generated literal CASE map, portable
    to both engines)."""
    x = f"CAST(floor(value * {RECENT_SCALE} + 0.5) AS BIGINT)"
    cx = (f"greatest(CAST(-{RECENT_CLAMP} AS BIGINT), "
          f"least(CAST({RECENT_CLAMP} AS BIGINT), {x}))")
    weight = ("CASE rk " + " ".join(
        f"WHEN {r} THEN {1 << (RECENT_K - r)}" for r in range(1, RECENT_K + 1))
        + " ELSE 0 END")
    return f"""
WITH ranked AS (
  SELECT user_id, {cx} AS x,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND value IS NOT NULL AND NOT isnan(value)
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(x * CAST({weight} AS BIGINT)) AS BIGINT)
         AS recent_score
FROM ranked GROUP BY user_id
"""


def stream_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR domain selection as a Structured Streaming drain — the
    stream_dedup_keep_list shape over importance-resampling features.

    Per microbatch (foreachBatch): the hashed-bigram bucket counts
    (operators.dsir.dsir_doc_buckets) are DOC-LOCAL, so each slice
    featurizes exactly and appends <= DSIR_NB small integer rows per
    document to a spool — no raw text retained, no cross-batch state.

    At drain end, resolution runs ONCE over the accumulated spool via
    the SAME dsir_resolve the batch query uses (marginals, micro
    log-ratio weight map, integer-exact weights, salted top-k). The
    union of per-slice doc_b relations IS the batch doc_b relation, so
    the selection is BATCH-IDENTICAL by construction and the query
    shares corpus_dsir_select's oracle.

    Output: drank, doc_id, n_feats, weight."""
    import os
    import shutil
    import tempfile

    from ..operators.dsir import dsir_doc_buckets, dsir_resolve

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    spool = tempfile.mkdtemp(prefix="cpss_stream_dsir_")
    ckpt = tempfile.mkdtemp(prefix="cpss_stream_dsir_ckpt_")
    src = _single_file_glob(path) if os.path.isfile(path) else path
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # a parquet microbatch arrives as ONE partition; spread the
        # slice so the explode+hash stage runs on every core
        from ..plans.cache import session_parallelism
        n_parts = session_parallelism(bdf.sparkSession)
        dsir_doc_buckets(bdf.repartition(n_parts)) \
            .write.mode("append").parquet(spool)

    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        # if the corpus produced no microbatch rows the post-drain read
        # must return an empty selection like the batch path, not raise
        # AnalysisException on a file-less directory (r7 ADVICE; now
        # the shared _read_spool_or guard instead of a seed write)
        doc_b = _read_spool_or(
            spark, spool,
            lambda: dsir_doc_buckets(
                spark.read.parquet(path).limit(0))) \
            .localCheckpoint(eager=True)
    finally:
        shutil.rmtree(spool, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return dsir_resolve(doc_b)
