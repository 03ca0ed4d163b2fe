"""The benchmark's two workloads, written against the scanner's public
functions.

Each workload has a plain iteration and a traced one. The plain
iteration makes the calls ``cli.cmd_scan`` (catalog) or the
``pii_full_pipeline`` entry (documents) makes, in the same order, with
no extra materialization; it is what ``wall_s`` times. The traced
iteration runs the same layers one at a time, materializes each layer's
output at its boundary and wraps each call in a span, so a layer's time
is not pushed into the next one by Spark's lazy evaluation.

``findings_rollup`` fuses extraction and aggregation in one call, so the
traced catalog iteration times extraction alone in the
``operators.rules.extract`` span and then calls ``findings_rollup`` on
the materialized distinct-value basis; ``operators.findings.rollup``
covers that whole call, its own extraction pass included.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catalog_pii_scanner_spark.operators.embeddings import (
    deterministic_model, embed_probs)
from catalog_pii_scanner_spark.operators.findings import (findings_rollup,
                                                          scan_values)
from catalog_pii_scanner_spark.operators.incremental import (
    column_fingerprints)
from catalog_pii_scanner_spark.operators.ner import ner_context_signals
from catalog_pii_scanner_spark.operators.pipeline import (
    CAND_COLS, full_scan_predictions)
from catalog_pii_scanner_spark.operators.redaction import candidate_contexts
from catalog_pii_scanner_spark.operators.rules import extract_candidates
from catalog_pii_scanner_spark.sinks.findings_store import (
    changed_column_refs, merge_findings, to_findings_records,
    write_column_fingerprints)
from catalog_pii_scanner_spark.sinks.writeback import (FakeCatalogClient,
                                                       apply_writeback)
from catalog_pii_scanner_spark.sources.melt import melt_table

from oracle import DOCUMENT_COLUMNS
from tracing import Tracer

Schema = dict[str, list[tuple[str, str]]]


def melt_catalog(spark: SparkSession, cat_dir: str,
                 schema: Schema) -> DataFrame:
    return reduce(DataFrame.unionByName,
                  [melt_table(spark, cat_dir, t, columns=cols)
                   for t, cols in schema.items()])


def parquet_bytes(cat_dir: str, tables) -> int:
    return sum(os.path.getsize(os.path.join(cat_dir, f"{t}.parquet"))
               for t in tables)


def _require_first_run(changed) -> None:
    # the store is fresh, so the CLI takes its first-run branch
    if changed is not None:
        raise RuntimeError("the store already holds a fingerprint sidecar")


# --- plain iterations --------------------------------------------------------

def full_scan(spark, rules, cat_dir: str, schema: Schema, store: str,
              client: FakeCatalogClient) -> list:
    """``scan --incremental --merge-store --apply`` over the whole
    catalog into an empty store: fingerprint every column, find no
    sidecar, scan every column (reusing the same melt), collect, merge,
    write back, then write the sidecar later rescans diff against.
    Returns the findings rows."""
    vals = melt_catalog(spark, cat_dir, schema)
    fps_cur = column_fingerprints(vals).localCheckpoint(eager=True)
    _require_first_run(changed_column_refs(spark, store, fps_cur))
    findings = to_findings_records(findings_rollup(vals, rules=rules))
    out = findings.collect()
    merge_findings(spark, findings, store)
    apply_writeback(findings, client)
    write_column_fingerprints(fps_cur, store, evict_missing=True)
    return out


def document_ensemble(spark, rules, docs_dir: str) -> list:
    """scan_values -> full_scan_predictions (contexts, NER signals, embed
    probabilities, 11-type fusion), collected."""
    vals = melt_table(spark, docs_dir, "documents", columns=DOCUMENT_COLUMNS)
    return full_scan_predictions(scan_values(vals, rules=rules)).collect()


# --- traced iterations -------------------------------------------------------

def _ck(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def _traced_melt(tr: Tracer, vals_of, input_bytes: int):
    with tr.span("sources.melt") as s:
        vals = _ck(vals_of())
    cells = vals.count()
    s.counts["cells"] = cells
    s.counts["input_bytes"] = input_bytes
    return vals, cells


def _traced_dedup_extract(tr: Tracer, vals: DataFrame, cells: int,
                          extract) -> tuple[DataFrame, DataFrame]:
    """Distinct non-null basis (the dedup ``findings_rollup`` and
    ``scan_values`` start with; keep in step), then candidates; returns
    both."""
    with tr.span("operators.findings.dedup") as s:
        basis = _ck(vals.where(F.col("value").isNotNull()).distinct())
    n = basis.count()
    s.counts["distinct_values"] = n
    s.counts["dedup_ratio"] = n / cells if cells else 0.0
    with tr.span("operators.rules.extract") as s:
        cands = _ck(extract(basis))
    n = cands.count()
    s.counts["candidates"] = n
    s.counts["validated_frac"] = (cands.where("validated").count() / n
                                  if n else 0.0)
    return basis, cands


def traced_full_scan(tr: Tracer, spark, rules, cat_dir: str, schema: Schema,
                     store: str, client: FakeCatalogClient) -> list:
    vals, cells = _traced_melt(tr, lambda: melt_catalog(spark, cat_dir,
                                                        schema),
                               parquet_bytes(cat_dir, schema))
    with tr.span("operators.incremental.fingerprint") as s:
        fps_cur = _ck(column_fingerprints(vals))
        changed = changed_column_refs(spark, store, fps_cur)
    _require_first_run(changed)
    s.counts["columns_total"] = fps_cur.count()
    basis, _ = _traced_dedup_extract(
        tr, vals, cells,
        lambda b: extract_candidates(b, rules=rules, class_col="vclass"))
    with tr.span("operators.findings.rollup") as s:
        per_type = findings_rollup(basis, rules=rules, pre_deduped=True)
        findings = _ck(to_findings_records(per_type))
    s.counts["rows"] = per_type.count()
    out = findings.collect()

    before = _dir_files(store)
    with tr.span("sinks.findings_store.merge") as s:
        merge_findings(spark, findings, store)
    after = _dir_files(store)
    written = [p for p, v in after.items()
               if before.get(p) != v and p.endswith(".parquet")]
    s.counts["files_written"] = len(written)
    s.counts["bytes_written"] = sum(after[p][1] for p in written)
    calls = client.api_calls
    with tr.span("sinks.writeback.apply") as s:
        apply_writeback(findings, client)
    s.counts["api_calls"] = client.api_calls - calls
    with tr.span("sinks.findings_store.fingerprints"):
        write_column_fingerprints(fps_cur, store, evict_missing=True)
    return out


def traced_document_ensemble(tr: Tracer, spark, rules, docs_dir: str) -> list:
    """The plain pipeline split at its layer boundaries. The enrichment
    mirrors ``pipeline._enriched_candidates`` (keep the two in step) and
    is handed back through ``precomputed_enriched``; its output is
    checked against the same oracle as the plain run."""
    vals, cells = _traced_melt(
        tr, lambda: melt_table(spark, docs_dir, "documents",
                               columns=DOCUMENT_COLUMNS),
        parquet_bytes(docs_dir, ["documents"]))
    _, cands = _traced_dedup_extract(
        tr, vals, cells, lambda b: scan_values(b, rules=rules))
    with tr.span("operators.redaction.contexts") as s:
        cctx = _ck(candidate_contexts(cands)
                   .select(*CAND_COLS, "rule_confidence", "validated",
                           "context")
                   .distinct()
                   .withColumn("ckey", F.md5("context")))
        ctxs = _ck(cctx.select("ckey", "context").distinct())
    s.counts["distinct_contexts"] = ctxs.count()
    with tr.span("operators.ner.signals"):
        ner_map = _ck(
            ner_context_signals(ctxs, keep_cols=("ckey",))
            .groupBy("ckey")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("pii_type", "signal")))
                .alias("ner_sig")))
    with tr.span("operators.embeddings.embed") as s:
        emb = _ck(embed_probs(ctxs, deterministic_model())
                  .select("ckey", "embed_probs"))
    s.counts["rows"] = emb.count()
    with tr.span("operators.ensemble.fuse") as s:
        enriched = cctx.join(ner_map, "ckey", "left") \
            .join(emb, "ckey", "left")
        out = full_scan_predictions(
            cands, precomputed_enriched=enriched).collect()
    s.counts["predictions"] = len(out)
    return out
