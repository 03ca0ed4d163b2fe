"""Curated-corpus materializer — the pipeline's terminal sink.

Composes the three curation products this package computes
(near-dup keep-list, quality/contamination verdict, PII anonymization)
into ONE filtered, scrubbed, deterministically-laid-out parquet dataset:
the artifact a training run actually reads.

Scale shape: the keep-list and verdict are doc-keyed and small relative
to the corpus (AQE broadcasts them); the anonymization pass is the
single-scan extract_candidates plan (operators/pii_docs.py); the write
repartitions by (lang, doc_id-bucket) so one dominant language cannot
become a single writer task, partitions the directory layout by lang
for downstream partition pruning, and sorts rows by doc_id within each
file so repeated runs over the same inputs produce identical content —
the reproducibility contract a training-data pipeline needs for cache
keys and audits.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: doc_id-hash fan-out per language in the shuffle before the write —
#: bounds the largest per-language writer task at corpus_size/N_BUCKETS
#: while keeping file contents deterministic (pmod of doc_id, not rand).
N_BUCKETS = 16


def export_training_corpus(spark: SparkSession, sf_dir: str, out_path: str,
                           anonymize: bool = True) -> dict:
    """Write the curated training corpus under ``out_path``.

    A document is exported iff BOTH gates keep it: the near-dup
    keep-list (cluster representative) AND the curation verdict
    (quality + repetition + decontamination). Benchmark documents
    (doc_id % DECON_BENCH_MOD == 0 — the held-out set the
    decontamination pass protects) are never exported: the verdict
    relation only covers training docs, and a benchmark doc must not
    appear in a training corpus by definition. With ``anonymize`` the
    exported text is the scrubbed ``anon_text`` (R3 guarantee:
    checksum-valid rule matches masked), and ``n_masked`` records how
    many distinct spans were masked per doc.

    Returns a stats dict: n_docs, n_exported, n_dropped_dedup,
    n_dropped_benchmark (dedup-kept docs excluded because they are
    benchmark holdout, not because curation rejected them),
    n_dropped_curation, out_path."""
    from ..operators.corpus import curate_docs
    from ..operators.dedup import dedup_keep_list
    from ..operators.pii_docs import anonymize_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    keep = dedup_keep_list(spark, sf_dir).select("doc_id", "keep")
    verdict = curate_docs(docs, spark).select(
        "doc_id", F.col("keep").alias("keep_cur"))
    gated = (docs.join(keep, "doc_id").join(verdict, "doc_id"))
    kept = (gated.where(F.col("keep") & F.col("keep_cur"))
            .select("doc_id", "text", "lang", "source", "n_chars"))

    if anonymize:
        anon = anonymize_docs(kept.select("doc_id", "text"))
        out = (kept.drop("text")
               .join(anon, "doc_id")
               .select("doc_id", F.col("anon_text").alias("text"),
                       "lang", "source", "n_chars", "n_masked"))
    else:
        out = kept.withColumn("n_masked", F.lit(0).cast("bigint"))

    (out.repartition(F.col("lang"), F.pmod(F.col("doc_id"),
                                           F.lit(N_BUCKETS)))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").partitionBy("lang").parquet(out_path))

    n_exported = spark.read.parquet(out_path).count()
    n_keep_dedup = keep.where("keep").count()
    # Benchmark holdout docs vanish at the inner join to the verdict
    # relation (it only covers training docs); count them separately so
    # curation is not blamed for holdout exclusions.
    from ..operators.corpus import DECON_BENCH_MOD
    n_bench_kept = (keep.where("keep")
                    .where(F.pmod(F.col("doc_id"),
                                  F.lit(DECON_BENCH_MOD)) == 0).count())
    return {
        "n_docs": n_docs,
        "n_exported": n_exported,
        "n_dropped_dedup": n_docs - n_keep_dedup,
        "n_dropped_benchmark": n_bench_kept,
        "n_dropped_curation": n_keep_dedup - n_bench_kept - n_exported,
        "out_path": out_path,
    }
