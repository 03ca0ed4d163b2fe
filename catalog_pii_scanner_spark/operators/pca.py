"""Embedding-spectrum statistics — exact distributed covariance Gram +
effective-rank / anisotropy diagnostics.

The LLM-pipeline use: representation-collapse and anisotropy checks on
an embedding corpus ("all vectors share one huge common component" —
Ethayarajh 2019; effective rank, Roy & Vetterli 2007; IsoScore 2021 —
all public) gate whether cosine-based dedup/ANN downstream is even
meaningful. The diagnostic wants the covariance SPECTRUM SHAPE, not an
eigenvector.

DESIGN NOTE (why no power iteration): an earlier draft unrolled 8
power-iteration steps to publish the top principal component. On this
corpus the covariance is near-isotropic (lambda2/lambda1 = 0.987 at
sf0.01), so 1e-6 eigenvector accuracy needs ~1100 iterations — the
top-PC of an isotropic cloud is ill-conditioned and any fixed unroll
publishes noise. The operator therefore reports exactly the quantities
that ARE well-conditioned: per-dimension variance, the total variance,
and the participation-ratio effective rank

    eff_rank = (tr Gc)^2 / ||Gc||_F^2      (in [1, D])

which is 1 under total collapse and D under isotropy, robust to the
eigengap. Everything derives from the same exact integer Gram the
draft built.

Exactness discipline: embedding components are micro-quantized ONCE
(q = floor(val * 1e6 + 0.5), the codebook rule); the second-moment
matrix S_ij = SUM_d q_i q_j and component sums s_i are EXACT integers
(DECIMAL(38,0) sums), so the N-scaled centered Gram

    Gc_ij = N * S_ij - s_i * s_j          (exact integer)

is bit-identical cross-engine. Variances and the trace stay in exact
integer arithmetic until one final rounded division; the Frobenius
norm squares the (deterministically double-cast) Gc cells — the one
float reduction, rounded 1e-6 in the published ratio.

Output (one row per dimension): pos, dim_var (component variance),
dim_share (of total variance), total_var, eff_rank, n.

Scale shape (100 TB): the template's Gram stage is a D^2-wide
aggregation over the exploded self-join (D=64 -> 4096 cells; the join
blows each row into D^2 pair rows) — the PARITY-GATE shape. At
production scale the same exact integers come from one mapInPandas
pass accumulating a per-partition int64 Gram (integer addition is
order-free, so the result is bit-identical) — the documented swap, no
semantic change. Everything after the Gram is 64-row relations. The
Spark entry materializes the Gram once (localCheckpoint) because the
stats reference it three times and a CTE re-inline would re-run the
D^2 aggregation per reference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .simsearch import _exploded_cte

#: input size above which the partial-Gram relation is checkpointed so
#: its two merge consumers do not each re-scan the corpus; below it the
#: fused single job is cheaper (local default measured at sf0.1)
GRAM_CKPT_MIN_BYTES = 256 << 20


def _local_input_bytes(path: str) -> int:
    """Best-effort input size for the checkpoint-vs-view decision.
    Non-local / unreadable paths return a huge size so production
    object-store inputs take the checkpoint (scan-once) branch."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            return sum(e.stat().st_size for e in os.scandir(path)
                       if e.is_file())
    except OSError:
        pass
    return 1 << 60


def pca_gram_sql(dialect: str, rel: str = "embeddings") -> str:
    """The exact-integer N-scaled centered Gram as a standalone
    statement: (i, j, gval DOUBLE, gc DECIMAL(38,0), n BIGINT)."""
    return f"""
WITH {_exploded_cte(dialect, rel)},
q AS (
  SELECT vec_id, pos,
         CAST(floor(val * 1000000 + 0.5) AS BIGINT) AS qv
  FROM vecs
),
n_rows AS (SELECT COUNT(DISTINCT vec_id) AS n FROM q),
sums AS (
  SELECT pos, CAST(SUM(CAST(qv AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
           AS s
  FROM q GROUP BY pos
),
smom AS (
  SELECT a.pos AS i, b.pos AS j,
         CAST(SUM(CAST(a.qv AS DECIMAL(38, 0)) * b.qv)
              AS DECIMAL(38, 0)) AS sij
  FROM q a JOIN q b ON b.vec_id = a.vec_id
  GROUP BY a.pos, b.pos
),
gram AS (
  SELECT m.i, m.j,
         CAST(n.n AS DECIMAL(38, 0)) * m.sij - si.s * sj.s AS gc,
         CAST(n.n AS BIGINT) AS n
  FROM smom m
  JOIN sums si ON si.pos = m.i
  JOIN sums sj ON sj.pos = m.j
  CROSS JOIN n_rows n
)
SELECT i, j, CAST(gc AS DOUBLE) AS gval, gc, n FROM gram
"""


def spectrum_stats_sql(gram_rel: str) -> str:
    """Spectrum statistics over a (i, j, gval, gc, n) Gram relation.
    Dialect-free SQL: the trace and diagonal stay exact DECIMAL; the
    Frobenius norm is the one float reduction."""
    return f"""
WITH diag AS (
  SELECT i AS pos, gc, gval, n FROM {gram_rel} WHERE i = j
),
tr AS (
  SELECT SUM(gc) AS trc, SUM(gval) AS trd, MAX(n) AS n FROM diag
),
fro AS (
  SELECT SUM(gval * gval) AS f2 FROM {gram_rel}
)
SELECT CAST(d.pos AS BIGINT) AS pos,
       -- Gc = N^2 * 1e12 * cov: rescale to value^2 units
       round(d.gval / (CAST(t.n AS DOUBLE) * t.n * 1e12), 6) AS dim_var,
       round(CASE WHEN t.trd <= 0 THEN 0.0
             ELSE d.gval / t.trd END, 6) AS dim_share,
       round(t.trd / (CAST(t.n AS DOUBLE) * t.n * 1e12), 6)
         AS total_var,
       round(CASE WHEN f.f2 <= 0 THEN 0.0
             ELSE (t.trd * t.trd) / f.f2 END, 6) AS eff_rank,
       CAST(t.n AS BIGINT) AS n
FROM diag d CROSS JOIN tr t CROSS JOIN fro f
"""


def spectrum_stats_oracle_sql() -> str:
    """One-statement ORACLE form: the Gram as a MATERIALIZED CTE
    (DuckDB's auto-materialization does not always reach a CTE
    referenced from multiple consumers, and an inlined Gram would
    re-run the D^2 aggregation per reference)."""
    gram = pca_gram_sql("duckdb").strip()
    body = spectrum_stats_sql("spec_gram")
    prefix = "\nWITH "
    assert body.startswith(prefix)
    return f"WITH spec_gram AS MATERIALIZED ({gram}),\n{body[len(prefix):]}"


def _gram_partials(emb: DataFrame) -> DataFrame:
    """The documented production swap for the template's D^2 explode
    self-join (module docstring): one mapInPandas pass accumulates the
    exact int64 partial Gram of each Arrow batch with a single integer
    matmul, emitting long-form partial rows

        (i, 0, s_i)    per-position component sums
        (i, j, s_ij)   second moments, i,j in 1..max_len

    Integer addition is order-free, so the DECIMAL(38,0) merge in
    _gram_merged_sql reproduces the template's single aggregation
    bit-for-bit. Quantization is the identical IEEE expression
    (floor(val * 1e6 + 0.5) on the double-cast value); NaN components
    map to 0 exactly as Spark's non-ANSI CAST(NaN AS BIGINT) does.
    Batches are split so rows * max|q|^2 stays below 2^62 — the int64
    matmul can never overflow; each split emits its own partial rows."""
    import numpy as np
    import pandas as pd

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = [np.asarray(a, dtype=np.float64)
                    for a in pdf["embedding"]
                    if a is not None and len(a)]
            if not arrs:
                continue
            max_len = max(a.size for a in arrs)
            Q = np.zeros((len(arrs), max_len), dtype=np.float64)
            for r, a in enumerate(arrs):
                Q[r, :a.size] = a
            qf = np.floor(Q * 1000000.0 + 0.5)
            qf = np.nan_to_num(qf, nan=0.0, posinf=float(2 ** 62),
                               neginf=-float(2 ** 62))
            q = qf.astype(np.int64)
            qmax = int(np.abs(q).max())
            step = len(arrs) if qmax == 0 else \
                max(1, (2 ** 62) // (qmax * qmax))
            ii, jj = np.meshgrid(np.arange(1, max_len + 1),
                                 np.arange(1, max_len + 1), indexing="ij")
            out_i = np.concatenate((np.arange(1, max_len + 1), ii.ravel()))
            out_j = np.concatenate((np.zeros(max_len, dtype=np.int64),
                                    jj.ravel()))
            for lo in range(0, len(arrs), step):
                chunk = q[lo:lo + step]
                s = chunk.sum(axis=0)
                smom = chunk.T @ chunk
                yield pd.DataFrame({
                    "i": out_i.astype(np.int32),
                    "j": out_j.astype(np.int32),
                    "v": np.concatenate((s, smom.ravel()))})

    return emb.mapInPandas(run, schema="i int, j int, v long")


def _gram_merged_sql(parts_rel: str, emb_rel: str) -> str:
    """Merge the int64 partials into the template's exact gram relation
    (i, j, gval, gc, n). The CTE bodies past the partial merge mirror
    pca_gram_sql's `gram` stage expression-for-expression; n comes from
    a metadata-cheap COUNT(DISTINCT vec_id) over non-empty embeddings —
    exactly the vec_ids posexplode would have emitted rows for."""
    return f"""
WITH n_rows AS (
  SELECT COUNT(DISTINCT vec_id) AS n FROM {emb_rel}
  WHERE embedding IS NOT NULL AND size(embedding) > 0
),
sums AS (
  SELECT i AS pos, CAST(SUM(CAST(v AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
           AS s
  FROM {parts_rel} WHERE j = 0 GROUP BY i
),
smom AS (
  SELECT i, j, CAST(SUM(CAST(v AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
           AS sij
  FROM {parts_rel} WHERE j > 0 GROUP BY i, j
),
gram AS (
  SELECT m.i, m.j,
         CAST(n.n AS DECIMAL(38, 0)) * m.sij - si.s * sj.s AS gc,
         CAST(n.n AS BIGINT) AS n
  FROM smom m
  JOIN sums si ON si.pos = m.i
  JOIN sums sj ON sj.pos = m.j
  CROSS JOIN n_rows n
)
SELECT i, j, CAST(gc AS DOUBLE) AS gval, gc, n FROM gram
"""


def embed_spectrum_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark entry: the Gram runs ONCE (localCheckpoint — 4096 rows)
    and the 64-row stats run over the materialized view. The Gram
    itself comes from the _gram_partials integer-matmul pass — the
    module docstring's documented swap for the template's D^2 explode
    self-join (measured 5.4 s -> sub-second at sf0.1: the explode
    blew 2000 x 64 rows into 8.2M DECIMAL(38,0) products) — merged
    exactly by _gram_merged_sql; the oracle keeps the template."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.createOrReplaceTempView("cpss_embeddings_spec")
    parts = _gram_partials(emb)
    # The merge references the partials from two consumers (sums,
    # smom), so a plain temp view re-runs the Python pass per
    # consumer. Which is cheaper is scale-dependent: on a corpus-sized
    # input the re-run pays full scans and the checkpoint wins; on the
    # local bench input the fused single job beats the extra
    # checkpoint+merge jobs (measured 0.9 s vs 2.9 s at sf0.1 — the
    # pass is 2000 rows and the cost is job fixed overhead). Decide by
    # input size.
    if _local_input_bytes(f"{sf_dir}/embeddings.parquet") \
            >= GRAM_CKPT_MIN_BYTES:
        parts = parts.localCheckpoint(eager=True)
    parts.createOrReplaceTempView("cpss_spec_parts")
    gram = spark.sql(_gram_merged_sql("cpss_spec_parts",
                                      "cpss_embeddings_spec")) \
        .localCheckpoint(eager=True)
    gram.createOrReplaceTempView("cpss_spec_gram")
    return spark.sql(spectrum_stats_sql("cpss_spec_gram"))
