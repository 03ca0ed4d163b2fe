"""Similarity search over the embedding column (training-data pipeline).

Two variants over ``embeddings(vec_id BIGINT, embedding ARRAY<FLOAT>,
label INT)``:

- ``cosine_topk``: brute-force top-k cosine neighbors for a query subset
  (vec_id % query_mod == 0). Correctness baseline.
- ``ann_lsh_topk``: random-hyperplane LSH — 8 deterministic md5-derived
  +/-1 hyperplanes bucket vectors by sign signature; top-k is computed
  within buckets only. The scale path: at 1000 executors the bucket join
  shuffles only signature-mates instead of all pairs.

Both are rendered from one SQL template per dialect (explode to
(vec_id, pos, val), join on pos, one groupBy per pair for the dot
product). Scale notes: for a production 100 TB corpus the inner product
moves to ``cosine_topk_matmul`` — an Arrow-batched ``mapInPandas`` doing
numpy matmul per partition against a broadcast query matrix with
per-partition top-k + global top-k merge — same semantics (equality test
in tests/test_dedup_simsearch.py), BLAS throughput, and no 64x exploded
relation; the declarative form here is the oracle-parity implementation
and is already shuffle-minimal (positions join is a projection-local
explode; the only shuffle is the (query, candidate) aggregation).

Floating point: cosines are rounded to 1e-6 before ranking (ties then
break by neighbor id) so engine summation order cannot flip ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..oracles import shift1
from ..plans.cache import checkpoint_release

_HEX = "0123456789abcdef"

DIMS = 64
NUM_PLANES = 8


def _vecs_select(dialect: str, rel: str) -> str:
    """The vecs(vec_id, pos 1-based, val DOUBLE) SELECT — ONE string
    shared by the dual-dialect template and the Spark staged path, so
    the two can never drift."""
    if dialect == "duckdb":
        return (f"SELECT vec_id, pos, CAST(list_extract(embedding, pos) "
                f"AS DOUBLE) AS val "
                f"FROM {rel}, (SELECT unnest(range(1, {DIMS + 1})) AS pos) _p")
    return (f"SELECT vec_id, pos + 1 AS pos, CAST(val AS DOUBLE) AS val "
            f"FROM (SELECT vec_id, posexplode(embedding) AS (pos, val) "
            f"FROM {rel}) _e")


def _norms_select(vec_rel: str = "vecs") -> str:
    """norms(vec_id, norm) SELECT over a vecs-shaped relation."""
    return (f"SELECT vec_id, sqrt(SUM(val * val)) AS norm FROM {vec_rel}\n"
            f"  GROUP BY vec_id HAVING SUM(val * val) > 0")


def _exploded_cte(dialect: str, rel: str) -> str:
    """vecs(vec_id, pos 1-based, val DOUBLE) + norms(vec_id, norm)."""
    return f"""
vecs AS ({_vecs_select(dialect, rel)}),
norms AS (
  -- zero-norm vectors have no cosine: excluded from the universe
  -- (HAVING, so ANSI division can never see a 0 divisor)
  {_norms_select("vecs")}
)"""


def cosine_topk_sql(dialect: str, rel: str = "embeddings", k: int = 5,
                    query_mod: int = 50) -> str:
    """Output: query_id, neighbor_id, rank, cosine (rounded 1e-6)."""
    return f"""
WITH {_exploded_cte(dialect, rel)},
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(q.val * c.val) AS dot
  FROM vecs q JOIN vecs c ON q.pos = c.pos AND q.vec_id <> c.vec_id
  WHERE q.vec_id % {query_mod} = 0
  GROUP BY q.vec_id, c.vec_id
),
cos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cos
) WHERE rank <= {k}
"""


def cosine_topk(spark, sf_dir: str, k: int = 5,
                query_mod: int = 50) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("cpss_embeddings")
    return spark.sql(cosine_topk_sql("spark", "cpss_embeddings", k,
                                     query_mod))


#: Driver-collect guard for the matmul path's query subset: 100k × 64
#: float64 ≈ 50 MB broadcast — comfortably under executor/driver budgets;
#: beyond that the query set should be batched (loop over chunks, same
#: plan), never silently collected.
MAX_QUERY_VECTORS = 100_000


def cosine_topk_matmul(spark, sf_dir: str, k: int = 5,
                       query_mod: int = 50) -> DataFrame:
    """The 100 TB serving path for brute-force cosine top-k: the query
    subset is collected once (it is small by construction — the serving
    query set, not the corpus) and broadcast as a dense numpy matrix;
    candidates stream through an Arrow-batched ``mapInPandas`` that does
    one BLAS matmul per batch and keeps only the per-batch top-k per
    query, so the shuffle carries at most ``partitions * nq * k`` rows
    instead of ``nq * N``; a final per-query window merges the partial
    top-ks. Semantics are identical to ``cosine_topk`` (round 1e-6, ties
    by neighbor_id — asserted by equality test in
    tests/test_dedup_simsearch.py): float32 -> float64 casts are exact,
    and the 1e-6 rounding absorbs summation-order differences, the same
    tolerance the dual-dialect oracle already relies on.

    Replaces the exploded ``(vec_id, pos, val)`` representation whose
    64x row inflation is the declarative path's honest scale cost.
    Output: query_id, neighbor_id, rank, cosine.
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _brute_matmul_topk(
        spark, emb.where(F.col("vec_id") % query_mod == 0), emb, k)


def _brute_matmul_topk(spark, query_df, cand_df, k: int) -> DataFrame:
    """The broadcast-queries + per-partition BLAS top-k serving body
    shared by cosine_topk_matmul (candidates = full corpus) and
    ann_filtered_topk (candidates = the predicate-filtered corpus —
    the filter arrives already applied to ``cand_df``, so it sits at
    the parquet scan, before any vector math). Both frames need
    (vec_id, embedding)."""
    import numpy as np

    qrows = (query_df
             .select("vec_id", "embedding")
             .limit(MAX_QUERY_VECTORS + 1).collect())
    if len(qrows) > MAX_QUERY_VECTORS:
        raise ValueError(
            f"query subset exceeds MAX_QUERY_VECTORS={MAX_QUERY_VECTORS} "
            f"(driver collect + broadcast guard); raise query_mod or "
            f"batch the query set")
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([list(r.embedding) for r in qrows],
                 dtype=np.float64).reshape(len(qrows), DIMS)
    q_norm = np.linalg.norm(Q, axis=1)
    ok = q_norm > 0            # zero-norm queries leave the universe
    q_ids, Q, q_norm = q_ids[ok], Q[ok], q_norm[ok]
    bq = spark.sparkContext.broadcast((q_ids, Q, q_norm))
    kk = k

    def part_topk(batches):
        import numpy as np
        import pandas as pd
        qi, qm, qn = bq.value
        if qi.size == 0:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            c_ids = pdf["vec_id"].to_numpy(np.int64)
            c_norm = np.linalg.norm(C, axis=1)
            okc = c_norm > 0   # zero-norm candidates leave the universe
            C, c_ids, c_norm = C[okc], c_ids[okc], c_norm[okc]
            if not len(C):
                continue
            cos = np.round((C @ qm.T) / (c_norm[:, None] * qn[None, :]), 6)
            out_q, out_n, out_c = [], [], []
            for j in range(qi.size):
                col = cos[:, j]
                keep = c_ids != qi[j]
                ids, vals = c_ids[keep], col[keep]
                # same ordering as the window: cosine DESC, neighbor ASC
                order = np.lexsort((ids, -vals))[:kk]
                out_q.append(np.full(order.size, qi[j]))
                out_n.append(ids[order])
                out_c.append(vals[order])
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c)})

    cand = cand_df.select("vec_id", "embedding").mapInPandas(
        part_topk, schema="query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


# --- metadata-filtered ANN (predicate + top-k in one search) ------------------
#
# The serving shape real vector stores are asked for every day: "top-k
# most similar WHERE <metadata predicate>" (FAISS IDSelector, the
# filtered-search track of every ANN benchmark since big-ann-2023).
# PRE-filtering is the only semantics that guarantees k true results —
# post-filtering a top-k' can exhaust the shortlist when the predicate
# is selective — and in Spark the predicate lands IN the parquet scan
# (PushedFilters: In(label, ...)), so the vector math only ever sees
# the allowed candidates: cost tracks predicate selectivity, not corpus
# size. Queries stay unfiltered (the caller's query set is arbitrary).

#: The pinned demo predicate: label IN FILTERED_LABELS (~30% of the
#: corpus). Any pushable predicate slots in the same way.
FILTERED_LABELS = (0, 2, 5)


def ann_filtered_topk_sql(dialect: str, rel: str = "embeddings") -> str:
    """Declarative twin / oracle: cosine_topk_sql with the candidate
    side semi-joined to the predicate. Output: query_id, neighbor_id,
    rank, cosine (rounded 1e-6)."""
    lab = ", ".join(str(x) for x in FILTERED_LABELS)
    return f"""
WITH {_exploded_cte(dialect, rel)},
allowed AS (
  SELECT vec_id FROM {rel} WHERE label IN ({lab})
),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(q.val * c.val) AS dot
  FROM vecs q
  JOIN vecs c ON q.pos = c.pos AND q.vec_id <> c.vec_id
  JOIN allowed a ON a.vec_id = c.vec_id
  WHERE q.vec_id % 50 = 0
  GROUP BY q.vec_id, c.vec_id
),
cos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cos
) WHERE rank <= 5
"""


def ann_filtered_topk(spark, sf_dir: str) -> DataFrame:
    """Serving path: the label predicate applied at the candidate
    parquet scan, then the shared broadcast-queries BLAS top-k body.
    Same contract as the declarative twin (1e-6 round, ties by
    neighbor_id), which therefore serves as its oracle."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _brute_matmul_topk(
        spark, emb.where(F.col("vec_id") % 50 == 0),
        emb.where(F.col("label").isin(list(FILTERED_LABELS))), 5)


#: Semantic-decontamination split + flag threshold: bench membership
#: mirrors the corpus decontamination convention (vec_id % 37 == 0 —
#: corpus.DECON_BENCH_MOD applied to the embedding table). The flag
#: threshold is calibrated to the SYNTHETIC near-isotropic embeddings
#: (nearest cross-split cosines span ~0.31-0.50 at sf0.001-0.1, so
#: 0.35 puts rows on BOTH sides of the flag at every gate SF — the
#: threshold branch is genuinely driver-exercised); a production
#: deployment with trained text embeddings sets this ~0.9 (the
#: SemDeDup regime), a parameter, not a plan change.
SEMDECON_BENCH_MOD = 37
SEMDECON_THRESHOLD = 0.35


def embed_semantic_decon_sql(dialect: str) -> str:
    """Declarative twin (and oracle) for the semantic decontamination
    audit: for each BENCH vector, its nearest TRAIN vector by cosine.
    Output: query_id, neighbor_id, cosine, contaminated."""
    return f"""
WITH {_exploded_cte(dialect, 'embeddings')},
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(q.val * c.val) AS dot
  FROM vecs q JOIN vecs c ON q.pos = c.pos
  WHERE q.vec_id % {SEMDECON_BENCH_MOD} = 0
    AND c.vec_id % {SEMDECON_BENCH_MOD} <> 0
  GROUP BY q.vec_id, c.vec_id
),
cos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine,
       cosine >= {SEMDECON_THRESHOLD} AS contaminated
FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cos
) WHERE rank = 1
"""


def embed_semantic_decon(spark, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination of an eval split against the
    training corpus — the semantic sibling of
    corpus.minhash_decontaminate (lexical overlap misses paraphrased
    leakage; SemDeDup-style cosine proximity catches it): each BENCH
    vector's nearest TRAIN vector, flagged at cosine >=
    SEMDECON_THRESHOLD.

    SERVING shape: the bench set is an eval suite (small at any corpus
    scale), so it broadcasts through the shared one-pass BLAS body
    (_brute_matmul_topk — the train side streams through one
    mapInPandas matmul per batch; the shuffle carries per-partition
    top-1 rows only). Same contract as the declarative twin
    (1e-6 round, ties by neighbor_id), which is therefore its oracle.

    NOTE: implemented and tested in round 12; queries()/oracle_sql()
    registration is deferred to the round-13 window (the round-12
    FRONT_50 is exactly full and a never-gated entry may not be
    parked — tests/test_entry_contract.py rule 1)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    top1 = _brute_matmul_topk(
        spark, emb.where(F.col("vec_id") % SEMDECON_BENCH_MOD == 0),
        emb.where(F.col("vec_id") % SEMDECON_BENCH_MOD != 0), k=1)
    return top1.select(
        "query_id", "neighbor_id", "cosine",
        (F.col("cosine") >= SEMDECON_THRESHOLD).alias("contaminated"))


def _planes_cte(n_planes: int = NUM_PLANES) -> str:
    """n_planes x DIMS deterministic +/-1 hyperplanes: sign from the
    parity of a md5 hex digit of 'plane:pos' — identical in both engines."""
    return f"""
planes AS (
  SELECT p.plane, d.pos,
         CASE WHEN (instr('{_HEX}', substr(md5(CAST(p.plane AS VARCHAR)
              || ':' || CAST(d.pos AS VARCHAR)), 1, 1)) - 1) % 2 = 1
              THEN 1.0 ELSE -1.0 END AS sign
  FROM (SELECT unnest(range(0, {n_planes})) AS plane) p,
       (SELECT unnest(range(1, {DIMS + 1})) AS pos) d
)"""


def _planes_cte_spark(n_planes: int = NUM_PLANES) -> str:
    return f"""
planes AS (
  SELECT p.plane, d.pos,
         CASE WHEN (instr('{_HEX}', substr(md5(CAST(p.plane AS STRING)
              || ':' || CAST(d.pos AS STRING)), 1, 1)) - 1) % 2 = 1
              THEN 1.0 ELSE -1.0 END AS sign
  FROM (SELECT explode(sequence(0, {n_planes - 1})) AS plane) p,
       (SELECT explode(sequence(1, {DIMS})) AS pos) d
)"""


#: Multi-table multi-probe defaults: 8 independent 4-bit tables, each
#: query also probing every 1-bit-flipped signature per table. Tuned on
#: the testdata vectors against brute-force ground truth: recall@5 0.98
#: (vs 0.04 for the r2 single 8-bit table) — see tests/test_ann_recall.py.
NUM_TABLES = 8
BITS_PER_TABLE = 4
PROBE_BITS = 1


def ann_lsh_topk_sql(dialect: str) -> str:
    """Multi-table multi-probe LSH ANN: NUM_TABLES independent
    BITS_PER_TABLE-bit hyperplane signatures; with PROBE_BITS = 1
    each query additionally probes every Hamming-1 signature per table
    (the standard multi-probe recall lever — probes cost bucket lookups,
    not extra tables). Candidates = DISTINCT union over tables+probes;
    exact cosine + top-k only over candidates.

    Output: query_id, neighbor_id, rank, cosine (candidate-local top-k).
    """
    b = BITS_PER_TABLE
    planes = (_planes_cte(NUM_TABLES * b) if dialect == "duckdb"
              else _planes_cte_spark(NUM_TABLES * b)).strip()
    return f"""
WITH {_exploded_cte(dialect, 'embeddings')},
{planes},
{_lsh_proj_sigs_cte(dialect, b, "vecs")},
{_lsh_search_tail(dialect, 5, 50, PROBE_BITS, b,
                  "sigs", "vecs", "norms")}
"""


def _lsh_proj_sigs_cte(dialect: str, b: int, vec_rel: str) -> str:
    """proj + sigs CTEs over a vecs-shaped relation — shared verbatim
    by the dual-dialect template and the Spark staged path."""
    return f"""proj AS (
  SELECT v.vec_id, p.plane, SUM(v.val * p.sign) AS proj
  FROM {vec_rel} v JOIN planes p ON v.pos = p.pos
  GROUP BY v.vec_id, p.plane
),
sigs AS (
  -- shiftleft, never power(): libm pow's licensed 1-ulp error can
  -- truncate 2^n - eps to the wrong bit on some engine builds (the
  -- round-8 audio-fingerprint driver failure)
  SELECT vec_id, CAST(floor(plane / {b}) AS BIGINT) AS tbl,
         SUM(CASE WHEN proj > 0
                  THEN {shift1(dialect, f"CAST(plane % {b} AS INT)")}
                  ELSE CAST(0 AS BIGINT) END) AS sig
  FROM proj GROUP BY vec_id, CAST(floor(plane / {b}) AS BIGINT)
)"""


def _lsh_search_tail(dialect: str, k: int, query_mod: int,
                     probe_bits: int, b: int, sigs_rel: str,
                     vec_rel: str, norms_rel: str) -> str:
    """probes/pairs/dots/cos CTEs + the final top-k SELECT, over
    named sigs/vecs/norms relations — shared verbatim by the
    dual-dialect template and the Spark staged path."""
    flips = [0] + ([1 << j for j in range(b)] if probe_bits >= 1 else [])
    flist = ", ".join(str(f) for f in flips)
    if dialect == "duckdb":
        flip_rel = f"(SELECT unnest([{flist}]) AS flip)"
        psig = "xor(s.sig, f.flip)"
    else:
        flip_rel = f"(SELECT explode(array({flist})) AS flip)"
        psig = "(s.sig ^ f.flip)"
    return f"""probes AS (
  SELECT s.vec_id AS query_id, s.tbl, {psig} AS psig
  FROM {sigs_rel} s CROSS JOIN {flip_rel} f
  WHERE s.vec_id % {query_mod} = 0
),
pairs AS (
  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
  FROM probes p
  JOIN {sigs_rel} c ON c.tbl = p.tbl AND c.sig = p.psig
             AND c.vec_id <> p.query_id
),
dots AS (
  SELECT p.query_id, p.neighbor_id, SUM(q.val * c.val) AS dot
  FROM pairs p
  JOIN {vec_rel} q ON q.vec_id = p.query_id
  JOIN {vec_rel} c ON c.vec_id = p.neighbor_id AND c.pos = q.pos
  GROUP BY p.query_id, p.neighbor_id
),
cos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM dots d
  JOIN {norms_rel} nq ON nq.vec_id = d.query_id
  JOIN {norms_rel} nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cos
) WHERE rank <= {k}"""


def ann_lsh_topk(spark, sf_dir: str, k: int = 5, query_mod: int = 50,
                 num_tables: int = NUM_TABLES,
                 bits_per_table: int = BITS_PER_TABLE,
                 probe_bits: int = PROBE_BITS) -> DataFrame:
    """Same semantics as ann_lsh_topk_sql (the oracle), staged: the
    SQL rendering re-inlines the vecs CTE into three scans+explodes
    and sigs into two full recomputes when consumed twice, which made
    this the worst common-27 query vs the r1 baseline (2.6x). The
    Spark path materializes vecs and sigs ONCE as persisted temp
    views built from the SAME SQL fragments the oracle renders (zero
    drift — the shared-relation discipline of
    sketch_cms_heavy_hitters), then runs the identical search tail."""
    b = bits_per_table
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("cpss_embeddings")
    vecs = spark.sql(_vecs_select("spark", "cpss_embeddings")).persist()
    vecs.createOrReplaceTempView("cpss_lshq_vecs")
    norms = spark.sql(_norms_select("cpss_lshq_vecs")).persist()
    norms.createOrReplaceTempView("cpss_lshq_norms")
    planes = _planes_cte_spark(num_tables * b).strip()
    sigs = spark.sql(
        f"WITH {planes},\n"
        f"{_lsh_proj_sigs_cte('spark', b, 'cpss_lshq_vecs')}\n"
        f"SELECT * FROM sigs").persist()
    sigs.createOrReplaceTempView("cpss_lshq_sigs")
    out = spark.sql("WITH " + _lsh_search_tail(
        "spark", k, query_mod, probe_bits, b,
        "cpss_lshq_sigs", "cpss_lshq_vecs", "cpss_lshq_norms"))
    return checkpoint_release(out, vecs, norms, sigs)


def _planes_matrix(n_planes: int):
    """The deterministic md5-parity +/-1 hyperplanes as a numpy matrix —
    byte-identical to the SQL construction (_planes_cte): sign of plane
    p at pos d (1-based) is +1 iff the first hex digit of md5("p:d") is
    odd."""
    import hashlib

    import numpy as np
    P = np.empty((n_planes, DIMS), dtype=np.float64)
    for p in range(n_planes):
        for d in range(1, DIMS + 1):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0]
            P[p, d - 1] = 1.0 if int(h, 16) % 2 == 1 else -1.0
    return P


def ann_lsh_matmul(spark, sf_dir: str, k: int = 5,
                   query_mod: int = 50) -> DataFrame:
    """Multi-probe LSH ANN as a ONE-PASS search (no exploded relation,
    no joins): the query subset's per-table signatures and their
    Hamming-PROBE_BITS probes are computed driver-side and broadcast
    as a (table, signature) -> query-rows hash table; candidates stream
    through a single mapInPandas that signs each vector against the
    broadcast plane matrix (one matmul), looks its 8 table signatures up
    in the probe table, and computes exact cosines for matched queries
    with per-batch top-k. A vector matches a query at most once per
    batch (candidate set is deduped per batch; a vector lives in exactly
    one batch), so the final per-query window merge is exact. Semantics
    identical to ``ann_lsh_topk`` — equality-tested and oracle-shared.

    Output: query_id, neighbor_id, rank, cosine."""
    import numpy as np

    b = BITS_PER_TABLE
    P = _planes_matrix(NUM_TABLES * b)

    def sigs_of(vecs: np.ndarray) -> np.ndarray:
        """(n, num_tables) int64 signatures: bit j of table t set iff
        proj on plane t*b+j is > 0."""
        proj = vecs @ P.T
        bits = (proj > 0).astype(np.int64)
        out = np.zeros((len(vecs), NUM_TABLES), dtype=np.int64)
        for t in range(NUM_TABLES):
            for j in range(b):
                out[:, t] |= bits[:, t * b + j] << j
        return out

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = (emb.where(F.col("vec_id") % query_mod == 0)
             .select("vec_id", "embedding")
             .limit(MAX_QUERY_VECTORS + 1).collect())
    if len(qrows) > MAX_QUERY_VECTORS:
        raise ValueError(
            f"query subset exceeds MAX_QUERY_VECTORS={MAX_QUERY_VECTORS}")
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([list(r.embedding) for r in qrows],
                 dtype=np.float64).reshape(len(qrows), DIMS)
    q_norm = np.linalg.norm(Q, axis=1)
    ok = q_norm > 0            # zero-norm queries leave the universe
    q_ids, Q, q_norm = q_ids[ok], Q[ok], q_norm[ok]
    flips = [0] + ([1 << j for j in range(b)] if PROBE_BITS >= 1 else [])
    probe: dict[tuple[int, int], list[int]] = {}
    if len(q_ids):
        qs = sigs_of(Q)
        for qi in range(len(q_ids)):
            for t in range(NUM_TABLES):
                for f_ in flips:
                    probe.setdefault((t, int(qs[qi, t]) ^ f_),
                                     []).append(qi)
    bq = spark.sparkContext.broadcast((q_ids, Q, q_norm, probe))
    kk = k

    def search(batches):
        import pandas as pd
        qi_, Q_, qn_, probe_ = bq.value
        if qi_.size == 0:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            v_ids = pdf["vec_id"].to_numpy(np.int64)
            v_norm = np.linalg.norm(V, axis=1)
            okv = v_norm > 0   # zero-norm candidates leave the universe
            V, v_ids, v_norm = V[okv], v_ids[okv], v_norm[okv]
            if not len(V):
                continue
            vs = sigs_of(V)
            # query -> unique candidate rows in this batch
            cand: dict[int, set[int]] = {}
            for row in range(len(V)):
                for t in range(vs.shape[1]):
                    hits = probe_.get((t, int(vs[row, t])))
                    if hits:
                        for qrow in hits:
                            if v_ids[row] != qi_[qrow]:
                                cand.setdefault(qrow, set()).add(row)
            out_q, out_n, out_c = [], [], []
            for qrow, rows_ in cand.items():
                idx = np.fromiter(rows_, dtype=np.int64, count=len(rows_))
                cos = np.round(
                    (V[idx] @ Q_[qrow])
                    / (v_norm[idx] * qn_[qrow]), 6)
                ids = v_ids[idx]
                order = np.lexsort((ids, -cos))[:kk]
                out_q.append(np.full(order.size, qi_[qrow]))
                out_n.append(ids[order])
                out_c.append(cos[order])
            if out_q:
                yield pd.DataFrame({
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c)})

    cand = emb.select("vec_id", "embedding").mapInPandas(
        search, schema="query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


COSINE_DUP_T = 0.3

#: Signature-bucket cap for the near-dup pair join — same quadratic-blowup
#: guard as dedup.MAX_BAND_BUCKET, applied identically in both dialects.
MAX_SIG_BUCKET = 200


def embed_cosine_pairs_sql(dialect: str) -> str:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: exact cosine is
    computed only for vector pairs sharing the 8-bit hyperplane signature
    (same deterministic planes as ann_lsh_topk), never all pairs — the
    shape that survives a 100 TB corpus, where the bucket join shuffles
    only signature-mates. Threshold is low because the synthetic vectors
    are near-orthogonal (max pairwise cosine ~0.51 at sf0.01); real
    near-dup corpora would run 0.9+ with the identical plan.

    Output: vec_a, vec_b (vec_a < vec_b), cosine (rounded 1e-6).
    """
    planes = (_planes_cte() if dialect == "duckdb"
              else _planes_cte_spark()).strip()
    return f"""
WITH {_exploded_cte(dialect, 'embeddings')},
{planes},
proj AS (
  SELECT v.vec_id, p.plane, SUM(v.val * p.sign) AS proj
  FROM vecs v JOIN planes p ON v.pos = p.pos
  GROUP BY v.vec_id, p.plane
),
sigs AS (
  -- shiftleft, never power() (see ann_lsh_topk_sql)
  SELECT vec_id,
         SUM(CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) ELSE 0 END
             * {shift1(dialect, "CAST(plane AS INT)")}) AS sig
  FROM proj GROUP BY vec_id
),
sigs_ok AS (
  SELECT sig FROM sigs GROUP BY sig HAVING COUNT(*) <= {MAX_SIG_BUCKET}
),
sigs_capped AS (
  SELECT s.* FROM sigs s JOIN sigs_ok o ON o.sig = s.sig
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs_capped a JOIN sigs_capped b
    ON a.sig = b.sig AND a.vec_id < b.vec_id
),
dots AS (
  SELECT p.vec_a, p.vec_b, SUM(q.val * c.val) AS dot
  FROM pairs p
  JOIN vecs q ON q.vec_id = p.vec_a
  JOIN vecs c ON c.vec_id = p.vec_b AND c.pos = q.pos
  GROUP BY p.vec_a, p.vec_b
)
SELECT d.vec_a AS vec_a, d.vec_b AS vec_b,
       round(d.dot / (na.norm * nb.norm), 6) AS cosine
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE d.dot / (na.norm * nb.norm) >= {COSINE_DUP_T}
"""


def _vecs_df(spark, sf_dir: str) -> DataFrame:
    """(vec_id, pos 1-based, val DOUBLE) exploded vector relation. Callers
    persist it: Spark re-inlines CTE/lineage per consumer, and this
    relation feeds 3-4 consumers in every ANN/near-dup plan (measured
    143 s -> ~3 s at sf0.001 for the cosine-pairs query after persisting)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val0")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"),
             F.col("val0").cast("double").alias("val"))


def _norms_df(vecs: DataFrame) -> DataFrame:
    """Per-vector L2 norms, zero-norm vectors EXCLUDED (mirrors the
    SQL template's HAVING): a degenerate all-zero embedding has no
    cosine to anything and would crash ANSI division; every cosine path
    inner-joins this relation, so such vectors leave the universe
    identically in both engines."""
    return vecs.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("norm")) \
        .where(F.col("norm") > 0)


def _planes_df(spark) -> DataFrame:
    """NUM_PLANES x DIMS deterministic +/-1 hyperplanes (same construction
    as the SQL template; tiny -> broadcast)."""
    body = _planes_cte_spark().strip()
    body = body.removeprefix("planes AS (").removesuffix(")")
    return spark.sql(f"SELECT plane, pos, sign FROM ({body}) _pl")


def _sigs_df(vecs: DataFrame, planes: DataFrame) -> DataFrame:
    proj = (
        vecs.join(F.broadcast(planes), "pos")
        .groupBy("vec_id", "plane")
        .agg(F.sum(F.col("val") * F.col("sign")).alias("proj"))
    )
    bit = F.when(F.col("proj") > 0, F.lit(1).cast("bigint")) \
        .otherwise(F.lit(0).cast("bigint"))
    # shiftleft, never F.pow (see ann_lsh_topk_sql); F.expr because
    # the DSL's F.shiftleft only takes a literal shift amount
    return proj.groupBy("vec_id").agg(
        F.sum(bit * F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(plane AS INT))"))
        .alias("sig"))


def _pair_cosines(vecs: DataFrame, norms: DataFrame,
                  pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Exact cosine for an (a_col, b_col) pair list. No forced broadcasts:
    the pair list is small only when the corpus has few near-dups — on a
    boilerplate-heavy corpus it grows quadratically with bucket size, and
    a forced broadcast would OOM the driver instead of degrading. AQE
    promotes whichever side is actually small at runtime."""
    qa = vecs.select(F.col("vec_id").alias(a_col), "pos",
                     F.col("val").alias("val_a"))
    qb = vecs.select(F.col("vec_id").alias(b_col), "pos",
                     F.col("val").alias("val_b"))
    dots = (
        pairs.join(qa, a_col).join(qb, [b_col, "pos"])
        .groupBy(a_col, b_col)
        .agg(F.sum(F.col("val_a") * F.col("val_b")).alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias(a_col),
                      F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("vec_id").alias(b_col),
                      F.col("norm").alias("norm_b"))
    return (
        dots.join(na, a_col).join(nb, b_col)
        .withColumn("cosine_raw",
                    F.col("dot") / (F.col("norm_a") * F.col("norm_b")))
    )


def embed_cosine_pairs(spark, sf_dir: str,
                       threshold: float = COSINE_DUP_T) -> DataFrame:
    """DataFrame-step implementation; semantics identical to
    embed_cosine_pairs_sql (the oracle), including the signature-bucket
    cap. The persisted vector relation is released before returning
    (result is an eager localCheckpoint)."""
    vecs = _vecs_df(spark, sf_dir).persist()
    norms = _norms_df(vecs)
    sigs = _sigs_df(vecs, _planes_df(spark))
    sigs_ok = (
        sigs.groupBy("sig").agg(F.count("*").alias("_bn"))
        .where(F.col("_bn") <= MAX_SIG_BUCKET).select("sig")
    )
    sigs = sigs.join(sigs_ok, "sig")
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = (
        a.join(b, (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
    )
    cos = _pair_cosines(vecs, norms, pairs, "vec_a", "vec_b")
    out = (
        cos.where(F.col("cosine_raw") >= threshold)
        .select("vec_a", "vec_b",
                F.round("cosine_raw", 6).alias("cosine"))
    )
    return checkpoint_release(out, vecs)


NUM_CENTROIDS = 16
NPROBE = 2


def ann_ivf_matmul(spark, sf_dir: str, k: int = 5,
                   query_mod: int = 50) -> DataFrame:
    """IVF + BLAS serving path (the FAISS IVF-flat shape on Spark):
    centroids and the query subset are tiny by construction, so both are
    computed driver-side and broadcast; candidates stream through ONE
    Arrow-batched ``mapInPandas`` that (a) assigns each vector to its
    nearest-centroid cell with one matmul, then (b) matmuls each cell's
    members against only the queries probing that cell, keeping the
    per-batch top-k per query. A final per-query window merges partial
    top-ks — the whole search is one pass over the corpus with zero
    joins, vs the declarative twin's exploded-relation joins. Semantics
    identical to ``ann_ivf_topk(quantizer='prefix')`` (same 1e-6
    rounding, same cid/neighbor tie-breaks) — equality-tested in
    tests/test_dedup_simsearch.py.

    Output: query_id, neighbor_id, rank, cosine."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    crows = (emb.where(F.col("vec_id") < NUM_CENTROIDS)
             .select("vec_id", "embedding").collect())
    c_ids = np.array([r.vec_id for r in crows], dtype=np.int64)
    C = np.array([list(r.embedding) for r in crows],
                 dtype=np.float64).reshape(len(crows), DIMS)
    order = np.argsort(c_ids)
    c_ids, C = c_ids[order], C[order]
    c_norm = np.linalg.norm(C, axis=1)
    okc = c_norm > 0           # zero-norm centroids leave the quantizer
    c_ids, C, c_norm = c_ids[okc], C[okc], c_norm[okc]

    qrows = (emb.where(F.col("vec_id") % query_mod == 0)
             .select("vec_id", "embedding")
             .limit(MAX_QUERY_VECTORS + 1).collect())
    if len(qrows) > MAX_QUERY_VECTORS:
        raise ValueError(
            f"query subset exceeds MAX_QUERY_VECTORS={MAX_QUERY_VECTORS}")
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([list(r.embedding) for r in qrows],
                 dtype=np.float64).reshape(len(qrows), DIMS)
    q_norm = np.linalg.norm(Q, axis=1)
    okq = q_norm > 0           # zero-norm queries leave the universe
    q_ids, Q, q_norm = q_ids[okq], Q[okq], q_norm[okq]

    def probe_cells(vecs: np.ndarray, norms: np.ndarray,
                    n: int) -> np.ndarray:
        """Top-n cells per vector by round(cosine,6) DESC, cid ASC —
        the declarative crank ordering."""
        cc = np.round((vecs @ C.T) / (norms[:, None] * c_norm[None, :]), 6)
        out = np.empty((len(vecs), n), dtype=np.int64)
        for i in range(len(vecs)):
            out[i] = c_ids[np.lexsort((c_ids, -cc[i]))[:n]]
        return out

    # driver-side: nq x NPROBE probe table -> cell -> query-row indices
    qcells = probe_cells(Q, q_norm, NPROBE) if len(q_ids) else \
        np.empty((0, NPROBE), dtype=np.int64)
    cell_to_qidx: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for cell in qcells[qi]:
            cell_to_qidx.setdefault(int(cell), []).append(qi)
    bc = spark.sparkContext.broadcast(
        (q_ids, Q, q_norm, c_ids, C, c_norm, cell_to_qidx))
    kk = k

    def search(batches):
        import pandas as pd
        qi_, Q_, qn_, ci_, C_, cn_, c2q = bc.value
        if qi_.size == 0:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            v_ids = pdf["vec_id"].to_numpy(np.int64)
            v_norm = np.linalg.norm(V, axis=1)
            okv = v_norm > 0   # zero-norm candidates leave the universe
            V, v_ids, v_norm = V[okv], v_ids[okv], v_norm[okv]
            if not len(V):
                continue
            cc = np.round((V @ C_.T) / (v_norm[:, None] * cn_[None, :]), 6)
            # crank==1 assignment with the declarative tie-break
            assign = np.empty(len(V), dtype=np.int64)
            for i in range(len(V)):
                assign[i] = ci_[np.lexsort((ci_, -cc[i]))[0]]
            out_q, out_n, out_c = [], [], []
            for cell in np.unique(assign):
                qidx = c2q.get(int(cell))
                if not qidx:
                    continue
                members = assign == cell
                M, m_ids = V[members], v_ids[members]
                m_norm = v_norm[members]
                qsel = np.array(qidx, dtype=np.int64)
                cos = np.round(
                    (M @ Q_[qsel].T)
                    / (m_norm[:, None] * qn_[qsel][None, :]), 6)
                for j, qrow in enumerate(qsel):
                    keep = m_ids != qi_[qrow]
                    ids, vals = m_ids[keep], cos[keep, j]
                    order = np.lexsort((ids, -vals))[:kk]
                    out_q.append(np.full(order.size, qi_[qrow]))
                    out_n.append(ids[order])
                    out_c.append(vals[order])
            if out_q:
                yield pd.DataFrame({
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c)})

    cand = emb.select("vec_id", "embedding").mapInPandas(
        search, schema="query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def ann_ivf_topk_sql(dialect: str) -> str:
    """IVF-style ANN: a deterministic coarse quantizer (centroids = the
    first NUM_CENTROIDS vec_ids) partitions vectors into cells by nearest
    centroid; each query searches only its NPROBE nearest cells. This is
    the inverted-file index shape: at scale the cell assignment is a
    broadcast join against the (tiny) centroid set, candidates are
    co-partitioned by cell, and only probed cells shuffle. A production
    build would learn centroids with k-means (MLlib) — the query plan is
    unchanged.

    Output: query_id, neighbor_id, rank, cosine (rounded 1e-6).
    """
    return f"""
WITH {_exploded_cte(dialect, 'embeddings')},
cents AS (
  SELECT vec_id AS cid, pos, val FROM vecs WHERE vec_id < {NUM_CENTROIDS}
),
cell_cos AS (
  SELECT v.vec_id, c.cid, SUM(v.val * c.val) / (nv.norm * nc.norm) AS ccos
  FROM vecs v
  JOIN cents c ON c.pos = v.pos
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN norms nc ON nc.vec_id = c.cid
  GROUP BY v.vec_id, c.cid, nv.norm, nc.norm
),
ranked_cells AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(ccos, 6) DESC, cid) AS crank
  FROM cell_cos
),
assign AS (SELECT vec_id, cid FROM ranked_cells WHERE crank = 1),
probes AS (
  SELECT vec_id AS query_id, cid FROM ranked_cells
  WHERE crank <= {NPROBE} AND vec_id % 50 = 0
),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
dots AS (
  SELECT p.query_id, p.neighbor_id, SUM(q.val * c.val) AS dot
  FROM pairs p
  JOIN vecs q ON q.vec_id = p.query_id
  JOIN vecs c ON c.vec_id = p.neighbor_id AND c.pos = q.pos
  GROUP BY p.query_id, p.neighbor_id
),
cos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cos
) WHERE rank <= 5
"""


def kmeans_centroid_frames(spark, sf_dir: str):
    """Learned coarse quantizer: MLlib KMeans|| over the embedding
    column, returned as the same (cid, pos, cval) / (cid, cnorm) frame
    pair the prefix quantizer produces — the IVF plan is identical, only
    the (tiny, broadcast) centroid relations change. At corpus scale the
    fit runs on a sample (KMeans is one pass per iteration over the
    training frame); the query path never re-fits."""
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        array_to_vector(F.col("embedding").cast("array<double>"))
        .alias("features"))
    model = KMeans(k=NUM_CENTROIDS, seed=7, maxIter=20).fit(emb)
    centers = model.clusterCenters()
    cents = spark.createDataFrame(
        [(cid, pos + 1, float(v)) for cid, c in enumerate(centers)
         for pos, v in enumerate(c)],
        "cid bigint, pos int, cval double")
    nc = spark.createDataFrame(
        [(cid, math.sqrt(sum(float(v) ** 2 for v in c)))
         for cid, c in enumerate(centers)],
        "cid bigint, cnorm double")
    return cents, nc


def ann_ivf_topk(spark, sf_dir: str, k: int = 5, query_mod: int = 50,
                 quantizer: str = "prefix") -> DataFrame:
    """DataFrame-step implementation. Broadcast hints only on the provably
    tiny centroid-side relations (NUM_CENTROIDS rows); the per-vector
    norms/probes relations scale with the corpus, so their join strategy
    is left to AQE. Cell assignment never shuffles the big side; only
    probed-cell candidates reach the exact-distance join. The persisted
    vector relation is released before returning (result is an eager
    localCheckpoint).

    ``quantizer='prefix'`` (deterministic first-NUM_CENTROIDS vectors) is
    the oracle-parity path, semantics identical to ann_ivf_topk_sql;
    ``'kmeans'`` swaps in MLlib-learned centroids (not SQL-expressible —
    covered by the recall test instead; measured recall@5 0.46 vs 0.30
    at NPROBE = 2 on the testdata vectors)."""
    vecs = _vecs_df(spark, sf_dir).persist()
    norms = _norms_df(vecs)
    if quantizer == "kmeans":
        cents, nc = kmeans_centroid_frames(spark, sf_dir)
        cents = cents.select("cid", "pos", F.col("cval"))
    elif quantizer == "prefix":
        cents = vecs.where(F.col("vec_id") < NUM_CENTROIDS).select(
            F.col("vec_id").alias("cid"), "pos",
            F.col("val").alias("cval"))
        nc = norms.where(F.col("vec_id") < NUM_CENTROIDS).select(
            F.col("vec_id").alias("cid"), F.col("norm").alias("cnorm"))
    else:
        raise ValueError(f"unknown quantizer {quantizer!r}")
    cell_cos = (
        vecs.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("cdot"))
        .join(norms, "vec_id")
        .join(F.broadcast(nc), "cid")
        .withColumn("ccos", F.col("cdot") / (F.col("norm") * F.col("cnorm")))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.round("ccos", 6).desc(), F.col("cid"))
    ranked = cell_cos.withColumn("crank", F.row_number().over(w))
    assign = ranked.where(F.col("crank") == 1).select("vec_id", "cid")
    probes = ranked.where(
        (F.col("crank") <= NPROBE) & (F.col("vec_id") % query_mod == 0)
    ).select(F.col("vec_id").alias("query_id"), "cid")
    pairs = (
        probes.join(assign, "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    cos = _pair_cosines(vecs, norms, pairs, "query_id", "neighbor_id") \
        .withColumn("cosine", F.round("cosine_raw", 6))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    out = (
        cos.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
    return checkpoint_release(out, vecs)


# --- embedding-space cluster mixture ----------------------------------------

def embed_cluster_mix_sql(dialect: str) -> str:
    """Topic/domain mixture of the corpus in embedding space: every
    vector assigned to its nearest centroid by cosine (deterministic
    prefix quantizer — centroids are the first NUM_CENTROIDS vec_ids,
    same as the IVF coarse quantizer), then per-cluster size, corpus
    share, and mean centroid-cosine (cohesion). This is the data-mixing
    dashboard a curation pipeline balances sources against.

    Determinism: per-vector cosine is rounded to 1e-6 BEFORE both the
    argmax (ties by cid) and the mean; the mean sums DECIMAL(18,6) so
    reduction order cannot move it.

    Output: cluster_id, n_vecs, share, avg_cos (rounded 1e-6)."""
    return f"""
WITH {_exploded_cte(dialect, 'embeddings')},
cents AS (
  SELECT vec_id AS cid, pos, val FROM vecs WHERE vec_id < {NUM_CENTROIDS}
),
cell_cos AS (
  SELECT v.vec_id, c.cid, SUM(v.val * c.val) / (nv.norm * nc.norm) AS ccos
  FROM vecs v
  JOIN cents c ON c.pos = v.pos
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN norms nc ON nc.vec_id = c.cid
  GROUP BY v.vec_id, c.cid, nv.norm, nc.norm
),
ranked AS (
  SELECT vec_id, cid, round(ccos, 6) AS rcos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(ccos, 6) DESC, cid) AS crank
  FROM cell_cos
),
assign AS (
  SELECT vec_id, cid, CAST(rcos AS DECIMAL(18,6)) AS dcos
  FROM ranked WHERE crank = 1
),
total AS (SELECT COUNT(*) AS n_total FROM assign)
SELECT a.cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       round(COUNT(*) / CAST(t.n_total AS DOUBLE), 6) AS share,
       round(CAST(SUM(a.dcos) AS DOUBLE) / COUNT(*), 6) AS avg_cos
FROM assign a CROSS JOIN total t
GROUP BY a.cid, t.n_total
"""


def embed_cluster_mix(spark, sf_dir: str,
                      quantizer: str = "prefix") -> DataFrame:
    """DataFrame-step implementation. Shuffle shape: one broadcast join
    against the (NUM_CENTROIDS-row) centroid relation, one
    (vec_id, cid)-keyed partial-aggregated dot product, one per-vector
    argmax window (partitioned by vec_id — never a global window), one
    cid-keyed final agg with a broadcast 1-row total. The exploded
    vector relation is persisted across its two consumers and released
    before returning.

    ``quantizer='kmeans'`` swaps in MLlib-learned centroids
    (kmeans_centroid_frames) — the plan is unchanged; 'prefix' is the
    oracle-parity path identical to embed_cluster_mix_sql."""
    vecs = _vecs_df(spark, sf_dir).persist()
    norms = _norms_df(vecs)
    if quantizer == "kmeans":
        cents, nc = kmeans_centroid_frames(spark, sf_dir)
    else:
        cents = vecs.where(F.col("vec_id") < NUM_CENTROIDS).select(
            F.col("vec_id").alias("cid"), "pos",
            F.col("val").alias("cval"))
        nc = norms.where(F.col("vec_id") < NUM_CENTROIDS).select(
            F.col("vec_id").alias("cid"), F.col("norm").alias("cnorm"))
    cell_cos = (
        vecs.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("cdot"))
        .join(norms, "vec_id")
        .join(F.broadcast(nc), "cid")
        .select("vec_id", "cid",
                F.round(F.col("cdot") / (F.col("norm") * F.col("cnorm")),
                        6).alias("rcos"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("rcos"), F.col("cid"))
    assign = (cell_cos.withColumn("crank", F.row_number().over(w))
              .where(F.col("crank") == 1)
              .select("vec_id", "cid",
                      F.col("rcos").cast("decimal(18,6)").alias("dcos")))
    total = assign.agg(F.count("*").alias("n_total"))
    out = (
        assign.groupBy("cid")
        .agg(F.count("*").alias("n_vecs"), F.sum("dcos").alias("scos"))
        .crossJoin(F.broadcast(total))
        .select(F.col("cid").alias("cluster_id"),
                F.col("n_vecs").cast("bigint").alias("n_vecs"),
                F.round(F.col("n_vecs")
                        / F.col("n_total").cast("double"), 6)
                .alias("share"),
                F.round(F.col("scos").cast("double")
                        / F.col("n_vecs"), 6).alias("avg_cos"))
    )
    return checkpoint_release(out, vecs)


# --- deterministic Lloyd k-means (quantizer trainer) -------------------------

#: Fixed iteration count for the oracle-checkable trainer. MLlib KMeans||
#: (kmeans_centroid_frames) is the production trainer; this exists to
#: prove the iterative refinement itself runs distributed AND
#: deterministically enough to oracle-check — the same discipline as
#: dedup's connected-components loop.
LLOYD_ITERS = 2


def kmeans_lloyd_sql(dialect: str) -> str:
    """Lloyd's algorithm, unrolled: seed centroids are the first
    NUM_CENTROIDS vectors; each iteration assigns every vector to its
    nearest centroid by cosine (rounded 1e-6, ties to smaller cid) and
    recomputes centroids as the per-dimension mean of assigned vectors.
    The mean is computed in exact integer micro-units —
    floor(val*1e6 + 0.5) per value (floor is IEEE-identical in both
    engines, unlike round-half ties), BIGINT sum (exact; bounded by
    corpus*1e6 << 2^53), one double division by count — so neither
    reduction order nor round-half convention can move a centroid.
    Clusters that lose all members disappear (both engines
    identically).

    Output: cid, pos, cval (final centroids), n_assigned."""
    cte = [_exploded_cte(dialect, "embeddings").strip().rstrip(")") + ")"]
    cte.append(f"""
cent0 AS (
  SELECT vec_id AS cid, pos, val AS cval FROM vecs
  WHERE vec_id < {NUM_CENTROIDS}
),
cnorm0 AS (
  SELECT cid, sqrt(SUM(cval * cval)) AS cnorm FROM cent0
  GROUP BY cid HAVING SUM(cval * cval) > 0
)""")
    for i in range(LLOYD_ITERS):
        cte.append(f"""
cc{i} AS (
  SELECT v.vec_id, c.cid,
         SUM(v.val * c.cval) / (nv.norm * nc.cnorm) AS ccos
  FROM vecs v
  JOIN cent{i} c ON c.pos = v.pos
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN cnorm{i} nc ON nc.cid = c.cid
  GROUP BY v.vec_id, c.cid, nv.norm, nc.cnorm
),
asg{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY round(ccos, 6) DESC, cid) AS rk
    FROM cc{i}
  ) _r WHERE rk = 1
),
cent{i + 1} AS (
  SELECT a.cid, v.pos,
         CAST(SUM(CAST(floor(v.val * 1000000 + 0.5) AS BIGINT))
              AS DOUBLE) / (COUNT(*) * 1000000.0) AS cval
  FROM asg{i} a JOIN vecs v ON v.vec_id = a.vec_id
  GROUP BY a.cid, v.pos
),
cnorm{i + 1} AS (
  SELECT cid, sqrt(SUM(cval * cval)) AS cnorm
  FROM cent{i + 1} GROUP BY cid HAVING SUM(cval * cval) > 0
)""")
    return f"""
WITH {','.join(cte)},
sizes AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_assigned
  FROM asg{LLOYD_ITERS - 1} GROUP BY cid
)
SELECT c.cid AS cid, c.pos AS pos, c.cval AS cval, s.n_assigned
FROM cent{LLOYD_ITERS} c JOIN sizes s ON s.cid = c.cid
"""


def embed_kmeans_lloyd(spark, sf_dir: str) -> DataFrame:
    """DataFrame-step Lloyd loop, same math as kmeans_lloyd_sql. Each
    iteration: one broadcast join against the (tiny) centroid relation,
    one (vec_id, cid)-keyed partial agg, one per-vector argmax window,
    one (cid, pos)-keyed mean — all bounded shuffles, no driver-side
    data movement (the loop is driver-CONTROL only, like
    dedup.connected_components). Centroids are eager-checkpointed per
    round so iteration i+1 plans against a materialized ~k*DIMS-row
    relation instead of the whole growing lineage."""
    vecs = _vecs_df(spark, sf_dir).persist()
    norms = _norms_df(vecs)
    cents = vecs.where(F.col("vec_id") < NUM_CENTROIDS).select(
        F.col("vec_id").alias("cid"), "pos", F.col("val").alias("cval"))
    assign = None
    for _ in range(LLOYD_ITERS):
        cnorm = cents.groupBy("cid").agg(
            F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cnorm")) \
            .where(F.col("cnorm") > 0)
        cc = (vecs.join(F.broadcast(cents), "pos")
              .groupBy("vec_id", "cid")
              .agg(F.sum(F.col("val") * F.col("cval")).alias("cdot"))
              .join(norms, "vec_id")
              .join(F.broadcast(cnorm), "cid")
              .select("vec_id", "cid",
                      F.round(F.col("cdot")
                              / (F.col("norm") * F.col("cnorm")), 6)
                      .alias("rcos")))
        w = Window.partitionBy("vec_id").orderBy(F.desc("rcos"),
                                                 F.col("cid"))
        assign = (cc.withColumn("rk", F.row_number().over(w))
                  .where(F.col("rk") == 1).select("vec_id", "cid"))
        cents = (assign.join(vecs, "vec_id")
                 .groupBy("cid", "pos")
                 .agg((F.sum(F.floor(F.col("val") * 1000000 + 0.5)
                             .cast("bigint")).cast("double")
                       / (F.count("*") * F.lit(1000000.0))).alias("cval"))
                 .localCheckpoint(eager=True))
    sizes = assign.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_assigned"))
    out = cents.join(sizes, "cid").select("cid", "pos", "cval",
                                          "n_assigned")
    return checkpoint_release(out, vecs)


# --- product quantization (PQ / ADC — the Jégou-et-al sketch) ---------------
#
# The remaining classic ANN compression: vectors split into PQ_M
# subspaces, each subvector replaced by the id of its nearest codebook
# entry (PQ_CODES codes per subspace) — 64 floats become PQ_M small ints.
# Search is asymmetric distance computation (ADC): the query stays exact,
# the score against a candidate is the sum of per-subspace query-codeword
# dots — a lookup-table gather, no candidate floats touched. The codebook
# here is the same deterministic "prefix" quantizer the IVF path uses
# (codewords = subvectors of the first PQ_CODES vec_ids), which keeps the
# whole index + search SQL-renderable for the oracle; a production build
# would train codebooks per subspace with k-means (kmeans_centroid_frames
# shows the drop-in shape) — the query plan is unchanged.

PQ_M = 16                      # subspaces (DIMS/PQ_M dims each)
PQ_CODES = 128                 # codewords per subspace
PQ_SUB = DIMS // PQ_M
PQ_RERANK = 50                 # ADC shortlist size before exact re-rank
#: Candidate-corpus modulus for the DECLARATIVE oracle-parity twins
#: only: their job is to gate PQ semantics against DuckDB, and the
#: exploded-relation encoding join (vecs x PQ_CODES rows) makes them
#: the most expensive queries in the suite at full corpus. The twins
#: gate on every 10th vector (queries are vec_id % 50 == 0, so the
#: query set is untouched — 10 divides 50); the SERVING paths
#: (ann_pq_matmul / ann_ivfpq_matmul) always run the FULL corpus
#: (corpus_mod=1) and the strategy-equality tests pin both shapes on
#: the same subset.
PQ_TWIN_CORPUS_MOD = 10


def _pq_cte(query_mod: int, corpus_mod: int = 1) -> str:
    """Shared CTE chain: sub/cb/codes/cbn/rnorm/qlut over vecs+norms.
    ``corpus_mod`` restricts the ENCODED candidate set (codes/rnorm);
    queries (qlut) and the codebook prefix always come from the full
    relation."""
    return f"""
sub AS (
  -- floor() before the INT cast: DuckDB CAST(DOUBLE AS INT) ROUNDS
  -- while Spark truncates, so a bare cast splits the subspaces
  -- differently between the engines
  SELECT vec_id, pos, val, CAST(floor((pos - 1) / {PQ_SUB}) AS INT) AS m
  FROM vecs
),
cb AS (
  SELECT vec_id AS code, m, pos, val FROM sub WHERE vec_id < {PQ_CODES}
),
enc AS (
  SELECT s.vec_id, s.m, c.code,
         SUM((s.val - c.val) * (s.val - c.val)) AS d2
  FROM sub s JOIN cb c ON c.m = s.m AND c.pos = s.pos
  WHERE s.vec_id % {corpus_mod} = 0
  GROUP BY s.vec_id, s.m, c.code
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY round(d2, 6), code) AS rn
    FROM enc
  ) WHERE rn = 1
),
cbn AS (SELECT m, code, SUM(val * val) AS c2 FROM cb GROUP BY m, code),
rnorm AS (
  -- reconstructed norm; zero-reconstruction candidates leave the
  -- universe (mirrors the zero-norm exclusion of the exact paths)
  SELECT v.vec_id, sqrt(SUM(b.c2)) AS rn
  FROM codes v JOIN cbn b ON b.m = v.m AND b.code = v.code
  GROUP BY v.vec_id HAVING SUM(b.c2) > 0
),
qlut AS (
  SELECT s.vec_id AS query_id, s.m, c.code, SUM(s.val * c.val) AS dot
  FROM sub s JOIN cb c ON c.m = s.m AND c.pos = s.pos
  WHERE s.vec_id % {query_mod} = 0
  GROUP BY s.vec_id, s.m, c.code
)"""


def ann_pq_topk_sql(dialect: str, corpus_mod: int = PQ_TWIN_CORPUS_MOD) -> str:
    """PQ/ADC search with exact re-rank (the IVFADC+R recipe): the ADC
    lookup-table scan shortlists the top-PQ_RERANK candidates per query
    by approximate score, then ONLY those pairs get an exact cosine and
    the final top-k. Output: query_id, neighbor_id, rank, cosine
    (exact, rounded 1e-6 — directly comparable with the brute-force
    ground truth; recall gate in tests/test_ann_recall.py)."""
    return f"""
WITH {_exploded_cte(dialect, 'embeddings')},
{_pq_cte(50, corpus_mod).lstrip()},
adot AS (
  SELECT l.query_id, x.vec_id AS neighbor_id, SUM(l.dot) AS dot
  FROM codes x JOIN qlut l ON l.m = x.m AND l.code = x.code
  WHERE x.vec_id <> l.query_id
  GROUP BY l.query_id, x.vec_id
),
pqcos AS (
  SELECT a.query_id, a.neighbor_id,
         round(a.dot / (nq.norm * r.rn), 6) AS pq_cosine
  FROM adot a
  JOIN norms nq ON nq.vec_id = a.query_id
  JOIN rnorm r ON r.vec_id = a.neighbor_id
),
shortr AS (
  SELECT query_id, neighbor_id, pq_cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY pq_cosine DESC, neighbor_id)
           AS prank
  FROM pqcos
),
short AS (
  -- SLACK cut (r9 fix for the one sf0.1 shortlist-boundary flip): keep
  -- every candidate within 1e-6 of the rank-{PQ_RERANK} ADC score instead
  -- of cutting on rank alone, so a last-ulp cross-engine difference at
  -- a 0.5e-6 rounding boundary cannot flip shortlist MEMBERSHIP — the
  -- exact re-rank, not the ADC tie, decides. 1.5e-6 admits exactly one
  -- 1e-6 grid step below the cut regardless of float representation; a
  -- divergence now needs a two-step straddle (cut AND candidate both
  -- off by a step, opposite directions). The threshold comes from a
  -- WINDOW over shortr, not a self-join — shortr referenced twice
  -- makes a re-inlining engine run the whole ADC chain twice
  -- (measured: +4 s on the trained-IVFADC template).
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, pq_cosine,
           MIN(CASE WHEN prank <= {PQ_RERANK} THEN pq_cosine END)
             OVER (PARTITION BY query_id) AS cutc
    FROM shortr
  ) _s WHERE pq_cosine >= cutc - 1.5e-6
),
rdots AS (
  SELECT s.query_id, s.neighbor_id, SUM(q.val * c.val) AS dot
  FROM short s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id AND c.pos = q.pos
  GROUP BY s.query_id, s.neighbor_id
),
rcos AS (
  -- norms inner join: zero-TRUE-norm candidates (possible even with a
  -- nonzero reconstruction) drop here, identically in both engines
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM rdots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rcos
) WHERE rank <= 5
"""


def ann_pq_topk(spark, sf_dir: str, k: int = 5,
                query_mod: int = 50) -> DataFrame:
    """DataFrame-step implementation (oracle-parity twin of
    ann_pq_topk_sql). Shuffle shape: encoding is a join against the
    (tiny, PQ_CODES x DIMS) broadcast codebook + one (vec, m)-keyed
    aggregation; the ADC join carries PQ_M rows per (query, candidate)
    pair instead of DIMS, and the exact re-rank touches only
    nq x PQ_RERANK pairs. The serving path (ann_pq_matmul) replaces even
    the ADC join with an in-batch LUT gather.

    PQ_TWIN_CORPUS_MOD gates the parity twin on a candidate subset —
    the semantics gate needs enough rows to prove the algebra, not the
    full corpus; the serving path runs corpus_mod=1."""
    vecs = _vecs_df(spark, sf_dir).persist()
    norms = _norms_df(vecs)
    sub = vecs.withColumn(
        "m", F.floor((F.col("pos") - 1) / F.lit(PQ_SUB)).cast("int"))
    cb = (sub.where(F.col("vec_id") < PQ_CODES)
          .select(F.col("vec_id").alias("code"), "m", "pos",
                  F.col("val").alias("cval")))
    enc = (sub.where(F.col("vec_id") % PQ_TWIN_CORPUS_MOD == 0)
           .join(F.broadcast(cb), ["m", "pos"])
           .groupBy("vec_id", "m", "code")
           .agg(F.sum((F.col("val") - F.col("cval"))
                      * (F.col("val") - F.col("cval"))).alias("d2")))
    wenc = Window.partitionBy("vec_id", "m") \
        .orderBy(F.round("d2", 6), F.col("code"))
    codes = (enc.withColumn("rn", F.row_number().over(wenc))
             .where("rn = 1").select("vec_id", "m", "code")
             .persist())
    cbn = cb.groupBy("m", "code").agg(F.sum(F.col("cval") ** 2).alias("c2"))
    rnorm = (codes.join(F.broadcast(cbn), ["m", "code"])
             .groupBy("vec_id").agg(F.sum("c2").alias("s2"))
             .where("s2 > 0")
             .select("vec_id", F.sqrt("s2").alias("rn")))
    qlut = (sub.where(F.col("vec_id") % query_mod == 0)
            .join(F.broadcast(cb), ["m", "pos"])
            .groupBy(F.col("vec_id").alias("query_id"), F.col("m"),
                     F.col("code"))
            .agg(F.sum(F.col("val") * F.col("cval")).alias("dot")))
    adot = (codes.join(qlut, ["m", "code"])
            .where(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(F.sum("dot").alias("dot")))
    pqcos = (adot
             .join(norms.select(F.col("vec_id").alias("query_id"),
                                F.col("norm").alias("qn")), "query_id")
             .join(rnorm.select(F.col("vec_id").alias("neighbor_id"),
                                "rn"), "neighbor_id")
             .select("query_id", "neighbor_id",
                     F.round(F.col("dot") / (F.col("qn") * F.col("rn")),
                             6).alias("pq_cosine")))
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("pq_cosine").desc(), F.col("neighbor_id"))
    short = (pqcos.withColumn("prank", F.row_number().over(wshort))
             .where(F.col("prank") <= PQ_RERANK)
             .select("query_id", "neighbor_id"))
    qv = vecs.select(F.col("vec_id").alias("query_id"), "pos",
                     F.col("val").alias("qval"))
    cv = vecs.select(F.col("vec_id").alias("neighbor_id"), "pos",
                     F.col("val").alias("cval"))
    rdots = (short.join(qv, "query_id").join(cv, ["neighbor_id", "pos"])
             .groupBy("query_id", "neighbor_id")
             .agg(F.sum(F.col("qval") * F.col("cval")).alias("dot")))
    rcos = (rdots
            .join(norms.select(F.col("vec_id").alias("query_id"),
                               F.col("norm").alias("qn")), "query_id")
            .join(norms.select(F.col("vec_id").alias("neighbor_id"),
                               F.col("norm").alias("cn")), "neighbor_id")
            .select("query_id", "neighbor_id",
                    F.round(F.col("dot") / (F.col("qn") * F.col("cn")),
                            6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    out = (rcos.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k)
           .select("query_id", "neighbor_id", "rank", "cosine"))
    return checkpoint_release(out, vecs, codes)



def _pq_codebooks(emb):
    """Collect + slice the (tiny) prefix codebooks once on the driver:
    (per-subspace codebook slices, per-(m,code) squared norms, the
    PRESENT code ids — sparse vec_id < PQ_CODES corpora have gaps)."""
    import numpy as np
    crows = (emb.where(F.col("vec_id") < PQ_CODES)
             .select("vec_id", "embedding").collect())
    CB = np.zeros((PQ_CODES, DIMS), dtype=np.float64)
    for r in crows:
        CB[r.vec_id] = np.asarray(list(r.embedding), dtype=np.float64)
    present = np.array(sorted(r.vec_id for r in crows), dtype=np.int64)
    CBm = [CB[:, m * PQ_SUB:(m + 1) * PQ_SUB] for m in range(PQ_M)]
    cb_norm2 = np.stack([np.sum(c * c, axis=1) for c in CBm])
    return CBm, cb_norm2, present


def _collect_queries(emb, query_mod: int):
    """Driver-collect the query subset under the MAX_QUERY_VECTORS
    guard; zero-norm queries leave the universe (like the SQL norms
    HAVING)."""
    import numpy as np
    qrows = (emb.where(F.col("vec_id") % query_mod == 0)
             .select("vec_id", "embedding")
             .limit(MAX_QUERY_VECTORS + 1).collect())
    if len(qrows) > MAX_QUERY_VECTORS:
        raise ValueError(
            f"query subset exceeds MAX_QUERY_VECTORS={MAX_QUERY_VECTORS}")
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([list(r.embedding) for r in qrows],
                 dtype=np.float64).reshape(len(qrows), DIMS)
    q_norm = np.linalg.norm(Q, axis=1)
    ok = q_norm > 0
    return q_ids[ok], Q[ok], q_norm[ok]


def _pq_encode(X, cbm, cn2, pres):
    """Per-batch PQ encoding -> (codes (n, M), reconstructed-norm^2).

    Distances use the direct (x - c)^2 sum, NOT the x^2 - 2xc + c^2
    matmul expansion: the expansion's cancellation error (~1e-8)
    exceeds the 1e-6 rounding the SQL twin and this path share,
    flipping argmin on borderline codes (caught by the oracle gate);
    the direct form's reorder error (~1e-13) is absorbed by the
    rounding. np.argmin's first-minimum is the SQL window's code-asc
    tie-break.

    ``pres`` is either a 1-D array of GLOBALLY present code ids
    (prefix codebooks: a sparse vec_id < PQ_CODES is absent from every
    subspace at once) or a 2-D (PQ_M, codes) boolean mask of
    PER-SUBSPACE presence (trained codebooks: Lloyd can starve a
    codeword in one subspace while it survives in others — the SQL
    template's GROUP BY drops exactly the starved (m, code) pairs, so
    the kernel must mask them per subspace too; a global mask leaves a
    phantom all-zero codeword that small-norm subvectors snap to — the
    r8 sf0.1 shortlist flip's true root cause)."""
    import numpy as np
    codes = np.empty((len(X), PQ_M), dtype=np.int64)
    r2 = np.zeros(len(X))
    pres = np.asarray(pres)
    if pres.ndim == 2:
        absent2 = ~pres.astype(bool)
    else:
        a = np.ones(cn2.shape[1], dtype=bool)
        a[pres] = False
        absent2 = np.broadcast_to(a, (PQ_M, cn2.shape[1]))
    # every subspace must keep at least one present codeword: an
    # all-absent row would make np.argmin scan all-inf distances and
    # silently emit code 0 (+ its phantom norm) where the SQL template
    # would simply have no rows for that subspace (r7 ADVICE)
    assert absent2.ndim == 2 and (~absent2).any(axis=1).all(), \
        "a PQ subspace has no present codewords"
    for m in range(PQ_M):
        xm = X[:, m * PQ_SUB:(m + 1) * PQ_SUB]
        diff = xm[:, None, :] - cbm[m][None, :, :]
        d2 = np.round(np.sum(diff * diff, axis=2), 6)
        d2[:, absent2[m]] = np.inf
        codes[:, m] = np.argmin(d2, axis=1)
        r2 += cn2[m][codes[:, m]]
    return codes, r2


def ann_pq_matmul(spark, sf_dir: str, k: int = 5, query_mod: int = 50,
                  corpus_mod: int = 1) -> DataFrame:
    """The PQ serving path — true ADC table scan with in-batch exact
    re-rank: codebooks (PQ_CODES x DIMS floats, tiny) and the per-query
    lookup tables LUT[q][m][code] = q_m . c_code (nq x PQ_M x PQ_CODES)
    broadcast once; candidates stream through mapInPandas where encoding
    is a small per-subspace distance matrix (_pq_encode), ADC scoring is
    a pure LUT gather, and each batch emits its ADC top-PQ_RERANK per
    query WITH the exact cosine computed ONLY for those shortlist rows
    (a per-query matvec over <= PQ_RERANK in-batch raw vectors — the
    float math is nq x PQ_RERANK x DIMS per batch, not nq x batch x
    DIMS). The merge window takes the global ADC top-PQ_RERANK
    (identical shortlist to the declarative twin), then ranks by exact
    cosine — so the shuffle carries partitions x nq x PQ_RERANK rows
    and no second pass
    over the corpus is needed. Equal to ann_pq_topk up to 1e-6
    rounding-boundary ties: both sides round(cos, 6) before comparison,
    but SQL-vs-BLAS summation order can differ in the last ulp, so an
    exact .5e-6 boundary could in principle flip a rounded value (the
    equality test in tests/test_dedup_simsearch.py asserts abs=2e-6).
    """
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    CBm, cb_norm2, present = _pq_codebooks(emb)
    q_ids, Q, q_norm = _collect_queries(emb, query_mod)
    LUT = [Q[:, m * PQ_SUB:(m + 1) * PQ_SUB] @ CBm[m].T
           for m in range(PQ_M)]
    bc = spark.sparkContext.broadcast(
        (q_ids, Q, q_norm, LUT, CBm, cb_norm2, present))

    def part_topk(batches):
        import numpy as np
        import pandas as pd
        qi, qm, qn, lut, cbm, cn2, pres = bc.value
        if qi.size == 0 or pres.size == 0:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            x_ids = pdf["vec_id"].to_numpy(np.int64)
            codes, r2 = _pq_encode(X, cbm, cn2, pres)
            keep_r = r2 > 0
            X, x_ids, codes, r2 = (X[keep_r], x_ids[keep_r],
                                   codes[keep_r], r2[keep_r])
            if not len(X):
                continue
            rn = np.sqrt(r2)
            c_norm = np.linalg.norm(X, axis=1)
            dots = np.zeros((len(X), qi.size))
            for m in range(PQ_M):
                dots += lut[m][:, codes[:, m]].T
            pq = np.round(dots / (rn[:, None] * qn[None, :]), 6)
            out = {"query_id": [], "neighbor_id": [], "pq_cosine": [],
                   "cosine": []}
            for j in range(qi.size):
                keep_idx = np.flatnonzero(x_ids != qi[j])
                ids, vals = x_ids[keep_idx], pq[keep_idx, j]
                order = np.lexsort((ids, -vals))[:PQ_RERANK]
                # exact cosine ONLY for the shortlist rows: a
                # PQ_RERANK x DIMS matvec, not the full batch matmul —
                # this is what makes PQ serving cheaper than brute force
                sel = keep_idx[order]
                den = np.where(c_norm[sel] > 0, c_norm[sel], np.nan)
                ex = np.round((X[sel] @ qm[j]) / den / qn[j], 6)
                out["query_id"].append(np.full(order.size, qi[j]))
                out["neighbor_id"].append(ids[order])
                out["pq_cosine"].append(vals[order])
                out["cosine"].append(ex)
            yield pd.DataFrame({
                c: np.concatenate(v) for c, v in out.items()})

    cand = (emb.where(F.col("vec_id") % corpus_mod == 0)
            .select("vec_id", "embedding").mapInPandas(
        part_topk,
        schema="query_id long, neighbor_id long, "
               "pq_cosine double, cosine double"))
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("pq_cosine").desc(), F.col("neighbor_id"))
    # zero-true-norm candidates carry no exact cosine. Depending on the
    # Arrow conversion the numpy NaN arrives as NaN *or* NULL — and
    # Spark's isnan(NULL) is false while isNotNull(NaN) is true, so BOTH
    # guards are required (the micro edge-corpus sweep caught the
    # NULL-only leak: a rank-2 row with cosine NULL)
    short = (cand.withColumn("prank", F.row_number().over(wshort))
             .where((F.col("prank") <= PQ_RERANK)
                    & F.col("cosine").isNotNull()
                    & ~F.isnan(F.col("cosine"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (short.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


# --- IVF + PQ + re-rank (the FAISS IVFADC shape, complete) ------------------
#
# The production composition of the two indexes above: the coarse
# quantizer restricts each query to its NPROBE nearest cells, PQ/ADC
# scores ONLY the probed cells' members via lookup tables, and the exact
# re-rank touches just the ADC shortlist. At 100 TB this is the serving
# stack: cells bound the candidate volume, codes bound the bytes per
# candidate, the re-rank bounds the float math — shuffle is
# partitions x nq x rerank rows and nothing else.

def ann_ivfpq_topk_sql(dialect: str, rel: str = "embeddings", k: int = 5,
                       query_mod: int = 50,
                       corpus_mod: int = PQ_TWIN_CORPUS_MOD) -> str:
    """Output: query_id, neighbor_id, rank, cosine (exact, rounded 1e-6
    — comparable with brute force; recall gate in
    tests/test_ann_recall.py)."""
    return f"""
WITH {_exploded_cte(dialect, rel)},
cents AS (
  SELECT vec_id AS cid, pos, val FROM vecs WHERE vec_id < {NUM_CENTROIDS}
),
cell_cos AS (
  -- cells needed only for candidates (corpus_mod subset) and queries
  SELECT v.vec_id, c.cid, SUM(v.val * c.val) / (nv.norm * nc.norm) AS ccos
  FROM vecs v
  JOIN cents c ON c.pos = v.pos
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN norms nc ON nc.vec_id = c.cid
  WHERE v.vec_id % {corpus_mod} = 0 OR v.vec_id % {query_mod} = 0
  GROUP BY v.vec_id, c.cid, nv.norm, nc.norm
),
ranked_cells AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(ccos, 6) DESC, cid) AS crank
  FROM cell_cos
),
assign AS (SELECT vec_id, cid FROM ranked_cells
           WHERE crank = 1 AND vec_id % {corpus_mod} = 0),
probes AS (
  SELECT vec_id AS query_id, cid FROM ranked_cells
  WHERE crank <= {NPROBE} AND vec_id % {query_mod} = 0
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
{_pq_cte(query_mod, corpus_mod).lstrip()},
adot AS (
  SELECT c.query_id, c.neighbor_id, SUM(l.dot) AS dot
  FROM cand c
  JOIN codes x ON x.vec_id = c.neighbor_id
  JOIN qlut l ON l.query_id = c.query_id AND l.m = x.m
             AND l.code = x.code
  GROUP BY c.query_id, c.neighbor_id
),
pqcos AS (
  SELECT a.query_id, a.neighbor_id,
         round(a.dot / (nq.norm * r.rn), 6) AS pq_cosine
  FROM adot a
  JOIN norms nq ON nq.vec_id = a.query_id
  JOIN rnorm r ON r.vec_id = a.neighbor_id
),
shortr AS (
  SELECT query_id, neighbor_id, pq_cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY pq_cosine DESC, neighbor_id)
           AS prank
  FROM pqcos
),
short AS (
  -- SLACK cut (r9 fix for the one sf0.1 shortlist-boundary flip): keep
  -- every candidate within 1e-6 of the rank-{PQ_RERANK} ADC score instead
  -- of cutting on rank alone, so a last-ulp cross-engine difference at
  -- a 0.5e-6 rounding boundary cannot flip shortlist MEMBERSHIP — the
  -- exact re-rank, not the ADC tie, decides. 1.5e-6 admits exactly one
  -- 1e-6 grid step below the cut regardless of float representation; a
  -- divergence now needs a two-step straddle (cut AND candidate both
  -- off by a step, opposite directions). The threshold comes from a
  -- WINDOW over shortr, not a self-join — shortr referenced twice
  -- makes a re-inlining engine run the whole ADC chain twice
  -- (measured: +4 s on the trained-IVFADC template).
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, pq_cosine,
           MIN(CASE WHEN prank <= {PQ_RERANK} THEN pq_cosine END)
             OVER (PARTITION BY query_id) AS cutc
    FROM shortr
  ) _s WHERE pq_cosine >= cutc - 1.5e-6
),
rdots AS (
  SELECT s.query_id, s.neighbor_id, SUM(q.val * c.val) AS dot
  FROM short s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id AND c.pos = q.pos
  GROUP BY s.query_id, s.neighbor_id
),
rcos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM rdots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rcos
) WHERE rank <= {k}
"""


def ann_ivfpq_topk(spark, sf_dir: str, k: int = 5,
                   query_mod: int = 50) -> DataFrame:
    """Dual-dialect template execution (oracle-parity; the serving path
    is ann_ivfpq_matmul, which runs the FULL corpus — see
    PQ_TWIN_CORPUS_MOD)."""
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("cpss_embeddings")
    return spark.sql(ann_ivfpq_topk_sql("spark", "cpss_embeddings", k,
                                        query_mod))


def ann_ivfpq_matmul(spark, sf_dir: str, k: int = 5, query_mod: int = 50,
                     corpus_mod: int = 1) -> DataFrame:
    """IVFADC serving path: centroids, PQ codebooks, per-query probe
    sets, and ADC lookup tables all broadcast; candidates stream through
    ONE mapInPandas doing cell assignment (small matmul), probe-set
    membership, PQ encode (_pq_encode) + LUT gather, and in-batch exact
    cosine computed ONLY for the per-batch ADC top-R shortlist (a
    per-query matvec over <= PQ_RERANK rows — the exact float math is
    bounded by nq x PQ_RERANK x DIMS per batch, as IVFADC promises). One
    merge window -> global shortlist -> exact rank. Equal to
    ann_ivfpq_topk up to 1e-6 rounding-boundary ties (SQL-vs-BLAS
    summation order can differ in the last ulp at an exact .5e-6
    boundary; the equality test in tests/test_dedup_simsearch.py
    asserts abs=2e-6).
    """
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # centroids (prefix quantizer), zero-norm excluded like the SQL
    cent_rows = (emb.where(F.col("vec_id") < NUM_CENTROIDS)
                 .select("vec_id", "embedding").collect())
    c_ids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    C = (np.array([list(r.embedding) for r in cent_rows],
                  dtype=np.float64).reshape(len(cent_rows), DIMS)
         if cent_rows else np.zeros((0, DIMS)))
    c_norm = np.linalg.norm(C, axis=1) if len(C) else np.zeros(0)
    okc = c_norm > 0
    c_ids, C, c_norm = c_ids[okc], C[okc], c_norm[okc]

    CBm, cb_norm2, present = _pq_codebooks(emb)
    q_ids, Q, q_norm = _collect_queries(emb, query_mod)

    def cells_of(M_, n_):
        # rounded cosine DESC, cid ASC — the SQL ranked_cells order
        if not len(C) or not len(M_):
            return np.zeros((len(M_), 0), dtype=np.int64)
        cc = np.round((M_ @ C.T) / (n_[:, None] * c_norm[None, :]), 6)
        order = np.lexsort((np.broadcast_to(c_ids, cc.shape), -cc),
                           axis=1)
        return c_ids[order]

    # per-query probed cells as small SORTED int arrays: np.isin
    # consumes them directly in the batch loop (no per-(batch, query)
    # set->list conversion)
    probe_arrs = [np.sort(row[:NPROBE]) for row in cells_of(Q, q_norm)]
    LUT = [Q[:, m * PQ_SUB:(m + 1) * PQ_SUB] @ CBm[m].T
           for m in range(PQ_M)]
    bc = spark.sparkContext.broadcast(
        (q_ids, Q, q_norm, probe_arrs, c_ids, C, c_norm, LUT, CBm,
         cb_norm2, present))

    def part_topk(batches):
        import numpy as np
        import pandas as pd
        (qi, qm, qn, probes, ci, cm, cn, lut, cbm, cn2,
         pres) = bc.value
        if qi.size == 0 or pres.size == 0 or ci.size == 0:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            x_ids = pdf["vec_id"].to_numpy(np.int64)
            xn = np.linalg.norm(X, axis=1)
            okx = xn > 0            # zero-norm vecs have no cell (SQL)
            X, x_ids, xn = X[okx], x_ids[okx], xn[okx]
            if not len(X):
                continue
            cc = np.round((X @ cm.T) / (xn[:, None] * cn[None, :]), 6)
            order = np.lexsort((np.broadcast_to(ci, cc.shape), -cc),
                               axis=1)
            x_cell = ci[order[:, 0]]
            codes, r2 = _pq_encode(X, cbm, cn2, pres)
            keep_r = r2 > 0
            X, x_ids, x_cell, codes, r2, xn = (
                X[keep_r], x_ids[keep_r], x_cell[keep_r], codes[keep_r],
                r2[keep_r], xn[keep_r])
            if not len(X):
                continue
            rn = np.sqrt(r2)
            dots = np.zeros((len(X), qi.size))
            for m in range(PQ_M):
                dots += lut[m][:, codes[:, m]].T
            pq = np.round(dots / (rn[:, None] * qn[None, :]), 6)
            out = {"query_id": [], "neighbor_id": [], "pq_cosine": [],
                   "cosine": []}
            for j in range(qi.size):
                keep_idx = np.flatnonzero(
                    (x_ids != qi[j]) & np.isin(x_cell, probes[j]))
                ids, vals = x_ids[keep_idx], pq[keep_idx, j]
                order_j = np.lexsort((ids, -vals))[:PQ_RERANK]
                # exact cosine ONLY for shortlist rows (xn > 0 by okx
                # above, so it is always finite here)
                sel = keep_idx[order_j]
                ex = np.round((X[sel] @ qm[j]) / xn[sel] / qn[j], 6)
                out["query_id"].append(np.full(order_j.size, qi[j]))
                out["neighbor_id"].append(ids[order_j])
                out["pq_cosine"].append(vals[order_j])
                out["cosine"].append(ex)
            yield pd.DataFrame({
                c: np.concatenate(v) for c, v in out.items()})

    cand = (emb.where(F.col("vec_id") % corpus_mod == 0)
            .select("vec_id", "embedding").mapInPandas(
        part_topk, schema="query_id long, neighbor_id long, "
                          "pq_cosine double, cosine double"))
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("pq_cosine").desc(), F.col("neighbor_id"))
    # unlike ann_pq_matmul, every emitted cosine is finite (zero-norm
    # candidates were dropped before scoring), so no NaN/NULL guard
    short = (cand.withColumn("prank", F.row_number().over(wshort))
             .where(F.col("prank") <= PQ_RERANK))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (short.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


# --- trained-codebook PQ (per-subspace Lloyd k-means, the FAISS recipe) -----
#
# The prefix quantizer above is deterministic but untrained — the one
# place the PQ family simplified the algorithm it names. This operator
# closes that gap: codebooks are TRAINED per subspace with Lloyd
# k-means under L2 (FAISS ProductQuantizer::train), then the search is
# the same ADC + exact-re-rank pipeline. Training is expressed as a
# fixed number of UNROLLED iterations in the dual-dialect SQL template
# itself, so the DuckDB oracle runs the IDENTICAL training — no fitted
# constants to pin, the eval_trained discipline without the literals.
#
# Determinism: assignments argmin on round(d2, 6) with code tie-break;
# centroid updates sum integer micro-units (floor(val*1e6 + 0.5) as
# BIGINT) so reduction order cannot move the mean — the
# embed_kmeans_lloyd discipline per subspace. Codes that lose all
# members simply drop out of the next codebook (both engines alike).
#
# 100 TB shape: each iteration is one (vec, m, code)-keyed distance agg
# + one argmin window + one (code, m, pos)-keyed mean — the standard
# distributed k-means shuffle pattern, looped a FIXED small number of
# times; corpus_mod doubles as the training-sample knob (FAISS trains
# codebooks on a corpus sample too, then encodes everything).
#
# Cross-engine boundary-tie caveat (r6 ADVICE): the iteration-i
# assignment breaks ties on round(d2, 6) (and the IVFADC coarse loop on
# round(ccos, 6)). The raw d2/ccos SUMs are floating-point, so a
# last-ulp summation-order difference between engines at an EXACT
# .5e-6 rounding boundary could flip one assignment — and unlike the
# serving twins' 2e-6 output-tie window, a training-loop flip AMPLIFIES:
# the flipped member shifts its two candidate centroids' means, which
# can cascade through later iterations into visibly different
# codebooks. The centroid UPDATE is already exact (integer micro-unit
# sums); the assignment DISTANCE is the remaining float surface. The
# gate has never observed a flip (driver hash-equality at every round
# since r6), but the risk is structural and documented here rather
# than silently absorbed; an integer-micro-unit d2 would close it at
# the cost of changing the proven template's semantics.

PQT_CODES = 32                 # trained codewords per subspace
PQT_ITERS = 2                  # unrolled Lloyd iterations


def _pq_train_steps(iters: int, cand_rel: str = "scand",
                    enc: str = "enc", asg: str = "asg") -> tuple[list, str]:
    """The unrolled per-subspace Lloyd iterations (cb0 -> cb{iters});
    shared by the PQ and IVFADC trained templates."""
    steps = []
    prev = "cb0"
    for i in range(1, iters + 1):
        steps.append(f"""
{enc}{i} AS (
  SELECT s.vec_id, s.m, c.code,
         SUM((s.val - c.cval) * (s.val - c.cval)) AS d2
  FROM {cand_rel} s JOIN {prev} c ON c.m = s.m AND c.pos = s.pos
  GROUP BY s.vec_id, s.m, c.code
),
{asg}{i} AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY round(d2, 6), code) AS rn
    FROM {enc}{i}
  ) WHERE rn = 1
),
cb{i} AS (
  SELECT a.code, s.m, s.pos,
         SUM(CAST(floor(s.val * 1000000 + 0.5) AS BIGINT))
           / (COUNT(*) * 1000000.0) AS cval
  FROM {asg}{i} a
  JOIN {cand_rel} s ON s.vec_id = a.vec_id AND s.m = a.m
  GROUP BY a.code, s.m, s.pos
)""")
        prev = f"cb{i}"
    return steps, prev


def ann_pq_trained_cb_sql(dialect: str, rel: str = "embeddings",
                          corpus_mod: int = PQ_TWIN_CORPUS_MOD,
                          codes: int = PQT_CODES,
                          iters: int = PQT_ITERS) -> str:
    """JUST the trained codebook relation (code, m, pos, cval) — the
    Spark execution path materializes this once (eager localCheckpoint
    behind a temp view) because Spark INLINES SQL CTEs: the serving
    body references the codebook three times (encode, norms, LUT), so
    the self-contained template re-ran the whole training chain per
    reference (64 exchanges in the sf0.01 plan audit). The oracle
    keeps the self-contained inline template — DuckDB materializes
    CTEs, so staging only makes the engines' work symmetric."""
    steps, prev = _pq_train_steps(iters)
    train = ",".join(steps)
    train = f",{train}" if train else ""
    return f"""
WITH {_exploded_cte(dialect, rel)},
sub AS (
  SELECT vec_id, pos, val, CAST(floor((pos - 1) / {PQ_SUB}) AS INT) AS m
  FROM vecs
),
scand AS (SELECT * FROM sub WHERE vec_id % {corpus_mod} = 0),
cb0 AS (
  SELECT vec_id AS code, m, pos, val AS cval FROM sub
  WHERE vec_id < {codes}
){train}
SELECT * FROM {prev}
"""


def ann_pq_trained_topk_sql(dialect: str, rel: str = "embeddings",
                            k: int = 5, query_mod: int = 50,
                            rerank: int = PQ_RERANK,
                            corpus_mod: int = PQ_TWIN_CORPUS_MOD,
                            codes: int = PQT_CODES,
                            iters: int = PQT_ITERS,
                            cb_rel: str | None = None) -> str:
    """Output: query_id, neighbor_id, rank, cosine (exact, rounded
    1e-6). ``iters=0`` degrades to the prefix quantizer at ``codes``
    codewords — the recall baseline the trained codebook must beat
    (tests/test_ann_recall.py). ``cb_rel`` swaps the inline training
    chain for a PRE-MATERIALIZED :func:`ann_pq_trained_cb_sql`
    relation (the Spark execution path; see that docstring)."""
    if cb_rel is not None:
        train, prev = f",\ncbm AS (SELECT * FROM {cb_rel})", "cbm"
    else:
        steps, prev = _pq_train_steps(iters)
        train = ",".join(steps)
        train = f",{train}" if train else ""
    return f"""
WITH {_exploded_cte(dialect, rel)},
sub AS (
  SELECT vec_id, pos, val, CAST(floor((pos - 1) / {PQ_SUB}) AS INT) AS m
  FROM vecs
),
scand AS (SELECT * FROM sub WHERE vec_id % {corpus_mod} = 0),
cb0 AS (
  SELECT vec_id AS code, m, pos, val AS cval FROM sub
  WHERE vec_id < {codes}
){train},
encf AS (
  SELECT s.vec_id, s.m, c.code,
         SUM((s.val - c.cval) * (s.val - c.cval)) AS d2
  FROM scand s JOIN {prev} c ON c.m = s.m AND c.pos = s.pos
  GROUP BY s.vec_id, s.m, c.code
),
fcodes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY round(d2, 6), code) AS rn
    FROM encf
  ) WHERE rn = 1
),
cbn AS (SELECT m, code, SUM(cval * cval) AS c2 FROM {prev}
        GROUP BY m, code),
rnorm AS (
  SELECT v.vec_id, sqrt(SUM(b.c2)) AS rn
  FROM fcodes v JOIN cbn b ON b.m = v.m AND b.code = v.code
  GROUP BY v.vec_id HAVING SUM(b.c2) > 0
),
qlut AS (
  SELECT s.vec_id AS query_id, c.m, c.code, SUM(s.val * c.cval) AS dot
  FROM sub s JOIN {prev} c ON c.m = s.m AND c.pos = s.pos
  WHERE s.vec_id % {query_mod} = 0
  GROUP BY s.vec_id, c.m, c.code
),
adot AS (
  SELECT l.query_id, x.vec_id AS neighbor_id, SUM(l.dot) AS dot
  FROM fcodes x JOIN qlut l ON l.m = x.m AND l.code = x.code
  WHERE x.vec_id <> l.query_id
  GROUP BY l.query_id, x.vec_id
),
pqcos AS (
  SELECT a.query_id, a.neighbor_id,
         round(a.dot / (nq.norm * r.rn), 6) AS pq_cosine
  FROM adot a
  JOIN norms nq ON nq.vec_id = a.query_id
  JOIN rnorm r ON r.vec_id = a.neighbor_id
),
shortr AS (
  SELECT query_id, neighbor_id, pq_cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY pq_cosine DESC, neighbor_id)
           AS prank
  FROM pqcos
),
short AS (
  -- SLACK cut (r9 fix for the one sf0.1 shortlist-boundary flip): keep
  -- every candidate within 1e-6 of the rank-{rerank} ADC score instead
  -- of cutting on rank alone, so a last-ulp cross-engine difference at
  -- a 0.5e-6 rounding boundary cannot flip shortlist MEMBERSHIP — the
  -- exact re-rank, not the ADC tie, decides. 1.5e-6 admits exactly one
  -- 1e-6 grid step below the cut regardless of float representation; a
  -- divergence now needs a two-step straddle (cut AND candidate both
  -- off by a step, opposite directions). The threshold comes from a
  -- WINDOW over shortr, not a self-join — shortr referenced twice
  -- makes a re-inlining engine run the whole ADC chain twice
  -- (measured: +4 s on the trained-IVFADC template).
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, pq_cosine,
           MIN(CASE WHEN prank <= {rerank} THEN pq_cosine END)
             OVER (PARTITION BY query_id) AS cutc
    FROM shortr
  ) _s WHERE pq_cosine >= cutc - 1.5e-6
),
rdots AS (
  SELECT s.query_id, s.neighbor_id, SUM(q.val * c.val) AS dot
  FROM short s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id AND c.pos = q.pos
  GROUP BY s.query_id, s.neighbor_id
),
rcos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM rdots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rcos
) WHERE rank <= {k}
"""


def trained_pq_cb_df(spark, sf_dir: str,
                     corpus_mod: int = PQ_TWIN_CORPUS_MOD,
                     codes: int = PQT_CODES,
                     iters: int = PQT_ITERS) -> DataFrame:
    """The checkpointed fitted-codebook relation of
    ann_pq_trained_cb_sql — the shared training artifact both trained
    template queries consume (r13: exposed so the entry can memoize the
    fit per (session, sf_dir) the way eval_trained_metrics memoizes its
    fitted heads; the bench reports the first-call cost as ``cold``)."""
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("cpss_embeddings")
    return spark.sql(ann_pq_trained_cb_sql(
        "spark", "cpss_embeddings", corpus_mod, codes, iters)) \
        .localCheckpoint(eager=True)


def trained_ivfpq_cent_df(spark, sf_dir: str,
                          corpus_mod: int = PQ_TWIN_CORPUS_MOD,
                          n_cells: int = NUM_CENTROIDS,
                          km_iters: int = LLOYD_ITERS) -> DataFrame:
    """The checkpointed coarse-centroid relation of
    ann_ivfpq_trained_cent_sql (see trained_pq_cb_df)."""
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("cpss_embeddings")
    return spark.sql(ann_ivfpq_trained_cent_sql(
        "spark", "cpss_embeddings", corpus_mod, n_cells, km_iters)) \
        .localCheckpoint(eager=True)


def ann_pq_trained_topk(spark, sf_dir: str, k: int = 5, query_mod: int = 50,
                        corpus_mod: int = PQ_TWIN_CORPUS_MOD,
                        iters: int = PQT_ITERS,
                        cb: DataFrame | None = None) -> DataFrame:
    """Dual-dialect template execution of the trained-codebook PQ.
    The codebook trains ONCE into a checkpointed view (see
    ann_pq_trained_cb_sql — Spark inlines CTEs, so the inline form
    re-ran the training chain per downstream reference). ``cb`` lets
    the entry hand over the memoized fit (trained_pq_cb_df)."""
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("cpss_embeddings")
    if cb is None:
        cb = trained_pq_cb_df(spark, sf_dir, corpus_mod, PQT_CODES, iters)
    cb.createOrReplaceTempView("cpss_pqt_cb")
    return spark.sql(ann_pq_trained_topk_sql(
        "spark", "cpss_embeddings", k, query_mod, PQ_RERANK, corpus_mod,
        PQT_CODES, iters, cb_rel="cpss_pqt_cb"))


def ann_ivfpq_trained_cent_sql(dialect: str, rel: str = "embeddings",
                               corpus_mod: int = PQ_TWIN_CORPUS_MOD,
                               n_cells: int = NUM_CENTROIDS,
                               km_iters: int = LLOYD_ITERS) -> str:
    """JUST the trained coarse-centroid relation (cid, pos, cval) —
    the Spark-path materialization seam for the IVFADC template (the
    ann_pq_trained_cb_sql rationale: Spark inlines CTEs, so the inline
    chain re-ran coarse training per downstream reference)."""
    coarse = _ivfpq_coarse_steps(km_iters, n_cells)
    return f"""
WITH {_exploded_cte(dialect, rel)},
scand AS (SELECT * FROM vecs WHERE vec_id % {corpus_mod} = 0),
{','.join(coarse).lstrip()}
SELECT * FROM cent{km_iters}
"""


def _ivfpq_coarse_steps(km_iters: int, n_cells: int) -> list[str]:
    coarse = [f"""
cent0 AS (
  SELECT vec_id AS cid, pos, val AS cval FROM vecs
  WHERE vec_id < {n_cells}
),
cnorm0 AS (
  SELECT cid, sqrt(SUM(cval * cval)) AS cnorm FROM cent0
  GROUP BY cid HAVING SUM(cval * cval) > 0
)"""]
    for i in range(km_iters):
        coarse.append(f"""
kcc{i} AS (
  SELECT v.vec_id, c.cid,
         SUM(v.val * c.cval) / (nv.norm * nc.cnorm) AS ccos
  FROM scand v
  JOIN cent{i} c ON c.pos = v.pos
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN cnorm{i} nc ON nc.cid = c.cid
  GROUP BY v.vec_id, c.cid, nv.norm, nc.cnorm
),
kasg{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY round(ccos, 6) DESC, cid) AS rk
    FROM kcc{i}
  ) _r WHERE rk = 1
),
cent{i + 1} AS (
  SELECT a.cid, v.pos,
         CAST(SUM(CAST(floor(v.val * 1000000 + 0.5) AS BIGINT))
              AS DOUBLE) / (COUNT(*) * 1000000.0) AS cval
  FROM kasg{i} a JOIN scand v ON v.vec_id = a.vec_id
  GROUP BY a.cid, v.pos
),
cnorm{i + 1} AS (
  SELECT cid, sqrt(SUM(cval * cval)) AS cnorm
  FROM cent{i + 1} GROUP BY cid HAVING SUM(cval * cval) > 0
)""")
    return coarse


def ann_ivfpq_trained_topk_sql(dialect: str, rel: str = "embeddings",
                               k: int = 5, query_mod: int = 50,
                               rerank: int = PQ_RERANK,
                               corpus_mod: int = PQ_TWIN_CORPUS_MOD,
                               codes: int = PQT_CODES,
                               iters: int = PQT_ITERS,
                               n_cells: int = NUM_CENTROIDS,
                               nprobe: int = NPROBE,
                               km_iters: int = LLOYD_ITERS,
                               trained_rels: tuple[str, str] | None = None
                               ) -> str:
    """The FULLY-trained IVFADC stack (FAISS IndexIVFPQ::train): the
    coarse quantizer is Lloyd-trained under cosine over full vectors
    (the kmeans_lloyd_sql discipline — rounded assignment, integer
    micro-unit means) AND the PQ codebooks are Lloyd-trained per
    subspace under L2 (the ann_pq_trained_topk discipline), both
    unrolled INSIDE the dual-dialect template so DuckDB trains
    identically. Training runs on the corpus_mod sample (FAISS trains
    on a sample too); search assigns candidates + queries to the
    trained cells, probes ``nprobe`` cells per query, ADC-scores via
    lookup tables, and exactly re-ranks the shortlist.

    ``km_iters=0`` + ``iters=0`` degrades to the prefix-quantizer
    ann_ivfpq shape at ``codes`` codewords — the recall baseline
    (tests/test_ann_recall.py).

    Output: query_id, neighbor_id, rank, cosine (exact, rounded 1e-6).

    ``trained_rels=(cent_rel, cb_rel)`` swaps BOTH inline training
    chains for pre-materialized artifacts (the Spark execution path —
    ann_pq_trained_cb_sql / ann_ivfpq_trained_cent_sql rationale);
    cnorm re-derives from the materialized centroids in place (a
     16-row aggregation).
    """
    km_last = km_iters
    if trained_rels is not None:
        cent_rel, cb_rel = trained_rels
        coarse = [f"""
cent{km_last} AS (SELECT * FROM {cent_rel}),
cnorm{km_last} AS (
  SELECT cid, sqrt(SUM(cval * cval)) AS cnorm
  FROM cent{km_last} GROUP BY cid HAVING SUM(cval * cval) > 0
)"""]
        pq = [f"""
cbm AS (SELECT * FROM {cb_rel})"""]
        prev = "cbm"
    else:
        # --- coarse quantizer training (cosine k-means, full vectors)
        coarse = _ivfpq_coarse_steps(km_iters, n_cells)
        # --- PQ codebook training (L2 k-means per subspace)
        pq = [f"""
cb0 AS (
  SELECT vec_id AS code, m, pos, val AS cval FROM sub
  WHERE vec_id < {codes}
)"""]
        steps, prev = _pq_train_steps(iters, cand_rel="subc",
                                      enc="penc", asg="pasg")
        pq += steps
    return f"""
WITH {_exploded_cte(dialect, rel)},
scand AS (SELECT * FROM vecs WHERE vec_id % {corpus_mod} = 0),
sub AS (
  SELECT vec_id, pos, val, CAST(floor((pos - 1) / {PQ_SUB}) AS INT) AS m
  FROM vecs
),
subc AS (SELECT * FROM sub WHERE vec_id % {corpus_mod} = 0),
{','.join(coarse).lstrip()},
{','.join(pq).lstrip()},
cell_cos AS (
  SELECT v.vec_id, c.cid,
         SUM(v.val * c.cval) / (nv.norm * nc.cnorm) AS ccos
  FROM vecs v
  JOIN cent{km_last} c ON c.pos = v.pos
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN cnorm{km_last} nc ON nc.cid = c.cid
  WHERE v.vec_id % {corpus_mod} = 0 OR v.vec_id % {query_mod} = 0
  GROUP BY v.vec_id, c.cid, nv.norm, nc.cnorm
),
ranked_cells AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(ccos, 6) DESC, cid) AS crank
  FROM cell_cos
),
assign AS (SELECT vec_id, cid FROM ranked_cells
           WHERE crank = 1 AND vec_id % {corpus_mod} = 0),
probes AS (
  SELECT vec_id AS query_id, cid FROM ranked_cells
  WHERE crank <= {nprobe} AND vec_id % {query_mod} = 0
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
encf AS (
  SELECT s.vec_id, s.m, c.code,
         SUM((s.val - c.cval) * (s.val - c.cval)) AS d2
  FROM subc s JOIN {prev} c ON c.m = s.m AND c.pos = s.pos
  GROUP BY s.vec_id, s.m, c.code
),
fcodes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY round(d2, 6), code) AS rn
    FROM encf
  ) WHERE rn = 1
),
cbn AS (SELECT m, code, SUM(cval * cval) AS c2 FROM {prev}
        GROUP BY m, code),
rnorm AS (
  SELECT v.vec_id, sqrt(SUM(b.c2)) AS rn
  FROM fcodes v JOIN cbn b ON b.m = v.m AND b.code = v.code
  GROUP BY v.vec_id HAVING SUM(b.c2) > 0
),
qlut AS (
  SELECT s.vec_id AS query_id, c.m, c.code, SUM(s.val * c.cval) AS dot
  FROM sub s JOIN {prev} c ON c.m = s.m AND c.pos = s.pos
  WHERE s.vec_id % {query_mod} = 0
  GROUP BY s.vec_id, c.m, c.code
),
adot AS (
  SELECT c.query_id, c.neighbor_id, SUM(l.dot) AS dot
  FROM cand c
  JOIN fcodes x ON x.vec_id = c.neighbor_id
  JOIN qlut l ON l.query_id = c.query_id AND l.m = x.m
             AND l.code = x.code
  GROUP BY c.query_id, c.neighbor_id
),
pqcos AS (
  SELECT a.query_id, a.neighbor_id,
         round(a.dot / (nq.norm * r.rn), 6) AS pq_cosine
  FROM adot a
  JOIN norms nq ON nq.vec_id = a.query_id
  JOIN rnorm r ON r.vec_id = a.neighbor_id
),
shortr AS (
  SELECT query_id, neighbor_id, pq_cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY pq_cosine DESC, neighbor_id)
           AS prank
  FROM pqcos
),
short AS (
  -- SLACK cut (r9 fix for the one sf0.1 shortlist-boundary flip): keep
  -- every candidate within 1e-6 of the rank-{rerank} ADC score instead
  -- of cutting on rank alone, so a last-ulp cross-engine difference at
  -- a 0.5e-6 rounding boundary cannot flip shortlist MEMBERSHIP — the
  -- exact re-rank, not the ADC tie, decides. 1.5e-6 admits exactly one
  -- 1e-6 grid step below the cut regardless of float representation; a
  -- divergence now needs a two-step straddle (cut AND candidate both
  -- off by a step, opposite directions). The threshold comes from a
  -- WINDOW over shortr, not a self-join — shortr referenced twice
  -- makes a re-inlining engine run the whole ADC chain twice
  -- (measured: +4 s on the trained-IVFADC template).
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, pq_cosine,
           MIN(CASE WHEN prank <= {rerank} THEN pq_cosine END)
             OVER (PARTITION BY query_id) AS cutc
    FROM shortr
  ) _s WHERE pq_cosine >= cutc - 1.5e-6
),
rdots AS (
  SELECT s.query_id, s.neighbor_id, SUM(q.val * c.val) AS dot
  FROM short s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id AND c.pos = q.pos
  GROUP BY s.query_id, s.neighbor_id
),
rcos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM rdots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rcos
) WHERE rank <= {k}
"""


def ann_ivfpq_trained_topk(spark, sf_dir: str,
                           corpus_mod: int = PQ_TWIN_CORPUS_MOD,
                           iters: int = PQT_ITERS, km_iters: int = LLOYD_ITERS,
                           cent: DataFrame | None = None,
                           cb: DataFrame | None = None) -> DataFrame:
    """Dual-dialect template execution of the fully-trained IVFADC.
    Both training chains materialize ONCE into checkpointed views
    (Spark inlines CTEs — the inline form re-ran coarse training and
    codebook training per downstream reference). ``cent``/``cb`` let
    the entry hand over the memoized fits (trained_ivfpq_cent_df /
    trained_pq_cb_df — the cb artifact is the identical relation
    ann_pq_trained_topk trains, so the two queries share one fit)."""
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("cpss_embeddings")
    if cent is None:
        cent = trained_ivfpq_cent_df(spark, sf_dir, corpus_mod,
                                     NUM_CENTROIDS, km_iters)
    cent.createOrReplaceTempView("cpss_ivfpqt_cent")
    if cb is None:
        cb = trained_pq_cb_df(spark, sf_dir, corpus_mod, PQT_CODES, iters)
    cb.createOrReplaceTempView("cpss_ivfpqt_cb")
    return spark.sql(ann_ivfpq_trained_topk_sql(
        "spark", "cpss_embeddings", 5, 50, PQ_RERANK, corpus_mod,
        PQT_CODES, iters, NUM_CENTROIDS, NPROBE, km_iters,
        trained_rels=("cpss_ivfpqt_cent", "cpss_ivfpqt_cb")))


# --- trained-codebook PQ SERVING twin (r6-verdict item #2) ------------------
#
# ann_pq_trained_topk proved the trained-codebook SEMANTICS (training
# unrolled in the dual-dialect template so DuckDB trains identically);
# this is the matching SERVING shape: fit once, broadcast the fitted
# codebooks, stream the corpus through the one-pass mapInPandas
# ADC-LUT gather + shortlist-only exact re-rank of ann_pq_matmul. At
# 100 TB the training job is bounded (the corpus_mod sample), the
# codebook artifact is tiny (codes x DIMS doubles), and the serving
# job touches each candidate exactly once with no joins.

def trained_pq_codebook_sql(dialect: str, rel: str = "embeddings",
                            corpus_mod: int = PQ_TWIN_CORPUS_MOD) -> str:
    """JUST the per-subspace Lloyd training chain of
    ann_pq_trained_topk_sql, projected to the fitted codebook
    (m, code, pos, cval). The CTE text mirrors the trained template
    byte-for-byte (same floor-micro-unit centroid means, same
    round(d2, 6) + code-asc assignment tie-break) so the fitted
    codebook is THE one the oracle-parity template trains — pinned
    mechanically by tests/test_ann_recall.py::
    test_trained_pq_serving_twin_equality."""
    steps = []
    prev = "cb0"
    for i in range(1, PQT_ITERS + 1):
        steps.append(f"""
enc{i} AS (
  SELECT s.vec_id, s.m, c.code,
         SUM((s.val - c.cval) * (s.val - c.cval)) AS d2
  FROM scand s JOIN {prev} c ON c.m = s.m AND c.pos = s.pos
  GROUP BY s.vec_id, s.m, c.code
),
asg{i} AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY round(d2, 6), code) AS rn
    FROM enc{i}
  ) WHERE rn = 1
),
cb{i} AS (
  SELECT a.code, s.m, s.pos,
         SUM(CAST(floor(s.val * 1000000 + 0.5) AS BIGINT))
           / (COUNT(*) * 1000000.0) AS cval
  FROM asg{i} a
  JOIN scand s ON s.vec_id = a.vec_id AND s.m = a.m
  GROUP BY a.code, s.m, s.pos
)""")
        prev = f"cb{i}"
    train = ",".join(steps)
    train = f",{train}" if train else ""
    return f"""
WITH {_exploded_cte(dialect, rel)},
sub AS (
  SELECT vec_id, pos, val, CAST(floor((pos - 1) / {PQ_SUB}) AS INT) AS m
  FROM vecs
),
scand AS (SELECT * FROM sub WHERE vec_id % {corpus_mod} = 0),
cb0 AS (
  SELECT vec_id AS code, m, pos, val AS cval FROM sub
  WHERE vec_id < {PQT_CODES}
){train}
SELECT m, code, pos, cval FROM {prev}
"""


def _trained_pq_codebooks(spark, rel: str,
                          train_mod: int = PQ_TWIN_CORPUS_MOD):
    """Run the (bounded: train_mod sample) training job once and collect
    the fitted codebook — PQT_CODES x DIMS doubles, a few KB. Returns
    (CBm list of (PQT_CODES, PQ_SUB) arrays, cb_norm2 (PQ_M, PQT_CODES),
    present (PQ_M, PQT_CODES) bool mask): the _pq_codebooks contract, so
    the serving kernel is shared with the prefix-codebook path.
    Codewords that lose every vector during an iteration drop out of
    the fitted codebook exactly as in the SQL template (GROUP BY over
    assigned codes only) — and they drop out PER SUBSPACE: Lloyd can
    starve (m=5, code=7) while (m=3, code=7) survives, so presence is
    a 2-D mask, not a global id list (the r8 sf0.1 flip's root
    cause)."""
    import numpy as np
    rows = spark.sql(trained_pq_codebook_sql(
        "spark", rel, train_mod)).collect()
    CB = np.zeros((PQT_CODES, DIMS), dtype=np.float64)
    present = np.zeros((PQ_M, PQT_CODES), dtype=bool)
    for r in rows:
        CB[r.code, r.m * PQ_SUB + (r.pos - 1) % PQ_SUB] = r.cval
        present[r.m, r.code] = True
    CBm = [CB[:, m * PQ_SUB:(m + 1) * PQ_SUB] for m in range(PQ_M)]
    cb_norm2 = np.stack([np.sum(c * c, axis=1) for c in CBm])
    return CBm, cb_norm2, present


def ann_pq_trained_matmul(spark, sf_dir: str, k: int = 5, query_mod: int = 50,
                          corpus_mod: int = PQ_TWIN_CORPUS_MOD,
                          train_mod: int | None = None) -> DataFrame:
    """Trained-codebook PQ serving path: the ann_pq_matmul one-pass
    mapInPandas kernel (in-batch ADC-LUT gather, shortlist-only exact
    re-rank, partitions x nq x PQ_RERANK shuffle rows) fed by the
    Lloyd-TRAINED codebooks instead of the vec_id-prefix ones.

    Train/serve split: ``train_mod`` bounds the training sample
    (default = ``corpus_mod``, matching ann_pq_trained_topk_sql where
    ``scand`` is both the training sample and the candidate set, so the
    registered entry shares that oracle verbatim); production serving
    passes corpus_mod=1 to stream the FULL corpus against the same
    fitted artifact — FAISS's train-on-a-sample, encode-everything
    recipe. Equal to ann_pq_trained_topk up to the same 1e-6
    rounding-boundary ties as the other matmul twins (abs=2e-6 in
    tests/test_ann_recall.py)."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.createOrReplaceTempView("cpss_embeddings")
    if train_mod is None:
        train_mod = corpus_mod
    CBm, cb_norm2, present = _trained_pq_codebooks(
        spark, "cpss_embeddings", train_mod)
    q_ids, Q, q_norm = _collect_queries(emb, query_mod)
    LUT = [Q[:, m * PQ_SUB:(m + 1) * PQ_SUB] @ CBm[m].T
           for m in range(PQ_M)]
    bc = spark.sparkContext.broadcast(
        (q_ids, Q, q_norm, LUT, CBm, cb_norm2, present))

    def part_topk(batches):
        import numpy as np
        import pandas as pd
        qi, qm, qn, lut, cbm, cn2, pres = bc.value
        if qi.size == 0 or not np.any(pres):
            return
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            x_ids = pdf["vec_id"].to_numpy(np.int64)
            pq_codes, r2 = _pq_encode(X, cbm, cn2, pres)
            keep_r = r2 > 0
            X, x_ids, pq_codes, r2 = (X[keep_r], x_ids[keep_r],
                                      pq_codes[keep_r], r2[keep_r])
            if not len(X):
                continue
            rn = np.sqrt(r2)
            c_norm = np.linalg.norm(X, axis=1)
            dots = np.zeros((len(X), qi.size))
            for m in range(PQ_M):
                dots += lut[m][:, pq_codes[:, m]].T
            pq = np.round(dots / (rn[:, None] * qn[None, :]), 6)
            out = {"query_id": [], "neighbor_id": [], "pq_cosine": [],
                   "cosine": []}
            for j in range(qi.size):
                keep_idx = np.flatnonzero(x_ids != qi[j])
                ids, vals = x_ids[keep_idx], pq[keep_idx, j]
                order = np.lexsort((ids, -vals))
                if order.size > PQ_RERANK:
                    # per-partition SLACK cut (mirrors the template's
                    # 1.5e-6 shortlist slack): keep everything within
                    # one 1e-6 grid step of the rank-PQ_RERANK ADC score
                    cut = vals[order[PQ_RERANK - 1]] - 1.5e-6
                    order = order[vals[order] >= cut]
                sel = keep_idx[order]
                den = np.where(c_norm[sel] > 0, c_norm[sel], np.nan)
                ex = np.round((X[sel] @ qm[j]) / den / qn[j], 6)
                out["query_id"].append(np.full(order.size, qi[j]))
                out["neighbor_id"].append(ids[order])
                out["pq_cosine"].append(vals[order])
                out["cosine"].append(ex)
            yield pd.DataFrame({
                c: np.concatenate(v) for c, v in out.items()})

    cand = (emb.where(F.col("vec_id") % corpus_mod == 0)
            .select("vec_id", "embedding").mapInPandas(
        part_topk,
        schema="query_id long, neighbor_id long, "
               "pq_cosine double, cosine double"))
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("pq_cosine").desc(), F.col("neighbor_id"))
    # global SLACK cut (r9 fix, mirrors the template): the threshold is
    # the rank-PQ_RERANK ADC score; keep everything within one 1e-6 grid
    # step of it so shortlist membership cannot flip on a last-ulp
    # cross-engine difference. MIN over the prank<=PQ_RERANK rows is that
    # threshold; when a query has fewer than PQ_RERANK candidates the
    # MIN spans them all and the filter keeps them all.
    # zero-true-norm candidates: NaN may arrive as NaN OR NULL through
    # Arrow; both guards required (see ann_pq_matmul)
    cutc = F.min(F.when(F.col("prank") <= PQ_RERANK,
                        F.col("pq_cosine"))).over(
        Window.partitionBy("query_id"))
    short = (cand.withColumn("prank", F.row_number().over(wshort))
             .withColumn("cutc", cutc)
             .where((F.col("pq_cosine") >= F.col("cutc") - F.lit(1.5e-6))
                    & F.col("cosine").isNotNull()
                    & ~F.isnan(F.col("cosine"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (short.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


# --- SemDeDup: semantic dedup keep-list over embeddings (r7) ----------------
#
# The embedding-space dedup verdict of Abbas et al. 2023 ("SemDeDup:
# data-efficient learning at web-scale through semantic deduplication",
# public arXiv 2303.09540): cluster the corpus in embedding space,
# compare pairs ONLY within a cluster, and drop all but one member of
# each semantic-duplicate group. Clustering reuses the deterministic
# prefix coarse quantizer (embed_cluster_mix / IVF cells); the verdict
# is connected components + MIN-id representative — the repo-wide
# keep-list discipline (the paper keeps the member farthest from the
# centroid; rep choice does not change WHICH groups collapse, and the
# min-id rule is what every other keep-list here pins).
#
# 100 TB shape: within-cell pairing bounds the quadratic (SemDeDup runs
# k ~ N/target so cells stay O(target^2) work); cells past
# SEMDEDUP_MAX_CELL are excluded WHOLE and their members carry
# in_capped_cell = true in the verdict (the r7 phash observability
# rule: an all-keep verdict must be distinguishable from a truncated
# pair input). Engine split: the oracle resolves components with a
# RECURSIVE CTE; Spark 4 restricts recursive CTEs to UNION ALL (which
# diverges on the cyclic pair graph), so the Spark side feeds the SAME
# pair relation to dedup.connected_components — bounded label
# propagation, one keyed shuffle per round.

SEMDEDUP_T = COSINE_DUP_T
SEMDEDUP_MAX_CELL = 2000
#: SemDeDup's own scale recipe is k ~ N/target_cell_size (the paper
#: runs 50k clusters on LAION); the within-cell pair volume is
#: sum(cell^2)/2, so the CELL COUNT — not a cap — is the primary scale
#: knob. 64 prefix cells keep sf0.1 cells ~30 vectors; a 10x corpus
#: probe with the IVF's 16 cells measured a 33x wall-clock slope
#: (PERF.md r7) — raising k restores the linear regime, and cells the
#: cap still catches stay observable via in_capped_cell.
SEMDEDUP_CELLS = 64


def _semdedup_cells_cte(dialect: str, rel: str, n_cells: int) -> str:
    """Shared CTE chain: vecs/norms/cents/assign/cell_n over ``rel``."""
    return f"""
{_exploded_cte(dialect, rel).lstrip()},
cents AS (
  SELECT vec_id AS cid, pos, val FROM vecs WHERE vec_id < {n_cells}
),
cell_cos AS (
  SELECT v.vec_id, c.cid, SUM(v.val * c.val) / (nv.norm * nc.norm) AS ccos
  FROM vecs v
  JOIN cents c ON c.pos = v.pos
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN norms nc ON nc.vec_id = c.cid
  GROUP BY v.vec_id, c.cid, nv.norm, nc.norm
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY round(ccos, 6) DESC, cid) AS crank
    FROM cell_cos
  ) _r WHERE crank = 1
),
cell_n AS (SELECT cid, COUNT(*) AS cn FROM assign GROUP BY cid)"""


def semdedup_keep_list_sql(dialect: str) -> str:
    """The full verdict as ONE statement (the DuckDB oracle rendering;
    component resolution via RECURSIVE CTE). Output: vec_id,
    cluster_rep, keep, in_capped_cell. Zero-norm vectors have no cell
    (no cosine) and keep themselves, like every other universe
    exclusion in this module."""
    cells = _semdedup_cells_cte(dialect, "embeddings", SEMDEDUP_CELLS)
    return f"""
WITH RECURSIVE {cells.lstrip()},
assign_ok AS (
  SELECT a.vec_id, a.cid FROM assign a
  JOIN cell_n n ON n.cid = a.cid WHERE n.cn <= {SEMDEDUP_MAX_CELL}
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assign_ok a JOIN assign_ok b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
),
dots AS (
  SELECT p.vec_a, p.vec_b, SUM(q.val * c.val) AS dot
  FROM pairs p
  JOIN vecs q ON q.vec_id = p.vec_a
  JOIN vecs c ON c.vec_id = p.vec_b AND c.pos = q.pos
  GROUP BY p.vec_a, p.vec_b
),
near AS (
  SELECT d.vec_a, d.vec_b
  FROM dots d
  JOIN norms na ON na.vec_id = d.vec_a
  JOIN norms nb ON nb.vec_id = d.vec_b
  WHERE round(d.dot / (na.norm * nb.norm), 6) >= {SEMDEDUP_T}
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM near
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM near
),
reach(src, node) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (
  SELECT src AS vec_id, MIN(node) AS cluster_rep
  FROM reach GROUP BY src
),
flagged AS (
  SELECT a.vec_id FROM assign a
  JOIN cell_n n ON n.cid = a.cid WHERE n.cn > {SEMDEDUP_MAX_CELL}
),
universe AS (SELECT DISTINCT vec_id FROM embeddings)
SELECT u.vec_id,
       COALESCE(c.cluster_rep, u.vec_id) AS cluster_rep,
       COALESCE(c.cluster_rep, u.vec_id) = u.vec_id AS keep,
       f.vec_id IS NOT NULL AS in_capped_cell
FROM universe u
LEFT JOIN clusters c ON c.vec_id = u.vec_id
LEFT JOIN flagged f ON f.vec_id = u.vec_id
"""


def _cells_assign_matmul(spark, emb: DataFrame,
                         n_cells: int) -> DataFrame:
    """BLAS twin of the _semdedup_cells_cte ``assign`` relation: one
    broadcast of the (bounded, vec_id < n_cells) centroid matrix, one
    mapInPandas matmul pass over the corpus, per-row argmax. Semantics
    mirror the template exactly: cosine rounded 1e-6 BEFORE the
    comparison, ties to the smallest cid (centroids sorted by id, and
    np.argmax returns the first maximum), zero-norm vectors and
    centroids leave the universe (the norms HAVING). No self-exclusion
    — a centroid assigns to itself, as in the template."""
    import numpy as np
    crows = (emb.where(F.col("vec_id") < n_cells)
             .select("vec_id", "embedding").collect())
    c_ids = np.array([r.vec_id for r in crows], dtype=np.int64)
    C = np.array([list(r.embedding) for r in crows],
                 dtype=np.float64).reshape(len(crows), DIMS)
    c_norm = np.linalg.norm(C, axis=1)
    ok = c_norm > 0
    c_ids, C, c_norm = c_ids[ok], C[ok], c_norm[ok]
    order = np.argsort(c_ids)
    c_ids, C, c_norm = c_ids[order], C[order], c_norm[order]
    bc = spark.sparkContext.broadcast((c_ids, C, c_norm))

    def run(batches):
        import numpy as np
        import pandas as pd
        ci, cm, cn = bc.value
        for pdf in batches:
            if not len(pdf) or ci.size == 0:
                continue
            V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            v_ids = pdf["vec_id"].to_numpy(np.int64)
            v_norm = np.linalg.norm(V, axis=1)
            okv = v_norm > 0
            V, v_ids, v_norm = V[okv], v_ids[okv], v_norm[okv]
            if not len(V):
                continue
            cos = np.round((V @ cm.T) / (v_norm[:, None] * cn[None, :]), 6)
            best = np.argmax(cos, axis=1)
            yield pd.DataFrame({"vec_id": v_ids, "cid": ci[best]})

    return emb.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, cid long")


def semdedup_keep_list(spark, sf_dir: str,
                       max_cell: int = SEMDEDUP_MAX_CELL) -> DataFrame:
    """Spark execution. Engine split (see the module comment): the cell
    ASSIGNMENT runs the shared CTE text once and is checkpointed (three
    consumers: cell sizes, pairing, the capped flag — the PERF.md
    shared-relation discipline); pair cosines fold the raw embedding
    arrays with zip_with/aggregate — pure JVM, pairs-many rows, no 64x
    position explode (summation-order differences vs the oracle's SUM
    sit far inside the shared 1e-6 rounding); components resolve via
    dedup.connected_components (bounded label propagation)."""
    from .dedup import connected_components
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.createOrReplaceTempView("cpss_embeddings")
    # r13: the assignment runs through the BLAS twin instead of the
    # template's 64x pos-join explode (identical semantics, see
    # _cells_assign_matmul; the oracle keeps the template CTE)
    assign = _cells_assign_matmul(spark, emb, SEMDEDUP_CELLS) \
        .localCheckpoint(eager=True)
    cell_n = assign.groupBy("cid").agg(F.count("*").alias("cn"))
    assign_ok = (assign.join(cell_n.where(F.col("cn") <= max_cell)
                             .select("cid"), "cid"))
    pairs = (assign_ok.alias("a")
             .join(assign_ok.alias("b"),
                   (F.col("a.cid") == F.col("b.cid"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
             .select(F.col("a.vec_id").alias("vec_a"),
                     F.col("b.vec_id").alias("vec_b")))
    dot = F.aggregate(
        F.zip_with("ea", "eb",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    n2 = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    va = emb.select(F.col("vec_id").alias("vec_a"),
                    F.col("embedding").alias("ea"))
    vb = emb.select(F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("eb"))
    near = (pairs.join(va, "vec_a").join(vb, "vec_b")
            .withColumn("_na", F.sqrt(n2(F.col("ea"))))
            .withColumn("_nb", F.sqrt(n2(F.col("eb"))))
            .where((F.col("_na") > 0) & (F.col("_nb") > 0))
            .where(F.round(dot / (F.col("_na") * F.col("_nb")), 6)
                   >= SEMDEDUP_T)
            .select(F.col("vec_a").alias("doc_a"),
                    F.col("vec_b").alias("doc_b")))
    clusters = connected_components(near) \
        .select(F.col("doc_id").alias("vec_id"), "cluster_rep")
    flagged = (assign.join(cell_n.where(F.col("cn") > max_cell)
                           .select("cid"), "cid")
               .select("vec_id").withColumn("_capped", F.lit(True)))
    out = (emb.select("vec_id").distinct()
           .join(clusters, "vec_id", "left")
           .join(flagged, "vec_id", "left"))
    rep = F.coalesce(F.col("cluster_rep"), F.col("vec_id"))
    return out.select(
        "vec_id", rep.alias("cluster_rep"),
        (rep == F.col("vec_id")).alias("keep"),
        F.coalesce(F.col("_capped"), F.lit(False))
        .alias("in_capped_cell"))


# --- Johnson-Lindenstrauss random-projection ANN (r7 extension) -------------
#
# The standard cheap pre-filter for embedding search at corpus scale:
# project D=64 float dims onto JL_DIMS=32 signed-sum coordinates with a
# DETERMINISTIC +-1 matrix (Achlioptas 2003, "Database-friendly random
# projections" — public result: +-1 entries preserve pairwise distances
# in expectation with the same JL guarantee as Gaussian matrices), then
# run the two-stage serve: reduced-space SHORTLIST (top JL_SHORTLIST
# per query) -> exact re-rank of shortlist pairs only. Each emitted hit
# carries in_exact (membership in the unrestricted full-dim top-k), so
# the recall/compression tradeoff is measured IN the output instead of
# claimed. On this synthetic corpus the embeddings are near-isotropic
# (pairwise cosines cluster tightly), which is the HARD case for coarse
# linear projections: measured recall@5 is ~0.7 at d=32/S=50 — honest
# and visible, versus ~0.96 for the trained-PQ family which keeps all
# 64 sub-dimensions quantized. The exact-twin CTE (edots/etop) exists
# only for this audit and the oracle gate; production serves from the
# shortlist stage.
#
# Projection matrix: s(k, pos) = +-1 from the parity of the first md5
# hex digit of 'jl:<k*1000+pos>' — no RNG, no state, identical in both
# engines (the repo-wide md5-digit discipline). Reduced coordinates are
# rounded 1e-6 BEFORE norms/dots so both engines proceed from identical
# vectors; the remaining SUM-order ulp risk is the acknowledged
# "1e-6 rounding-boundary ties" caveat shared with the cosine family.
#
# 100 TB shape: the projection is a pos-keyed broadcast join (the 1024-
# row sign relation) + one (vec_id, k) partial-sum shuffle — after
# which every downstream stage touches 16 coordinates instead of 64
# (4x less shuffle volume for the pair/dot stages, the entire point);
# the full-dim exact twin exists for the gate and the recall audit and
# is exactly what production skips.

JL_DIMS = 32
#: reduced-space shortlist size for the exact re-rank stage (the
#: two-stage production shape: project -> shortlist -> exact re-rank).
JL_SHORTLIST = 50


def _jl_proj_cte(dialect: str) -> str:
    """proj(k 0-based, pos 1-based, s in {+1.0, -1.0}), deterministic."""
    if dialect == "duckdb":
        gen = (f"SELECT kk, pos FROM (SELECT unnest(range(0, {JL_DIMS}))"
               f" AS kk) _k, (SELECT unnest(range(1, {DIMS + 1})) AS pos) _p")
        cat = "('jl:' || CAST(kk * 1000 + pos AS VARCHAR))"
    else:
        gen = (f"SELECT kk, pos FROM (SELECT explode(sequence(0,"
               f" {JL_DIMS - 1})) AS kk) CROSS JOIN"
               f" (SELECT explode(sequence(1, {DIMS})) AS pos)")
        cat = "concat('jl:', CAST(kk * 1000 + pos AS STRING))"
    return f"""
proj AS (
  SELECT kk, pos,
         CASE WHEN (instr('0123456789abcdef',
                          substr(md5({cat}), 1, 1)) - 1) % 2 = 0
              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS s
  FROM ({gen}) _g
)"""


def jl_topk_sql(dialect: str, rel: str = "embeddings") -> str:
    """Two-stage JL search: reduced-space shortlist, exact re-rank.

    Stage 1 scores every candidate in the 32-dim reduced space and
    keeps the top JL_SHORTLIST per query; stage 2 computes the TRUE
    64-dim cosine ONLY for shortlist pairs and emits the final top-5.
    Output: query_id, neighbor_id, rank, cosine (exact, rounded 1e-6),
    in_exact (1 iff the unrestricted full-dim exact top-k for the same
    query also contains this neighbor — the recall audit; SUM(in_exact)
    / (queries * 5) is recall@5, measured not claimed)."""
    return f"""
WITH {_exploded_cte(dialect, rel)},
{_jl_proj_cte(dialect).lstrip()},
red AS (
  SELECT v.vec_id, p.kk, round(SUM(v.val * p.s), 6) AS rval
  FROM vecs v JOIN proj p ON p.pos = v.pos
  GROUP BY v.vec_id, p.kk
),
rnorms AS (
  SELECT vec_id, sqrt(SUM(rval * rval)) AS rnorm FROM red
  GROUP BY vec_id HAVING SUM(rval * rval) > 0
),
rdots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(q.rval * c.rval) AS dot
  FROM red q JOIN red c ON q.kk = c.kk AND q.vec_id <> c.vec_id
  WHERE q.vec_id % 50 = 0
  GROUP BY q.vec_id, c.vec_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT d.query_id, d.neighbor_id,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY round(d.dot / (nq.rnorm * nc.rnorm), 6) DESC,
                      d.neighbor_id) AS srank
    FROM rdots d
    JOIN rnorms nq ON nq.vec_id = d.query_id
    JOIN rnorms nc ON nc.vec_id = d.neighbor_id
  ) _s WHERE srank <= {JL_SHORTLIST}
),
sdots AS (
  -- exact cosine ONLY for shortlist pairs: Q x S x D work instead of
  -- Q x N x D — the entire point of the projection stage
  SELECT s.query_id, s.neighbor_id, SUM(q.val * c.val) AS dot
  FROM short s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id AND c.pos = q.pos
  GROUP BY s.query_id, s.neighbor_id
),
stop AS (
  SELECT query_id, neighbor_id, rank, cosine FROM (
    SELECT d.query_id, d.neighbor_id,
           round(d.dot / (nq.norm * nc.norm), 6) AS cosine,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY round(d.dot / (nq.norm * nc.norm), 6) DESC,
                      d.neighbor_id) AS rank
    FROM sdots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nc ON nc.vec_id = d.neighbor_id
  ) _t WHERE rank <= 5
),
edots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(q.val * c.val) AS dot
  FROM vecs q JOIN vecs c ON q.pos = c.pos AND q.vec_id <> c.vec_id
  WHERE q.vec_id % 50 = 0
  GROUP BY q.vec_id, c.vec_id
),
etop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT d.query_id, d.neighbor_id,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY round(d.dot / (nq.norm * nc.norm), 6) DESC,
                      d.neighbor_id) AS rank
    FROM edots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nc ON nc.vec_id = d.neighbor_id
  ) _e WHERE rank <= 5
)
SELECT r.query_id, r.neighbor_id, r.rank, r.cosine,
       CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact
FROM stop r
LEFT JOIN etop e ON e.query_id = r.query_id
                AND e.neighbor_id = r.neighbor_id
ORDER BY r.query_id, r.rank
"""


def embed_jl_topk(spark, sf_dir: str) -> DataFrame:
    """JL +-1 projection (64 -> 16 dims) + reduced-space top-k with
    the exact-agreement audit column; see jl_topk_sql."""
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("cpss_jl_embeddings")
    return spark.sql(jl_topk_sql("spark", rel="cpss_jl_embeddings"))


# --- hard-negative mining (contrastive embedding training, r8) ---------------

def hard_negatives_sql(dialect: str, rel: str = "embeddings") -> str:
    """Top-k most-similar OTHER-LABEL neighbors per query vector — the
    hard negatives an embedding-training pipeline mines for contrastive
    loss (in-batch negatives are easy; the valuable ones are near the
    query but labeled differently; public recipe: DPR, Karpukhin et al.
    2020). Same declarative shape as cosine_topk_sql with the label
    inequality pushed into the candidate join, so the parity gate and
    the tie discipline (round 1e-6, neighbor_id tiebreak) carry over
    unchanged; the 100 TB serving story is the matmul twin's one-pass
    BLAS shape with the label filter applied to the per-batch top-k
    universe (cosine_topk_matmul) — mining is a batch job over the
    SAME corpus layout.

    Output: query_id, query_label, neighbor_id, neighbor_label, rank,
    cosine (rounded 1e-6)."""
    return f"""
WITH {_exploded_cte(dialect, rel)},
lab AS (SELECT vec_id, label FROM {rel}),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(q.val * c.val) AS dot
  FROM vecs q JOIN vecs c ON q.pos = c.pos AND q.vec_id <> c.vec_id
  WHERE q.vec_id % 50 = 0
  GROUP BY q.vec_id, c.vec_id
),
cos AS (
  SELECT d.query_id, lq.label AS query_label,
         d.neighbor_id, lc.label AS neighbor_label,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
  JOIN lab lq ON lq.vec_id = d.query_id
  JOIN lab lc ON lc.vec_id = d.neighbor_id
  WHERE lq.label <> lc.label
)
SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cosine
FROM (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cos
) _r WHERE rank <= 5
"""


def embed_hard_negatives(spark, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("cpss_hardneg_embeddings")
    return spark.sql(hard_negatives_sql("spark",
                                        "cpss_hardneg_embeddings"))


# --- kNN label eval (embedding-quality metric) -------------------------------

def knn_eval_sql(dialect: str, rel: str = "embeddings",
                 topk_rel: str | None = None) -> str:
    """k-NN label prediction accuracy — THE embedding-quality probe
    (public: the standard kNN evaluation protocol for representation
    learning, e.g. Wu et al. 2018 instance discrimination): for every
    query vector, the majority label among its k nearest cosine
    neighbors (tie: smallest label) is the prediction; correct =
    prediction equals the query's own label. Same declarative shape as
    cosine_topk_sql / hard_negatives_sql, so the tie discipline (round
    1e-6, neighbor_id tiebreak) and the matmul serving story carry
    over unchanged.

    ``topk_rel`` (Spark side only) swaps the exploded dots/cos/topk
    derivation for an already-computed (query_id, neighbor_id) top-k
    relation — the BLAS kernel's output — keeping the voting tail
    byte-identical.

    Output per query: query_id, true_label, pred_label, n_votes,
    correct."""
    if topk_rel is not None:
        head = f"""
WITH lab AS (SELECT vec_id, label FROM {rel}),
topk AS (SELECT query_id, neighbor_id FROM {topk_rel}),"""
    else:
        head = f"""
WITH {_exploded_cte(dialect, rel)},
lab AS (SELECT vec_id, label FROM {rel}),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(q.val * c.val) AS dot
  FROM vecs q JOIN vecs c ON q.pos = c.pos AND q.vec_id <> c.vec_id
  WHERE q.vec_id % 10 = 0
  GROUP BY q.vec_id, c.vec_id
),
cos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.norm * nc.norm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id)
             AS rank
    FROM cos
  ) _r WHERE rank <= 5
),"""
    return head + f"""
votes AS (
  SELECT t.query_id, lc.label, COUNT(*) AS n
  FROM topk t JOIN lab lc ON lc.vec_id = t.neighbor_id
  GROUP BY t.query_id, lc.label
),
pred AS (
  SELECT query_id, label AS pred_label, n AS n_votes FROM (
    SELECT query_id, label, n,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY n DESC, label) AS vr
    FROM votes
  ) _v WHERE vr = 1
)
SELECT p.query_id, CAST(lq.label AS BIGINT) AS true_label,
       CAST(p.pred_label AS BIGINT) AS pred_label,
       CAST(p.n_votes AS BIGINT) AS n_votes,
       p.pred_label = lq.label AS correct
FROM pred p JOIN lab lq ON lq.vec_id = p.query_id
"""


def embed_knn_eval(spark, sf_dir: str) -> DataFrame:
    """Spark execution (r13): the top-k derivation runs through the
    _brute_matmul_topk BLAS kernel — identical semantics to the
    template's exploded dots (round 1e-6, neighbor_id tiebreak,
    self/zero-norm exclusion; the cosine_topk_matmul equality
    discipline) — instead of inflating every (query, candidate) pair
    64x through the pos join (25.6M product rows at sf0.1, measured
    3.5 s -> ~1 s warm). The voting tail is the template's own SQL
    text via ``topk_rel``; the oracle keeps the full template."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.createOrReplaceTempView("cpss_embeddings_knn")
    topk = _brute_matmul_topk(
        spark, emb.where(F.col("vec_id") % 10 == 0), emb, 5) \
        .select("query_id", "neighbor_id")
    topk.createOrReplaceTempView("cpss_knn_topk")
    return spark.sql(knn_eval_sql("spark", "cpss_embeddings_knn",
                                  topk_rel="cpss_knn_topk"))
