"""Dedup + similarity-search operators on crafted corpora: the
prefix-filtered Jaccard join must equal brute-force all-pairs Jaccard
(the filter is an optimization, never a semantics change), IVF probing
must find the true neighbor when it shares the query's cell, and the
token-counting projection must match hand counts."""

from __future__ import annotations

import itertools

import pytest

from catalog_pii_scanner_spark.operators import dedup, simsearch, textstats


def _write_docs(spark, tmp_path, texts) -> str:
    d = str(tmp_path / "docs")
    rows = [(i, t, "en", "unit", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = [t for t in text.split(" ") if t != ""]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def test_ngram_jaccard_equals_bruteforce(spark, tmp_path):
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy cat today",   # near-dup of 0
        "a completely different document about spark engines",
        "the quick brown fox jumps over the lazy dog today",   # exact dup of 0
        "spark engines need a completely different document",
    ]
    d = _write_docs(spark, tmp_path, texts)
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.ngram_jaccard_pairs(spark, d, 0.5).collect()}

    want = {}
    for a, b in itertools.combinations(range(len(texts)), 2):
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.5:
            want[(a, b)] = round(j, 6)
    assert got == want
    assert (0, 3) in got and got[(0, 3)] == 1.0     # exact dup found
    assert (0, 1) in got                            # near-dup found


def test_token_counts_hand_check(spark, tmp_path):
    d = _write_docs(spark, tmp_path, ["ab cd, 12 x9!"])
    r = textstats.token_counts(spark, d).collect()[0]
    # ws tokens: 'ab' 'cd,' '12' 'x9!'
    assert r.n_ws_tokens == 4
    # bpe: ab / cd / , / 12 / x / 9 / !
    assert r.n_bpe_tokens == 7
    assert r.n_alpha_tokens == 3        # ab, cd, x
    assert r.n_num_tokens == 2          # 12, 9
    assert r.chars_per_bpe_token == pytest.approx(13 / 7, abs=1e-6)


def _write_vecs(spark, tmp_path, vecs) -> str:
    d = str(tmp_path / "vecs")
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d


def test_embed_cosine_pairs_finds_duplicate_vectors(spark, tmp_path):
    dims = simsearch.DIMS
    base = [1.0] + [0.0] * (dims - 1)
    near = [0.999] + [0.001] * (dims - 1)
    ortho = [0.0, 1.0] + [0.0] * (dims - 2)
    d = _write_vecs(spark, tmp_path, [base, near, ortho])
    got = {(r.vec_a, r.vec_b): r.cosine
           for r in simsearch.embed_cosine_pairs(spark, d, 0.9).collect()}
    # identical-signature near-dup pair found with cosine ~1; the
    # orthogonal vector lands in another bucket (and fails the threshold)
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == pytest.approx(1.0, abs=1e-3)


def test_ann_ivf_topk_small(spark, tmp_path):
    # 20 vectors on two orthogonal directions; centroids are vec_id<16 so
    # both directions have centroid coverage; each query's true nearest
    # neighbors share its direction (=> its cell), so IVF probing finds
    # them exactly.
    dims = simsearch.DIMS
    vecs = []
    for i in range(20):
        v = [0.0] * dims
        axis = i % 2
        v[axis] = 1.0
        v[(axis + 2 + i) % dims] = 0.1        # small per-vector noise
        vecs.append(v)
    d = _write_vecs(spark, tmp_path, vecs)
    rows = simsearch.ann_ivf_topk(spark, d, k=3, query_mod=10).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 10}
    for q, rs in by_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2, 3]
        # every returned neighbor shares the query's axis parity
        assert all(r.neighbor_id % 2 == q % 2 for r in rs)
        assert all(r.cosine > 0.8 for r in rs)


def test_connected_components_chain_and_islands(spark):
    """Label propagation must close transitive chains (a-b, b-c => one
    cluster) and keep islands separate."""
    from catalog_pii_scanner_spark.operators.dedup import (
        connected_components)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain -> cluster rep 1
         (10, 11),                    # island -> rep 10
         (20, 22), (21, 22)],         # star  -> rep 20
        "doc_a bigint, doc_b bigint")
    got = {(r.doc_id, r.cluster_rep)
           for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}


def test_dedup_keep_list_keeps_reps_and_singletons(spark, sf_dir):
    """Every cluster keeps exactly its MIN-doc_id representative; docs
    outside any near-dup cluster keep themselves; keep-list covers the
    whole corpus."""
    from catalog_pii_scanner_spark.operators.dedup import (
        dedup_clusters, dedup_keep_list)
    clusters = {r.doc_id: r.cluster_rep
                for r in dedup_clusters(spark, sf_dir).collect()}
    keep = {r.doc_id: (r.cluster_rep, r.keep)
            for r in dedup_keep_list(spark, sf_dir).collect()}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(keep) == n_docs
    for doc, (rep, kept) in keep.items():
        if doc in clusters:
            assert rep == clusters[doc] and kept == (doc == rep)
        else:
            assert rep == doc and kept


def test_cosine_topk_matmul_equals_declarative(spark, sf_dir):
    """The BLAS mapInPandas serving path must return exactly the same
    frame as the declarative exploded-relation form on the real testdata
    vectors (same rounding, same tie-break) — the matmul path is an
    execution strategy, never a semantics change."""
    decl = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in simsearch.cosine_topk(spark, sf_dir, k=5,
                                           query_mod=20).collect()}
    mm = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
          for r in simsearch.cosine_topk_matmul(spark, sf_dir, k=5,
                                                query_mod=20).collect()}
    assert set(decl) == set(mm)
    for key, (nid, cos) in decl.items():
        assert mm[key][0] == nid, key
        assert mm[key][1] == pytest.approx(cos, abs=2e-6)


def test_ann_ivf_matmul_equals_declarative(spark, sf_dir):
    """The IVF+BLAS one-pass search must return exactly the declarative
    IVF's frame (same prefix quantizer, rounding, and tie-breaks) — cell
    assignment, probing, and exact re-rank are execution strategies."""
    decl = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in simsearch.ann_ivf_topk(spark, sf_dir, k=5,
                                            query_mod=20).collect()}
    mm = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
          for r in simsearch.ann_ivf_matmul(spark, sf_dir, k=5,
                                            query_mod=20).collect()}
    assert set(decl) == set(mm)
    for key, (nid, cos) in decl.items():
        assert mm[key][0] == nid, key
        assert mm[key][1] == pytest.approx(cos, abs=2e-6)


def test_ann_lsh_matmul_equals_declarative(spark, sf_dir):
    """The one-pass broadcast-probe-table LSH search must return exactly
    the declarative multi-probe LSH's frame (same planes, probes,
    rounding, tie-breaks)."""
    decl = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in simsearch.ann_lsh_topk(spark, sf_dir, k=5,
                                            query_mod=20).collect()}
    mm = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
          for r in simsearch.ann_lsh_matmul(spark, sf_dir, k=5,
                                            query_mod=20).collect()}
    assert set(decl) == set(mm)
    for key, (nid, cos) in decl.items():
        assert mm[key][0] == nid, key
        assert mm[key][1] == pytest.approx(cos, abs=2e-6)


def test_containment_finds_quote_pair_jaccard_misses(spark, tmp_path):
    """A short doc quoted whole inside a long one: containment-of-smaller
    is 1.0 while Jaccard is far below its threshold — the asymmetric join
    must report the pair, the symmetric one must not."""
    quote = "to be or not to be that is the question"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    texts = [
        quote,                                   # 0: the short doc
        filler + " " + quote + " " + filler,     # 1: quotes doc 0 whole
        "an unrelated corpus document about engines and planners today",
    ]
    d = _write_docs(spark, tmp_path, texts)
    pairs = {(r.doc_a, r.doc_b): r
             for r in dedup.containment_pairs(spark, d).collect()}
    assert (0, 1) in pairs
    r = pairs[(0, 1)]
    n_small = len(_shingles(quote))
    assert r.n_common == n_small          # every quote gram is in doc 1
    assert r.contain_a == 1.0             # doc 0 fully contained
    assert r.contain_b < 0.5              # but doc 1 is much bigger...
    jac = {(p.doc_a, p.doc_b)
           for p in dedup.ngram_jaccard_pairs(spark, d).collect()}
    assert (0, 1) not in jac              # ...so Jaccard misses the pair
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_containment_df_cap_drops_boilerplate_grams(spark, tmp_path):
    """A gram above the df cap leaves the universe entirely: pairs whose
    overlap is ONLY boilerplate disappear, and the excluded-gram
    observability query reports exactly the dropped grams."""
    # 12 boilerplate tokens -> 10 of each doc's 13 grams are shared
    # (0.77 containment), so uncapped runs report every pair
    boiler = ("all rights reserved worldwide please do not redistribute "
              "without explicit written permission")
    texts = [f"document number {i} {boiler}" for i in range(6)]
    d = _write_docs(spark, tmp_path, texts)
    # cap 5 < 6 docs: every gram of the shared boilerplate tail is dropped
    assert dedup.containment_pairs(spark, d, df_cap=5).count() == 0
    excluded = {r.shingle for r in
                dedup.containment_excluded_grams(spark, d, df_cap=5)
                .collect()}
    assert excluded                       # the boilerplate grams
    assert all(df > 5 for df in
               (r.df for r in dedup.containment_excluded_grams(
                   spark, d, df_cap=5).collect()))
    # with no cap the boilerplate-only pairs appear (shared tail grams)
    assert dedup.containment_pairs(spark, d, df_cap=10_000).count() > 0


def test_embed_cluster_mix_partitions_the_corpus(spark, sf_dir):
    """Every vector lands in exactly one cluster: sizes sum to the corpus
    count, shares sum to 1, cohesion is a valid cosine; the MLlib-kmeans
    quantizer drives the identical plan."""
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    rows = simsearch.embed_cluster_mix(spark, sf_dir).collect()
    assert 0 < len(rows) <= simsearch.NUM_CENTROIDS
    assert sum(r.n_vecs for r in rows) == n_vecs
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert all(-1.0 <= r.avg_cos <= 1.0 for r in rows)
    km = simsearch.embed_cluster_mix(spark, sf_dir, quantizer="kmeans") \
        .collect()
    assert sum(r.n_vecs for r in km) == n_vecs
    assert abs(sum(r.share for r in km) - 1.0) < 1e-4


def test_kmeans_lloyd_refines_toward_axis_clusters(spark, tmp_path):
    """On an axis-separable corpus the refined centroids align with the
    member axes, n_assigned covers the corpus, and the loop is
    deterministic run-to-run."""
    dims = simsearch.DIMS
    vecs = []
    for i in range(40):
        v = [0.0] * dims
        v[i % 2] = 1.0
        v[(i % 7) + 3] = 0.05          # small deterministic noise
        vecs.append(v)
    d = _write_vecs(spark, tmp_path, vecs)
    rows = simsearch.embed_kmeans_lloyd(spark, d).collect()
    by_cid = {}
    for r in rows:
        by_cid.setdefault(r.cid, {})[r.pos] = (r.cval, r.n_assigned)
    assert sum(next(iter(c.values()))[1] for c in by_cid.values()) == 40
    for cid, dims_map in by_cid.items():
        # dominant dimension of the refined centroid is axis 1 or 2
        top = max(dims_map, key=lambda p: dims_map[p][0])
        assert top in (1, 2)
        assert dims_map[top][0] > 0.9   # members agree on the axis
    again = {(r.cid, r.pos): (r.cval, r.n_assigned)
             for r in simsearch.embed_kmeans_lloyd(spark, d).collect()}
    assert again == {(r.cid, r.pos): (r.cval, r.n_assigned) for r in rows}


def test_containment_equals_bruteforce_on_random_corpus(spark, tmp_path):
    """Differential: the prefix-filtered, df-capped containment join must
    equal brute-force containment over the same capped gram universe on a
    seeded random corpus (the filter is an optimization, never a
    semantics change)."""
    import random
    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(30)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(4, 25)))
             for _ in range(30)]
    # guarantee qualifying pairs: contiguous slices of earlier docs
    # (full containment of the smaller side) plus one near-slice
    for src in (2, 7, 11):
        toks = texts[src].split(" ")
        if len(toks) >= 8:
            texts.append(" ".join(toks[1:7]))
    texts.append(" ".join(texts[2].split(" ")[:5]) + " w0")
    d = _write_docs(spark, tmp_path, texts)
    t, cap = 0.6, 10

    # brute force over the capped universe
    from collections import Counter
    grams = [_shingles(x) for x in texts]
    df_count = Counter(g for gs in grams for g in gs)
    kept = [{g for g in gs if df_count[g] <= cap} for gs in grams]
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            if not kept[a] or not kept[b]:
                continue
            inter = len(kept[a] & kept[b])
            if inter and inter / min(len(kept[a]), len(kept[b])) >= t:
                want[(a, b)] = (inter,
                                round(inter / len(kept[a]), 6),
                                round(inter / len(kept[b]), 6))
    got = {(r.doc_a, r.doc_b): (r.n_common, r.contain_a, r.contain_b)
           for r in dedup.containment_pairs(spark, d, threshold=t,
                                            df_cap=cap).collect()}
    assert got == want
    assert want, "seeded corpus must produce at least one qualifying pair"


def test_connected_components_random_graph_equals_union_find(spark):
    """Label propagation on seeded random graphs must equal a classic
    union-find: same components, same min-id representative — across
    sparse, dense, chain-heavy, and singleton-rich shapes."""
    import random

    def union_find(edges, nodes):
        parent = {n: n for n in nodes}
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical rep = min node id in the component
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        want = {}
        for members in comp.values():
            rep = min(members)
            for m in members:
                want[m] = rep
        return want

    from catalog_pii_scanner_spark.operators.dedup import (
        connected_components)
    rng = random.Random(7)
    for trial, (n_nodes, n_edges) in enumerate(
            [(50, 20), (60, 120), (80, 40), (30, 29)]):
        nodes = list(range(0, 10 * n_nodes, 10))  # sparse ids
        edges = [(rng.choice(nodes), rng.choice(nodes))
                 for _ in range(n_edges)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges or [(0, 10)],
                                   "doc_a bigint, doc_b bigint")
        got = {r.doc_id: r.cluster_rep
               for r in connected_components(df).collect()}
        # engine only emits nodes that appear in an edge
        touched = {x for e in (edges or [(0, 10)]) for x in e}
        want = union_find(edges or [(0, 10)], sorted(touched))
        assert got == want, f"trial {trial}"


def test_connected_components_paths_agree(spark, monkeypatch):
    """The r13 bounded driver fast path and the distributed contraction
    must compute the identical min-reachable fixpoint — forced onto
    each path via the CC_DRIVER_MAX_EDGES gate."""
    import random

    from catalog_pii_scanner_spark.operators import dedup

    rng = random.Random(23)
    nodes = list(range(0, 700, 7))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(160)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 10 ** 9)
    fast = sorted((r.doc_id, r.cluster_rep)
                  for r in dedup.connected_components(df).collect())
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", -1)
    dist = sorted((r.doc_id, r.cluster_rep)
                  for r in dedup.connected_components(df).collect())
    assert fast == dist
    assert fast


def test_zero_norm_vectors_leave_the_cosine_universe(spark, tmp_path):
    """A degenerate all-zero embedding must neither crash ANSI division
    nor appear as a query or neighbor — in the declarative path AND the
    BLAS twin (found by the degenerate-corpus sweep)."""
    dims = simsearch.DIMS
    vecs = []
    for i in range(12):
        v = [0.0] * dims
        v[i % 3] = 1.0
        vecs.append(v)
    vecs.append([0.0] * dims)          # vec_id 12: zero norm
    d = _write_vecs(spark, tmp_path, vecs)
    decl = simsearch.cosine_topk(spark, d, k=3, query_mod=3).collect()
    mm = simsearch.cosine_topk_matmul(spark, d, k=3, query_mod=3).collect()
    for rows in (decl, mm):
        assert rows
        assert all(r.query_id != 12 and r.neighbor_id != 12 for r in rows)
    a = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in decl}
    b = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in mm}
    assert set(a) == set(b)
    # query_mod=3 would select vec 12 as a query; it is excluded, and 0/3/6/9 remain
    assert {q for q, _ in a} == {0, 3, 6, 9}


def test_ann_pq_matmul_equals_declarative(spark, sf_dir):
    """The PQ LUT-gather serving path (in-batch ADC top-R + exact
    re-rank) must return exactly the declarative PQ frame — identical
    shortlist (rounded ADC score, id tie-break) and identical final
    ranking by exact cosine."""
    decl = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in simsearch.ann_pq_topk(spark, sf_dir, k=5,
                                           query_mod=20).collect()}
    # same candidate subset as the declarative gate (the serving
    # DEFAULT is corpus_mod=1 = full corpus; the driver oracle pins
    # that shape, this test pins strategy equality on equal inputs)
    mm = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
          for r in simsearch.ann_pq_matmul(
              spark, sf_dir, k=5, query_mod=20,
              corpus_mod=simsearch.PQ_TWIN_CORPUS_MOD).collect()}
    assert set(decl) == set(mm)
    for key, (nid, cos) in decl.items():
        assert mm[key][0] == nid, key
        assert mm[key][1] == pytest.approx(cos, abs=2e-6)


def test_ann_ivfpq_matmul_equals_declarative(spark, sf_dir):
    """The IVFADC serving path (cell assignment + PQ encode + LUT gather
    + in-batch exact re-rank in ONE mapInPandas) must return exactly the
    declarative template's frame."""
    decl = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in simsearch.ann_ivfpq_topk(spark, sf_dir, k=5,
                                              query_mod=20).collect()}
    mm = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
          for r in simsearch.ann_ivfpq_matmul(
              spark, sf_dir, k=5, query_mod=20,
              corpus_mod=simsearch.PQ_TWIN_CORPUS_MOD).collect()}
    assert set(decl) == set(mm)
    for key, (nid, cos) in decl.items():
        assert mm[key][0] == nid, key
        assert mm[key][1] == pytest.approx(cos, abs=2e-6)


def test_semdedup_keep_list_verdict_shape(spark, sf_dir):
    """SemDeDup verdict invariants: one row per vector, rep = MIN id of
    the component, reps self-map and are kept, drops exist on the
    synthetic corpus, and the capped-cell flag is exact against a
    recount of cell sizes."""
    rows = {r.vec_id: r for r in
            simsearch.semdedup_keep_list(spark, sf_dir).collect()}
    import duckdb
    n = duckdb.sql(f"SELECT count(*) FROM "
                   f"'{sf_dir}/embeddings.parquet'").fetchone()[0]
    assert len(rows) == n
    for vid, r in rows.items():
        assert r.keep == (r.cluster_rep == vid)
        assert r.cluster_rep <= vid
        assert rows[r.cluster_rep].cluster_rep == r.cluster_rep
    assert any(not r.keep for r in rows.values())
    # tiny cap -> every cell over the cap -> all-keep BUT all flagged:
    # the observability contract (an emptied pair input is visible)
    capped = simsearch.semdedup_keep_list(spark, sf_dir,
                                          max_cell=1).collect()
    assert all(r.keep for r in capped)
    assert all(r.in_capped_cell or r.cluster_rep == r.vec_id
               for r in capped)
    assert sum(r.in_capped_cell for r in capped) >= 0.9 * len(capped)
