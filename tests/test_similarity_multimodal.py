"""Tests for similarity search + multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from movie_rec_spark import memo
from movie_rec_spark.operators import multimodal as MM
from movie_rec_spark.operators import similarity as S
from spark_jobs import jobs_launched


def _emb(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v], label=0)
         for i, v in enumerate(vecs)]
    )


def test_knn_brute_orders_by_cosine(spark):
    e = _emb(spark, [
        [1, 0, 0],       # query
        [1, 0.01, 0],    # nearly identical
        [0.5, 0.5, 0],   # 45 degrees
        [0, 1, 0],       # orthogonal
        [-1, 0, 0],      # opposite
    ])
    out = S.q_knn_brute(e, query_vec_id=0, k=4).collect()
    assert [r.vec_id for r in out] == [1, 2, 3, 4]
    assert out[0].sim > 0.999 and abs(out[1].sim - math.sqrt(2) / 2) < 0.001
    assert out[3].sim == -1.0


def test_embed_quantize_invariants(spark, sf_emb):
    """int8 round-trip: positive scale, the absmax component always
    saturates (round(absmax/scale) = 127), and reconstruction cosine
    stays near 1 for real embeddings (<0.4% quantization loss)."""
    out = S.q_embed_quantize(sf_emb).collect()
    assert len(out) == sf_emb.count()
    for r in out:
        assert r.scale > 0
        assert r.n_sat >= 1
        assert r.cos_recon >= 0.996, (r.vec_id, r.cos_recon)


def test_embed_quantize_zero_vector(spark):
    """A zero vector must not divide by zero; its round-trip cosine is
    defined as 1.0 (zero reconstructs to zero)."""
    e = _emb(spark, [[0.0, 0.0, 0.0], [3.0, -4.0, 0.0]])
    out = {r.vec_id: r for r in S.q_embed_quantize(e).collect()}
    assert out[0].n_sat == 0 and out[0].cos_recon == 1.0
    assert out[1].n_sat >= 1 and out[1].cos_recon > 0.999


def test_neardup_threshold(spark):
    e = _emb(spark, [[1, 0], [1, 0.05], [0, 1]])
    pairs = {(r.vec_a, r.vec_b) for r in
             S.q_embed_neardup(e, threshold=0.9).collect()}
    assert pairs == {(0, 1)}


def test_lsh_recall_vs_brute(spark, sf_emb):
    """LSH candidates at 8 planes must recover most >=0.4-cosine pairs."""
    truth = {(r.vec_a, r.vec_b)
             for r in S.q_embed_neardup(sf_emb, threshold=0.4).collect()}
    got = {(r.vec_a, r.vec_b)
           for r in S.lsh_neardup(sf_emb, dim=64, threshold=0.4).collect()}
    assert got <= truth  # verify step keeps only true pairs
    if truth:
        recall = len(got & truth) / len(truth)
        assert recall >= 0.5, f"LSH recall {recall:.2f} over {len(truth)} pairs"


def test_ivf_topk_overlaps_brute(spark, sf_emb):
    """The declared q_knn_ivf probes only nprobe of n_cells cells; its
    top-10 must still share at least half its ids with q_knn_brute."""
    ivf = [r.vec_id for r in S.q_knn_ivf(sf_emb, 0, k=10).collect()]
    brute = [r.vec_id for r in S.q_knn_brute(sf_emb, 0, k=10).collect()]
    overlap = len(set(ivf) & set(brute)) / 10
    assert overlap >= 0.5, f"q_knn_ivf overlap {overlap}"


def test_q_knn_ivf_reuses_memoized_fit(spark, sf_emb):
    """Second q_knn_ivf on the same table must be search-only: the
    integer-Lloyd fit (a seed collect plus KMEANS_ITERS - 1 rounds, each
    at least one job) runs once and the memoized index serves every
    query."""
    memo.clear()
    runs = []

    def search():
        runs.append([r.vec_id for r in
                     S.q_knn_ivf(sf_emb, query_vec_id=0).collect()])

    fit_and_search = jobs_launched(spark, search)
    search_only = jobs_launched(spark, search)
    assert search_only <= fit_and_search - S.KMEANS_ITERS, (
        fit_and_search, search_only)
    assert runs[0] == runs[1]
    other_query = S.q_knn_ivf(sf_emb, query_vec_id=7).collect()
    assert len(other_query) == 10
    assert all(r.vec_id != 7 for r in other_query)


def test_multimodal_payload_and_decode(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"payload number {i}", lang="en",
             source=f"src{i}", n_chars=10) for i in range(5)]
    )
    p = MM.with_payload(docs)
    feats = MM.decode_image_features(p).collect()
    assert len(feats) == 5
    assert feats[0].__fields__ == ["doc_id", "width", "height",
                                   "channels", "mean_byte"]
    for r in feats:
        assert 64 <= r.width < 128 and 1 <= r.channels <= 3
    # determinism
    again = MM.decode_image_features(p).collect()
    assert sorted(feats) == sorted(again)


def test_multimodal_strict_raises(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="x", lang="en",
                                      source="s", n_chars=1)])
    with pytest.raises(Exception):
        MM.decode_image_features(MM.with_payload(docs), strict=True).collect()


def test_knn_int8_matches_float_knn(spark, sf_emb):
    """int8-quantized search must agree with the float brute-force
    top-k on nearly all of the k set (quantization moves sims by
    <1e-3 at 64 dims, far below typical neighbor gaps)."""
    brute = {r.vec_id for r in S.q_knn_brute(sf_emb).collect()}
    int8 = [r for r in S.q_knn_int8(sf_emb).collect()]
    assert len(int8) == S.KNN_K
    assert len(brute & {r.vec_id for r in int8}) >= S.KNN_K - 2
    sims = [r.sim for r in int8]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0001 <= s <= 1.0001 for s in sims)


def test_knn_int8_missing_query_raises(spark, sf_emb):
    import pytest
    with pytest.raises(KeyError):
        S.q_knn_int8(sf_emb, query_vec_id=10**9)


def test_audio_decode_contract(spark, sf_docs):
    from movie_rec_spark.operators import multimodal as MM
    out = MM.decode_audio_features(MM.with_payload(sf_docs)).collect()
    assert len(out) == sf_docs.count()
    for r in out[:20]:
        assert r.sample_rate in (8000, 16000, 22050, 44100)
        assert r.n_samples > 0
        assert abs(r.duration_sec - round(r.n_samples / r.sample_rate, 4)) < 1e-9
        assert 0.0 <= r.rms <= 1.0


def test_audio_decode_strict_raises(spark, sf_docs):
    import pytest
    from movie_rec_spark.operators import multimodal as MM
    with pytest.raises(Exception):
        MM.decode_audio_features(
            MM.with_payload(sf_docs), strict=True).collect()


def test_embed_centroids_match_numpy(spark, sf_emb):
    import numpy as np
    rows = sf_emb.select("vec_id", "embedding", "label").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(
            np.asarray(r.embedding, dtype=np.float64))
    out = S.q_embed_centroids(sf_emb).collect()
    got = {(r.label, r.pos): (r.centroid_val, r.n_vectors) for r in out}
    assert len(got) == len(by_label) * 64
    for label, vecs in by_label.items():
        mean = np.stack(vecs).mean(axis=0)
        for pos in (0, 13, 63):
            val, n = got[(label, pos)]
            assert n == len(vecs)
            assert abs(val - mean[pos]) < 1e-6


def test_kmeans_separates_two_blobs(spark):
    """Two well-separated blobs, k=2 seeded with one point of each:
    Lloyd converges in one step — every point lands with its blob and
    the centroids sit on the integer-grid blob means."""
    vecs = ([[10.0 + 0.1 * i, 0.0] for i in range(4)]      # blob A
            + [[0.0, 5.0 + 0.1 * i] for i in range(4)])    # blob B
    # ids 0/1 (the seeds) are one point of each blob, so the seeded
    # clusters straddle the separation from iteration 1
    e = _emb(spark, [vecs[0], vecs[4], *vecs[1:4], *vecs[5:]])
    out = S.q_kmeans(e, k=2, iters=2).collect()
    got = {(r.cluster, r.pos): r.centroid_val for r in out}
    sizes = {r.cluster: r.n_vectors for r in out}
    assert sizes == {0: 4, 1: 4}
    assert abs(got[(0, 0)] - 10.15) < 1e-4 and got[(0, 1)] == 0.0
    assert got[(1, 0)] == 0.0 and abs(got[(1, 1)] - 5.15) < 1e-4


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """If a cluster loses every member, its centroid carries forward
    instead of dividing by zero, and its reported size is 0."""
    e = _emb(spark, [[0.0, 0.0], [0.0, 0.0], [0.0, 0.0]])
    out = S.q_kmeans(e, k=2, iters=2).collect()
    sizes = {r.cluster: r.n_vectors for r in out}
    # all identical points -> argmin tie-break sends everything to
    # cluster 0; cluster 1 empties but keeps its seed centroid (0,0)
    assert sizes == {0: 3, 1: 0}
    assert all(r.centroid_val == 0.0 for r in out)


def test_semdedup_drops_only_true_neardups_in_cell(spark, sf_emb):
    """SemDeDup precision/recall contract on the fixture corpus:
    (a) every (dup, dup_of) decision corresponds to an exact
    ground-truth near-dup pair (no false positives), and (b) every
    exact pair that lands in the SAME cell is acted on — the dropped
    member is the higher id (recall 1.0 within cells; cross-cluster
    misses are the method's documented dial)."""
    out = S.q_semdedup(sf_emb).collect()
    cell = {r.vec_id: r.cell for r in out}
    dropped = {r.vec_id: r.dup_of for r in out if not r.keep}
    exact = {tuple(sorted((r.vec_a, r.vec_b)))
             for r in S.q_embed_neardup(
                 sf_emb, threshold=S.SEMDEDUP_THRESHOLD).collect()}
    assert dropped, "fixture must exercise the prune path"
    for v, d in dropped.items():
        assert d < v and cell[d] == cell[v]
        assert (d, v) in exact
    co_clustered = {(a, b) for a, b in exact if cell[a] == cell[b]}
    for a, b in co_clustered:
        assert b in dropped
    assert len(out) == sf_emb.count()


def test_semdedup_keep_rule_min_id(spark):
    """Hand corpus: two identical vectors and one orthogonal — the
    lower id of the identical pair survives, the orthogonal vector is
    untouched, dup_of names the kept twin."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (9, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>")
    out = {r.vec_id: r for r in
           S.q_semdedup(df, n_cells=2, threshold=0.9).collect()}
    assert out[1].keep and out[9].keep and not out[2].keep
    assert out[2].dup_of == 1 and out[1].dup_of is None


def test_semdedup_hierarchical_path_contract(spark, sf_emb):
    """The two-level quantizer path (n_cells above the flat cutoff)
    keeps every q_semdedup invariant: one row per vector, exactly one
    cell each, every (dup, dup_of) decision is a TRUE near-dup pair
    from the exact ground truth with the lower id kept (precision 1.0
    — assignment quality moves only WHICH pairs co-cluster, never the
    correctness of a prune), and the build is deterministic."""
    n_cells = S.SEMDEDUP_FLAT_MAX_CELLS + 8
    out = S.q_semdedup(sf_emb, n_cells=n_cells).collect()
    assert len(out) == sf_emb.count()
    assert len({r.vec_id for r in out}) == len(out)
    exact = {tuple(sorted((r.vec_a, r.vec_b)))
             for r in S.q_embed_neardup(
                 sf_emb, threshold=S.SEMDEDUP_THRESHOLD).collect()}
    cell = {r.vec_id: r.cell for r in out}
    for r in out:
        if not r.keep:
            assert r.dup_of < r.vec_id and cell[r.dup_of] == cell[r.vec_id]
            assert (r.dup_of, r.vec_id) in exact
    # determinism: a memo-bypassing second build agrees exactly
    memo.clear()
    again = S.q_semdedup(sf_emb, n_cells=n_cells).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def _grid_vectors(spark):
    """600 8-dim vectors on a small integer grid, as an in-memory frame."""
    rows = [(i, [float((i * 37 + j * 11) % 13) for j in range(8)])
            for i in range(600)]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")


def test_semdedup_hierarchical_groups_are_bounded_tasks(spark):
    """Level-2 tasks see one coarse group each: cells realized by the
    hierarchical build nest inside their coarse group's id block
    (cell // fine == grp), so per-task memory is the coarse group —
    the n/√k contract the docstring claims."""
    import math
    n_cells = 81
    g = max(2, math.ceil(math.sqrt(n_cells)))
    fine = max(1, math.ceil(n_cells / g))
    assigned = S.semdedup_cells(_grid_vectors(spark), n_cells=n_cells,
                                seed=7)
    cells = [r.cell for r in assigned.select("cell").collect()]
    assert all(0 <= c < g * fine for c in cells)
    # more than one coarse block must actually be populated
    assert len({c // fine for c in cells}) > 1


def test_semdedup_cells_leaves_no_persisted_frame_behind(spark):
    """Only the memoized fine assignment stays persisted: once the memo
    is cleared, Spark's cache holds nothing from the build (the coarse
    assignment is never persisted)."""
    memo.clear()
    spark.catalog.clearCache()
    S.semdedup_cells(_grid_vectors(spark), n_cells=81, seed=7).count()
    memo.clear()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pq_knn_separates_planted_groups(spark):
    """End-to-end PQ semantics on a corpus built so quantization MUST
    succeed: 12 vectors = 3 distinct 64-dim patterns × 4 identical
    copies, INTERLEAVED so the id-ordered seeds (vecs 0..3) cover all
    three patterns — Lloyd then sits exactly on the patterns (the
    duplicate fourth seed empties out via the cid tie-break and keeps
    its previous centroid). The query is pattern 0's first copy: its
    3 copies must fill the top ranks with adc_dist exactly 0 (same
    cell in every subspace), and every cross-pattern distance must
    dwarf within-pattern."""
    def pat(seed):
        # deterministic, strongly distinct 64-dim patterns
        return [((seed * 37 + i * 11) % 7 - 3) / 3.0 for i in range(64)]

    # vec_id i carries pattern i % 3: copies of pattern 0 are 0,3,6,9
    vecs = [pat(i % 3) for i in range(12)]
    out = S.q_pq_knn(_emb(spark, vecs), query_vec_id=0, k=11).collect()
    assert [r.vec_id for r in out[:3]] == [3, 6, 9]   # copies first
    assert all(r.adc_dist == 0 for r in out[:3])      # same cell exactly
    assert all(r.adc_dist > 10_000 for r in out[3:])  # other patterns far
    assert len(out) == 11 and 0 not in {r.vec_id for r in out}


def test_pq_knn_recall_floor_and_determinism(spark, sf_emb):
    """On the real fixture the 2-bit demo codebook is deliberately
    coarse (rate-distortion: 4 centroids over an 8-dim gaussian
    subspace leave quantization error the same order as neighbor
    gaps), so the gate is a floor, not closeness: >= 2 of the exact
    top-10 survive, ranks are deterministic across runs, and every
    distance is a non-negative integer (the oracle hash-checks the
    exact values — this test pins the Python-visible contract)."""
    brute = {r.vec_id for r in S.q_knn_brute(sf_emb, 0, 10).collect()}
    a = S.q_pq_knn(sf_emb, query_vec_id=0, k=10).collect()
    b = S.q_pq_knn(sf_emb, query_vec_id=0, k=10).collect()
    assert [(r.vec_id, r.adc_dist) for r in a] \
        == [(r.vec_id, r.adc_dist) for r in b]
    assert len({r.vec_id for r in a} & brute) >= 2
    assert all(r.adc_dist >= 0 for r in a)


def test_ivfpq_knn_planted_patterns_and_pruning(spark):
    """IVF-PQ on the interleaved planted corpus (same construction as
    the PQ test, 4 patterns so every coarse seed is distinct): the
    query's copies share its cell AND its residual codes, so they rank
    first at adc_dist exactly 0; results only ever come from probed
    cells (the returned cell column has <= n_probe distinct values) —
    the pruning contract, visible in the output."""
    def pat(seed):
        return [((seed * 37 + i * 11) % 7 - 3) / 3.0 for i in range(64)]

    vecs = [pat(i % 4) for i in range(16)]
    out = S.q_ivfpq_knn(_emb(spark, vecs), query_vec_id=0, k=15).collect()
    assert [r.vec_id for r in out[:3]] == [4, 8, 12]  # copies first
    assert all(r.adc_dist == 0 for r in out[:3])
    assert len({r.cell for r in out}) <= S.IVFPQ_PROBE
    assert 0 not in {r.vec_id for r in out}


def test_ivfpq_knn_recall_floor_and_agreement(spark, sf_emb):
    """Real-fixture contract: deterministic ranks, non-negative
    integer distances, and a recall floor vs exact top-10 (probing 2
    of 4 cells + 2-bit residual codes is deliberately coarse; the
    oracle hash-checks exact values — this pins the Python-visible
    behavior and that pruning actually restricts cells)."""
    brute = {r.vec_id for r in S.q_knn_brute(sf_emb, 0, 10).collect()}
    a = S.q_ivfpq_knn(sf_emb, query_vec_id=0, k=10).collect()
    b = S.q_ivfpq_knn(sf_emb, query_vec_id=0, k=10).collect()
    assert [(r.vec_id, r.adc_dist) for r in a] \
        == [(r.vec_id, r.adc_dist) for r in b]
    assert all(r.adc_dist >= 0 for r in a)
    assert len({r.cell for r in a}) <= S.IVFPQ_PROBE
    assert len({r.vec_id for r in a} & brute) >= 1


def test_pq_local_route_matches_distributed(spark, monkeypatch):
    """The size-adaptive single-task trainer (r12 optimization) is
    bit-identical to the distributed Lloyd rounds: q_pq_knn and
    q_ivfpq_knn return the same (vec_id, distance[, cell]) rows with
    the local route (default at test scale) and with it disabled
    (PQ_LOCAL_POINT_CAP=0 → the unchanged distributed path). Planted
    interleaved corpus so empty-cluster fallback and cid tie-breaks
    are exercised (duplicate seeds empty out)."""
    def pat(seed):
        return [((seed * 41 + i * 13) % 9 - 4) / 4.0 for i in range(64)]

    vecs = [pat(i % 3) for i in range(18)]
    e = _emb(spark, vecs)
    local_pq = [tuple(r) for r in S.q_pq_knn(e, 0, k=12).collect()]
    local_ivf = [tuple(r) for r in S.q_ivfpq_knn(e, 0, k=12).collect()]
    local_km = sorted(tuple(r) for r in S.q_kmeans(e).collect())
    monkeypatch.setattr(S, "PQ_LOCAL_POINT_CAP", 0)
    dist_pq = [tuple(r) for r in S.q_pq_knn(e, 0, k=12).collect()]
    dist_ivf = [tuple(r) for r in S.q_ivfpq_knn(e, 0, k=12).collect()]
    dist_km = sorted(tuple(r) for r in S.q_kmeans(e).collect())
    assert local_pq == dist_pq
    assert local_ivf == dist_ivf
    assert local_km == dist_km


def _hyperlsh_mirror(vecs, n_tables, n_bits):
    """Pure-Python mirror of q_hyperlsh_eval's signature pipeline
    (hashlib md5 weights, HALF_UP grid, sign-bit buckets) — an
    independent implementation of the engine's conv/shiftleft SQL."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    dim = len(vecs[0])

    def w(t, b, pos):
        hx = hashlib.md5(f"hp:{t}:{b}:{pos}".encode()).hexdigest()
        return int(hx[:8], 16) - 2147483648

    def grid(x):
        return int(Decimal(repr(x * S.HLE_SCALE)).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP))

    buckets = {}
    for vid, v in enumerate(vecs):
        p = [grid(x) for x in v]
        for t in range(n_tables):
            key = 0
            for b in range(n_bits):
                dot = sum(w(t, b, pos) * p[pos] for pos in range(dim))
                if dot >= 0:
                    key |= 1 << b
            buckets.setdefault((t, key), []).append(vid)
    pairs = {}
    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                k = (min(a, b), max(a, b))
                pairs[k] = pairs.get(k, 0) + 1
    return pairs


def test_hyperlsh_eval_matches_python_mirror(spark):
    """Candidate pairs + n_tables_hit equal an independent pure-Python
    hyperplane LSH (hashlib weights, Decimal HALF_UP grid), and the
    integer truth columns (dot, na, nb) match exact Python integer
    arithmetic on the same grid — the whole audit pipeline pinned on a
    frame small enough to enumerate."""
    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(30)]
    # two engineered near-dups so is_true is non-vacuous
    vecs.append([x * 1.001 for x in vecs[0]])
    vecs.append(list(vecs[1]))
    e = _emb(spark, vecs)
    out = S.q_hyperlsh_eval(e, n_tables=4, n_bits=3).collect()
    mirror = _hyperlsh_mirror(vecs, n_tables=4, n_bits=3)
    got_cand = {(r.vec_a, r.vec_b): r.n_tables_hit
                for r in out if r.candidate}
    assert got_cand == mirror
    # integer witnesses + truth predicate, mirrored exactly
    from fractions import Fraction

    tn, td = Fraction(S.NEARDUP_THRESHOLD).limit_denominator(
        10**6).as_integer_ratio()
    from decimal import ROUND_HALF_UP, Decimal

    def grid(v):
        return [int(Decimal(repr(x * S.HLE_SCALE)).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP)) for x in v]

    g = [grid(v) for v in vecs]
    true_found = 0
    for r in out:
        pa, pb = g[r.vec_a], g[r.vec_b]
        dot = sum(a * b for a, b in zip(pa, pb))
        na = sum(a * a for a in pa)
        nb = sum(b * b for b in pb)
        assert (r.dot, r.na, r.nb) == (dot, na, nb), (r.vec_a, r.vec_b)
        want_true = int(dot >= 0 and dot * dot * td * td
                        >= tn * tn * na * nb)
        assert r.is_true == want_true
        assert r.candidate or r.is_true
        true_found += want_true
    assert true_found >= 2  # the engineered near-dups are rows


def test_hyperlsh_eval_sample_is_md5_ranked_prefix(spark):
    """With more vectors than sample_n, the audit covers EXACTLY the
    sample_n vec_ids with the smallest md5 rank — deterministic,
    unbiased by vec_id order — and no pair mentions an unsampled id."""
    import hashlib
    import random

    rng = random.Random(11)
    vecs = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(40)]
    e = _emb(spark, vecs)
    out = S.q_hyperlsh_eval(e, n_tables=4, n_bits=3, sample_n=10).collect()
    want = set(sorted(range(40), key=lambda i: (
        hashlib.md5(str(i).encode()).hexdigest(), i))[:10])
    seen = {r.vec_a for r in out} | {r.vec_b for r in out}
    assert seen <= want
    # with 10 vectors and 4 tables of 3 bits, collisions are certain
    # enough that the sample is non-trivially exercised
    assert len(out) > 0


def test_jl_eval_matches_python_mirror(spark):
    """The JL audit pinned against pure Python: md5-parity ±1 signs,
    integer projection, and BOTH spaces' witnesses and rational cuts
    recomputed independently. Identical vectors must survive the
    projection exactly (pdot = pna = pnb → proj_hit = 1)."""
    import random
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction
    from hashlib import md5

    rng = random.Random(11)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(25)]
    vecs.append(list(vecs[0]))          # exact dup: both flags fire
    vecs.append([x * 1.002 for x in vecs[1]])  # near-dup
    e = _emb(spark, vecs)
    out = {(r.vec_a, r.vec_b): r for r in S.q_jl_eval(e).collect()}

    def grid(v):
        return [int(Decimal(repr(x * S.JLE_SCALE)).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP)) for x in v]

    def sign(j, pos):
        return int(md5(f"jl:{j}:{pos}".encode())
                   .hexdigest()[0], 16) % 2 * 2 - 1

    g = [grid(v) for v in vecs]
    y = [[sum(sign(j, p) * gv[p] for p in range(8))
          for j in range(S.JLE_K)] for gv in g]
    tn, td = Fraction(S.NEARDUP_THRESHOLD).limit_denominator(
        10**6).as_integer_ratio()

    def cut(d, a, b):
        return int(a > 0 and b > 0 and d >= 0
                   and d * d * td * td >= tn * tn * a * b)

    expected = {}
    for ia in range(len(vecs)):
        for ib in range(ia + 1, len(vecs)):
            dot = sum(p * q for p, q in zip(g[ia], g[ib]))
            na = sum(p * p for p in g[ia])
            nb = sum(q * q for q in g[ib])
            pdot = sum(p * q for p, q in zip(y[ia], y[ib]))
            pna = sum(p * p for p in y[ia])
            pnb = sum(q * q for q in y[ib])
            t, h = cut(dot, na, nb), cut(pdot, pna, pnb)
            if t or h:
                expected[(ia, ib)] = (t, h, dot, na, nb,
                                      pdot, pna, pnb)
    got = {k: (r.is_true, r.proj_hit, r.dot, r.na, r.nb,
               r.pdot, r.pna, r.pnb) for k, r in out.items()}
    assert got == expected
    # the exact-dup pair survives projection exactly
    dup = out[(0, len(vecs) - 2)]
    assert (dup.is_true, dup.proj_hit) == (1, 1)
    assert dup.pdot == dup.pna == dup.pnb
