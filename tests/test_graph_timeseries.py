"""Gates for the round-6 graph/time-series wave: k-core and label
propagation against independent pure-Python mirrors (their declared
queries are rows-only BY DESIGN — the fixpoint loops are not
single-statement SQL, so these mirrors ARE the correctness oracle),
plus construction checks for containment / autocorrelation / EWMA.
"""
from __future__ import annotations

import datetime as dt

from movie_rec_spark.operators import dedup as D
from movie_rec_spark.operators import temporal as TP


# ---------- pure-Python mirrors ----------

def _adj(edges):
    adj: dict = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def _kcore_py(edges, k):
    """Sequential peeler — k-core uniqueness (confluence) makes any
    removal order comparable with the engine's synchronous rounds."""
    adj = _adj(edges)
    while True:
        victims = [v for v, nb in adj.items() if len(nb) < k]
        if not victims:
            return {v: len(nb) for v, nb in adj.items()}
        for v in victims:
            for u in adj[v]:
                adj[u].discard(v)
            del adj[v]


def _lpa_py(edges, iters):
    """Synchronous LPA, (count DESC, label ASC) tie rule — the exact
    semantics label_propagation encodes as max(struct(cnt, -label))."""
    adj = _adj(edges)
    labels = {v: v for v in adj}
    for _ in range(iters):
        labels = {
            v: max(
                ((lab, sum(1 for u in nb if labels[u] == lab))
                 for lab in {labels[u] for u in nb}),
                key=lambda kv: (kv[1], -kv[0]))[0]
            for v, nb in adj.items()
        }
    return labels


# ---------- k-core ----------

def test_kcore_known_graph(spark):
    """3-core of K4 + a pendant chain is exactly the K4 at degree 3."""
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (5, 6)], "doc_a bigint, doc_b bigint")
    got = {r.doc_id: r.deg for r in D.kcore(edges, 3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_cascade_peels_path_to_empty(spark):
    """2-core of a 12-path is EMPTY, discovered endpoint-by-endpoint —
    the multi-round cascade the synchronous loop must survive."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a bigint, doc_b bigint")
    assert D.kcore(edges, 2).count() == 0


def test_q_kcore_matches_pure_peeler(spark, sf_docs):
    """q_kcore on the real corpus equals the sequential pure-Python
    peeler exactly (ids AND in-core degrees), is non-empty, and every
    member keeps ≥ k in-core neighbors."""
    edges = [(r.doc_a, r.doc_b)
             for r in D.core_edges(sf_docs).collect()]
    assert edges
    want = _kcore_py(edges, D.KCORE_K)
    got = {r.doc_id: r.deg for r in D.q_kcore(sf_docs).collect()}
    assert got == want
    assert got, "5-core is vacuous on the corpus graph"
    assert min(got.values()) >= D.KCORE_K


# ---------- label propagation ----------

def test_label_prop_two_cliques_find_two_communities(spark):
    """Two 4-cliques joined by one bridge resolve to exactly two
    communities, each clique uniform — and match the mirror."""
    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
    edges_py = c1 + c2 + [(4, 11)]
    edges = spark.createDataFrame(edges_py, "doc_a bigint, doc_b bigint")
    got = {r.doc_id: r.label
           for r in D.label_propagation(edges, D.LABELPROP_ITERS).collect()}
    assert got == _lpa_py(edges_py, D.LABELPROP_ITERS)
    assert len({got[v] for v in (1, 2, 3, 4)}) == 1
    assert len({got[v] for v in (11, 12, 13, 14)}) == 1
    assert got[1] != got[11]


def test_q_label_prop_matches_pure_mirror(spark, sf_docs):
    """Full assignment parity on the real community graph, plus the
    structural claim the docstring makes: clique blocks lock onto ONE
    label (communities of ≥ CORE_BLOCK), chains fragment."""
    edges = [(r.doc_a, r.doc_b)
             for r in D.core_edges(sf_docs).collect()]
    want = _lpa_py(edges, D.LABELPROP_ITERS)
    got = {r.doc_id: r.label for r in D.q_label_prop(sf_docs).collect()}
    assert got == want
    sizes: dict = {}
    for lab in got.values():
        sizes[lab] = sizes.get(lab, 0) + 1
    assert max(sizes.values()) >= D.CORE_BLOCK      # cliques locked
    assert len(sizes) > 2                           # chains fragmented


def test_graph_local_routes_match_iterative(spark, sf_docs, monkeypatch):
    """The r12 single-task kernels for kcore and label_propagation
    are pinned against the unchanged iterative paths
    (CC_LOCAL_EDGE_CAP = 0 forces the per-round joins/aggs): identical
    survivors+degrees and identical label assignments on the real
    community graph."""
    edges = D.core_edges(sf_docs)
    loc_kc = {(r.doc_id, r.deg)
              for r in D.kcore(edges, D.KCORE_K).collect()}
    loc_lp = {(r.doc_id, r.label)
              for r in D.label_propagation(
                  edges, D.LABELPROP_ITERS).collect()}
    monkeypatch.setattr(D, "CC_LOCAL_EDGE_CAP", 0)
    it_kc = {(r.doc_id, r.deg)
             for r in D.kcore(edges, D.KCORE_K).collect()}
    assert loc_kc == it_kc
    it_lp = {(r.doc_id, r.label)
             for r in D.label_propagation(
                 edges, D.LABELPROP_ITERS).collect()}
    assert loc_lp == it_lp


def test_khop_triangles_local_routes_match_iterative(spark, sf_docs,
                                                     monkeypatch):
    """The r12 single-task kernels for khop_counts and triangle_count
    are pinned against the unchanged distributed joins
    (CC_LOCAL_EDGE_CAP = 0): identical reach counts on the directed
    general graph and identical triangle support on the offset graph."""
    gedges = D.general_edges(sf_docs)
    loc_kh = {(r.doc_id, r.n_reachable)
              for r in D.khop_counts(gedges, D.KHOP_K).collect()}
    tedges = D.triangle_edges(sf_docs)
    loc_tr = {(r.doc_id, r.n_triangles)
              for r in D.triangle_count(tedges).collect()}
    monkeypatch.setattr(D, "CC_LOCAL_EDGE_CAP", 0)
    it_kh = {(r.doc_id, r.n_reachable)
             for r in D.khop_counts(gedges, D.KHOP_K).collect()}
    assert loc_kh == it_kh and loc_kh
    it_tr = {(r.doc_id, r.n_triangles)
             for r in D.triangle_count(tedges).collect()}
    assert loc_tr == it_tr and loc_tr


# ---------- containment ----------

def test_containment_catches_subset_jaccard_misses(spark):
    """A doc embedded verbatim in a 4× longer one: containment = 1.0
    (pair emitted) while symmetric Jaccard stays below its threshold
    (no pair) — the asymmetric operator's reason to exist."""
    short = " ".join(f"w{i}" for i in range(10))
    long_ = short + " " + " ".join(f"x{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, short, "en", "a", len(short)),
         (1, long_, "en", "b", len(long_))],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
    got = D.q_dedup_containment(docs).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_a, r.doc_b) == (0, 1)
    assert r.cont_a_in_b == 1.0
    assert r.cont_b_in_a < D.CONTAINMENT_THRESHOLD
    assert D.q_dedup_jaccard(docs).count() == 0


# ---------- autocorrelation ----------

def test_autocorr_alternating_series_is_negative_one(spark):
    """A strictly alternating two-value series has lag-1 autocorrelation
    exactly −1; a linear ramp is strongly positive. Exact construction
    check of the algebraic-aggregate estimator."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(20):  # user 1: alternate 1.00 / 3.00
        rows.append((i, t0 + dt.timedelta(hours=i), 1, "e",
                     1.0 if i % 2 == 0 else 3.0, "{}"))
    for i in range(20):  # user 2: ramp
        rows.append((100 + i, t0 + dt.timedelta(hours=i), 2, "e",
                     float(i), "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {r.user_id: r for r in TP.q_autocorr(ev).collect()}
    assert got[1].n_pairs == 19 and got[2].n_pairs == 19
    assert got[1].lag1_autocorr == -1.0
    assert got[2].lag1_autocorr > 0.99


def test_autocorr_breaks_timestamp_ties_by_event_id(spark):
    """All rows share ONE timestamp: the pairing must fall back to
    event_id order, giving the alternating series r = −1 — not an
    engine-dependent shuffle of pairs."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "e", 1.0 if i % 2 == 0 else 3.0, "{}")
            for i in range(12)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    [r] = TP.q_autocorr(ev).collect()
    assert r.lag1_autocorr == -1.0


# ---------- EWMA ----------

def test_ewma_matches_python_dot_product(spark):
    """Every emitted row equals the Python dot product of the shared
    tap weights with the trailing daily counts; constant series smooth
    to themselves; short-kernel rows are dropped."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    counts = {"a": [5 + (i % 3) for i in range(12)],
              "b": [7] * 12}
    for typ, per_day in counts.items():
        for day, n in enumerate(per_day):
            for _ in range(n):
                rows.append((eid, t0 + dt.timedelta(days=day), 1,
                             typ, 1.0, "{}"))
                eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {(r.event_type, r.day): r for r in TP.q_ewma(ev).collect()}
    w = TP.ewma_weights()
    taps = TP.EWMA_TAPS
    want_n = sum(len(v) - (taps - 1) for v in counts.values())
    assert len(got) == want_n
    for typ, per_day in counts.items():
        for day in range(taps - 1, len(per_day)):
            acc = 0.0
            for j, wt in enumerate(w):
                acc = acc + per_day[day - j] * wt
            key = (typ, (t0 + dt.timedelta(days=day)).date())
            assert got[key].ewma == round(acc, 4), key
    assert all(got[("b", (t0 + dt.timedelta(days=d)).date())].ewma == 7.0
               for d in range(taps - 1, 12))


def test_new_wave_ops_handle_empty_inputs(spark):
    """Empty-input totality for this wave: autocorr/EWMA/containment/
    k-core/label-prop return empty results with schemas, never raise."""
    empty_ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string")
    empty_docs = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint")
    for op, src in ((TP.q_autocorr, empty_ev), (TP.q_ewma, empty_ev),
                    (D.q_dedup_containment, empty_docs),
                    (D.q_kcore, empty_docs), (D.q_label_prop, empty_docs)):
        out = op(src)
        assert out.count() == 0, op.__name__
        assert len(out.columns) > 1, op.__name__


# ---------- reciprocal-rank fusion ----------

def test_rrf_equals_python_fusion_of_the_two_arms(spark, sf_docs):
    """q_rrf equals the Python fusion of its own collected arms: rank
    both lists (score DESC, doc_id ASC), score 1/(k+r) per membership,
    take the top by (rrf DESC, doc_id) — and both arms genuinely
    contribute (some fused doc is missing from one list)."""
    from movie_rec_spark.operators import text as T
    from movie_rec_spark.operators.similarity import q_knn_brute

    lex = sorted(((r.bm25, r.doc_id) for r in T.q_bm25(sf_docs).collect()),
                 key=lambda t: (-t[0], t[1]))
    qrow = spark.createDataFrame(
        [(-1, " ".join(T.BM25_QUERY))], "doc_id bigint, text string")
    emb = T.text_embedding(
        sf_docs.select("doc_id", "text").unionByName(qrow),
        T.EMBED_HASH_DIM)
    den = sorted(((r.sim, r.vec_id)
                  for r in q_knn_brute(emb, query_vec_id=-1,
                                       k=T.BM25_TOP_K).collect()
                  if r.sim > 0),
                 key=lambda t: (-t[0], t[1]))
    r_lex = {doc: i + 1 for i, (_, doc) in enumerate(lex)}
    r_den = {doc: i + 1 for i, (_, doc) in enumerate(den)}
    fused = {
        doc: (1.0 / (T.RRF_K + r_lex[doc]) if doc in r_lex else 0.0)
        + (1.0 / (T.RRF_K + r_den[doc]) if doc in r_den else 0.0)
        for doc in set(r_lex) | set(r_den)
    }
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:T.RRF_TOP]
    got = T.q_rrf(sf_docs).collect()
    assert [(r.doc_id, r.rrf) for r in got] == want
    assert [(r.doc_id, (r.r_lex, r.r_dense)) for r in got] == \
        [(doc, (r_lex.get(doc, 0), r_den.get(doc, 0))) for doc, _ in want]
    assert any(r.r_lex == 0 or r.r_dense == 0 for r in got) or \
        set(r_lex) == set(r_den)


# ---------- BPE merge induction ----------

def _bpe_py(word_freqs, rounds):
    """Pure-Python mirror of q_bpe_merges: Python str.replace shares
    the left-to-right non-overlapping substitution semantics of
    Java's and DuckDB's replace, so run handling agrees too."""
    cur = [(" ".join(w), f) for w, f in word_freqs.items()]
    merges = []
    for r in range(1, rounds + 1):
        counts: dict = {}
        for sym, f in cur:
            s = sym.split(" ")
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = \
                    counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (a, b), pf = sorted(counts.items(),
                            key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((r, a, b, pf))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        cur = [((" " + sym + " ").replace(pat, rep).strip(), f)
               for sym, f in cur]
    return merges


def test_bpe_matches_pure_mirror_on_corpus(spark, sf_docs):
    """The full merge table equals the pure-Python BPE mirror on the
    real corpus' word-frequency dict, and merged symbols compound
    (some later round consumes an earlier round's output)."""
    from movie_rec_spark.operators import text as T

    freqs: dict = {}
    for row in sf_docs.select("text").collect():
        for w in row.text.split(" "):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    want = _bpe_py(freqs, T.BPE_ROUNDS)
    got = [(r.merge_round, r.left_sym, r.right_sym, r.pair_freq)
           for r in T.q_bpe_merges(sf_docs).collect()]
    assert sorted(got) == want
    assert len(got) == T.BPE_ROUNDS


def test_bpe_known_corpus_and_run_semantics(spark):
    """Hand-checked case including a back-to-back pair run: 'aaaa'
    (symbols 'a a a a') under the ('a','a') merge fuses only the
    FIRST occurrence per pass ('aa a a' — replace resumes scanning
    after the inserted text, so the run's second pair lost its left
    neighbor), identically in Spark, DuckDB, and the Python mirror;
    and merges COMPOUND (round 3 consumes round 2's 'lo')."""
    from movie_rec_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "aaaa aaaa low low lower", "en", "s", 23)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
    got = [(r.merge_round, r.left_sym, r.right_sym, r.pair_freq)
           for r in T.q_bpe_merges(docs).collect()]
    want = _bpe_py({"aaaa": 2, "low": 2, "lower": 1}, T.BPE_ROUNDS)
    assert sorted(got) == want
    assert got[0][1:] == ("a", "a", 6)   # 3 pairs per 'aaaa', twice
    assert got[1][1:] == ("l", "o", 3)   # run left 'aa a a', not 'aa aa'
    assert got[2][1:] == ("lo", "w", 3)  # compounds round 2's merge


def test_bpe_empty_corpus_returns_schema(spark):
    from movie_rec_spark.operators import text as T

    empty = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint")
    out = T.q_bpe_merges(empty)
    assert out.count() == 0
    assert out.columns == ["merge_round", "left_sym", "right_sym",
                           "pair_freq"]


def test_bpe_local_route_matches_distributed(spark, monkeypatch):
    """The single-task local induction (dict under BPE_LOCAL_WORD_CAP)
    equals the distributed loop (pinned via BPE_LOCAL_WORD_CAP = 0) row for
    row — merge table AND final encode dict — on a corpus exercising
    the tricky shapes: back-to-back runs ('aaaa'), compounding merges
    ('low'/'lower'), a tie broken by (left ASC, right ASC), and a
    single-symbol word contributing no pairs."""
    from movie_rec_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "aaaa aaaa low low lower x", "en", "s", 25),
         (1, "zb zb ya ya", "en", "s", 11)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
    m_local = sorted(
        (r.merge_round, r.left_sym, r.right_sym, r.pair_freq)
        for r in T.q_bpe_merges(docs).collect())
    e_local = sorted(
        (r.word, r.freq, r.encoded, r.n_tokens, r.n_chars)
        for r in T.q_bpe_encode(docs).collect())
    monkeypatch.setattr(T, "BPE_LOCAL_WORD_CAP", 0)
    m_dist = sorted(
        (r.merge_round, r.left_sym, r.right_sym, r.pair_freq)
        for r in T.q_bpe_merges(docs).collect())
    assert m_local == m_dist and len(m_local) == T.BPE_ROUNDS
    e_dist = sorted(
        (r.word, r.freq, r.encoded, r.n_tokens, r.n_chars)
        for r in T.q_bpe_encode(docs).collect())
    assert e_local == e_dist and len(e_local) > 0


# ---------- negative sampling ----------

def test_negative_sample_properties(spark):
    """Structural guarantees on the real tables: no sampled item is a
    seen positive; ranks run 1..k dense per user; every sampled item
    exists in the catalog; and the draw is a pure function of the
    corpus (two invocations identical)."""
    from movie_rec_spark.operators.relational import (
        NEG_K,
        q_negative_sample,
    )
    from movie_rec_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    c, p, li, o = (load_table(spark, sf, t)
                   for t in ("customer", "part", "lineitem", "orders"))
    out = q_negative_sample(c, p, li, o).collect()
    assert out
    seen = {(r.o_custkey, r.l_partkey)
            for r in li.join(o, li.l_orderkey == o.o_orderkey)
            .select("o_custkey", "l_partkey").distinct().collect()}
    items = {r.p_partkey for r in p.select("p_partkey").collect()}
    by_user: dict = {}
    for r in out:
        assert (r.user_id, r.item_id) not in seen
        assert r.item_id in items
        by_user.setdefault(r.user_id, []).append(r.neg_rank)
    for ranks in by_user.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= NEG_K
    again = q_negative_sample(c, p, li, o).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_negative_sample_empty_interactions(spark):
    """With no interactions at all every user still draws k distinct
    catalog items (pure hash draw, no anti-join casualties)."""
    from movie_rec_spark.operators.relational import (
        NEG_K,
        q_negative_sample,
    )
    c = spark.createDataFrame([(i,) for i in range(4)],
                              "c_custkey bigint")
    p = spark.createDataFrame([(i,) for i in range(100)],
                              "p_partkey bigint")
    li = spark.createDataFrame([], "l_orderkey bigint, l_partkey bigint")
    o = spark.createDataFrame([], "o_orderkey bigint, o_custkey bigint")
    out = q_negative_sample(c, p, li, o).collect()
    per = {}
    for r in out:
        per.setdefault(r.user_id, set()).add(r.item_id)
    assert set(per) == {0, 1, 2, 3}
    assert all(len(v) == NEG_K for v in per.values())


def test_bpe_encode_matches_mirror_application(spark, sf_docs):
    """The encoded vocabulary equals applying the mirror's merge
    sequence to every word, with consistent token/char counts and a
    real compression win (some word's n_tokens < n_chars)."""
    from movie_rec_spark.operators import text as T

    freqs: dict = {}
    for row in sf_docs.select("text").collect():
        for w in row.text.split(" "):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    merges = _bpe_py(freqs, T.BPE_ROUNDS)
    want = {}
    for w, f in freqs.items():
        sym = " ".join(w)
        for _, a, b, _ in merges:
            sym = (" " + sym + " ").replace(
                f" {a} {b} ", f" {a}{b} ").strip()
        want[w] = (f, sym, len(sym.split(" ")), len(w))
    got = {r.word: (r.freq, r.encoded, r.n_tokens, r.n_chars)
           for r in T.q_bpe_encode(sf_docs).collect()}
    assert got == want
    assert any(v[2] < v[3] for v in got.values())


def test_bpe_merge_poor_corpus_exhausts_gracefully(spark):
    """A corpus with only 2 possible merges: the loop stops early, the
    merge table has 2 rows, and the encode dict still flows through —
    the oracle's LEFT-JOIN pass-through mirrors the Spark break."""
    from movie_rec_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "ab ab cd", "en", "s", 8)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
    got = [(r.merge_round, r.left_sym, r.right_sym, r.pair_freq)
           for r in T.q_bpe_merges(docs).collect()]
    assert got == _bpe_py({"ab": 2, "cd": 1}, T.BPE_ROUNDS)
    assert len(got) == 2
    enc = {r.word: (r.encoded, r.n_tokens)
           for r in T.q_bpe_encode(docs).collect()}
    assert enc == {"ab": ("ab", 1), "cd": ("cd", 1)}


# ---------- hard-negative mining ----------

def test_hard_negatives_properties(spark, sf_emb):
    """Every mined negative has a different label than its anchor,
    ranks are dense 1..k per anchor, the anchor never appears among
    its own negatives, and each anchor's top negative is at least as
    similar as its k-th (mining order respected)."""
    from movie_rec_spark.operators.similarity import (
        HARDNEG_ANCHORS,
        HARDNEG_K,
        q_hard_negatives,
    )
    labels = {r.vec_id: r.label
              for r in sf_emb.select("vec_id", "label").collect()}
    out = q_hard_negatives(sf_emb).collect()
    assert out
    per: dict = {}
    for r in out:
        assert r.anchor_id < HARDNEG_ANCHORS
        assert labels[r.neg_id] != labels[r.anchor_id]
        assert r.neg_id != r.anchor_id
        per.setdefault(r.anchor_id, []).append((r.neg_rank, r.sim))
    for ranks in per.values():
        ranks.sort()
        assert [n for n, _ in ranks] == list(range(1, len(ranks) + 1))
        assert len(ranks) <= HARDNEG_K
        sims = [s for _, s in ranks]
        assert sims == sorted(sims, reverse=True)


def test_hard_negatives_single_label_corpus_is_empty(spark):
    """A corpus where every vector shares one label has NO valid
    negatives — empty result with schema, never a same-label leak."""
    from movie_rec_spark.operators.similarity import q_hard_negatives

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], 7) for i in range(6)],
        "vec_id bigint, embedding array<float>, label int")
    out = q_hard_negatives(emb)
    assert out.count() == 0
    assert out.columns == ["anchor_id", "neg_id", "sim", "neg_rank"]


# ---------- length-bucketed batching audit ----------

def test_length_buckets_matches_python_audit(spark, sf_docs):
    """Bucket assignment, counts, capacities, and waste ratios equal a
    pure-Python audit of the same corpus; ratios stay in [0, 1) and
    every doc lands in exactly one bucket."""
    from movie_rec_spark.operators import text as T

    lens = [len(r.text.split(" "))
            for r in sf_docs.select("text").collect()]
    want: dict = {}
    for n in lens:
        b = next((x for x in T.LENGTH_BUCKETS if n <= x), 0)
        d = want.setdefault(b, [0, 0])
        d[0] += 1
        d[1] += n
    got = {r.bucket: r for r in T.q_length_buckets(sf_docs).collect()}
    assert set(got) == set(want)
    assert sum(r.n_docs for r in got.values()) == len(lens)
    for b, (nd, nt) in want.items():
        r = got[b]
        cap = nt if b == 0 else b * nd
        assert (r.n_docs, r.n_tokens, r.capacity) == (nd, nt, cap)
        assert r.waste_ratio == (cap - nt) / cap
        assert 0 <= r.waste_ratio < 1


def test_length_buckets_overflow_doc_marks_bucket_zero(spark):
    """A doc longer than the largest bucket reports as bucket 0 with
    capacity = its real tokens and waste 0 — never a negative ratio
    pretending a fixed-length batch could hold it."""
    from movie_rec_spark.operators import text as T

    big = " ".join(f"w{i}" for i in range(T.LENGTH_BUCKETS[-1] + 100))
    docs = spark.createDataFrame(
        [(0, big, "en", "s", len(big)), (1, "a b c", "en", "s", 5)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
    got = {r.bucket: r for r in T.q_length_buckets(docs).collect()}
    assert set(got) == {0, T.LENGTH_BUCKETS[0]}
    o = got[0]
    assert o.n_docs == 1
    assert o.capacity == o.n_tokens == T.LENGTH_BUCKETS[-1] + 100
    assert o.waste_ratio == 0.0


# ---------- hypothesis property gates ----------

from hypothesis import given  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from hyp import SLOW  # noqa: E402


@SLOW
@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                min_size=1, max_size=40),
       st.integers(2, 3))
def test_kcore_equals_peeler_on_random_graphs(spark, raw, k):
    """Synchronous whole-round peeling equals the sequential mirror on
    arbitrary random graphs — the confluence claim, not just the
    community fixture."""
    edges_py = [(a, b) for a, b in raw if a != b]
    if not edges_py:
        return
    edges = spark.createDataFrame(edges_py, "doc_a bigint, doc_b bigint")
    got = {r.doc_id: r.deg for r in D.kcore(edges, k).collect()}
    assert got == _kcore_py(edges_py, k)


@SLOW
@given(st.lists(st.tuples(st.integers(0, 10), st.integers(0, 10)),
                min_size=1, max_size=30),
       st.integers(1, 4))
def test_label_prop_equals_mirror_on_random_graphs(spark, raw, iters):
    """Synchronous LPA with the (count DESC, label ASC) tie rule equals
    the pure-Python mirror on arbitrary graphs and iteration counts."""
    edges_py = [(a, b) for a, b in raw if a != b]
    if not edges_py:
        return
    edges = spark.createDataFrame(edges_py, "doc_a bigint, doc_b bigint")
    got = {r.doc_id: r.label
           for r in D.label_propagation(edges, iters).collect()}
    assert got == _lpa_py(edges_py, iters)


@SLOW
@given(st.lists(st.integers(0, 500), min_size=11, max_size=40))
def test_autocorr_equals_exact_float_model(spark, cents):
    """On a random integer-cents series the estimator equals the exact
    int-sums model evaluated with the same IEEE expression (tolerance
    only for the final HALF_UP-vs-banker's rounding tie)."""
    import math

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=i), 1, "e", c / 100.0, "")
         for i, c in enumerate(cents)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    y, z = cents[:-1], cents[1:]
    n = len(y)
    sy, sz = sum(y), sum(z)
    syz = sum(a * b for a, b in zip(y, z))
    syy = sum(a * a for a in y)
    szz = sum(b * b for b in z)
    da, db = n * syy - sy * sy, n * szz - sz * sz
    rows = TP.q_autocorr(ev).collect()
    if da > 0 and db > 0:
        [r] = rows
        want = (n * syz - sy * sz) / (math.sqrt(da) * math.sqrt(db))
        assert r.n_pairs == n
        assert abs(r.lag1_autocorr - want) <= 5.0001e-5
    else:
        assert rows == []


@SLOW
@given(st.lists(st.integers(1, 50), min_size=8, max_size=20))
def test_ewma_equals_dot_model_on_random_series(spark, counts):
    """Random daily count series: every emitted row equals the Python
    tap dot product (same left-assoc order) within the rounding tie."""
    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for day, n in enumerate(counts):
        for _ in range(n):
            rows.append((eid, t0 + dt.timedelta(days=day), 1, "x",
                         1.0, ""))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {r.day.day + 31 * r.day.month: r.ewma
           for r in TP.q_ewma(ev).collect()}
    w = TP.ewma_weights()
    taps = TP.EWMA_TAPS
    assert len(got) == len(counts) - taps + 1
    for day in range(taps - 1, len(counts)):
        acc = 0.0
        for j, wt in enumerate(w):
            acc = acc + counts[day - j] * wt
        d = t0 + dt.timedelta(days=day)
        assert abs(got[d.day + 31 * d.month] - acc) <= 5.0001e-5


@SLOW
@given(st.lists(st.lists(st.integers(0, 5), min_size=3, max_size=10),
                min_size=2, max_size=6))
def test_containment_equals_brute_python(spark, word_lists):
    """Random tiny-vocab docs: emitted pairs and both directional
    ratios equal the brute-force Python set model exactly (raw int/int
    divisions on both sides)."""
    texts = [" ".join(f"w{t}" for t in ws) for ws in word_lists]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
    shingles = []
    for ws in word_lists:
        toks = [f"w{t}" for t in ws]
        shingles.append({" ".join(toks[i:i + 3])
                         for i in range(max(len(toks) - 2, 1))})
    want = {}
    for a in range(len(shingles)):
        for b in range(a + 1, len(shingles)):
            i = len(shingles[a] & shingles[b])
            if not i:
                continue
            cab, cba = i / len(shingles[a]), i / len(shingles[b])
            if max(cab, cba) >= D.CONTAINMENT_THRESHOLD:
                want[(a, b)] = (cab, cba)
    got = {(r.doc_a, r.doc_b): (r.cont_a_in_b, r.cont_b_in_a)
           for r in D.q_dedup_containment(docs).collect()}
    assert got == want


def test_sessionize_stream_replay_equals_batch(spark):
    """The out-of-order file-stream replay (even ids, then odd, then
    the watermark sentinel) emits exactly the batch q_sessionize
    sessions — late session-window merges are invisible in the answer."""
    from movie_rec_spark.operators.temporal import q_sessionize
    from movie_rec_spark.sources.catalog import load_table
    from movie_rec_spark.streaming.sessions import q_sessionize_stream

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    want = {(r.user_id, r.session_start, r.session_end):
            (r.n_events, r.total_value)
            for r in q_sessionize(ev).collect()}
    got = {(r.user_id, r.session_start, r.session_end):
           (r.n_events, r.total_value)
           for r in q_sessionize_stream(ev).collect()}
    assert got == want
    assert want
