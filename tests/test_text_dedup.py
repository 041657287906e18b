"""Tests for text analysis + dedup operators on hand-written corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from movie_rec_spark.operators import dedup as D
from movie_rec_spark.operators import text as T


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in enumerate(texts)]
    )


def test_decontaminate_flags_quoted_eval_doc(spark):
    """An eval-split doc fully quoted inside a train-split doc must be
    flagged at containment 1.0; unrelated docs must not pair. doc_id 8
    md5-buckets to eval (>=90), ids 0/1 to train (<80)."""
    from pyspark.sql import Row
    quoted = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame([
        Row(doc_id=0, text="prefix words here " + quoted + " suffix words",
            lang="en", source="s", n_chars=1),
        Row(doc_id=1, text="totally different content nothing shared",
            lang="en", source="s", n_chars=1),
        Row(doc_id=8, text=quoted, lang="en", source="s", n_chars=1),
    ])
    out = {(r.eval_doc, r.train_doc): r.containment
           for r in D.q_decontaminate(docs).collect()}
    assert out == {(8, 0): 1.0}


def test_corpus_clean_gates_dedups_and_splits(spark):
    """The composition must drop low-quality and non-en docs, keep one
    doc per identical text (smallest id), and assign a valid split."""
    good = "the cat and the dog sat of the mat and talked"
    docs = _docs(spark, [
        good,                       # 0: kept
        good,                       # 1: exact dup of 0 -> dropped
        "el la de le et el la de",  # 2: romance-stopword doc -> dropped
        "x! y! z!",                 # 3: low quality (short, punct) -> dropped
        good + " again",            # 4: distinct text -> kept
    ])
    out = {r.doc_id: r for r in T.q_corpus_clean(docs).collect()}
    assert set(out) == {0, 4}
    assert all(r.split in ("train", "val", "test") for r in out.values())
    assert all(r.quality_score >= 0.75 for r in out.values())


def test_corpus_clean_empty_input(spark):
    empty = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint")
    assert T.q_corpus_clean(empty).count() == 0


def test_text_stats(spark):
    out = {r.doc_id: r for r in
           T.q_text_stats(_docs(spark, ["the cat sat", "a b"])).collect()}
    assert out[0].n_tokens == 3 and out[0].n_chars_calc == 11
    assert out[0].n_stopwords == 1  # 'the'
    assert abs(out[0].avg_token_len - 9 / 3) < 1e-12
    assert out[1].n_stopwords == 1  # 'a'


def test_lang_id_prefers_en_on_tie_rules(spark):
    out = {r.doc_id: r.guessed_lang for r in T.q_lang_id(_docs(spark, [
        "the data of things",      # en hits
        "el la de le",             # romance hits only
        "xyz qrs",                 # no hits
    ])).collect()}
    assert out == {0: "en", 1: "ro", 2: "other"}


def test_dedup_exact_groups_identical_texts(spark):
    out = D.q_dedup_exact(_docs(spark, ["aaa", "bbb", "aaa", "aaa"])).collect()
    by_keep = {r.keep_id: r.n_copies for r in out}
    assert by_keep == {0: 3, 1: 1}


def test_jaccard_identical_and_disjoint(spark):
    docs = _docs(spark, [
        "w1 w2 w3 w4 w5 w6",
        "w1 w2 w3 w4 w5 w6",          # identical -> jaccard 1.0
        "z1 z2 z3 z4 z5 z6",          # disjoint -> no pair
    ])
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in D.q_dedup_jaccard(docs, threshold=0.5).collect()}
    assert pairs == {(0, 1): 1.0}


def test_prefix_jaccard_agrees_with_full_index(spark, sf_docs):
    """Prefix filtering is a candidate strategy, not a semantics
    change: on the real sf0.001 corpus the pair set AND every jaccard
    value must equal q_dedup_jaccard's exactly."""
    full = {(r.doc_a, r.doc_b): r.jaccard
            for r in D.q_dedup_jaccard(sf_docs).collect()}
    pref = {(r.doc_a, r.doc_b): r.jaccard
            for r in D.q_dedup_prefix(sf_docs).collect()}
    assert pref == full and len(full) > 0


def test_prefix_jaccard_boundary_pair(spark):
    """A pair at exactly the 0.5 threshold (overlap 4 of 6+6 3-gram
    sets -> J = 4/8) must survive the prefix filter — the
    completeness bound is tight, not approximate."""
    docs = _docs(spark, [
        "a b c d e f g h",            # 6 shingles
        "a b c d e f x y",            # shares 4 -> J = 4/8 = 0.5
        "p q r s t u v w",            # disjoint
    ])
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in D.q_dedup_prefix(docs, threshold=0.5).collect()}
    assert got == {(0, 1): 0.5}


def test_minhash_finds_exact_dup_and_agrees_with_jaccard(spark):
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta theta",   # dup of 0
        "alpha beta gamma delta epsilon zeta eta iota",    # near-dup
        "one two three four five six seven eight",         # unrelated
    ]
    out = {(r.doc_a, r.doc_b): r.est_jaccard
           for r in D.q_dedup_minhash(_docs(spark, texts),
                                      threshold=0.3).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 3) not in out and (1, 3) not in out
    # near-dup estimated within +-0.35 of true jaccard (5/7 ~ 0.71)
    if (0, 2) in out:
        assert abs(out[(0, 2)] - 5 / 7) < 0.35


def test_simhash_exact_dup_distance_zero(spark):
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta theta",
        "completely different words entirely unrelated corpus here now",
    ]
    out = {(r.doc_a, r.doc_b): r.hamming
           for r in D.simhash_neardup(_docs(spark, texts)).collect()}
    assert out.get((0, 1)) == 0
    assert (0, 2) not in out or out[(0, 2)] > 0


def test_minhash_recall_against_jaccard_oracle(spark, sf_docs):
    """On the real sf0.001 corpus: every high-jaccard pair (>=0.7) must
    be recalled by the banded minhash at threshold 0.5."""
    truth = {(r.doc_a, r.doc_b)
             for r in D.q_dedup_jaccard(sf_docs, threshold=0.7).collect()}
    got = {(r.doc_a, r.doc_b)
           for r in D.q_dedup_minhash(sf_docs, threshold=0.5).collect()}
    assert truth, "fixture should contain near-dup docs"
    missed = truth - got
    assert len(missed) <= max(1, len(truth) // 10), f"missed {missed}"


def test_simhash_blocking_exact_vs_brute_force(spark, sf_docs):
    """The k+1-segment pigeonhole blocking must find EVERY pair within
    hamming_max bits — verified against brute-force hamming over the
    collected signatures at the same width (k+1 segments of
    56 // (k+1) bits), at both the default radius and a wide one
    (the wide case needs >4 blocks; 4 quarters only guarantee <=3)."""
    for hamming_max in (3, 8):
        n_seg = hamming_max + 1
        w = D.SHP_BITS // n_seg
        sigs = {r.doc_id: list(r.segs)
                for r in D.simhash_sized_sigs(
                    sf_docs, n_seg * w, w).collect()}
        ids = sorted(sigs)
        truth = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = sum(bin(x ^ y).count("1")
                        for x, y in zip(sigs[a], sigs[b]))
                if h <= hamming_max:
                    truth[(a, b)] = h
        got = {(r.doc_a, r.doc_b): r.hamming
               for r in D.simhash_neardup(sf_docs, hamming_max).collect()}
        assert got == truth and truth


def test_dedup_components_warns_when_not_converged(spark, monkeypatch):
    import warnings

    from movie_rec_spark.operators.dedup import dedup_components

    # chain of diameter 4 cannot converge in 1 round
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long")
    # CC_LOCAL_EDGE_CAP = 0 pins the distributed iteration (the local
    # single-task path labels any small graph exactly)
    monkeypatch.setattr(D, "CC_LOCAL_EDGE_CAP", 0)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup_components(pairs, max_iter=1)
    assert any("did not converge" in str(x.message) for x in w)


def test_star_components_agree_with_min_label(spark):
    """large-star/small-star must produce the identical labeling as
    min-label propagation on mixed shapes: chain, pair, triangle."""
    from movie_rec_spark.operators.dedup import (
        dedup_components,
        dedup_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long")
    want = {r.doc_id: r.comp for r in dedup_components(pairs).collect()}
    got = {r.doc_id: r.comp for r in dedup_components_star(pairs).collect()}
    assert got == want


def test_star_components_converge_on_deep_chain(spark):
    """A diameter-60 chain needs >20 min-label rounds but only O(log n)
    star rounds — the scale case this variant exists for."""
    import warnings

    from movie_rec_spark.operators.dedup import dedup_components_star

    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any non-convergence warning fails
        got = {r.doc_id: r.comp
               for r in dedup_components_star(pairs, max_iter=10).collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


def test_dedup_components_chain_and_islands(spark):
    from movie_rec_spark.operators.dedup import dedup_components

    # chain 1-2-3-4 (diameter 3, forces >1 propagation round),
    # pair {10, 11}, and 20-21-22 triangle
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long")
    got = {r.doc_id: r.comp for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_ngram_counts_occurrence_semantics(spark):
    """Bigram counts are OCCURRENCES, not per-doc presence: 'a b' twice
    in one doc counts 2; ties at the limit break on the gram string."""
    docs = _docs(spark, ["a b a b", "a b c"])
    out = {r.gram: r.n_occurrences
           for r in T.q_ngram_counts(docs, top_k=10).collect()}
    assert out["a b"] == 3       # 2 in doc0 + 1 in doc1
    assert out["b a"] == 1
    assert out["b c"] == 1


def test_ngram_counts_single_token_doc(spark):
    """A one-token doc yields its token as the (degenerate) gram —
    matching the oracle's list_slice truncation."""
    docs = _docs(spark, ["solo"])
    out = T.q_ngram_counts(docs).collect()
    assert [(r.gram, r.n_occurrences) for r in out] == [("solo", 1)]


def test_domain_stats_dup_ratio(spark):
    from pyspark.sql import Row
    docs = spark.createDataFrame([
        Row(doc_id=0, text="the cat and the dog of it", lang="en",
            source="a", n_chars=1),
        Row(doc_id=1, text="the cat and the dog of it", lang="en",
            source="a", n_chars=1),
        Row(doc_id=2, text="unique text entirely here now", lang="en",
            source="b", n_chars=1),
    ])
    out = {r.source: r for r in T.q_domain_stats(docs).collect()}
    assert out["a"].n_docs == 2 and out["a"].n_unique_texts == 1
    assert abs(out["a"].dup_ratio - 0.5) < 1e-12
    assert out["b"].dup_ratio == 0.0
    assert 0.0 <= out["a"].avg_quality <= 1.0


def test_source_divergence_hand_computed_kl(spark):
    """Two sources with hand-computable unigram mixes: a source
    identical to its own share of the corpus has the exact KL of the
    closed-form formula, and a source is never negative."""
    import math
    from pyspark.sql import Row
    docs = spark.createDataFrame([
        Row(doc_id=0, text="x x y", lang="en", source="a", n_chars=1),
        Row(doc_id=1, text="y y y", lang="en", source="b", n_chars=1),
    ])
    out = {r.source: r for r in T.q_source_divergence(docs).collect()}
    # corpus: x=2/6, y=4/6; source a: x=2/3, y=1/3; source b: y=1
    kl_a = (2 / 3) * math.log((2 / 3) / (2 / 6)) \
        + (1 / 3) * math.log((1 / 3) / (4 / 6))
    kl_b = 1.0 * math.log(1.0 / (4 / 6))
    assert out["a"].n_tokens == 3 and out["a"].n_terms == 2
    assert out["b"].n_tokens == 3 and out["b"].n_terms == 1
    assert abs(out["a"].kl_nats - round(kl_a, 4)) < 1e-12
    assert abs(out["b"].kl_nats - round(kl_b, 4)) < 1e-12
    assert all(r.kl_nats >= 0.0 for r in out.values())


def test_dedup_incremental_statuses(spark):
    """ids 20/30/37 md5-bucket into the incoming batch (>=95); the rest
    play the corpus. 20 duplicates corpus text -> dup_of_corpus;
    30/37 share a batch-only text -> min id 30 is new, 37 dup_in_batch."""
    from pyspark.sql import Row
    corpus_text = "already ingested content right here"
    batch_text = "fresh batch content never seen"
    rows = [Row(doc_id=0, text=corpus_text, lang="en", source="s",
                n_chars=1),
            Row(doc_id=1, text="other corpus doc", lang="en", source="s",
                n_chars=1),
            Row(doc_id=20, text=corpus_text, lang="en", source="s",
                n_chars=1),
            Row(doc_id=30, text=batch_text, lang="en", source="s",
                n_chars=1),
            Row(doc_id=37, text=batch_text, lang="en", source="s",
                n_chars=1)]
    out = {r.doc_id: r.status
           for r in D.q_dedup_incremental(spark.createDataFrame(rows))
           .collect()}
    assert out == {20: "dup_of_corpus", 30: "new", 37: "dup_in_batch"}


def test_minhash_groups_agree_with_exact_groups(spark, sf_docs):
    """The end-to-end approximate pipeline (minhash candidates →
    components) must reproduce the exact-Jaccard dedup groups on the
    test corpus (same partition of the same node set)."""
    exact = {(r.doc_id, r.comp) for r in D.q_dedup_groups(sf_docs).collect()}
    approx = {(r.doc_id, r.comp)
              for r in D.q_minhash_groups(sf_docs).collect()}
    assert approx == exact


def test_pack_sequences_manifest(spark, sf_docs):
    """Offsets are gapless per shard (each doc starts where the
    previous ended), chunk ids follow floor(start/budget), and the
    boundary flag matches the arithmetic."""
    out = T.q_pack_sequences(sf_docs, budget=512).collect()
    assert len(out) == sf_docs.count()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in rows:
            assert r.start_offset == expect
            assert r.chunk_id == r.start_offset // 512
            assert r.crosses_boundary == (
                (r.start_offset % 512 + r.n_tokens) > 512)
            expect += r.n_tokens


def test_source_balance_caps_heavy_sources(spark):
    """A source above the cap is downsampled to ~cap expected docs;
    a source at/below the cap keeps everything; membership is
    deterministic (same result twice)."""
    from pyspark.sql import Row
    rows = ([Row(doc_id=i, text=f"t {i}", lang="en", source="big",
                 n_chars=1) for i in range(200)]
            + [Row(doc_id=1000 + i, text=f"u {i}", lang="en",
                   source="small", n_chars=1) for i in range(10)])
    docs = spark.createDataFrame(rows)
    out1 = {(r.doc_id, r.source)
            for r in T.q_source_balance(docs, cap=20).collect()}
    out2 = {(r.doc_id, r.source)
            for r in T.q_source_balance(docs, cap=20).collect()}
    assert out1 == out2
    small = {d for d, s in out1 if s == "small"}
    big = {d for d, s in out1 if s == "big"}
    assert len(small) == 10          # under cap: keep all
    assert 5 <= len(big) <= 45       # ~cap expected, binomial spread


def test_source_overlap_detects_mirror(spark):
    """A full mirror pairs at overlap 1.0; sources sharing nothing
    produce no row; partial overlap computes the digest-set Jaccard."""
    from pyspark.sql import Row

    def doc(i, t, s):
        return Row(doc_id=i, text=t, lang="en", source=s, n_chars=1)

    docs = spark.createDataFrame([
        doc(0, "alpha", "orig"), doc(1, "beta", "orig"),
        doc(2, "alpha", "mirror"), doc(3, "beta", "mirror"),
        doc(4, "alpha", "partial"), doc(5, "gamma", "partial"),
        doc(6, "delta", "island"),
    ])
    out = {(r.source_a, r.source_b): (r.n_common, r.overlap_jaccard)
           for r in D.q_source_overlap(docs).collect()}
    assert out[("mirror", "orig")] == (2, 1.0)
    assert out[("orig", "partial")] == (1, 1 / 3)
    assert out[("mirror", "partial")] == (1, 1 / 3)
    assert not any("island" in k for pair in out for k in pair)


def test_split_repair_moves_contaminated_eval_to_train(spark):
    """The doc flagged by decontamination (id 8, quoted inside train
    doc 0) must be reassigned to train; everything else keeps its
    original split; the manifest covers the whole corpus."""
    from pyspark.sql import Row
    quoted = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame([
        Row(doc_id=0, text="prefix words here " + quoted + " suffix words",
            lang="en", source="s", n_chars=1),
        Row(doc_id=1, text="totally different content nothing shared",
            lang="en", source="s", n_chars=1),
        Row(doc_id=8, text=quoted, lang="en", source="s", n_chars=1),
    ])
    out = {r.doc_id: r for r in D.q_split_repair(docs).collect()}
    assert len(out) == 3
    assert out[8].orig_split == "test" and out[8].final_split == "train"
    assert out[8].was_contaminated
    for i in (0, 1):
        assert out[i].final_split == out[i].orig_split
        assert not out[i].was_contaminated


def test_epoch_mix_upsamples_high_quality_sources(spark):
    """Docs from a high-quality source get a deterministic half-extra
    copy (bucket < 50); low-quality sources appear exactly once; the
    manifest is reproducible."""
    from pyspark.sql import Row
    good = "the cat and the dog sat of the mat and talked quite well"
    rows = ([Row(doc_id=i, text=good, lang="en", source="hq", n_chars=1)
             for i in range(20)]
            + [Row(doc_id=100 + i, text="x! y! z!", lang="en",
                   source="lq", n_chars=1) for i in range(5)])
    docs = spark.createDataFrame(rows)
    out = T.q_epoch_mix(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i in range(100, 105):           # lq: exactly one copy, weight 1.0
        assert len(by_doc[i]) == 1 and by_doc[i][0].src_weight == 1.0
    hq_copies = [len(by_doc[i]) for i in range(20)]
    assert set(hq_copies) <= {1, 2}     # weight 1.5: one or two copies
    assert 1 in hq_copies and 2 in hq_copies
    again = T.q_epoch_mix(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_unigram_logprob_orders_common_above_rare(spark):
    """A doc of corpus-common tokens must outscore a doc of rare
    tokens; probabilities are a proper distribution (avg_logprob < 0)."""
    from pyspark.sql import Row
    rows = ([Row(doc_id=i, text="common words common words", lang="en",
                 source="s", n_chars=1) for i in range(9)]
            + [Row(doc_id=100, text="zxqv wkjh pqrs mnbv", lang="en",
                   source="s", n_chars=1)])
    out = {r.doc_id: r for r in
           T.q_unigram_logprob(spark.createDataFrame(rows)).collect()}
    assert out[0].avg_logprob > out[100].avg_logprob
    assert all(r.avg_logprob < 0 for r in out.values())
    assert out[100].n_tokens == 4


def test_cc_chain_round_budgets(spark, sf_docs, monkeypatch):
    """Both CC variants on the declared chain graph (VERDICT r3 item 4):
    round counts must stay logarithmic — star in O(log n), min-label in
    O(log diameter) thanks to pointer jumping — and the labelings must
    agree. Budgets are ceil(log2(chain)) + 3 slack rounds (convergence
    detection costs one extra identical round on each variant)."""
    import math

    from movie_rec_spark.operators import dedup as D

    n_docs = sf_docs.count()
    chain = min(n_docs, D.CC_CHAIN_LEN)
    budget = math.ceil(math.log2(chain)) + 3

    star = {r.doc_id: r.comp
            for r in D.q_cc_chain_star(sf_docs).collect()}
    ml = {r.doc_id: r.comp
          for r in D.q_cc_chain_minlabel(sf_docs).collect()}
    assert star == ml

    # Round budgets are a property of the DISTRIBUTED iterations, so pin
    # them with CC_LOCAL_EDGE_CAP = 0 (the declared queries above route
    # small graphs through the single-task local pass, CC_ROUNDS == 0).
    monkeypatch.setattr(D, "CC_LOCAL_EDGE_CAP", 0)
    edges = D.chain_edges(sf_docs)
    it_star = {r.doc_id: r.comp for r in D.dedup_components_star(
        edges).collect()}
    star_rounds = D.CC_ROUNDS["star"]
    it_ml = {r.doc_id: r.comp for r in D.dedup_components(
        edges, max_iter=30).collect()}
    ml_rounds = D.CC_ROUNDS["minlabel"]

    assert star_rounds >= 1 and star_rounds <= budget, (star_rounds, budget)
    assert ml_rounds >= 1 and ml_rounds <= budget, (ml_rounds, budget)
    # and the iterative labelings agree with the declared (local-path)
    # queries on every edge endpoint
    assert all(star[k] == v for k, v in it_star.items())
    assert all(ml[k] == v for k, v in it_ml.items())


def test_cc_local_path_matches_iterative(spark, monkeypatch):
    """The size-adaptive single-task CC pass must produce the identical
    (doc_id, comp = min reachable id) labeling as both distributed
    iterations, on mixed shapes incl. a deep chain, and must mark the
    local route via CC_ROUNDS == 0."""
    from movie_rec_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)]          # chain diameter 39
        + [(100, 101), (200, 201), (201, 202), (200, 202),
           (300, 300)],                              # pair/triangle/self
        "doc_a long, doc_b long")
    local = {r.doc_id: r.comp
             for r in D.dedup_components(pairs).collect()}
    assert D.CC_ROUNDS["minlabel"] == 0
    local_star = {r.doc_id: r.comp
                  for r in D.dedup_components_star(pairs).collect()}
    assert D.CC_ROUNDS["star"] == 0
    assert local_star == local
    monkeypatch.setattr(D, "CC_LOCAL_EDGE_CAP", 0)
    it_ml = {r.doc_id: r.comp
             for r in D.dedup_components(pairs, max_iter=30).collect()}
    it_star = {r.doc_id: r.comp
               for r in D.dedup_components_star(pairs).collect()}
    assert local == it_ml == it_star


def test_chain_edges_split_on_gaps_and_blocks(spark):
    """chain_edges connects consecutive ids only: an id gap or an
    id-block boundary breaks the chain, and the CC labels reflect the
    maximal consecutive runs (the gaps-and-islands oracle shape)."""
    from pyspark.sql import Row

    from movie_rec_spark.operators import dedup as D

    ids = [0, 1, 2, 4, 5, 9, 10, 11]  # gap at 3 and 6-8; block cut at 10
    docs = spark.createDataFrame([Row(doc_id=i) for i in ids])
    got = {r.doc_id: r.comp
           for r in D.q_cc_chain_star(docs, chain_len=10).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 4: 4, 5: 4, 9: 9, 10: 10, 11: 10}


def test_text_embedding_feeds_ann_family(spark, sf_docs):
    """text_embedding assembles q_text_embed's flat rows into unit
    vectors the similarity operators consume directly: identical texts
    embed identically (cosine 1), near-identical texts score above
    unrelated ones, and brute kNN runs unchanged on the output."""
    from movie_rec_spark.operators import similarity as S

    docs = spark.createDataFrame([
        Row(doc_id=1, text="spark shuffles partition data by key"),
        Row(doc_id=2, text="spark shuffles partition data by key"),
        Row(doc_id=3, text="spark shuffles partition data by key fast"),
        Row(doc_id=4, text="violets are blue and roses are red"),
    ])
    emb = S._as_double(T.text_embedding(docs)).cache()
    # unit norm
    import math

    for r in emb.collect():
        assert math.isclose(sum(x * x for x in r.embedding), 1.0,
                            rel_tol=1e-4)
    top = {r.vec_id: r.sim
           for r in S.q_knn_brute(emb, query_vec_id=1, k=3).collect()}
    assert top[2] == 1.0           # exact duplicate text
    assert top[3] > top[4]         # near-dup above unrelated
    # corpus-scale smoke: every doc embeds, dims stay in range
    flat = T.q_text_embed(sf_docs)
    assert flat.filter("pos < 0 or pos >= 64").count() == 0
    assert flat.select("doc_id").distinct().count() == sf_docs.count()


def test_chunk_rows_stride_and_tail(spark):
    """Stride-k windows: a 7-token doc at k=3 yields chunks of 3/3/1
    tokens in order, rebuilt purely map-side."""
    docs = _docs(spark, ["a b c d e f g"])
    rows = sorted((r.chunk_idx, r.chunk)
                  for r in D.chunk_rows(docs, k=3).collect())
    assert rows == [(0, "a b c"), (1, "d e f"), (2, "g")]


def test_chunk_dedup_finds_cross_doc_paragraph(spark):
    """A chunk repeated in two docs (and twice in one of them) is
    reported once with n_docs=2, n_occ=3, and the lexicographically
    first (doc_id, chunk_idx) occurrence; unique chunks are absent."""
    para = "one two three four five six seven eight nine ten"
    docs = _docs(spark, [
        "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 " + para,
        para + " " + para,
        "totally different words in this document body here now ok fine",
    ])
    out = D.q_chunk_dedup(docs, k=10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.chunk, r.n_docs, r.n_occ, r.first_doc, r.first_idx) == (
        para, 2, 3, 0, 1)


def test_chunk_prune_keeps_first_occurrence_only(spark):
    """Pruning removes the repeated paragraph everywhere except its
    first (doc_id, chunk_idx) occurrence and reassembles the remaining
    chunks in document order."""
    para = "one two three four five six seven eight nine ten"
    head = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    docs = _docs(spark, [head + " " + para, para + " " + para])
    out = {r.doc_id: r for r in D.q_chunk_prune(docs, k=10).collect()}
    assert (out[0].n_chunks, out[0].n_kept) == (2, 2)
    assert out[0].cleaned_text == head + " " + para
    assert (out[1].n_chunks, out[1].n_kept) == (2, 0)
    assert out[1].cleaned_text == ""


def test_pii_redact_kernel_on_real_pii(spark):
    """The kernel redacts emails/IPs/phones in free text and counts
    each kind on the input; clean text passes through untouched."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(0, "mail a.b+c@mail.example.org and 192.168.1.77 then 555-867-5309"),
         (1, "no pii in this sentence at all")],
        "doc_id int, text string")
    red, counts = T.pii_redact(F.col("text"))
    out = {r.doc_id: r for r in df.select(
        "doc_id", red.alias("redacted"),
        counts["email"], counts["ipv4"], counts["phone"]).collect()}
    assert out[0].redacted == "mail <EMAIL> and <IP> then <PHONE>"
    assert (out[0].n_email, out[0].n_ipv4, out[0].n_phone) == (1, 1, 1)
    assert out[1].redacted == out[1]["redacted"] == "no pii in this sentence at all"
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (0, 0, 0)


def test_bm25_ranks_by_formula(spark):
    """Scores follow the BM25 formula (hand-computed on a 3-doc corpus);
    docs with no query term are absent; higher-tf docs rank higher."""
    import math
    docs = _docs(spark, [
        "table table scan pad pad",          # tf: table=2, scan=1, dl=5
        "table pad pad pad pad pad pad pad", # tf: table=1, dl=8
        "pad pad pad",                       # no hit, dl=3
    ])
    out = {r.doc_id: r.bm25 for r in T.q_bm25(docs).collect()}
    assert set(out) == {0, 1}
    n, avgdl, k1, b = 3, 16 / 3, T.BM25_K1, T.BM25_B

    def score(pairs, dl):
        tot = 0.0
        for tf, df in pairs:
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tot += round(idf * tf * (k1 + 1) /
                         (tf + k1 * (1 - b + b * dl / avgdl)), 4)
        return round(tot, 4)

    assert out[0] == score([(2, 2), (1, 1)], 5)   # table df=2, scan df=1
    assert out[1] == score([(1, 2)], 8)
    assert out[0] > out[1]


def test_pagerank_matches_reference_loop(spark):
    """Ranks after 5 fixed rounds equal a pure-Python reference on a
    graph with a fan-in node (in-degree 2) and a dangling sink; mass
    decays (sum < 1) because dangling mass is deliberately dropped."""
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4)], "doc_a bigint, doc_b bigint")
    got = {r.node: r.rank for r in D.pagerank(edges).collect()}

    nodes, d = [1, 2, 3, 4], D.PAGERANK_DAMPING
    n = len(nodes)
    base = (1.0 - d) / n
    out = {1: [3], 2: [3], 3: [4], 4: []}
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(D.PAGERANK_ITERS):
        nxt = {}
        for v in nodes:
            s = sum(rank[u] / len(out[u]) for u in nodes if v in out[u])
            nxt[v] = base + d * s
        rank = nxt
    assert got.keys() == rank.keys()
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-12
    assert sum(got.values()) < 1.0
    assert got[3] > got[1] == got[2]


def _pagerank_py(out: dict, n_iter: int, d: float) -> dict:
    """Independent pure-Python PageRank WITH dangling-mass
    redistribution (textbook/NetworkX semantics, no NetworkX import):
    the reference the Spark redistribute variant is held to within
    float-reorder tolerance."""
    nodes = sorted(out)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dm = sum(rank[u] for u in nodes if not out[u])
        nxt = {}
        for v in nodes:
            s = sum(rank[u] / len(out[u]) for u in nodes if v in out[u])
            nxt[v] = (1.0 - d) / n + d * (s + dm / n)
        rank = nxt
    return rank


def test_pagerank_redistribute_matches_reference(spark):
    """The dangling='redistribute' variant equals the pure-Python
    reference within 1e-9 on a graph with fan-in AND two dangling
    sinks, and conserves total mass (Σ rank = 1 every round — the
    invariant decay mode deliberately gives up)."""
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4), (3, 5), (4, 1)],
        "doc_a bigint, doc_b bigint")
    got = {r.node: r.rank
           for r in D.pagerank(edges, dangling="redistribute").collect()}
    out = {1: [3], 2: [3], 3: [4, 5], 4: [1], 5: []}
    ref = _pagerank_py(out, D.PAGERANK_ITERS, D.PAGERANK_DAMPING)
    assert got.keys() == ref.keys()
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-9, (v, got[v], ref[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def _pagerank_exact_py(out: dict, n_iter: int, scale: int,
                       lcm_out: int = 6) -> dict:
    """Independent pure-Python mirror of the FIXED-POINT INTEGER
    rounds (dedup.pagerank_exact): the Spark engine must match this
    EXACTLY — no tolerance — because both are the same deterministic
    integer function."""
    nodes = sorted(out)
    n = len(nodes)
    w = {u: lcm_out // len(v) for u, v in out.items() if v}
    r = {v: scale // n for v in nodes}
    for _ in range(n_iter):
        c = {v: 0 for v in nodes}
        for u, targets in out.items():
            for t in targets:
                c[t] += r[u] * w[u]
        dm = sum(r[u] for u in nodes if not out[u])
        r = {v: (3 * scale * lcm_out + 17 * n * c[v]
                 + 17 * lcm_out * dm) // (20 * n * lcm_out)
             for v in nodes}
    return r


def test_pagerank_general_query(spark, sf_docs):
    """q_pagerank_general on the real corpus: every edge-touched doc
    gets a rank, the graph is genuinely general (in-degree > 1 and ≥1
    dangling node exist), the Spark integer ranks match the
    pure-Python integer mirror EXACTLY (same fixed-point function —
    this is what makes the query oracle-able), and the fixed-point
    result still tracks the independent FLOAT reference (textbook
    redistribution semantics) within grid tolerance, with mass
    conserved to 1."""
    edges = [(r.doc_a, r.doc_b)
             for r in D.general_edges(sf_docs).collect()]
    assert edges, "general_edges produced no edges on the sf corpus"
    indeg: dict = {}
    out: dict = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
        out.setdefault(b, [])
        indeg[b] = indeg.get(b, 0) + 1
    assert max(indeg.values()) > 1            # genuine fan-in
    assert any(not v for v in out.values())   # real dangling sinks
    scale = D.PAGERANK_SCALE
    unit = scale // 10 ** 6
    ref_int = _pagerank_exact_py(out, D.PAGERANK_ITERS, scale)
    exp = {v: (2 * r + unit) // (2 * unit) for v, r in ref_int.items()}
    got = {r.doc_id: r.pr_micros
           for r in D.q_pagerank_general(sf_docs).collect()}
    assert got == exp                          # bit-exact, no tolerance
    # semantics gate: fixed-point tracks the float textbook reference
    ref = _pagerank_py(out, D.PAGERANK_ITERS, D.PAGERANK_DAMPING)
    for v in ref:
        assert abs(got[v] / 1e6 - ref[v]) < 2e-6, (v, got[v], ref[v])
    assert abs(sum(got.values()) / 1e6 - 1.0) < 1e-3


def test_pagerank_exact_guards(spark):
    """The int64-budget and out-degree-divisibility guards raise
    instead of silently overflowing / mis-weighting."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 1)],
        "doc_a bigint, doc_b bigint")
    with pytest.raises(ValueError, match="budget"):
        D.pagerank_exact(edges, scale=2 ** 62)
    with pytest.raises(ValueError, match="out-degree"):
        D.pagerank_exact(edges)  # node 1 has out-degree 4, 6 % 4 != 0
    # lcm_out covering the degrees present works fine
    got = {r.node: r.r
           for r in D.pagerank_exact(edges, lcm_out=4).collect()}
    assert set(got) == {1, 2, 3, 4, 5} and all(v > 0 for v in got.values())


def test_pagerank_queries_on_edgeless_corpus(spark):
    """Ids 0, 2 and 4 form no chain edge and no general edge, so there
    is no node to rank: both PageRank queries return an empty frame with
    their usual schema instead of dividing by the node count, and the
    DuckDB oracles (whose nodes are the edge-touched ids) agree. The CC
    chain queries on the same corpus return singletons."""
    import duckdb

    import __spark_entry__ as E

    docs = spark.createDataFrame([(0,), (2,), (4,)], "doc_id bigint")
    documents = docs.toPandas()  # noqa: F841 — the oracles' table
    oracles = E.oracle_sql()
    for name, q in (("q_pagerank_chain", D.q_pagerank_chain),
                    ("q_pagerank_general", D.q_pagerank_general)):
        out = q(docs)
        assert out.collect() == [], name
        want = duckdb.sql(oracles[name]).df()
        assert len(want) == 0, name
        assert sorted(out.columns) == sorted(want.columns), name
    for q in (D.q_cc_chain_star, D.q_cc_chain_minlabel):
        assert {(r.doc_id, r.comp) for r in q(docs).collect()} == \
            {(0, 0), (2, 2), (4, 4)}


def test_chunk_knn_finds_identical_paragraph(spark):
    """The query chunk (doc 0, chunk 0) scores 1.0 against the doc that
    quotes it verbatim, ids invert to (doc_id, chunk_idx), and the
    query chunk itself is excluded. The alpha..kappa chunk shares NO
    hash bucket with the query (verified positions disjoint under
    md5%64), so under the sparse inverted scoring — the oracle's
    semantics — it must be ABSENT, not padded in with sim 0.0 the way
    the former dense path scored it."""
    para = "one two three four five six seven eight nine ten"
    other = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs(spark, [para, other + " " + para])
    out = {r.chunk_id: r for r in T.q_chunk_knn(docs).collect()}
    assert 0 not in out                      # query excluded
    assert out[1001].sim == 1.0              # doc 1, chunk 1 == para
    assert (out[1001].doc_id, out[1001].chunk_idx) == (1, 1)
    assert 1000 not in out                   # zero-overlap: no row


def test_dedup_canonical_keeps_best_quality(spark):
    """In a near-dup clump the canonical member is the highest-quality
    doc, NOT the lowest id: doc 0 is degraded (heavy punctuation),
    doc 1 is its clean near-dup — 1 must win; each row names the
    winner and exactly one member per comp is canonical."""
    clean = ("the cat and the dog of the house sat on the mat and "
             "talked of the weather for a while today")
    dirty = clean.replace("talked", "!!!;;;...!!!;;;...!!!;;;...")
    docs = _docs(spark, [dirty, clean])
    out = {r.doc_id: r for r in D.q_dedup_canonical(docs).collect()}
    assert set(out) == {0, 1}
    assert out[0].comp == out[1].comp == 0
    assert out[1].is_canonical and not out[0].is_canonical
    assert out[0].canonical_doc == out[1].canonical_doc == 1
    assert out[1].quality_score > out[0].quality_score


def test_weighted_sample_matches_python_reference(spark):
    """es_key equals the hand-computed Efraimidis-Spirakis key
    (md5-grid uniform, quality weight), membership is the top-k per
    source, and the result is reshard-stable."""
    import hashlib
    import math

    good = "the cat and the dog of the house sat on the mat and talked"
    docs = spark.createDataFrame(
        [(i, good, "en", "s%d" % (i % 2), len(good)) for i in range(10)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint")
    out = {r.doc_id: r for r in T.q_weighted_sample(docs).collect()}
    M = T.WSAMPLE_M

    def key(doc_id, w):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % M
        return round(math.log((b + 1.0) / (M + 1.0)) / w, 6)

    # all docs share the same text => same quality 1.0 => w = 1.25
    expect = {i: key(i, 1.25) for i in range(10)}
    for i, r in out.items():
        assert abs(r.es_key - expect[i]) < 1e-9
    per_src = {}
    for i, r in out.items():
        per_src.setdefault(r.source, []).append(expect[i])
    for src, keys in per_src.items():
        assert len(keys) == T.WSAMPLE_PER_SOURCE
        losers = [expect[i] for i in range(10)
                  if ("s%d" % (i % 2)) == src and i not in out]
        assert not losers or min(keys) >= max(losers)
    again = {r.doc_id for r in
             T.q_weighted_sample(docs.repartition(7)).collect()}
    assert again == set(out)


def test_fuzzy_match_blocks_and_verifies(spark):
    """Same-noun near-names pair with their edit distance; cross-noun
    typos never meet (blocking recall dial); duplicates collapse to
    entities before pairing (n_parts carries cardinality)."""
    part = spark.createDataFrame(
        [(1, "cold ring"), (2, "old ring"), (3, "cold ring"),
         (4, "cold rng"), (5, "blue bolt")],
        "p_partkey bigint, p_name string")
    out = {(r.name_a, r.name_b): r for r in D.q_fuzzy_match(part).collect()}
    assert ("cold ring", "old ring") in out
    assert out[("cold ring", "old ring")].dist == 1
    assert out[("cold ring", "old ring")].n_parts_a == 2
    assert all("blue bolt" not in k for pair in out for k in pair)
    assert ("cold rng", "old ring") not in out  # different noun block


def test_bigram_logprob_orders_and_interpolates(spark):
    """The bigram score is ORDER-sensitive where the unigram proxy is
    blind: a natural phrase repeated verbatim outscores the same
    multiset of words scrambled (identical unigram stats), single-token
    docs are absent, and a hand-computed doc matches to 4dp."""
    natural = "the cat sat the cat sat the cat sat"
    scrambled = "sat the cat cat sat the the sat cat"
    docs = _docs(spark, [natural, scrambled, "solo"])
    out = {r.doc_id: r for r in T.q_bigram_logprob(docs).collect()}
    assert set(out) == {0, 1}           # "solo" has no bigram events
    assert out[0].n_bigrams == out[1].n_bigrams == 8
    assert out[0].avg_logprob > out[1].avg_logprob

    # hand computation for doc 0 under the corpus counts
    import math
    toks = (natural + " " + scrambled + " solo").split()
    n_total = len(toks)
    uni = {t: toks.count(t) for t in set(toks)}
    bigs = []
    for text in (natural, scrambled):
        ws = text.split()
        bigs += list(zip(ws, ws[1:]))
    bgc = {b: bigs.count(b) for b in set(bigs)}
    pre = {}
    for p, _c in bigs:
        pre[p] = pre.get(p, 0) + 1
    lam = T.BIGRAM_LAMBDA
    ws = natural.split()
    lps = [math.log(lam * (bgc[(p, c)] / pre[p])
                    + (1 - lam) * (uni[c] / n_total))
           for p, c in zip(ws, ws[1:])]
    assert abs(out[0].avg_logprob - sum(lps) / len(lps)) < 1e-4


def test_quality_gopher_rules_fire_individually(spark):
    """Each Gopher rule trips on its crafted violator while the clean
    doc passes all seven; `keep` is the conjunction."""
    prose = ("the quick brown fox jumps with the lazy dog and then "
             * 6).strip()                          # 60 words, 2+ stops
    short = "the cat with hat"                     # < 50 words
    symbols = " ".join(["##tag"] * 60)             # symbol ratio, no stops
    bullets = "\n".join(["- item " + str(i) for i in range(10)]) \
        + "\nthe end of the list with and that have"   # 10/11 bullet lines
    numeric = ("the " * 4 + "12345 " * 56).strip()  # <80% alphabetic words
    docs = _docs(spark, [prose, short, symbols, bullets, numeric])
    out = {r.doc_id: r for r in T.q_quality_gopher(docs).collect()}
    assert out[0].keep == 1 and all(
        getattr(out[0], c) == 1 for c in
        ("pass_words", "pass_wordlen", "pass_symbol", "pass_bullet",
         "pass_ellipsis", "pass_alpha", "pass_stop"))
    assert out[1].pass_words == 0 and out[1].keep == 0
    assert out[2].pass_symbol == 0 and out[2].pass_stop == 0
    assert out[3].pass_bullet == 0
    assert out[4].pass_alpha == 0 and out[4].keep == 0


def test_dataset_fingerprint_detects_edits_and_is_reshard_stable(spark):
    """The xor digest is identical across reshards, flips when any doc
    changes, and returns to the original when the edit reverts."""
    texts = [f"doc number {i} with some words" for i in range(40)]
    base = {r.split: (r.n_docs, r.xor_fp)
            for r in T.q_dataset_fingerprint(_docs(spark, texts)).collect()}
    assert sum(n for n, _ in base.values()) == 40
    reshard = {r.split: (r.n_docs, r.xor_fp)
               for r in T.q_dataset_fingerprint(
                   _docs(spark, texts).repartition(7)).collect()}
    assert reshard == base
    edited = list(texts)
    edited[5] = edited[5] + " EDITED"
    changed = {r.split: (r.n_docs, r.xor_fp)
               for r in T.q_dataset_fingerprint(
                   _docs(spark, edited)).collect()}
    assert changed != base
    diffs = [s for s in base if base[s] != changed.get(s)]
    assert len(diffs) == 1          # only doc 5's split flips
    restored = {r.split: (r.n_docs, r.xor_fp)
                for r in T.q_dataset_fingerprint(
                    _docs(spark, texts)).collect()}
    assert restored == base


def test_triangle_count_known_graph(spark):
    """Hand-built graph: K4 on {1,2,3,4} (4 triangles, every node in
    3), plus a star hub 10 with leaves 11..14 (no triangles — wedges
    at the hub must NOT count), plus a dangling edge. Duplicate and
    reversed input edges must not change the answer."""
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),   # K4
             (10, 11), (10, 12), (10, 13), (10, 14),           # star
             (20, 21),                                          # dangle
             (2, 1), (3, 1), (1, 2)]                            # dupes
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {r.doc_id: r.n_triangles
           for r in D.triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # each triangle counted at exactly 3 corners
    assert sum(got.values()) % 3 == 0 and sum(got.values()) // 3 == 4


def test_khop_chain_cycle_and_self_exclusion(spark):
    """Chain 1→2→3→4→5: node 1 reaches {2,3,4} in ≤3 hops. A 2-cycle
    20↔21: each node reaches only the other (the self round-trip is
    excluded). Duplicate input edges change nothing."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (20, 21), (21, 20), (20, 21)]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {r.doc_id: r.n_reachable
           for r in D.khop_counts(df, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 2, 4: 1,
                   20: 1, 21: 1}


def test_khop_matches_bruteforce_bfs(spark):
    """Frontier-pruned BFS vs a pure-Python BFS on the declared
    general graph — pruning must change cost, never the answer."""
    docs = spark.createDataFrame([Row(doc_id=i) for i in range(40)])
    got = {r.doc_id: r.n_reachable
           for r in D.q_khop(docs).collect()}
    adj: dict[int, list[int]] = {}
    for a in range(40):
        if a % 10 == 0:
            continue
        for o in (1, 4, 9):
            if a + o < 40:
                adj.setdefault(a, []).append(a + o)
    want: dict[int, int] = {}
    for s in range(40):
        seen, frontier = set(), {s}
        for _ in range(3):
            frontier = {v for u in frontier for v in adj.get(u, [])}
            seen |= frontier
        seen.discard(s)
        if seen:
            want[s] = len(seen)
    assert got == want


def test_triangle_offsets_graph_matches_bruteforce(spark):
    """The declared offset graph vs a pure-Python brute force on a
    small corpus — the degree-ordered enumeration must agree exactly."""
    from itertools import combinations

    docs = spark.createDataFrame(
        [Row(doc_id=i) for i in range(30)])
    got = {r.doc_id: r.n_triangles
           for r in D.triangle_count(D.triangle_edges(docs)).collect()}
    nodes = range(30)
    es = {(a, a + o) for a in nodes for o in (1, 2, 3) if a + o < 30}
    def adj(x, y):
        return (min(x, y), max(x, y)) in es
    want: dict[int, int] = {}
    for x, y, z in combinations(nodes, 3):
        if adj(x, y) and adj(y, z) and adj(x, z):
            for n in (x, y, z):
                want[n] = want.get(n, 0) + 1
    assert got == want


def _mhp_py(texts):
    """Pure-Python mirror of the portable minhash audit pipeline
    (q_minhash_eval): md5-prefix base hash mod the Mersenne prime,
    universal-hash mins, band keys, exact word-3-gram Jaccard."""
    import hashlib

    def shingles(t):
        w = t.split(" ")
        n = max(len(w) - 2, 1)
        return {" ".join(w[i:i + 3]) for i in range(n)}

    def sig(sh):
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
              % D.MHP_P for g in sh]
        return [min((D.MHP_A[p] * h + D.MHP_B[p]) % D.MHP_P
                    for h in hs) for p in range(D.MHP_PERMS)]

    shs = {i: shingles(t) for i, t in enumerate(texts)}
    sigs = {i: sig(s) for i, s in shs.items()}
    rows = D.MHP_PERMS // D.MHP_BANDS
    out = {}
    for a in shs:
        for b in shs:
            if a >= b:
                continue
            cand = any(
                sigs[a][band * rows:(band + 1) * rows]
                == sigs[b][band * rows:(band + 1) * rows]
                for band in range(D.MHP_BANDS))
            i = len(shs[a] & shs[b])
            u = len(shs[a] | shs[b])
            true = i * 2000 >= u * 1000
            if cand or true:
                n_match = sum(x == y for x, y in zip(sigs[a], sigs[b]))
                out[(a, b)] = (int(cand), int(true), n_match, i, u)
    return out


def test_minhash_eval_matches_python_mirror(spark):
    """q_minhash_eval against an independent pure-Python mirror on a
    corpus built to exercise every audit cell: an exact dup pair (all
    bands collide, is_true), a high-but-sub-threshold pair, and
    unrelated docs (no rows). Every output column is an integer by
    design — the audit has no float surface."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    near = base.replace("tonight", "today")
    docs = _docs(spark, [
        base, base, near,
        "completely different words about spark and duckdb engines",
        "another unrelated document concerning parquet file layouts",
    ])
    got = {(r.doc_a, r.doc_b): (r.candidate, r.is_true, r.n_match,
                                r.n_inter, r.n_union)
           for r in D.q_minhash_eval(docs).collect()}
    want = _mhp_py([base, base, near,
                    "completely different words about spark and duckdb engines",
                    "another unrelated document concerning parquet file layouts"])
    assert got == want
    assert got[(0, 1)] == (1, 1, D.MHP_PERMS,
                           got[(0, 1)][3], got[(0, 1)][3])  # exact dup
    assert any(v[1] == 1 for v in got.values())             # true pairs exist


def test_simhash_eval_matches_python_mirror(spark):
    """q_simhash_eval against an independent pure-Python mirror: md5
    token hashes, 56 vote sums, positive-vote bits, brute-force
    hamming for candidates (mirroring the ORACLE's formulation — the
    Spark side's pigeonhole blocking must produce the same set), and
    exact word-3-gram Jaccard truth with the integer threshold test."""
    import hashlib

    texts = [
        ("the quick brown fox jumps over the lazy dog and then "
         "runs far away into the deep dark woods tonight"),
        ("the quick brown fox jumps over the lazy dog and then "
         "runs far away into the deep dark woods tonight"),
        ("the quick brown fox jumps over the lazy dog and then "
         "runs far away into the deep dark woods today"),
        "completely different words about spark and duckdb engines",
    ]

    def sig(t):
        bits = [0] * D.SHP_BITS
        for w in set(t.split(" ")):
            h = int(hashlib.md5(w.encode()).hexdigest()[:14], 16)
            for i in range(D.SHP_BITS):
                bits[i] += 1 if (h >> i) & 1 else -1
        return sum((1 << i) for i in range(D.SHP_BITS) if bits[i] > 0)

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i:i + 3])
                for i in range(max(len(w) - 2, 1))}

    sigs = [sig(t) for t in texts]
    shs = [shingles(t) for t in texts]
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            ham = bin(sigs[a] ^ sigs[b]).count("1")
            cand = ham <= D.SHP_HMAX
            i = len(shs[a] & shs[b])
            u = len(shs[a] | shs[b])
            true = i * 2000 >= u * 1000
            if cand or true:
                want[(a, b)] = (int(cand), int(true), ham, i, u)
    got = {(r.doc_a, r.doc_b): (r.candidate, r.is_true, r.hamming,
                                r.n_inter, r.n_union)
           for r in D.q_simhash_eval(_docs(spark, texts)).collect()}
    assert got == want
    assert got[(0, 1)][2] == 0 and got[(0, 1)] == (1, 1,
                                                   0, got[(0, 1)][3],
                                                   got[(0, 1)][3])
    assert (0, 3) not in got or got[(0, 3)][1] == 0


def test_bloom_audit_matches_python_mirror_and_fp_behavior(spark):
    """q_bloom_audit against a pure-Python mirror (same md5 digests,
    buckets, positions): exact row match at the default config, every
    member hits (no false negatives — Bloom's guarantee), and at a
    deliberately tiny m=16/k=2 filter the load saturates so non-member
    probes register false positives while members STILL all hit."""
    import hashlib

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8],
                   16) % 100

    def mirror(texts, m, k):
        fps = {i: hashlib.md5(t.encode()).hexdigest()
               for i, t in enumerate(texts)}
        train = {i for i in fps if bucket(i) < D.TRAIN_MAX_BUCKET}
        def pos(fp):
            return {int(hashlib.md5(f"{fp}:{j}".encode())
                        .hexdigest()[:14], 16) % m for j in range(k)}
        bits = set().union(*(pos(fps[i]) for i in train)) \
            if train else set()
        tfps = {fps[i] for i in train}
        return {i: (int(pos(fps[i]) <= bits), int(fps[i] in tfps),
                    len(bits))
                for i in fps}

    # ids 0..39: md5-buckets split them train/eval; duplicate texts
    # place eval copies of train content (true members outside train)
    texts = [f"doc number {i % 25} has words" for i in range(40)]
    for m, k in ((D.BLOOM_M, D.BLOOM_K), (16, 2)):
        got = {r.doc_id: (r.bloom_hit, r.is_member, r.n_bits_set)
               for r in D.q_bloom_audit(_docs(spark, texts),
                                        m=m, k=k).collect()}
        assert got == mirror(texts, m, k), (m, k)
        assert all(h == 1 for h, mem, _ in got.values() if mem == 1)
    # the tiny filter must actually saturate into false positives
    tiny = {r.doc_id: r for r in
            D.q_bloom_audit(_docs(spark, texts), m=16, k=2).collect()}
    assert any(r.bloom_hit == 1 and r.is_member == 0
               for r in tiny.values())


def test_substring_windows_every_offset_and_short_doc(spark):
    """Sliding k=3 windows fingerprint every offset (stride 1); a doc
    shorter than k yields no windows at all."""
    docs = _docs(spark, ["a b c d e", "x y"])
    rows = sorted((r.doc_id, r.start)
                  for r in D.substring_windows(docs, k=3).collect())
    assert rows == [(0, 0), (0, 1), (0, 2)]


def test_dedup_substring_finds_misaligned_shared_span(spark):
    """The ExactSubstr point: a passage shared at DIFFERENT offsets in
    two docs (so stride-chunking never aligns on it) is reported as
    one maximal span per doc with the right offsets, length, and
    window count."""
    shared = "p1 p2 p3 p4"
    docs = _docs(spark, [
        "x1 x2 " + shared + " y1",
        "z1 " + shared,
        "u1 u2 u3 u4 u5 u6 u7",
    ])
    out = sorted((r.doc_id, r.span_start, r.span_len, r.n_windows)
                 for r in D.q_dedup_substring(docs, k=3).collect())
    assert out == [(0, 2, 4, 2), (1, 1, 4, 2)]


def test_dedup_substring_gap_splits_islands(spark):
    """Two duplicated windows whose starts are more than k apart have
    non-contiguous coverage and must stay separate spans."""
    docs = _docs(spark, [
        "p1 p2 p3 f1 f2 f3 f4 q1 q2 q3",
        "p1 p2 p3 u1 u2 u3 u4 q1 q2 q3",
    ])
    out = sorted((r.doc_id, r.span_start, r.span_len, r.n_windows)
                 for r in D.q_dedup_substring(docs, k=3).collect())
    assert out == [(0, 0, 3, 1), (0, 7, 3, 1),
                   (1, 0, 3, 1), (1, 7, 3, 1)]


def test_substring_prune_keeps_canonical_copy(spark):
    """The (doc_id, start)-minimal occurrence of a duplicated span
    survives; every other copy's tokens are removed; docs shorter
    than k pass through untouched."""
    docs = _docs(spark, ["a b c d", "a b c d", "z"])
    out = {r.doc_id: r
           for r in D.q_substring_prune(docs, k=4).collect()}
    assert (out[0].n_removed, out[0].cleaned_text) == (0, "a b c d")
    assert (out[1].n_removed, out[1].cleaned_text) == (4, "")
    assert (out[2].n_tokens, out[2].n_removed, out[2].cleaned_text) == (
        1, 0, "z")


def test_importance_resample_ranks_target_like_docs_first(spark):
    """Docs made of the target source's vocabulary outrank docs made
    of raw-only vocabulary; the top-1/5 selection picks exactly
    ceil-free n*NUM/DEN docs with the (score DESC, doc_id) tiebreak."""
    rows = [
        (0, "tgt tgt", "src0"),
        (1, "tgt tgt", "s1"),
        (2, "oth oth", "s1"),
        (3, "oth oth", "s1"),
        (4, "oth oth", "s1"),
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source=s, n_chars=len(t))
         for i, t, s in rows])
    out = {r.doc_id: r for r in T.q_importance_resample(docs).collect()}
    # target-vocab docs strictly above raw-vocab docs
    assert out[0].score == out[1].score > out[2].score
    # tie broken by doc_id: doc0 is rank 1 and the single selected doc
    assert out[0].imp_rank == 1 and out[1].imp_rank == 2
    assert [d for d, r in out.items() if r.selected] == [0]


def test_importance_threshold_equals_rank_form_with_ties(spark):
    """The at-scale threshold form selects the EXACT set the global
    rank form selects, including when tied scores straddle the k-th
    position (the tie group must split by doc_id, not by value):
    12 docs / k=2 with a 4-doc tie at the top means the threshold
    score t is the tie score, m=0 above it, and only the 2 smallest
    doc_ids inside the tie survive."""
    rows = ([(i, "tgt tgt", "s1") for i in range(4)]       # 4-way tie
            + [(i, "oth oth", "s1") for i in range(4, 11)]
            + [(11, "tgt oth", "src0")])
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source=s, n_chars=len(t))
         for i, t, s in rows])
    rank = {r.doc_id: r for r in T.q_importance_resample(docs).collect()}
    thr = {r.doc_id: r for r in T.q_importance_threshold(docs).collect()}
    assert set(rank) == set(thr) and len(thr) == 12
    for d in rank:
        assert (rank[d].source, rank[d].n_tokens, rank[d].score,
                rank[d].selected) == (
            thr[d].source, thr[d].n_tokens, thr[d].score, thr[d].selected)
    # k = 12//5 = 2; the tie group splits by doc_id
    assert sum(r.selected for r in thr.values()) == 2


def test_mixture_weights_alpha_half(spark):
    """Sources with 4/16/36 tokens give sqrt masses 2:4:6, so the
    α=1/2 temperature weights are exactly 1/6, 1/3, 1/2 at the 6-dp
    grid — and they flatten the raw 4:16:36 skew as α-smoothing
    promises (the smallest source gains share)."""
    docs = spark.createDataFrame(
        [Row(doc_id=0, text=" ".join(["w"] * 4), lang="en",
             source="a", n_chars=7),
         Row(doc_id=1, text=" ".join(["w"] * 16), lang="en",
             source="b", n_chars=31),
         Row(doc_id=2, text=" ".join(["w"] * 36), lang="en",
             source="c", n_chars=71)])
    out = {r.source: r for r in T.q_mixture_weights(docs).collect()}
    assert (out["a"].n_tokens, out["b"].n_tokens,
            out["c"].n_tokens) == (4, 16, 36)
    # floor-ppm of the exact rationals 1/6, 1/3, 1/2 (pure integer —
    # no float ratio rounding anywhere)
    assert out["a"].weight_ppm == 166666
    assert out["b"].weight_ppm == 333333
    assert out["c"].weight_ppm == 500000
    # α-smoothing: source a's weight share exceeds its token share
    assert out["a"].weight_ppm > 1_000_000 * 4 // 56


def test_shard_balance_loads_and_ratio(spark):
    """Shard assignment matches the hashlib md5 mirror of
    stable_bucket % n_shards; per-shard token loads sum to the corpus
    total and the load share is the exact floor ppm of load/total."""
    import hashlib

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * (i + 1)), lang="en",
             source="s", n_chars=2 * (i + 1) - 1)
         for i in range(40)])
    out = T.q_shard_balance(docs).collect()

    def shard(i):
        # direct mod n_shards since r11 (2^32 % 32 == 0 -> exactly
        # uniform; the old % 10000 % 32 fold baked a ~0.3% bias into
        # the balance audit itself)
        return (int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
                % T.SHARD_N)

    want = {}
    for i in range(40):
        s = shard(i)
        d, t = want.get(s, (0, 0))
        want[s] = (d + 1, t + i + 1)
    got = {r.shard: (r.n_docs, r.n_tokens) for r in out}
    assert got == want
    total = sum(t for _, t in want.values())
    for r in out:
        assert r.load_ppm == r.n_tokens * 1_000_000 // total


def test_curriculum_order_bands_and_positions(spark):
    """Bands are exact ⌊log2(n_tokens)⌋ (the power-of-two edges land
    in the HIGHER band's floor: 4 tokens → band 2), and positions are
    dense 1..n within each shard following (band, md5(doc_id),
    doc_id)."""
    import hashlib

    lens = {0: 1, 1: 2, 2: 3, 3: 4, 4: 8, 5: 9}
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * n), lang="en",
             source="s", n_chars=2 * n - 1) for i, n in lens.items()])
    out = {r.doc_id: r for r in T.q_curriculum_order(docs).collect()}
    assert {d: r.band for d, r in out.items()} == {
        0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 3}
    by_shard = {}
    for d, r in out.items():
        by_shard.setdefault(r.shard, []).append(
            (r.band, hashlib.md5(str(d).encode()).hexdigest(), d, r.pos))
    for rows in by_shard.values():
        rows.sort()
        assert [p for *_, p in rows] == list(range(1, len(rows) + 1))


def test_dup_stats_histogram(spark):
    """Cluster-size histogram over exact-digest groups: 3 copies of
    one text, 2 of another, 1 singleton → one row per size with the
    removable count = n_docs − n_clusters."""
    texts = ["a a", "a a", "a a", "b", "b", "c"]
    out = {r.cluster_size: r for r in D.q_dup_stats(
        _docs(spark, texts)).collect()}
    assert (out[1].n_clusters, out[1].n_docs, out[1].n_removable) == (
        1, 1, 0)
    assert (out[2].n_clusters, out[2].n_docs, out[2].n_removable) == (
        1, 2, 1)
    assert (out[3].n_clusters, out[3].n_docs, out[3].n_removable) == (
        1, 3, 2)


def test_importance_threshold_k_zero_selects_nothing(spark):
    """N < KEEP_DEN ⇒ k=0: the threshold row aggregates to all-NULL
    and the coalesce keeps every doc with selected=0 (the broadcast
    join must not drop the corpus)."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="tgt", lang="en", source="src0", n_chars=3)
         for i in range(4)])
    out = T.q_importance_threshold(docs).collect()
    assert len(out) == 4 and all(r.selected == 0 for r in out)


def test_simhash_sized_params_floor_growth_cap():
    """The r11 sizer (VERDICT r10 item 1): floor = the declared
    56-bit/14-bit form, growth pins chance occupancy n/2^w <= 1, cap =
    the md5 two-limb entropy ceiling."""
    assert D.simhash_sized_params(500) == (56, 14)
    assert D.simhash_sized_params(16384) == (56, 14)
    assert D.simhash_sized_params(16385) == (60, 15)
    assert D.simhash_sized_params(50_000) == (64, 16)
    assert D.simhash_sized_params(10**9) == (112, 28)
    assert D.simhash_sized_params(2**40) == (112, 28)
    for k in (1, 2, 3, 5):
        bits, w = D.simhash_sized_params(10**7, k)
        assert bits == (k + 1) * w
        assert bits <= D.SHP_MAX_BITS
        # occupancy pin holds whenever the cap hasn't bitten
        if bits < D.SHP_MAX_BITS - k:
            assert 2 ** w >= 10**7


def test_simhash_sized_collapses_to_declared_form(spark, sf_docs):
    """Below the sizer floor the sized operator (the n_docs route the
    entry point declares) must return EXACTLY the 56-bit/14-bit
    result set — the driver-hash-invariance claim."""
    n = sf_docs.count()
    assert D.simhash_sized_params(n) == (56, 14)
    floor = {(r.doc_a, r.doc_b): r.hamming
             for r in D.simhash_neardup(sf_docs).collect()}
    sized = {(r.doc_a, r.doc_b): r.hamming
             for r in D.simhash_neardup(sf_docs, n_docs=n).collect()}
    assert sized == floor and len(sized) > 0


def test_simhash_sized_segments_are_scalar_sig_slices(spark, sf_docs):
    """At (56, 14) every segment of the sized signature equals the
    matching 14-bit slice ``(sig >> 14q) & 0x3FFF`` of the scalar
    56-bit ``simhash_portable_sigs`` — the bit identity the declared
    q_dedup_simhash oracle and q_simhash_eval both rest on."""
    segs = {r.doc_id: list(r.segs)
            for r in D.simhash_sized_sigs(sf_docs, 56, 14).collect()}
    sigs = {r.doc_id: r.sig
            for r in D.simhash_portable_sigs(sf_docs).collect()}
    assert segs.keys() == sigs.keys() and segs
    for d, sig in sigs.items():
        assert segs[d] == [(sig >> (14 * q)) & 0x3FFF for q in range(4)], d


def test_simhash_sized_sigs_python_mirror(spark):
    """Sized signatures at the 112-bit cap vs an independent pure-Python
    md5 mirror: verifies the second-limb extraction (hex chars 15-28
    feed bits 56-111) and the per-segment assembly."""
    import hashlib

    texts = ["alpha beta gamma", "alpha beta delta epsilon",
             "unrelated words entirely here"]
    sig_bits, w = 112, 28

    def mirror(text):
        votes = [0] * sig_bits
        for t in set(text.split(" ")):
            hx = hashlib.md5(t.encode()).hexdigest()
            limbs = [int(hx[14 * j:14 * j + 14], 16) for j in range(2)]
            for i in range(sig_bits):
                votes[i] += 1 if (limbs[i // 56] >> (i % 56)) & 1 else -1
        return [sum(1 << t for t in range(w) if votes[q * w + t] > 0)
                for q in range(sig_bits // w)]

    got = {r.doc_id: list(r.segs)
           for r in D.simhash_sized_sigs(
               _docs(spark, texts), sig_bits, w).collect()}
    for i, tx in enumerate(texts):
        assert got[i] == mirror(tx), f"doc {i}"


def test_simhash_sized_blocking_exact_vs_brute_force(spark, sf_docs):
    """At a sized width beyond the floor (96/24 — both md5 limbs
    engaged, segments straddling the limb boundary) the pigeonhole
    blocking must equal brute-force hamming over the sized sigs."""
    sigs = {r.doc_id: list(r.segs)
            for r in D.simhash_sized_sigs(sf_docs, 96, 24).collect()}
    ids = sorted(sigs)
    truth = {}
    for i, a_ in enumerate(ids):
        for b_ in ids[i + 1:]:
            h = sum(bin(x ^ y).count("1")
                    for x, y in zip(sigs[a_], sigs[b_]))
            if h <= 3:
                truth[(a_, b_)] = h
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in D.simhash_neardup(
               sf_docs, sig_bits=96, seg_width=24).collect()}
    assert got == truth


def test_simhash_sized_keeps_exchange_budget(spark, sf_docs):
    """The sized route must keep the 56/14 floor form's plan shape (vote
    aggregate + cross-segment dedup) — widening signatures may not add
    shuffles. Since r12 the kernel also fans the single-task test-scale
    scan out before the per-token md5 (skew.fanout_scan, +2 tiny
    (doc_id, text) repartitions shared across the self-join sides,
    absent at production partition counts) — the invariant stays a
    comparison against the unsized floor form, so a sized-route
    regression still fails."""
    from movie_rec_spark.plans import count_exchanges

    sized = D.simhash_neardup(sf_docs, n_docs=10**9)
    floor = D.simhash_neardup(sf_docs)
    assert count_exchanges(sized) == count_exchanges(floor) == 4


def test_pipeline_llm_builds_without_driver_collect(spark, sf_docs,
                                                    monkeypatch):
    """The composed pipeline never collects to the driver between
    stages — the only build-time Spark jobs are the DSIR stage's
    executor-side localCheckpoint materializations (documented
    sanctioned exception; data never leaves the executors)."""
    from pyspark.sql import DataFrame

    calls = []
    for name in ("collect", "toPandas", "head", "first"):
        orig = getattr(DataFrame, name)

        def spy(self, *a, _n=name, _o=orig, **kw):
            calls.append(_n)
            return _o(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, spy)
    df = T.q_pipeline_llm(sf_docs)
    assert calls == [], f"driver action during build: {calls}"
    assert df.columns == ["doc_id", "source", "shard", "n_tokens",
                          "start_offset", "chunk_id",
                          "crosses_boundary", "weight_ppm"]


def test_pipeline_llm_neardup_stage_drops_simhash_dups(spark, sf_docs):
    """Stage-3 semantics: no shipped doc may be within SHP_HMAX
    hamming bits of a smaller-id scrub survivor (the greedy
    smaller-partner rule), and the shipped set itself is pairwise
    near-dup-free under the portable simhash."""
    from pyspark.sql import functions as F

    out = T.q_pipeline_llm(sf_docs).collect()
    shipped = {r.doc_id for r in out}
    # rebuild the scrub survivor set exactly as the pipeline does
    clean = {r.doc_id for r in T.q_corpus_clean(sf_docs).collect()}
    scrubbed = D.q_substring_prune(
        sf_docs.filter(F.col("doc_id").isin([int(d) for d in clean])))
    docs2 = scrubbed.select(
        "doc_id", F.col("cleaned_text").alias("text"))
    pairs = D.simhash_neardup(docs2).collect()
    dropped = {r.doc_b for r in pairs}
    assert not (shipped & dropped), \
        "shipped doc has a smaller-id near-dup survivor"
    for r in pairs:
        assert not (r.doc_a in shipped and r.doc_b in shipped), \
            f"near-dup pair shipped: {(r.doc_a, r.doc_b)}"


def test_pipeline_llm_stage_handoffs(spark, sf_docs):
    """Integration semantics on the real sf0.001 corpus: every shipped
    doc (1) survives the clean gates + exact dedup, (2) is in the
    train split, (3) is not a decontamination-flagged train doc, and
    (4) is DSIR-selected among the stage-4 survivors; weights match
    q_mixture_weights recomputed on the shipped set."""
    from movie_rec_spark.functions import stable_bucket
    from pyspark.sql import functions as F

    out = T.q_pipeline_llm(sf_docs).collect()
    assert out, "pipeline shipped nothing at sf0.001"
    shipped = {r.doc_id for r in out}
    # stage 1: clean manifest (same gates incl. dedup) — train only
    clean = {r.doc_id: r.split for r in T.q_corpus_clean(sf_docs).collect()}
    assert shipped <= {d for d, s in clean.items() if s == "train"}
    # weights: recompute q_mixture_weights on the shipped docs with
    # their SCRUBBED text — must match the output's weight_ppm
    scrubbed = D.q_substring_prune(
        sf_docs.filter(F.col("doc_id").isin([int(d) for d in clean])))
    docs3 = (scrubbed
             .join(sf_docs.select("doc_id", "source"), "doc_id")
             .filter(F.col("doc_id").isin([int(d) for d in shipped]))
             .select("doc_id", F.col("cleaned_text").alias("text"),
                     "source"))
    want_w = {r.source: r.weight_ppm
              for r in T.q_mixture_weights(docs3).collect()}
    got_w = {r.source: r.weight_ppm for r in out}
    assert got_w == want_w
