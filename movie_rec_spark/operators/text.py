"""Text-analysis operators over the documents table.

Training-data-pipeline surface: token counting, quality scoring,
language-ID heuristic, document fingerprinting. Everything is built-in
Catalyst expressions (split/filter/transform/md5) — no Python in the hot
path, so at 100 TB these run inside whole-stage codegen right on top of
the parquet scan with column pruning down to (doc_id, text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movie_rec_spark.localdf import local_df

# Tiny per-language stopword sets for the n-gram/stopword heuristic.
STOP_EN = ("the", "a", "of", "and")
STOP_ROMANCE = ("el", "la", "de", "le", "et")


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def q_text_stats(documents: DataFrame) -> DataFrame:
    """Per-document quality stats: token count, char count, average token
    length, stopword ratio. The quality-score building blocks a filtering
    pipeline thresholds on."""
    w = _tokens(F.col("text"))
    n_tokens = F.size(w).cast("int")
    n_chars = F.length("text").cast("int")
    n_stop = F.size(F.filter(w, lambda t: t.isin(*STOP_EN))).cast("int")
    # Ratios stay UNROUNDED: per-row int/int division is bit-deterministic
    # across engines, while round() near an exact .xx5 tie diverges
    # (Spark rounds the shortest decimal repr, DuckDB the raw double).
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_calc"),
        (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tokens
         ).alias("avg_token_len"),
        n_stop.alias("n_stopwords"),
        (n_stop / n_tokens).alias("stopword_ratio"),
    )


def q_token_counts(documents: DataFrame) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish
    alphanumeric-run regex split — the two standard pre-tokenizers."""
    return documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("int").alias("n_ws_tokens"),
        F.size(F.split(F.col("text"), "[^a-zA-Z0-9]+")).cast("int").alias("n_re_tokens"),
    )


def _guessed_lang(text: Column) -> Column:
    """Stopword-hit argmax language guess with a deterministic tie
    order — shared by q_lang_id and the q_corpus_clean gate."""
    w = _tokens(text)
    hits_en = F.size(F.filter(w, lambda t: t.isin(*STOP_EN)))
    hits_ro = F.size(F.filter(w, lambda t: t.isin(*STOP_ROMANCE)))
    return (
        F.when((hits_en >= hits_ro) & (hits_en > 0), F.lit("en"))
        .when(hits_ro > 0, F.lit("ro"))
        .otherwise(F.lit("other"))
    )


def q_lang_id(documents: DataFrame) -> DataFrame:
    """Language-ID heuristic: stopword-set hit counts → argmax with a
    deterministic tie order. (The synthetic corpus shares one vocabulary,
    so the point is the operator shape, not detector quality.)"""
    guessed = _guessed_lang(F.col("text"))
    return documents.select(
        "doc_id",
        "lang",
        guessed.alias("guessed_lang"),
        (guessed == F.col("lang")).alias("is_match"),
    )


def q_doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprinting: full-content md5 plus a normalized
    (lowercased, space-squeezed) fingerprint — the keys exact and
    near-exact dedup bucket on."""
    norm = F.lower(F.regexp_replace(F.col("text"), " +", " "))
    return documents.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.md5(norm.cast("binary")).alias("fp_norm"),
        F.substring(F.md5(F.col("text").cast("binary")), 1, 8).alias("fp_prefix"),
    )


def q_dataset_fingerprint(documents: DataFrame) -> DataFrame:
    """Per-split dataset fingerprint — the reproducibility attestation
    a training run records next to its model card: for each
    train/val/test split (same stable md5 buckets as q_sample_stable),
    the doc count, total token count, and an ORDER-INSENSITIVE content
    digest (bit_xor of each doc's 60-bit md5-derived integer). Two runs
    trained on byte-identical splits produce identical rows; any
    added/dropped/edited document flips the xor — a dataset-identity
    check that costs one scan + a 3-row aggregate, no sorting, no
    collection of per-doc hashes. XOR (not sum) keeps the digest
    overflow-free and associative/commutative, so it is reshard- and
    order-stable by construction.
    """
    from movie_rec_spark.functions import stable_bucket

    bucket = stable_bucket(F.col("doc_id"))
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val").otherwise("test"))
    fp_int = F.conv(F.substring(F.md5(F.col("text").cast("binary")),
                                1, 15), 16, 10).cast("bigint")
    return (
        documents.select(split.alias("split"), fp_int.alias("_fp"),
                         F.size(_tokens(F.col("text"))).alias("_nt"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("int").alias("n_docs"),
             F.sum("_nt").alias("n_tokens"),
             F.expr("bit_xor(_fp)").alias("xor_fp"))
        .orderBy("split")
    )


def q_tfidf_top_terms(documents: DataFrame, top_k: int = 3) -> DataFrame:
    """TF-IDF as pure relational algebra (no MLlib HashingTF — exact
    terms, SQL-oracle-checkable): term frequency per (doc, term),
    document frequency per term, smoothed idf = ln((N+1)/(df+1)) + 1,
    top-k terms per doc by score with a deterministic (score, term)
    tie-break.

    Plan shape at scale: ONE shuffle of exploded tokens builds tf;
    df is derived from tf's output (tf rows are already distinct
    (doc, term) — no second token scan, no countDistinct expand) and
    broadcast back; per-doc top-k via WindowGroupLimit. The score is
    rounded to 4 decimals BEFORE ranking so the cut is reproducible
    across engines (ln differs in the last ulp).
    """
    from pyspark.sql.window import Window

    toks = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    n_docs = documents.select(
        F.count(F.lit(1)).alias("n_docs"))  # doc_id is the PK
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                "tfidf", F.col("rn").cast("int").alias("rn"))
    )


def _quality_score(text: Column, min_tokens: int = 5,
                   max_stop_ratio: float = 0.5) -> Column:
    """The composite quality score alone, as one Column — shared by
    q_quality_score (which also exposes the per-rule indicators) and
    the q_corpus_clean gate."""
    w = _tokens(text)
    n_tokens = F.size(w).cast("int")
    n_stop = F.size(F.filter(w, lambda t: t.isin(*STOP_EN))).cast("int")
    n_punct = (F.length(text)
               - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
               ).cast("int")
    avg_tok = (F.length(F.replace(text, F.lit(" "), F.lit(""))) / n_tokens)
    r_len = (n_tokens >= min_tokens).cast("int")
    r_stop = ((n_stop / n_tokens) <= max_stop_ratio).cast("int")
    r_punct = ((n_punct / n_tokens) < 0.5).cast("int")
    r_tok = ((avg_tok >= 2.0) & (avg_tok <= 12.0)).cast("int")
    return (r_len + r_stop + r_punct + r_tok) / 4.0


def q_quality_score(documents: DataFrame,
                    min_tokens: int = 5,
                    max_stop_ratio: float = 0.5) -> DataFrame:
    """Composite document quality gate — the keep/drop signal a
    training-data filter pipeline thresholds on (Gopher/C4-style rules,
    simplified): length band, punctuation density, stopword ratio,
    mean token length band. Score = unweighted mean of the four rule
    indicators; int/int and indicator arithmetic only, so the value is
    bit-deterministic across engines (no rounding involved).
    """
    w = _tokens(F.col("text"))
    n_tokens = F.size(w).cast("int")
    n_stop = F.size(F.filter(w, lambda t: t.isin(*STOP_EN))).cast("int")
    n_punct = (F.length("text")
               - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
               ).cast("int")
    avg_tok = (F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
               / n_tokens)
    r_len = (n_tokens >= min_tokens).cast("int")
    r_stop = ((n_stop / n_tokens) <= max_stop_ratio).cast("int")
    r_punct = ((n_punct / n_tokens) < 0.5).cast("int")
    r_tok = ((avg_tok >= 2.0) & (avg_tok <= 12.0)).cast("int")
    score = _quality_score(F.col("text"), min_tokens, max_stop_ratio)
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        r_len.alias("pass_len"),
        r_stop.alias("pass_stop"),
        r_punct.alias("pass_punct"),
        r_tok.alias("pass_toklen"),
        score.alias("quality_score"),
        (score >= 0.75).cast("int").alias("keep"),
    )


GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def q_quality_gopher(documents: DataFrame,
                     min_words: int = 50,
                     max_words: int = 100_000) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021, Appendix A1) as a
    per-document audit — the production-standard rule set next to the
    simplified composite q_quality_score: word-count band [50, 100k],
    mean word length in [3, 10], symbol-to-word ratio (# and ellipsis)
    ≤ 0.1, ≤ 90% of lines bullet-started, ≤ 30% ellipsis-ended, ≥ 80%
    of words containing an alphabetic character, and ≥ 2 OCCURRENCES
    from the 8-word stop set (the "is this prose at all" rule; the
    paper's phrasing is ambiguous between distinct-words and
    occurrences — public reimplementations pick either; occurrences is
    the reading that bites on this corpus's vocabulary). Output: one
    indicator column per rule + the conjunction ``keep`` — audits
    threshold and A/B individual rules, so the per-rule columns ARE
    the product, not debug output.

    All rules are row-local codegen (splits, filters, integer
    comparisons; the two ratios compare exact int/int divisions), so
    the scan is map-only with zero Python and the result is
    bit-deterministic across engines — oracle-checked.
    """
    w = _tokens(F.col("text"))
    n_words = F.size(w).cast("int")
    mean_wlen = (F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                 / n_words)
    n_hash = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit("#"), F.lit("")))
    n_ell = ((F.length("text") - F.length(
        F.replace(F.col("text"), F.lit("..."), F.lit("")))) / F.lit(3)
        + F.length("text") - F.length(
            F.replace(F.col("text"), F.lit("…"), F.lit(""))))
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda li: li.startswith("-") | li.startswith("•")
        | li.startswith("*")))
    n_ell_end = F.size(F.filter(
        lines, lambda li: li.endswith("...") | li.endswith("…")))
    n_alpha = F.size(F.filter(w, lambda t: t.rlike("[a-zA-Z]")))
    n_stop_occ = F.size(F.filter(w, lambda t: t.isin(*GOPHER_STOPS)))
    rules = {
        "pass_words": (n_words >= min_words) & (n_words <= max_words),
        "pass_wordlen": (mean_wlen >= 3.0) & (mean_wlen <= 10.0),
        "pass_symbol": ((n_hash + n_ell) / n_words) <= 0.1,
        "pass_bullet": (n_bullet / n_lines) <= 0.9,
        "pass_ellipsis": (n_ell_end / n_lines) <= 0.3,
        "pass_alpha": (n_alpha / n_words) >= 0.8,
        "pass_stop": n_stop_occ >= 2,
    }
    keep = None
    for cond in rules.values():
        keep = cond if keep is None else (keep & cond)
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        *[cond.cast("int").alias(name) for name, cond in rules.items()],
        keep.cast("int").alias("keep"),
    )


# Hashed linear quality classifier (q_quality_classifier): the third
# member of the filter family — q_quality_score/q_quality_gopher are
# RULES, q_unigram/bigram_logprob are LM perplexity, this is the
# fastText-style LEARNED-classifier slot (CCNet's quality filter).
# The weight table is what a trained model ships: QCL_BUCKETS hashed
# feature buckets, one integer weight each. Here the weights are
# md5-derived stand-ins (this container trains nothing), but the
# PLUMBING is the production shape — a materialized weight table
# broadcast-joined onto hashed token features — and every step is
# integer arithmetic both engines compute identically, so the filter
# margin is oracle-exact (the multimodal stub-decode posture applied
# to classifier inference).
QCL_BUCKETS = 8192
QCL_WRANGE = 17  # weights in [-8, 8]


def classifier_weights(spark) -> DataFrame:
    """(bucket, weight) — the broadcastable weight table. weight =
    md5('qw:'+bucket) mod 17 − 8; swap this constructor for a real
    trained table (parquet read) without touching the query."""
    return spark.range(QCL_BUCKETS).select(
        F.col("id").alias("bucket"),
        (F.conv(F.substring(F.md5(F.concat(
            F.lit("qw:"), F.col("id").cast("string")).cast("binary")),
            1, 14), 16, 10).cast("long") % QCL_WRANGE - 8)
        .alias("weight"))


def q_quality_classifier(documents: DataFrame) -> DataFrame:
    """Declared query: linear classifier scoring over hashed unigram
    features — per doc, tokens hash into QCL_BUCKETS buckets (56-bit
    md5 prefix mod buckets, the shared portable recipe), bucket
    weights broadcast-join on, and the doc's margin is the integer
    weight sum. Output: doc_id, n_tokens, margin, kept (margin > 0).

    Scale shape: one map-side token explode + ONE broadcast join (the
    weight table is QCL_BUCKETS rows — KBs at any corpus size) + one
    doc-keyed sum; no shuffle moves more than (doc_id, weight) rows.
    This is exactly the inference plan of a fastText/logistic filter
    over a 100 TB corpus: the model broadcasts, the corpus streams.
    Duplicate tokens keep their multiplicity (bag-of-words, not set).
    """
    spark = documents.sparkSession
    tok = documents.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    bucket = (F.conv(F.substring(F.md5(F.col("t").cast("binary")),
                                 1, 14), 16, 10).cast("long")
              % QCL_BUCKETS)
    feats = tok.select("doc_id", bucket.alias("bucket"))
    return (
        feats.join(F.broadcast(classifier_weights(spark)), "bucket")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
             F.sum("weight").cast("long").alias("margin"))
        .select("doc_id", "n_tokens", "margin",
                (F.col("margin") > 0).cast("int").alias("kept"))
        .orderBy("doc_id")
    )


def q_sample_stable(documents: DataFrame) -> DataFrame:
    """Deterministic content-hash sampling / dataset splitting — the
    production alternative to ``df.sample`` (whose RNG stream is
    engine- and partitioning-specific, so resampling after a re-shard
    changes membership). Bucket = first 8 md5 hex digits of the key
    mod 100: stable under repartitioning, reproducible across engines,
    and rows never migrate between train/val/test when data is added.
    Row-local (no shuffle, no RNG state)."""
    from movie_rec_spark.functions import stable_bucket

    bucket = stable_bucket(F.col("doc_id"))
    split = (
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
    )
    return (
        documents.select("doc_id", "lang", bucket.alias("bucket"))
        .withColumn("split", split)
    )


def q_repetition(documents: DataFrame) -> DataFrame:
    """Intra-document repetition scoring (C4/Gopher-style "repetitious
    text" rule): the fraction of duplicated tokens and duplicated word
    3-grams within each document. Generated/boilerplate text scores
    high and gets gated out before training. Row-local HOF expressions
    only (split/array_distinct/transform) — fused into the scan, no
    shuffle, exact int/int arithmetic so the ratios hash-match the
    oracle without rounding."""
    from movie_rec_spark.functions import word_shingles
    from movie_rec_spark.operators.skew import fanout_scan

    w = _tokens(F.col("text"))
    n_tok = F.size(w)
    n_grams = F.greatest(n_tok - F.lit(2), F.lit(1))  # word_shingles card.
    # map-only, but the tokenize/distinct/shingle chain otherwise runs
    # entirely in the single scan task at test scale — fan out first
    # (conditional no-op at real scan parallelism; r12)
    documents = fanout_scan(documents.select("doc_id", "text"))
    return documents.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        (F.lit(1.0) - F.size(F.array_distinct(w)) / n_tok)
        .alias("dup_token_ratio"),
        (F.lit(1.0) - F.size(word_shingles(w, 3)) / n_grams)
        .alias("dup_3gram_ratio"),
    )


def q_ngram_counts(documents: DataFrame, top_k: int = 50) -> DataFrame:
    """Corpus-level bigram frequency — the vocabulary/phrase statistics
    a tokenizer-training or LM-data job computes over the whole corpus
    (BPE merge candidates start exactly like this: count adjacent-pair
    occurrences, take the most frequent).

    OCCURRENCE counts, not per-doc presence — so the shingle enumeration
    here is deliberately NOT deduplicated per document (unlike
    word_shingles, which array_distincts for set-semantics Jaccard).

    Plan shape at 100 TB: the explode is row-local and fused into the
    scan; the count is ONE shuffle with map-side partial aggregation
    (the combiner collapses each partition to its distinct grams before
    anything moves); the top-k is TakeOrderedAndProject — no global
    sort. Ordering ties break on the gram string so the cut is
    deterministic across engines.
    """
    from movie_rec_spark.operators.skew import fanout_scan

    w = _tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - F.lit(1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, 2)))
    return (
        # fan the single-file scan out first (conditional no-op at
        # real scan parallelism): the tokenize+gram explode AND the
        # partial-agg combiner otherwise run in ONE task (r12)
        fanout_scan(documents.select("text"))
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(top_k)
    )


def q_source_divergence(documents: DataFrame) -> DataFrame:
    """Per-source KL divergence of the unigram token distribution
    against the whole-corpus distribution — the drift/contamination
    detector a data-mixing job watches: a source whose scraper started
    emitting boilerplate (or a different language) jumps in KL long
    before eyeballing samples would catch it (beyond reference; the
    distributional twin of q_domain_stats' volume dashboard).

    KL(P_s ‖ P_corpus) = Σ_t p_s(t)·ln(p_s(t)/p(t)) is finite by
    construction (every source term is in the corpus mixture) and ≥ 0.
    Probabilities stay as single double divisions of exact counts
    (never c·N integer cross-products, which could overflow int64 at
    extreme corpus sizes), mirrored term-by-term in the oracle; the
    per-source sum is rounded to 4dp (summation order differs in the
    last ulp) and -0.0-normalized.

    Plan shape: one exploded-token pass feeds three keyed counts
    (source×term, term, source — each ONE hash shuffle with map-side
    partials); the scoring join is vocabulary-sized, the corpus total
    rides as a broadcast scalar, and the finish is a |sources|-row
    aggregate. Nothing scales worse than the vocabulary.
    """
    toks = documents.select(
        "source", F.explode(_tokens(F.col("text"))).alias("term"))
    dt = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c_dt"))
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c_t"))
    nd = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_tokens"))
    total = toks.select(F.count(F.lit(1)).alias("n_total"))
    p_s = F.col("c_dt") / F.col("n_tokens")
    p = F.col("c_t") / F.col("n_total")
    per_source = (
        dt.join(tc, "term")
        .join(nd, "source")
        .crossJoin(F.broadcast(total))
        .groupBy("source", "n_tokens")
        .agg(F.count(F.lit(1)).alias("n_terms"),
             (F.round(F.sum(p_s * F.log(p_s / p)), 4)
              + F.lit(0.0)).alias("kl_nats")))
    return per_source.select("source", "n_tokens",
                             F.col("n_terms").cast("long").alias("n_terms"),
                             "kl_nats")


def q_domain_stats(documents: DataFrame) -> DataFrame:
    """Per-source corpus report — the governance dashboard a corpus
    owner reads before training: document volume, exact-duplicate rate,
    mean quality score, and held-out share per source, so a bad feed
    (scraper stuck in a loop, boilerplate farm) is visible as a source
    with collapsed unique-text ratio or cratered quality.

    One grouped aggregation; the distinct-digest count uses the
    count(DISTINCT md5) path (Catalyst plans partial distinct-expand +
    final agg — two exchanges, both keyed by source, no skew risk since
    sources are coarse). avg quality is a mean of exact binary quarters
    (k/4), so the double sum is order-independent and engine-exact —
    no rounding needed. held_out_ratio is the share of docs whose
    stable md5 bucket lands in the val+test range (>= 80) — the same
    split arithmetic as q_sample_stable, so the dashboard shows each
    source's actual held-out fraction (expected ~0.20; a source whose
    ids were assigned adversarially would drift).
    """
    from movie_rec_spark.functions import stable_bucket

    score = _quality_score(F.col("text"))
    held = (stable_bucket(F.col("doc_id")) >= 80).cast("int")
    return (
        documents.select(
            "source",
            F.md5(F.col("text").cast("binary")).alias("fp"),
            score.alias("q"),
            held.alias("held"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique_texts"),
            (F.lit(1.0) - F.countDistinct("fp") / F.count(F.lit(1)))
            .alias("dup_ratio"),
            F.avg("q").alias("avg_quality"),
            F.avg("held").alias("held_out_ratio"),
        )
    )


def q_source_balance(documents: DataFrame, cap: int = 20) -> DataFrame:
    """Source-balanced downsampling — the mixture-rebalancing step of
    corpus prep: every source is capped at ~``cap`` documents' worth of
    probability mass (keep probability min(1, cap/n_source)), so one
    giant crawl can't dominate the training mixture (the same goal as
    temperature-based source sampling, as a hard cap).

    Membership is the stable md5 bucket IN [0, 10000) compared by
    integer cross-multiplication — ``bucket·n_source < cap·10000`` —
    so the decision is EXACT (no float keep-prob rounding), per-doc
    deterministic, stable under resharding and corpus growth within a
    source-count snapshot, and identical across engines
    (oracle-checked). Scale shape: one grouped count (rows = number of
    sources, coarse by construction) broadcast back, then a row-local
    filter fused into the scan — no shuffle of the corpus itself.
    """
    from movie_rec_spark.functions import stable_bucket

    counts = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_source_docs"))
    bucket = stable_bucket(F.col("doc_id"), 10000).cast("long")
    return (
        documents.select("doc_id", "source")
        .join(F.broadcast(counts), "source")
        .filter(bucket * F.col("n_source_docs") < F.lit(cap * 10000))
        .select("doc_id", "source", "n_source_docs")
    )


def q_pack_sequences(documents: DataFrame, budget: int = 512,
                     n_shards: int = 16) -> DataFrame:
    """Sequence-packing manifest — the concat-and-chunk step of LLM
    pretraining data prep: documents are concatenated in a
    deterministic order and sliced into fixed ``budget``-token training
    sequences; this query assigns every document its shard, its token
    offset within the shard's concatenated stream, the chunk (training
    sequence) its first token lands in, and whether it straddles a
    chunk boundary (the fraction a packing-efficiency report tracks).

    Scale shape: ONE shuffle on the shard key. Packing is sequential
    by nature (each offset depends on every predecessor), so the
    global stream is sharded first — stable md5 bucket mod n_shards,
    the same determinism discipline as q_sample_stable — and the
    running sum is a window per shard: n_shards-way parallel, exactly
    how production packers shard the corpus. All-integer arithmetic,
    so the manifest is engine-exact (oracle-checked).
    """
    from pyspark.sql import Window

    from movie_rec_spark.functions import stable_bucket

    shard = (stable_bucket(F.col("doc_id")) % n_shards).cast("int")
    n_tok = F.size(_tokens(F.col("text"))).cast("long")
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_offset")
    return (
        documents.select("doc_id", shard.alias("shard"),
                         n_tok.alias("n_tokens"))
        .select(
            "doc_id", "shard", "n_tokens",
            start,
            F.floor((cum - F.col("n_tokens")) / budget)
            .cast("long").alias("chunk_id"),
            (((cum - F.col("n_tokens")) % budget + F.col("n_tokens"))
             > budget).alias("crosses_boundary"),
        )
    )


def q_unigram_logprob(documents: DataFrame) -> DataFrame:
    """Statistical language-model quality proxy (CCNet-style): score
    every document by the mean log-probability of its tokens under the
    corpus's own unigram distribution — boilerplate and natural text
    score high (common tokens), garbled/noise text scores low (rare
    tokens). The production form scores against an external reference
    LM; self-scoring exercises the identical plan with no model input.

    Plan shape: one exploded-token shuffle builds the unigram counts;
    the corpus total rides along as a broadcast scalar; scoring joins
    tokens to the vocabulary-keyed frequency table (vocabulary-sized —
    Catalyst broadcasts it while it fits, shuffles otherwise) and one
    per-doc aggregation finishes. Scores are rounded to 4dp on both
    engines (ln and sum order differ in the last ulp).
    """
    toks = documents.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    freqs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = toks.select(F.count(F.lit(1)).alias("n_total"))
    scored = (
        toks.join(freqs, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id",
                F.log(F.col("tf") / F.col("n_total")).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
    )


BIGRAM_LAMBDA = 0.75  # interpolation weight on the bigram term


def q_bigram_logprob(documents: DataFrame,
                     lam: float = BIGRAM_LAMBDA) -> DataFrame:
    """Interpolated bigram LM quality score — the order-2 upgrade of
    q_unigram_logprob (KenLM-style filtering uses n-gram models for
    exactly this): every document scores the mean log of
    P(w_i | w_{i-1}) = λ·c(prev,cur)/c_prefix(prev) + (1−λ)·c(cur)/N,
    where c_prefix counts occurrences AS A BIGRAM PREFIX (so the
    conditional is a true MLE over the bigram event space) and the
    unigram back-off term keeps unseen-ish continuations finite.
    Repetitive boilerplate scores high, garbled text low, and unlike
    the unigram proxy, scrambled word ORDER now scores low too.

    Plan shape: bigrams form ROW-LOCALLY from the token array (a
    transform over indices fused into the scan — no positional
    self-join); three count aggregations (bigram, prefix, unigram —
    each one hash shuffle with map-side partials), vocabulary-sized
    join-backs that Catalyst broadcasts while they fit, and one
    per-doc aggregation. Docs with fewer than 2 tokens have no bigram
    events and are absent, same convention in the oracle.
    """
    w = _tokens(F.col("text"))
    toks = documents.select(
        "doc_id", F.explode(w).alias("term"))
    big = (
        documents.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.struct(
                F.element_at(F.col("w"), i).alias("prev"),
                F.element_at(F.col("w"), i + F.lit(1)).alias("cur")),
        )).alias("bg"))
        .select("doc_id", "bg.prev", "bg.cur")
    )
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("uf"))
    total = toks.select(F.count(F.lit(1)).alias("n_total"))
    bgc = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("bf"))
    pre = big.groupBy("prev").agg(F.count(F.lit(1)).alias("pf"))
    prob = (F.lit(lam) * (F.col("bf") / F.col("pf"))
            + F.lit(1.0 - lam) * (F.col("uf") / F.col("n_total")))
    return (
        big.join(bgc, ["prev", "cur"])
        .join(pre, "prev")
        .join(uni.withColumnRenamed("term", "cur"), "cur")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_bigrams"),
             F.round(F.avg(F.log(prob)), 4).alias("avg_logprob"))
    )


def q_epoch_mix(documents: DataFrame,
                quality_bar: float = 0.8,
                upweight_pct: int = 50) -> DataFrame:
    """Epoch mixture manifest — the upsampling step of training-data
    mixing: documents from HIGH-QUALITY sources (mean quality score >=
    ``quality_bar``) get a 1.5× sampling weight for the epoch; all
    others appear once. The fractional half-copy is realized
    deterministically — copy 2 exists iff the doc's stable md5 bucket
    < ``upweight_pct`` — so the epoch is reproducible, reshard-stable,
    and exactly auditable (no RNG stream), the same discipline as
    q_sample_stable / q_source_balance.

    Output: one row per (doc, copy): (doc_id, source, copy_idx,
    src_weight) — the manifest a data loader consumes to build the
    epoch. Scale shape: the per-source quality means are a
    sources-sized table broadcast back; the copy expansion is a
    row-local explode fused into the scan; one grouped agg is the only
    shuffle.
    """
    from movie_rec_spark.functions import stable_bucket

    srcq = (
        documents.select("source",
                         _quality_score(F.col("text")).alias("q"))
        .groupBy("source")
        .agg(F.avg("q").alias("src_quality"))
        .select("source",
                F.when(F.col("src_quality") >= quality_bar, 1.5)
                .otherwise(1.0).alias("src_weight"))
    )
    bucket = stable_bucket(F.col("doc_id"))
    n_copies = F.when(
        (F.col("src_weight") == 1.5) & (bucket < upweight_pct), 2
    ).otherwise(1)
    return (
        documents.select("doc_id", "source")
        .join(F.broadcast(srcq), "source")
        .select("doc_id", "source", "src_weight",
                F.explode(F.sequence(F.lit(1), n_copies))
                .alias("copy_idx"))
        .select("doc_id", "source",
                F.col("copy_idx").cast("int").alias("copy_idx"),
                "src_weight")
    )


def q_corpus_clean(documents: DataFrame) -> DataFrame:
    """End-to-end training-data cleaning — the composition a corpus
    pipeline actually runs, declared as ONE plan so Catalyst fuses it:

        quality gate (>= 0.75, q_quality_score rules)
        → detected-language filter (q_lang_id heuristic == 'en')
        → exact dedup, keep the smallest doc_id per content digest
        → deterministic md5-bucket train/val/test split

    Shuffle discipline at 100 TB: every gate and the split are
    row-local codegen fused into the parquet scan (column pruning to
    doc_id/text/source), and rows DROPPED by the gates never reach the
    shuffle — the plan's only exchange is the digest window for
    keep-first dedup, sized by the CLEANED corpus. Output is the
    training manifest: (doc_id, source, n_tokens, quality_score,
    split).
    """
    from pyspark.sql import Window

    score = _quality_score(F.col("text"))
    gated = (
        documents
        .select(
            "doc_id", "source",
            F.size(_tokens(F.col("text"))).cast("int").alias("n_tokens"),
            score.alias("quality_score"),
            F.md5(F.col("text").cast("binary")).alias("fp"),
        )
        .filter((score >= 0.75) & (_guessed_lang(F.col("text")) == "en"))
    )
    from movie_rec_spark.functions import stable_bucket

    kept = (
        gated
        .withColumn("min_id", F.min("doc_id").over(Window.partitionBy("fp")))
        .filter(F.col("doc_id") == F.col("min_id"))
    )
    bucket = stable_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )
    return kept.select("doc_id", "source", "n_tokens", "quality_score",
                       split.alias("split"))


EMBED_HASH_DIM = 64  # matches the embeddings table's FLOAT[64]


def q_text_embed(documents: DataFrame,
                 dim: int = EMBED_HASH_DIM) -> DataFrame:
    """Hashed bag-of-words text featurizer — the documents→embeddings
    bridge: every word hashes to one of ``dim`` positions (the same
    cross-engine-stable md5 recipe as functions.stable_bucket), counts
    accumulate per position, and the vector L2-normalizes. Output is
    FLAT (doc_id, pos, val) so the driver hash-checks real float
    values; ``text_embedding`` assembles the array form the similarity
    family (kNN / IVF / LSH / near-dup) consumes directly.

    This is the classic hashing-trick featurizer (feature hashing /
    HashingTF): no vocabulary state, no fit step, fully deterministic —
    the only text-to-vector encoder that needs zero driver state at
    100 TB. Plan shape: explode + row-local hash, ONE (doc_id, pos)
    shuffle with map-side combine, then a doc-keyed norm agg whose join
    rides the same key. All codegen, no Python.
    """
    from movie_rec_spark.functions import stable_bucket
    from movie_rec_spark.operators.skew import fanout_scan

    # fan the (often single-file or freshly-chunked single-task) input
    # out before the tokenize+hash explode — conditional no-op at real
    # scan parallelism (r12); serves every embed consumer (q_knn_text,
    # q_chunk_knn, q_rrf's dense arm)
    words = fanout_scan(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split("text", " ")).alias("w"))
    c = (words
         .select("doc_id", stable_bucket(F.col("w"), dim).alias("pos"))
         .groupBy("doc_id", "pos")
         .agg(F.count(F.lit(1)).alias("cnt")))
    n = c.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("cnt") * F.col("cnt"))).alias("nrm"))
    return (c.join(n, "doc_id")
            .select("doc_id", "pos",
                    F.round(F.col("cnt") / F.col("nrm"), 6).alias("val")))


def text_embedding(documents: DataFrame,
                   dim: int = EMBED_HASH_DIM) -> DataFrame:
    """Array form of q_text_embed: (doc_id AS vec_id, embedding
    array<double>) — drop-in input for q_knn_brute / ivf_* / lsh_* so
    text corpora get the whole ANN toolbox without an external encoder.
    One extra doc-keyed agg over the flat rows (map_from_entries →
    dense fill); zeros for unused positions."""
    flat = q_text_embed(documents, dim)
    m = (flat.groupBy("doc_id")
         .agg(F.map_from_entries(
             F.collect_list(F.struct("pos", "val"))).alias("m")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")),
                             F.lit(0.0)))
    return m.select(F.col("doc_id").alias("vec_id"),
                    dense.alias("embedding"))


def knn_sparse(flat: DataFrame, query_id: int, k: int,
               positive_only: bool = False) -> DataFrame:
    """Sparse inverted cosine top-k over a flat (doc_id, pos, val)
    hash-embedding table — the scoring kernel of q_knn_text /
    q_chunk_knn / q_rrf's dense arm, shaped exactly like their DuckDB
    oracles (inner join on matching positions, so zero-overlap docs
    never form rows; norms from the 6dp-rounded nonzero values; sim
    rounds to 4dp before the (sim DESC, doc_id) cut).

    This replaced the dense path (text_embedding → 64-wide arrays →
    q_knn_brute) after the retrieval_scale probe (``git show
    d6b2a7b:tools/retrieval_scale.py``) measured q_chunk_knn
    at 57.9 s at 30× corpus: chunks carry ≤CHUNK_TOKENS distinct
    positions, so densifying to dim-wide arrays (64 element_at map
    probes per chunk + a dim-length localCheckpoint materialization +
    a dim-length fold per cosine) paid ~6× the nonzero work at every
    step. Here the corpus-sized work is ONE (doc, pos) shuffle (the
    featurizer's own agg) + a broadcast join against the ≤dim-row
    query vector + a doc-keyed partial agg — every term touched is a
    true nonzero. Same 30× probe after: 5.4 s (10.7× less), identical
    oracle rows. q_knn_brute stays the dense kernel for REAL dense
    vectors (the embeddings table), where nnz == dim and arrays win.

    ``flat`` is referenced three times (norms, query row, corpus
    scan) — callers localCheckpoint it; it is nnz-sized, far smaller
    than the dense form it replaces.
    """
    n2 = flat.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("n2"))
    qv = (flat.filter(F.col("doc_id") == query_id)
          .select("pos", F.col("val").alias("qval")))
    qn = (n2.filter(F.col("doc_id") == query_id)
          .select(F.col("n2").alias("qn2")))
    sim = (
        flat.filter(F.col("doc_id") != query_id)
        .join(F.broadcast(qv), "pos")
        .groupBy("doc_id")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
        .join(n2, "doc_id")
        .crossJoin(F.broadcast(qn))
        .select("doc_id",
                F.round(F.col("dot") / (F.col("n2") * F.col("qn2")), 4)
                .alias("sim")))
    if positive_only:
        sim = sim.filter(F.col("sim") > 0)
    return sim.orderBy(F.desc("sim"), F.asc("doc_id")).limit(k)


def q_knn_text(documents: DataFrame, query_doc_id: int = 0,
               k: int = 10, dim: int = EMBED_HASH_DIM) -> DataFrame:
    """End-to-end semantic search over RAW TEXT: hash-featurize the
    corpus (``q_text_embed``) and run exact cosine top-k against one
    document's vector — no external encoder, no fitted state, one
    declared query from documents table to ranked neighbors. Scoring
    is the sparse inverted kernel (``knn_sparse``), the same shape the
    DuckDB oracle computes, so the whole text→vector→search path is
    hash-checked cross-engine."""
    # materialize the featurized corpus ONCE: norms, the query row,
    # and the scoring scan all read it, and without the checkpoint
    # each reference re-runs the full explode+agg pipeline. In a
    # service this flat table is the persisted embedding index.
    flat = q_text_embed(documents, dim).localCheckpoint(eager=False)
    return knn_sparse(flat, query_doc_id, k)


# PII patterns: RE2-compatible subset (no lookaround/backrefs) so the
# SAME pattern string runs in Spark (Java regex) and the DuckDB oracle.
PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
)


def pii_redact(col: Column) -> tuple[Column, dict[str, Column]]:
    """The reusable redaction kernel: (redacted text, {kind: count}).
    Counts are measured on the INPUT text per pattern independently
    (so they are order-free); replacement applies the patterns in
    PII_PATTERNS order (email before ipv4 before phone — an email that
    embeds digits must not be half-eaten by the numeric patterns).
    Pure regexp expressions → whole-stage codegen, no Python."""
    counts = {
        kind: F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        .cast("int").alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    }
    red = col
    for _, pat, token in PII_PATTERNS:
        red = F.regexp_replace(red, pat, token)
    return red, counts


def q_pii_redact(documents: DataFrame) -> DataFrame:
    """PII scrubbing — the redaction pass every LLM training pipeline
    runs before text leaves quarantine (emails, IPv4 addresses, phone
    numbers → typed placeholder tokens), with per-document counts for
    the removal-rate report.

    The fixture corpus is synthetic word-salad with NO PII, so a
    straight application would be a vacuous 0=0 oracle check; instead
    the query grafts a deterministic contact fragment (derived from
    doc_id) onto each document and redacts THAT — the kernel
    (pii_redact) is exercised non-vacuously on every row, and real
    corpora call pii_redact(col('text')) directly.

    Reference analogue: none (the reference stores raw user text); this
    extends the F4/F5 string-function family (SURVEY §2.8).

    Scale shape: map-only — three regexp_extract_all + three
    regexp_replace per row inside one codegen stage over the scan; no
    shuffle, no Python.
    """
    contact = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-0199"),
    )
    red, counts = pii_redact(contact)
    return documents.select(
        "doc_id",
        counts["email"], counts["ipv4"], counts["phone"],
        red.alias("redacted"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("table", "scan", "merge")
BM25_TOP_K = 20


def q_bm25(documents: DataFrame,
           query_terms: tuple[str, ...] = BM25_QUERY,
           top_k: int = BM25_TOP_K) -> DataFrame:
    """BM25 lexical retrieval — the classic sparse ranking function and
    the standard partner to the dense path (q_knn_text): top-k
    documents for a bag-of-words query, scored
    sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with
    idf = ln(1 + (N-df+0.5)/(df+0.5)) (Robertson/Sparck Jones).

    Reference analogue: none (the reference has no text search); this
    is the lexical member of the retrieval family alongside
    q_tfidf_top_terms (document keywords) and q_knn_text (dense ANN).

    Determinism across engines: per-term scores are rounded to 4
    decimals BEFORE summing and the doc total again after (same ulp
    discipline as q_tfidf_top_terms — ln differs in the last ulp);
    avgdl is built as exact-integer sum(dl)/N, and the top-k cut
    orders by (score, doc_id) so the limit is reproducible.

    Scale shape: tokens are filtered to the query's terms BEFORE the
    tf aggregation, so the exploded shuffle carries only matching
    rows (|query| << vocabulary); df and the corpus stats are
    broadcast scalars; the final top-k is TakeOrderedAndProject —
    no global sort, no window.
    """
    terms = list(query_terms)
    dl = documents.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"))
    toks = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (toks.filter(F.col("term").isin(terms))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tfn = (F.col("tf") * (BM25_K1 + 1.0)
           / (F.col("tf") + BM25_K1
              * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)))
    per_term = F.round(idf * tfn, 4)
    return (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(per_term), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(top_k)
    )


CHUNK_ID_STRIDE = 1000  # chunk_id = doc_id * stride + chunk_idx


def q_chunk_knn(documents: DataFrame, query_chunk_id: int = 0,
                k: int = 10, dim: int = EMBED_HASH_DIM) -> DataFrame:
    """RAG-granularity retrieval: semantic search over PARAGRAPH CHUNKS
    instead of whole documents — the retrieval unit every
    grounded-generation pipeline actually indexes. Composes three
    already-oracle-checked kernels end-to-end: chunk_rows (stride-K
    windows) → q_text_embed (hashing-trick featurizer) → knn_sparse
    (inverted cosine top-k), so the full documents→chunks→vectors→
    neighbors path is itself hash-checked cross-engine.

    chunk_id = doc_id·CHUNK_ID_STRIDE + chunk_idx keeps ids unique and
    invertible (chunk_idx < stride holds for any document under
    stride·CHUNK_TOKENS tokens; violated input would need a wider
    stride, asserted nowhere because ids are LongType with headroom).

    Scale shape: the chunking is map-side, the featurizer is one
    (chunk, pos) shuffle, and the scoring is the sparse inverted
    kernel (``knn_sparse`` — a chunk carries ≤CHUNK_TOKENS nonzero
    positions, so the former dense-array path paid ~6× the nonzero
    work; 57.9 → 5.4 s at the 30× retrieval_scale probe, see
    ``knn_sparse``) — at corpus scale the chunk vectors go through an
    IVF index (q_knn_ivf's cell probe) instead of the full scan.
    """
    from movie_rec_spark.operators.dedup import chunk_rows

    ch = chunk_rows(documents).select(
        (F.col("doc_id") * CHUNK_ID_STRIDE + F.col("chunk_idx"))
        .alias("doc_id"),
        F.col("chunk").alias("text"))
    flat = q_text_embed(ch, dim).localCheckpoint(eager=False)
    out = knn_sparse(flat, query_chunk_id, k)
    return out.select(
        F.col("doc_id").alias("chunk_id"),
        # exact integer division — float '/' loses id inversion > 2^53
        F.expr(f"doc_id div {CHUNK_ID_STRIDE}").alias("doc_id"),
        (F.col("doc_id") % CHUNK_ID_STRIDE).cast("int").alias("chunk_idx"),
        "sim")


WSAMPLE_PER_SOURCE = 3
WSAMPLE_M = 1 << 20  # uniform-grid resolution for the hash-derived u


def q_weighted_sample(documents: DataFrame,
                      per_source: int = WSAMPLE_PER_SOURCE) -> DataFrame:
    """Quality-weighted sampling without replacement, deterministic
    (Efraimidis-Spirakis A-ES): each doc draws a pseudo-uniform
    u ∈ (0,1) from its content-stable md5 hash and ranks by
    key = ln(u)/w with weight w = quality_score + 0.25 — the top
    ``per_source`` keys per source are the sample. Higher-quality docs
    win proportionally more often, yet membership is a pure function
    of (doc_id, corpus), so the sample is reproducible across runs,
    reshards, and engines — the property RNG df.sample() cannot give
    (cf. q_sample_stable for the unweighted split version).

    Scale shape: weight and key are row-local codegen; the per-source
    top-k is one source-keyed window (WindowGroupLimit) — a single
    shuffle. The ln ulp discipline: keys round to 6 decimals BEFORE
    ranking, doc_id breaks ties.
    """
    from pyspark.sql.window import Window

    from movie_rec_spark.functions import stable_bucket

    w_ = _quality_score(F.col("text")) + F.lit(0.25)
    u = (stable_bucket(F.col("doc_id"), WSAMPLE_M).cast("double")
         + F.lit(1.0)) / F.lit(float(WSAMPLE_M + 1))
    key = F.round(F.log(u) / w_, 6)
    win = Window.partitionBy("source").orderBy(
        F.desc("es_key"), F.asc("doc_id"))
    return (
        documents.select("doc_id", "source", key.alias("es_key"))
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= per_source)
        .select("doc_id", "source", "es_key",
                F.col("rn").cast("int").alias("rn"))
    )


# top-K corpus words define the vocabulary. 20 on the synthetic corpus
# (31 distinct words total) so the OOV tail is REAL — a K covering the
# whole vocabulary makes every oov_rate 0 and the audit vacuous.
VOCAB_K = 20


def q_vocab_coverage(documents: DataFrame, k: int = VOCAB_K) -> DataFrame:
    """Vocabulary-coverage audit: build the top-``k`` corpus vocabulary
    by word frequency (ties break lexicographically so the cut is
    deterministic across engines) and score every document's
    out-of-vocabulary rate — the standard pre-tokenizer health check
    before committing a tokenizer/vocab to a training run (a rising OOV
    rate per source flags encoding drift or a domain the vocab misses).

    Scale shape: the vocab is a 2-phase count aggregate + TakeOrdered K
    (one Exchange over distinct words, partial-aggregated map-side);
    the K surviving words come back as ONE bounded O(K) driver sync —
    same sanctioned class as the LSH sizing scalar — and return to the
    corpus as an array LITERAL, so the per-document scoring pass is
    MAP-ONLY codegen (size/filter/array_contains over the split,
    nothing exploded, no per-doc shuffle at all). Corpus side moves
    zero rows.
    """
    toks = F.split(F.col("text"), " ")
    words = documents.select(F.explode(toks).alias("w"))
    vocab = [r["w"] for r in
             (words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
              .orderBy(F.desc("cnt"), F.asc("w")).limit(k)
              .select("w").collect())]
    vocab_lit = F.array(*[F.lit(w) for w in sorted(vocab)])
    n_oov = F.size(F.filter(
        toks, lambda t: ~F.array_contains(vocab_lit, t)))
    n_tok = F.size(toks)
    return documents.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        n_oov.cast("bigint").alias("n_oov"),
        F.round(n_oov.cast("double") / n_tok, 4).alias("oov_rate"))


PASSAGE_WIDTH = 10  # tokens per retrieval passage
PASSAGE_STRIDE = 5  # 50% overlap — the RAG-standard sliding window


def q_passages(documents: DataFrame, width: int = PASSAGE_WIDTH,
               stride: int = PASSAGE_STRIDE) -> DataFrame:
    """OVERLAPPING passage windows — the retrieval-chunking complement
    of the stride==width operators (dedup.chunk_rows splits
    paragraph-proxy chunks; q_pack_sequences packs): a window of
    ``width`` tokens starts every ``stride`` tokens, so a fact
    straddling a chunk boundary is always fully inside SOME passage —
    the standard RAG indexing layout, paid for with width/stride ×
    storage. Output carries (passage_idx, start_tok, n_tokens, text)
    per window; trailing windows may be shorter.

    Scale shape: pure row-local codegen — one posexplode of the start
    sequence plus slice/array_join, ZERO Exchanges; emitted rows feed
    the same embed/index paths as q_chunk_knn.
    """
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(stride))
    d = documents.select(
        "doc_id", toks.alias("w"),
        F.posexplode(starts).alias("passage_idx", "start_tok"))
    arr = F.slice(F.col("w"), F.col("start_tok") + 1, width)
    return d.select(
        "doc_id",
        F.col("passage_idx").cast("bigint").alias("passage_idx"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.size(arr).cast("bigint").alias("n_tokens"),
        F.array_join(arr, " ").alias("passage"))


RRF_K = 60       # the standard RRF damping constant (Cormack 2009)
RRF_TOP = 10     # fused list size


def q_rrf(documents: DataFrame,
          query_terms: tuple[str, ...] = BM25_QUERY,
          k_const: int = RRF_K, top: int = RRF_TOP) -> DataFrame:
    """HYBRID retrieval: reciprocal-rank fusion (Cormack, Clarke &
    Büttcher 2009) of the lexical arm (q_bm25) and the dense arm
    (hash-embedding cosine, the q_knn_text kernel) for the SAME query
    — the standard way production search combines sparse and dense
    scores without tuning weights: score(d) = Σ_lists 1/(k + rank_d).

    The dense arm embeds the query text itself (a synthetic doc_id −1
    row unioned into the corpus before featurizing — the query must
    share the corpus' hashing vocabulary), so both arms answer the
    identical information need. Ranks, not scores, are fused: absent
    membership contributes 0 via rank 0, never NULL (NULL ranks would
    materialize as float64 in pandas and break the driver's
    representation-exact hash — the r05 HUGEINT lesson).

    Determinism: each arm's top-K cut is already oracle-deterministic
    ((rounded score, doc_id) order); ranks are exact ints; the fused
    score is CAST(1 AS DOUBLE)/(k+r) summed lexical-then-dense on both
    engines — correctly-rounded IEEE ops on exact inputs, bit-equal.

    Scale shape: both arms end in constant-size top-K lists, so the
    rank windows and the fusion join run on ≤2K rows regardless of
    corpus size — the corpus-scale work is exactly the two arms'
    already-measured shapes (BM25: term-filtered explode; dense: one
    featurize shuffle + broadcast-query scan).
    """
    from pyspark.sql.window import Window

    spark = documents.sparkSession
    qrow = local_df(
        spark, [(-1, " ".join(query_terms))],
        "doc_id bigint, text string")
    corpus = documents.select("doc_id", "text").unionByName(qrow)
    flat = q_text_embed(corpus, EMBED_HASH_DIM).localCheckpoint(
        eager=False)
    # positive_only (on the ROUNDED sim both engines compute):
    # zero-overlap docs must never pad the top-K by lowest doc_id —
    # the oracle's inverted-index join never forms them, and the
    # sparse kernel's inner position join plus the sim > 0 filter
    # matches that exactly. Retrieval semantics also want it: no
    # overlap, no result.
    dense = knn_sparse(flat, -1, BM25_TOP_K, positive_only=True)
    lex = q_bm25(documents, query_terms, BM25_TOP_K)
    # constant-size lists: a single-partition window here is O(top_k)
    r_lex = lex.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("long").alias("r_lex"))
    r_den = dense.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.desc("sim"), F.asc("doc_id")))
        .cast("long").alias("r_dense"))
    one = F.lit(1.0)
    fused = (
        r_lex.join(r_den, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("r_lex", F.lit(0)).alias("r_lex"),
            F.coalesce("r_dense", F.lit(0)).alias("r_dense"))
        .select(
            "doc_id", "r_lex", "r_dense",
            (F.when(F.col("r_lex") > 0,
                    one / (F.lit(k_const) + F.col("r_lex")))
             .otherwise(F.lit(0.0))
             + F.when(F.col("r_dense") > 0,
                      one / (F.lit(k_const) + F.col("r_dense")))
             .otherwise(F.lit(0.0))).alias("rrf"))
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(top)


BPE_ROUNDS = 6  # unrolled merge rounds (the oracle unrolls the same 6)


def q_bpe_merges(documents: DataFrame,
                 rounds: int = BPE_ROUNDS) -> DataFrame:
    """BPE merge induction — the core step of tokenizer TRAINING
    (Sennrich et al. 2016): repeatedly find the most frequent adjacent
    symbol pair in the corpus and fuse it into a new symbol. Output:
    one row per merge round (merge_round, left_sym, right_sym,
    pair_freq) — the merge table a tokenizer ships.

    The at-scale shape is the algorithm's own: the corpus collapses to
    the WORD-FREQUENCY DICT in one shuffle (the only corpus-sized
    move — identical to any word count), and every merge round runs on
    the dict alone (vocab-sized, ~10⁶ rows on real corpora): one
    row-local adjacent-pair expansion, one (a, b)-keyed weighted count,
    one TakeOrdered argmax collected to the driver (O(1) rows — the CC
    convergence-scalar discipline), and one row-local string replace
    applying the merge. Rounds eager-checkpoint so plans stay flat.
    Size-adaptive (r12, the CC_LOCAL_EDGE_CAP doctrine): dicts under
    BPE_LOCAL_WORD_CAP distinct words (0 disables the route) run
    the whole induction in ONE single-task pass over the materialized
    dict — identical argmax/replace semantics (see ``_bpe_local``) —
    instead of ``rounds`` driver-synchronized job batches; larger
    dicts take the unchanged distributed loop.

    Determinism across engines: the argmax tie rule is (freq DESC,
    left ASC, right ASC); merge application is PLAIN (non-regex)
    string replace of ' a b ' with ' ab ' on the space-padded symbol
    string — Java's and DuckDB's replace both substitute left-to-right
    non-overlapping occurrences, and because the pattern ' a a '
    CONSUMES the shared delimiter space, a run 'a a a' fuses only its
    FIRST pair per pass ('aaaa' → 'aa a a', pinned by
    test_bpe_known_corpus_and_run_semantics); canonical BPE differs
    only on such runs, identically on both sides. Symbols are literal
    strings throughout — no regex metacharacter hazard.

    Reference analogue: none (SURVEY §2 has no tokenizer); this is the
    vocabulary-induction member of the token family next to
    q_token_counts / q_vocab_coverage / q_unigram_logprob.
    """
    cur = _bpe_word_dict(documents)
    if BPE_LOCAL_WORD_CAP and cur.count() <= BPE_LOCAL_WORD_CAP:
        return _bpe_local(cur, rounds, emit="merges")
    merges, _ = _bpe_train_iter(cur, rounds)
    schema = ("merge_round int, left_sym string, right_sym string, "
              "pair_freq bigint")
    return local_df(documents.sparkSession, merges, schema)


# Below this many DISTINCT WORDS, the whole merge induction runs in ONE
# single-task mapInPandas pass over the materialized word dict instead
# of ``rounds`` driver-synchronized (pair-count agg + TakeOrdered
# collect + eager checkpoint) jobs (guide §1.2 — the CC_LOCAL_EDGE_CAP
# doctrine applied to BPE: at test scale the loop's wall is pure
# per-round scheduling, for a dict one core folds in milliseconds).
# 2M dict rows is tens of MB — trivially one task's memory; real
# tokenizer vocabularies (~10^6 words after frequency collapse) fit,
# which is exactly why classical BPE trainers are single-machine over
# the dict. A corpus whose SPLIT dict exceeds the cap takes the
# unchanged distributed loop.
BPE_LOCAL_WORD_CAP = 2_000_000


def _bpe_word_dict(documents: DataFrame) -> DataFrame:
    """The corpus→word-frequency-dict collapse — the ONLY corpus-sized
    move of BPE training (identical to a word count); both the local
    and the iterative route train on this frame alone. Lazily
    checkpointed: the local route's size gate counts it, and the
    iterative route references it once per round."""
    chars = F.array_remove(F.split(F.col("w"), ""), "")
    return (
        documents.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
        .select("w", F.array_join(chars, " ").alias("sym"), "freq")
        .localCheckpoint(eager=False)
    )


def _bpe_local(cur: DataFrame, rounds: int, emit: str) -> DataFrame:
    """Single-task BPE merge induction over the materialized word dict:
    the exact iterative semantics — per-round adjacent-pair weighted
    count, argmax tie rule (freq DESC, left ASC, right ASC), PLAIN
    left-to-right non-overlapping ' a b '→' ab ' replace on the
    space-padded symbol string — replicated with Python's own
    primitives, which share them: ``str.replace`` IS Java
    ``String.replace`` (literal, left-to-right, pattern consumes the
    shared delimiter space so 'a a a' fuses only its first pair per
    pass), and Python's str ordering (code points) equals Spark's
    UTF8String byte ordering (UTF-8 preserves code-point order).
    ``emit='merges'`` yields the merge table rows, ``emit='dict'`` the
    final segmented dict — the two consumers of ``_bpe_train_iter``."""
    schema = ("merge_round int, left_sym string, right_sym string, "
              "pair_freq bigint") if emit == "merges" else \
        "w string, sym string, freq bigint"

    def fn(batches):
        import pandas as pd

        words: list = []
        syms: list = []
        freqs: list = []
        for pdf in batches:
            words += pdf["w"].tolist()
            syms += pdf["sym"].tolist()
            freqs += pdf["freq"].tolist()
        merges: list[tuple] = []
        for r in range(1, rounds + 1):
            pc: dict = {}
            for sym, fq in zip(syms, freqs):
                parts = sym.split(" ")
                for i in range(len(parts) - 1):
                    k = (parts[i], parts[i + 1])
                    pc[k] = pc.get(k, 0) + fq
            if not pc:
                break
            (a, b), pf = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            merges.append((r, a, b, pf))
            pat, rep = f" {a} {b} ", f" {a}{b} "
            syms = [f" {s} ".replace(pat, rep).strip(" ") for s in syms]
        if emit == "merges":
            yield pd.DataFrame({
                "merge_round": pd.Series(
                    [m[0] for m in merges], dtype="int32"),
                "left_sym": pd.Series(
                    [m[1] for m in merges], dtype="object"),
                "right_sym": pd.Series(
                    [m[2] for m in merges], dtype="object"),
                "pair_freq": pd.Series(
                    [m[3] for m in merges], dtype="int64")})
        else:
            yield pd.DataFrame({
                "w": pd.Series(words, dtype="object"),
                "sym": pd.Series(syms, dtype="object"),
                "freq": pd.Series(freqs, dtype="int64")})

    return cur.coalesce(1).mapInPandas(fn, schema)


def _bpe_train_iter(cur: DataFrame,
                    rounds: int) -> tuple[list[tuple], DataFrame]:
    """The shared BPE training loop: returns (merge table rows, the
    final word-frequency dict with its post-merge segmentation) — the
    dict is the encode side q_bpe_encode exposes. Takes the
    already-built word dict (``_bpe_word_dict``).

    Character-split parity caveat: the initial segmentation (Spark
    ``F.split(w, '')`` vs DuckDB ``string_split(w, '')``) is
    guaranteed to agree on ASCII/BMP code points only — the two
    engines' empty-delimiter splits may segment surrogate-pair
    (non-BMP) or combining-character input differently, which would
    silently break oracle parity on such corpora. The documents
    fixture is ASCII; a non-ASCII corpus should pre-normalize or pin
    the behavior per engine before trusting the hashes."""
    merges: list[tuple] = []
    for r in range(1, rounds + 1):
        arr = F.split("sym", " ")
        n = F.size(arr)
        pair = F.explode(F.zip_with(
            F.slice(arr, 1, n - 1), F.slice(arr, 2, n - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b"))))
        pc = (cur.select("freq", pair.alias("p"))
              .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
              .agg(F.sum("freq").alias("pf")))
        best = pc.orderBy(F.desc("pf"), F.asc("a"), F.asc("b")) \
                 .limit(1).collect()
        if not best:
            break
        a, b, pf = best[0].a, best[0].b, best[0].pf
        merges.append((r, a, b, pf))
        cur = (cur.select(
            "w",
            F.trim(F.replace(
                F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))).alias("sym"),
            "freq")
            .localCheckpoint(eager=True))
    return merges, cur


def q_bpe_encode(documents: DataFrame,
                 rounds: int = BPE_ROUNDS) -> DataFrame:
    """The ENCODE half of the tokenizer story: the vocabulary after
    applying the learned merges — each distinct word with its corpus
    frequency, its post-merge segmentation, and its token count before
    (characters) and after. sum(freq·n_tokens)/sum(freq·n_chars) over
    this table is the compression ratio a tokenizer is judged by.

    Identical training loop as q_bpe_merges (shared word dict + the
    same size-adaptive route: single-task local induction under the
    word cap, the distributed `_bpe_train_iter` loop above it); the
    oracle unrolls the same rounds carrying the word through, so
    the final dict CTE IS the expected output. Encoding real corpora
    at serving time is the same chain of ``rounds`` plain replaces —
    row-local, whole-stage codegen, no Python.
    """
    cur = _bpe_word_dict(documents)
    if BPE_LOCAL_WORD_CAP and cur.count() <= BPE_LOCAL_WORD_CAP:
        dict_df = _bpe_local(cur, rounds, emit="dict")
    else:
        _, dict_df = _bpe_train_iter(cur, rounds)
    return dict_df.select(
        F.col("w").alias("word"), "freq",
        F.col("sym").alias("encoded"),
        F.size(F.split("sym", " ")).cast("int").alias("n_tokens"),
        F.length(F.replace(F.col("w"), F.lit(" "), F.lit("")))
        .cast("int").alias("n_chars"))


LENGTH_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048)


def q_length_buckets(documents: DataFrame,
                     buckets: tuple[int, ...] = LENGTH_BUCKETS
                     ) -> DataFrame:
    """Length-bucketed batching audit — the padding-waste accounting a
    packing pipeline runs before choosing bucket boundaries: each doc
    lands in the smallest bucket covering its token count, and each
    bucket reports docs, real tokens, padded capacity, and the waste
    ratio (padding / capacity) that fixed-length batching would burn.
    q_pack_sequences is the greedy-packing alternative; this table is
    how you justify one over the other on a given corpus.

    Buckets are INTEGER literals compared in a CASE chain (generated
    once in Python for both engines) — no log2/pow floats anywhere, so
    bucket assignment is exact by construction; the only division is
    the final raw int/int waste ratio. Map-only until one O(|buckets|)
    aggregate.

    Docs longer than the largest bucket report as bucket 0 — the
    explicit "does not fit, must be split/truncated" marker — with
    capacity = their real token sum (a fixed-length batch cannot hold
    them, so padding accounting is meaningless there and the waste
    ratio is 0 by definition, never negative).
    """
    n = F.size(F.split("text", " ")).cast("long")
    bucket = F.lit(0).cast("long")  # 0 = does not fit any bucket
    for b in reversed(buckets):
        bucket = F.when(n <= b, F.lit(b).cast("long")).otherwise(bucket)
    g = (documents.select(bucket.alias("bucket"), n.alias("nt"))
         .groupBy("bucket")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("nt").alias("n_tokens")))
    cap = F.when(F.col("bucket") == 0, F.col("n_tokens")) \
        .otherwise(F.col("bucket") * F.col("n_docs"))
    return (g.select(
        "bucket", "n_docs", "n_tokens",
        cap.alias("capacity"),
        ((cap - F.col("n_tokens")) / cap).alias("waste_ratio"))
        .orderBy("bucket"))


# DSIR-style data selection (Xie et al., "Data Selection for Language
# Models via Importance Resampling"): score every raw document by how
# much more target-like than raw-like its hashed n-gram features are,
# then keep the top slice. The production form uses float log-ratio
# bag-of-words scores; here the per-bucket weight is the add-one-
# smoothed probability DIFFERENCE cleared to a common denominator —
# pure int64, so the ranking is oracle-exact cross-engine (the
# q_quality_classifier integer-margin doctrine applied to importance
# weighting). int64 safety is bounded by the LARGEST bucket, not the
# corpus: a doc's score ≤ n_tokens_doc · max|w| and max|w| ≤
# (max_bucket_count+1)·(T+R+2b), so with roughly uniform occupancy
# (max bucket ≈ tokens/b) the bound is ~ n_doc·tokens²/b — safe to
# ~1e8 corpus tokens at b=4096 — but a pathologically skewed bucket
# (all tokens hashing together) tightens that to ~√(2^63/n_doc)
# tokens; beyond either bound the float log-ratio path takes over
# (the plan shape is identical).
DSIR_BUCKETS = 4096
DSIR_TARGET_SOURCE = "src0"  # in-domain proxy: one source plays target
DSIR_KEEP_NUM, DSIR_KEEP_DEN = 1, 5  # keep the top 1/5 by importance
DSIR_COARSE_CELLS = 65536  # coarse score-grid width for the threshold form


def dsir_scored(documents: DataFrame,
                target_source: str = DSIR_TARGET_SOURCE,
                b: int = DSIR_BUCKETS) -> DataFrame:
    """Shared DSIR scoring kernel: (doc_id, source, n_tokens, score)
    with the int64 common-denominator importance score described in
    the module comment above. One map-side token explode feeds BOTH
    sides — the bucket stats are ONE groupBy over at most ``b`` keys
    (KBs at any corpus size, conditional sums split target from raw in
    the same pass), which broadcast-joins back onto the token stream;
    the doc score is one doc_id-keyed sum. Both declared forms
    (q_importance_resample's oracle-exact global rank and
    q_importance_threshold's at-scale threshold cut) build on this."""
    tok = documents.select(
        "doc_id", "source",
        F.explode(_tokens(F.col("text"))).alias("t"))
    bucket = (F.conv(F.substring(F.md5(F.col("t").cast("binary")),
                                 1, 14), 16, 10).cast("long") % b)
    feats = tok.select("doc_id", "source", bucket.alias("bucket"))
    stats = (feats.groupBy("bucket")
             .agg(F.sum((F.col("source") == target_source)
                        .cast("long")).alias("ct"),
                  F.count(F.lit(1)).cast("long").alias("cr")))
    tot = stats.agg(F.sum("ct").alias("t_tot"), F.sum("cr").alias("r_tot"))
    w = (stats.crossJoin(F.broadcast(tot))
         .select("bucket",
                 ((F.col("ct") + 1) * (F.col("r_tot") + b)
                  - (F.col("cr") + 1) * (F.col("t_tot") + b))
                 .alias("w")))
    return (feats.join(F.broadcast(w), "bucket")
            .groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.sum("w").cast("long").alias("score")))


def q_importance_resample(documents: DataFrame,
                          target_source: str = DSIR_TARGET_SOURCE,
                          b: int = DSIR_BUCKETS) -> DataFrame:
    """Declared query: hashed-unigram importance resampling. Tokens
    hash into ``b`` buckets (56-bit md5 prefix mod b, the shared
    portable recipe); the target distribution is the ``target_source``
    slice, raw is the whole corpus. Per-bucket weight

        w[bkt] = (ct+1)*(R+b) - (cr+1)*(T+b)

    (ct/cr = target/raw token counts in the bucket, T/R the totals) is
    the sign-and-magnitude of smoothed p_target(bkt) - p_raw(bkt) over
    the common denominator (T+b)(R+b); a doc's importance score is the
    bag-of-words weight sum. Docs rank by (score DESC, doc_id) and the
    top KEEP_NUM/KEEP_DEN are selected.

    Scale shape: scoring is ``dsir_scored`` (bucket stats broadcast
    back onto the token stream, one doc-keyed sum). The final rank
    HERE is a global unpartitioned row_number over doc rows — a
    single-task sort at corpus scale, kept because the explicit rank
    column is what makes this form oracle-exact at test scale. The
    AT-SCALE default is ``q_importance_threshold``: the identical
    selection set via a two-level exact score histogram and a
    map-side threshold compare, with no corpus-cardinality window
    anywhere (the q_candidates / q_candidates_scalable pairing
    doctrine applied to selection).

    Output: (doc_id, source, n_tokens, score, imp_rank, selected).
    Reference analogue: none; beyond-reference LLM-pipeline member.
    """
    from pyspark.sql.window import Window

    scored = dsir_scored(documents, target_source, b)
    wr = Window.orderBy(F.desc("score"), "doc_id")
    wall = Window.partitionBy()
    return (
        scored
        .withColumn("imp_rank", F.row_number().over(wr).cast("int"))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .select("doc_id", "source", "n_tokens", "score", "imp_rank",
                (F.col("imp_rank") * DSIR_KEEP_DEN
                 <= F.col("_n") * DSIR_KEEP_NUM).cast("int")
                .alias("selected"))
        .orderBy("doc_id")
    )


def q_importance_threshold(documents: DataFrame,
                           target_source: str = DSIR_TARGET_SOURCE,
                           b: int = DSIR_BUCKETS,
                           cells: int = DSIR_COARSE_CELLS) -> DataFrame:
    """Declared query: DSIR selection at scale — the SAME top
    KEEP_NUM/KEEP_DEN set as ``q_importance_resample`` (bit-identical
    selection, proven by the shared DuckDB oracle) with NO global
    rank: the keep/drop decision becomes a map-side comparison against
    an exactly-computed score threshold, so no corpus-cardinality rows
    ever pass through an unpartitioned window.

    Threshold discovery is a two-level exact selection (the
    q_quantile_bins histogram doctrine, hardened for unbounded score
    variety by a coarse grid):

    1. score histogram — ONE score-keyed groupBy (cells bounded by
       score VARIETY; map-side partials collapse doc rows first);
    2. coarse pass — histogram cells fold onto a ≤``cells``-wide
       integer grid (width = (max−min) DIV cells + 1, integer DIV so
       no float precision loss above 2^53); a cumulative count over
       the ≤65536 grid rows (bounded by CONSTRUCTION, not by data)
       locates the one grid cell containing the k-th score and the
       count m0 strictly above it;
    3. fine pass — only histogram cells inside that ONE grid cell
       (expected corpus/65536, re-coarsenable recursively if ever
       skewed) rank exactly → the threshold score t and the count m
       of docs strictly above t;
    4. selection — selected := score > t OR (score = t AND m +
       tie_rank ≤ k), where tie_rank is a row_number PARTITIONED BY
       score (partition size = tie mass, never corpus size): exactly
       the (score DESC, doc_id) rank semantics, map-side for every
       non-tie row.

    k = ⌊N·KEEP_NUM/KEEP_DEN⌋ matches the rank form's
    ``imp_rank·DEN ≤ N·NUM`` predicate exactly. All arithmetic is
    int64 (integer DIV, no float division anywhere), so the threshold
    — and therefore the selection set — is oracle-exact cross-engine.

    Output: (doc_id, source, n_tokens, score, selected) — the rank
    form minus the global-rank column it exists to avoid.
    Reference analogue: none; beyond-reference LLM-pipeline member.
    """
    from pyspark.sql.window import Window

    scored = dsir_scored(documents, target_source, b) \
        .localCheckpoint(eager=False)
    hist = (scored.groupBy("score")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .localCheckpoint(eager=False))
    tot = hist.agg(
        F.sum("_cnt").alias("_n"),
        F.min("score").alias("_smin"),
        F.max("score").alias("_smax"))
    # integer grid width; DIV keeps exactness for |score| beyond 2^53
    tot = tot.select(
        "_smin",
        F.expr(f"(_n * {DSIR_KEEP_NUM}) DIV {DSIR_KEEP_DEN}").alias("_k"),
        F.expr(f"(_smax - _smin) DIV {cells} + 1").alias("_w"))
    cb = F.expr("(score - _smin) DIV _w")
    coarse = (hist.crossJoin(F.broadcast(tot))
              .groupBy(cb.alias("_cb"))
              .agg(F.sum("_cnt").alias("_cnt"),
                   F.max("_k").alias("_k"), F.max("_smin").alias("_smin"),
                   F.max("_w").alias("_w")))
    w_desc = (Window.orderBy(F.desc("_cb"))
              .rowsBetween(Window.unboundedPreceding, 0))
    coarse_cum = coarse.select(
        "_cb", "_k", "_smin", "_w",
        F.sum("_cnt").over(w_desc).alias("_cum"),
        (F.sum("_cnt").over(w_desc) - F.col("_cnt")).alias("_m0"))
    cell = coarse_cum.filter(
        (F.col("_m0") < F.col("_k")) & (F.col("_cum") >= F.col("_k")))
    fine = (hist.join(F.broadcast(cell),
                      cb == F.col("_cb"), "inner"))
    wf_desc = (Window.orderBy(F.desc("score"))
               .rowsBetween(Window.unboundedPreceding, 0))
    fine_cum = fine.select(
        F.col("score").alias("_t"), "_k",
        (F.col("_m0") + F.sum("_cnt").over(wf_desc)).alias("_cum2"),
        (F.col("_m0") + F.sum("_cnt").over(wf_desc) - F.col("_cnt"))
        .alias("_m"))
    # aggregate to EXACTLY one row (nulls when k=0 selects nothing),
    # so the broadcast join below never drops the corpus
    thr = (fine_cum.filter((F.col("_m") < F.col("_k"))
                           & (F.col("_cum2") >= F.col("_k")))
           .agg(F.max("_t").alias("_t"), F.max("_m").alias("_m"),
                F.max("_k").alias("_k")))
    w_tie = Window.partitionBy("score").orderBy("doc_id")
    return (
        scored
        .withColumn("_tie", F.row_number().over(w_tie).cast("long"))
        .crossJoin(F.broadcast(thr))
        .select(
            "doc_id", "source", "n_tokens", "score",
            F.coalesce(
                (F.col("score") > F.col("_t"))
                | ((F.col("score") == F.col("_t"))
                   & (F.col("_m") + F.col("_tie") <= F.col("_k"))),
                F.lit(False)).cast("int").alias("selected"))
        .orderBy("doc_id")
    )


# Temperature-based source sampling (the multilingual / data-mixing
# formula: p_s ∝ n_s^α with α < 1 flattening the source distribution
# toward uniform). α is fixed at 1/2 because sqrt is the ONE power
# IEEE-754 specifies correctly-rounded — bit-identical in the JVM,
# DuckDB, and numpy — so the weights are cross-engine exact without
# the ulp lottery of pow(x, 0.7); other temperatures take the same
# plan with a documented float tolerance instead of a hash row.
MIX_ALPHA_NUM, MIX_ALPHA_DEN = 1, 2
MIX_MICRO = 1_000_000  # weight grid: micro-units of sqrt(tokens)


def q_mixture_weights(documents: DataFrame) -> DataFrame:
    """Declared query: temperature-sampled source mixture weights —
    the step that decides how often a training loader draws from each
    source (Lample & Conneau 2019's α-smoothing; the soft companion of
    q_source_balance's hard cap and q_epoch_mix's quality upweight).

    Exactness: per-source token counts are int64; s = sqrt(n_tokens)
    is IEEE-correctly-rounded on both engines; s snaps to the
    MIX_MICRO integer grid (round half-away on the identical double),
    and the final weight is the PURE-INTEGER floor ratio
    (micro_s·10⁶) DIV Σmicro — no float division or 6-dp round at
    all, because rounding a raw double ratio is exactly the
    Spark-vs-DuckDB shortest-repr divergence class this repo's
    doctrine forbids (see the module-top comment). int64-exact while
    micro·10⁶ < 2^63, i.e. to ~8·10¹³ tokens in any ONE source.

    Scale shape: ONE sources-sized groupBy (map-side partials collapse
    the token stream) and a broadcast total — the corpus is scanned
    once, nothing else moves. Output: (source, n_docs, n_tokens,
    weight_ppm) ordered by source; weights sum to ≤10⁶ (floor slack
    < n_sources ppm).
    Reference analogue: none; beyond-reference LLM-pipeline member.
    """
    per = (documents
           .select("source", F.size(_tokens(F.col("text")))
                   .cast("long").alias("nt"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("nt").alias("n_tokens")))
    micro = F.round(F.sqrt(F.col("n_tokens").cast("double"))
                    * MIX_MICRO, 0).cast("long")
    w = per.select("source", "n_docs", "n_tokens",
                   micro.alias("micro"))
    tot = w.agg(F.sum("micro").alias("tot"))
    return (w.crossJoin(F.broadcast(tot))
            .select("source", "n_docs", "n_tokens",
                    F.expr("(micro * 1000000) DIV tot")
                    .alias("weight_ppm"))
            .orderBy("source"))


SHARD_N = 32  # training-shard fan-out for the balance audit


def q_shard_balance(documents: DataFrame,
                    n_shards: int = SHARD_N) -> DataFrame:
    """Declared query: training-shard balance audit — hash-assign every
    document to one of ``n_shards`` writer shards (the stable md5
    recipe, reshard-proof) and report each shard's document and token
    load plus its load ratio vs the ideal 1/n_shards share. The audit a
    distributed tokenizer/writer job runs BEFORE burning cluster-days
    on a skewed layout (hot shards gate the whole epoch's wall-clock).

    Exactness: loads are int64 sums; the skew metric is the
    PURE-INTEGER floor share (n_tokens·10⁶) DIV total ppm — no float
    division or 6-dp round (the shortest-repr divergence class the
    module-top comment documents). int64-exact while n_tokens·10⁶ <
    2^63, i.e. to ~9·10¹² tokens in any ONE shard; the ideal share is
    10⁶ DIV n_shards ppm (31250 at 32 shards).

    Scale shape: map-side shard expression fused into the scan + ONE
    ≤n_shards-key aggregate + a broadcast total. Nothing else moves.
    Reference analogue: none; beyond-reference LLM-pipeline member.
    """
    from movie_rec_spark.functions import stable_bucket

    # hash directly mod n_shards: 2^32 % 32 == 0 so the assignment is
    # EXACTLY uniform over the hash space — a two-step % 10000 %
    # n_shards would bake a ~0.3% bias (313 vs 312 buckets per shard)
    # into the very skew this audit measures, since 32 does not divide
    # 10000 (q_curriculum_order's 16 does, so it keeps the folded form)
    shard = stable_bucket(F.col("doc_id"), n_shards)
    per = (documents
           .select(shard.alias("shard"),
                   F.size(_tokens(F.col("text"))).cast("long")
                   .alias("nt"))
           .groupBy("shard")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("nt").alias("n_tokens")))
    tot = per.agg(F.sum("n_tokens").alias("tot"))
    return (per.crossJoin(F.broadcast(tot))
            .select("shard", "n_docs", "n_tokens",
                    F.expr("(n_tokens * 1000000) DIV tot")
                    .alias("load_ppm"))
            .orderBy("shard"))


CURRICULUM_SHARDS = 16


def q_curriculum_order(documents: DataFrame,
                       n_shards: int = CURRICULUM_SHARDS) -> DataFrame:
    """Declared query: length-curriculum training order — documents
    are banded by ⌊log2(n_tokens)⌋ (short→long curriculum, the
    sequence-length warmup schedule), shuffled WITHIN each band by the
    stable md5 hash (deterministic, reshard-proof — no RNG stream),
    and assigned a per-shard position so ``n_shards`` loader workers
    can stream their slices independently.

    Scale shape: the global order is never materialized — band and
    hash are map-side expressions, the shard assignment is a hash
    bucket, and the position is a row_number PARTITIONED BY shard
    (per-task work = one shard's slice, the q_assign_ids discipline:
    no corpus-cardinality unpartitioned window). One shard-keyed
    Exchange total.

    Output: (doc_id, band, shard, pos) — pos orders (band ASC,
    hash, doc_id) within the shard. All integer/string comparisons,
    engine-exact: the band is ⌊log2 n⌋ computed as
    len(binary-repr(n)) − 1 (conv base-2 / bin()), NOT a float log2 —
    float logs carry no correct-rounding guarantee AT the power-of-two
    band edges, exactly where the floor flips.
    Reference analogue: none; beyond-reference LLM-pipeline member.
    """
    from pyspark.sql.window import Window

    from movie_rec_spark.functions import stable_bucket

    nt = F.size(_tokens(F.col("text"))).cast("long")
    band = (F.length(F.conv(F.greatest(nt, F.lit(1)).cast("string"),
                            10, 2)) - 1).cast("int")
    hk = F.md5(F.col("doc_id").cast("string").cast("binary"))
    shard = (stable_bucket(F.col("doc_id"), 10000)
             % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("band", "hk", "doc_id")
    return (documents
            .select("doc_id", band.alias("band"), hk.alias("hk"),
                    shard.alias("shard"))
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .select("doc_id", "band", "shard", "pos")
            .orderBy("doc_id"))


def q_pipeline_llm(documents: DataFrame,
                   n_docs: int | None = None) -> DataFrame:
    """Declared query (r11; near-dedup stage added r12): the COMPOSED
    LLM-data pipeline — every stage an already-declared operator,
    chained as ONE lazy plan, so the hash row proves the operators
    compose (which no single-family query does):

        1. clean      — quality gate ≥ 0.75 + language filter 'en' +
                        exact dedup keep-min-id (q_corpus_clean's
                        gates, carrying text forward)
        2. scrub      — ExactSubstr duplicate-span removal
                        (q_substring_prune); cleaned_text becomes the
                        working text
        3. near-dedup — drop every doc within SHP_HMAX hamming bits
                        (portable simhash over the SCRUBBED text, the
                        q_dedup_simhash family) of a smaller-id
                        survivor: the kept set is pairwise
                        near-dup-free. The greedy smaller-partner
                        rule, not connected components, keeps the
                        stage a LAZY plan (the CC closure needs an
                        iterative driver loop — q_minhash_groups
                        exists for component-canonical semantics);
                        it also drops strictly fewer docs than CC
                        canonicalization (one survivor per simhash
                        star, not per component).
        4. decontam   — train docs containing ≥ DECON_THRESHOLD of any
                        held-out doc's shingles are DROPPED
                        (q_decontaminate findings applied; the
                        pipeline ships the train split)
        5. select     — DSIR importance threshold keeps the top
                        KEEP_NUM/KEEP_DEN (q_importance_threshold, the
                        at-scale no-global-rank form)
        6. mix + pack — temperature mixture weights per source
                        (q_mixture_weights) joined onto the sequence
                        packing manifest (q_pack_sequences)

    Output: one row per SHIPPED document — (doc_id, source, shard,
    n_tokens, start_offset, chunk_id, crosses_boundary, weight_ppm),
    ordered by doc_id. The DuckDB oracle chains the stage oracles as
    CTEs, so a hash match certifies every inter-stage handoff.

    Scale shape: no driver COLLECT anywhere in the chain (plan-tested
    via a collect/head/first/toPandas spy); each stage keeps its own
    declared exchange discipline, and every stage after clean operates
    on the SHRUNK survivor set. Each multiply-referenced stage handoff
    (kept feeds scrub twice; docs2 feeds the simhash pairs + the
    anti-join; docs2nd feeds decontaminate + the train filter; docs3
    feeds weights + packing + the final join) is cut — without the
    cuts Catalyst re-executes clean→scrub→decontam once per branch
    (measured 17–21 s vs 8–9 s at sf0.1). Each cut is a
    ``localCheckpoint(eager=False)``: executor-side materialization,
    nothing to the driver. The blocks are executor-local and
    non-replicated, so a lost executor fails the composed run, which
    then reruns from scratch (as the reference retrain does,
    trainer.py:45-66); on Spark 4.1 even ``eager=False`` runs the
    materialization jobs at builder time.

    ``n_docs`` (parquet-footer corpus count) sizes the near-dedup
    signatures via ``simhash_sized_params`` so chance candidates stay
    linear at scale; ``None`` keeps the pinned 56/14 declared form —
    which is exactly what the sizer returns below its floor, so the
    declared query and the oracle agree at test scale.
    Reference analogue: the LLM-data counterpart of pipeline.py's
    reference-parity composition (prepare_dataset.py:88-160 chains
    clean → transform → load the same way for ratings).
    """
    from pyspark.sql.window import Window

    from movie_rec_spark.functions import stable_bucket
    from movie_rec_spark.operators.dedup import (TRAIN_MAX_BUCKET,
                                                 q_decontaminate,
                                                 q_substring_prune,
                                                 simhash_neardup)

    # 1. clean (q_corpus_clean's gates, text carried forward). The
    # quality/lang regex chain + fp md5 is per-row-heavy and otherwise
    # runs on the single-task scan at test scale — fan the corpus out
    # first (no-op wherever the table already has scan parallelism).
    from movie_rec_spark.operators.skew import fanout_scan

    score = _quality_score(F.col("text"))
    gated = (fanout_scan(documents.select("doc_id", "source", "text"))
             .select("doc_id", "source", "text",
                     F.md5(F.col("text").cast("binary")).alias("fp"))
             .filter((score >= 0.75)
                     & (_guessed_lang(F.col("text")) == "en")))
    kept = (gated
            .withColumn("_mi", F.min("doc_id").over(
                Window.partitionBy("fp")))
            .filter(F.col("doc_id") == F.col("_mi"))
            .select("doc_id", "source", "text")
            .localCheckpoint(eager=False))
    # 2. scrub: the ExactSubstr prune's cleaned_text is the working
    # text from here on (the pipeline audits what it ships)
    scrub = q_substring_prune(kept)
    docs2 = (scrub
             .join(kept.select("doc_id", "source"), "doc_id")
             .select("doc_id", F.col("cleaned_text").alias("text"),
                     "source")
             .localCheckpoint(eager=False))
    # 3. near-dedup on the scrubbed text: a doc with ANY smaller-id
    # survivor within the hamming radius is dropped, so every
    # within-radius pair loses its larger member and the shipped set
    # contains no near-dup pair. Blocked pigeonhole equi-join
    # (simhash_neardup) — cost tracks near-dup density, never |docs|².
    dups = (simhash_neardup(docs2, n_docs=n_docs)
            .select(F.col("doc_b").alias("doc_id")).distinct())
    docs2nd = (docs2.join(dups, "doc_id", "left_anti")
               .localCheckpoint(eager=False))
    # 4. decontaminate: drop flagged train docs, ship the train split
    contam = (q_decontaminate(docs2nd)
              .select(F.col("train_doc").alias("doc_id")).distinct())
    train = (docs2nd
             .filter(stable_bucket(F.col("doc_id")) < TRAIN_MAX_BUCKET)
             .join(contam, "doc_id", "left_anti")
             .localCheckpoint(eager=False))
    # 5. DSIR threshold selection (map-side keep/drop, no global rank)
    sel = (q_importance_threshold(train)
           .filter(F.col("selected") == 1).select("doc_id"))
    docs3 = (train.join(sel, "doc_id", "left_semi")
             .localCheckpoint(eager=False))
    # 6. mixture weights + packing manifest over the shipped set
    weights = q_mixture_weights(docs3).select("source", "weight_ppm")
    packed = q_pack_sequences(docs3)
    return (packed
            .join(docs3.select("doc_id", "source"), "doc_id")
            .join(F.broadcast(weights), "source")
            .select("doc_id", "source", "shard", "n_tokens",
                    "start_offset", "chunk_id", "crosses_boundary",
                    "weight_ppm")
            .orderBy("doc_id"))
