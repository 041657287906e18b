"""Deduplication operators — exact through near-dup, batch-scale.

The core of a training-data pipeline at 100 TB. Strategies, cheapest
first:

- exact: hash-groupBy on content digest — one shuffle on the digest.
- n-gram Jaccard (exact near-dup): shingle → self-join on shingle →
  per-pair intersection counts. Quadratic in the worst case; correct
  ground truth for small corpora and the oracle for the approximate
  paths.
- MinHash + LSH (approximate near-dup): shingle → minhash signature →
  band → bucket-join. Only candidate pairs sharing a band bucket are
  compared, which is the 100 TB path: cost scales with collisions, not
  with |docs|².
- SimHash: per-doc signature (56 bits at test scale, widened with
  log2 of the corpus size); near-dups differ in few bits.

MinHash/SimHash signatures here are built from md5-derived hashes via
built-in expressions (no UDF, no MLlib dependency) so the whole pipeline
stays inside codegen and is reproducible across engines.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_rec_spark.functions import word_shingles
from movie_rec_spark.operators.skew import fanout_scan

JACCARD_THRESHOLD = 0.5


def jaccard_threshold_frac(threshold: float) -> tuple[int, int]:
    """Exact rational (num, den) with threshold == num/den.

    Backs the integer-exact Jaccard cut ``i/union >= threshold`` as
    ``i*den >= union*num`` on BOTH engines.  limit_denominator recovers
    the intended decimal from the float (0.9 → 9/10, 0.5 → 1/2), so the
    boundary pair Jaccard == threshold is INCLUDED at every threshold —
    unlike the former ``int(1/t*1000)`` scaling, which was exact only
    when 1000/t was integral (t=0.9 → 1111/1000 ≈ 0.90009 silently
    excluded pairs with Jaccard exactly 9/10: 9*1111 < 10*1000).  The
    small denominators keep ``union*num`` far below 2**63 at any
    realistic shingle-set size.
    """
    frac = Fraction(threshold).limit_denominator(10**6)
    return frac.numerator, frac.denominator
MINHASH_PERMS = 32
MINHASH_BANDS = 8  # rows per band = 32/8 = 4
# Decontamination: containment cut and the split boundary. EVAL_MIN_BUCKET
# = 80 puts BOTH held-out splits (val 80-89 and test 90-99, matching
# q_sample_stable's assignment) on the audited side — val leakage biases
# model selection exactly like test leakage biases the headline metric.
DECON_THRESHOLD = 0.5
EVAL_MIN_BUCKET = 80
TRAIN_MAX_BUCKET = 80  # train side is bucket < 80


def _shingle_rows(documents: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) rows, distinct per doc. Fans the input out
    first (``fanout_scan``): shingle assembly (and the per-shingle md5
    most consumers apply) is the family's dominant map cost and the
    corpus arrives as a single-task scan at test scale — a no-op
    wherever the table already has scan parallelism."""
    documents = fanout_scan(documents.select("doc_id", "text"))
    toks = documents.select("doc_id", F.split("text", " ").alias("w"))
    return toks.select(
        "doc_id", F.explode(word_shingles(F.col("w"), k)).alias("g")
    )


def q_decontaminate(documents: DataFrame,
                    threshold: float = DECON_THRESHOLD,
                    k: int = 3) -> DataFrame:
    """Train/eval decontamination — the audit an LLM data pipeline runs
    so benchmark text does not leak into the training set (GPT-3 /
    PaLM style exact n-gram overlap, here word 3-grams to match the
    corpus's shingle machinery): for every held-out document (val AND
    test splits, bucket >= EVAL_MIN_BUCKET — val leakage biases model
    selection exactly like test leakage biases the headline metric),
    find train-split documents containing >= ``threshold`` of its
    distinct shingles. containment = |sh(eval) ∩ sh(train)| /
    |sh(eval)| — asymmetric by design: a tiny eval doc fully quoted
    inside a long train doc is 100% contaminated even though Jaccard
    would be tiny.

    Split membership is the SAME stable md5 bucketing the split
    assignment uses (functions.stable_bucket), so the audit is
    consistent with q_sample_stable / q_corpus_clean manifests.

    Scale shape: one shuffle keyed on the shingle (the eval side is
    ~20% of the corpus and only distinct (doc_id, shingle) rows move),
    then a pair-count agg — same cost class as the exact Jaccard
    ground truth and equally oracle-checkable. The eval-size join is a
    plain shuffle join: ev_sz has one row per held-out doc, i.e. it is
    PROPORTIONAL TO THE CORPUS, so broadcasting it would OOM at scale
    (it rides the same shuffle key as the pair aggregate, so the join
    is cheap anyway). At extreme duplicate density the minhash/simhash
    blocking paths bound the candidate set the same way they do for
    dedup. The oracle SQL is generated from the same DECON_THRESHOLD /
    bucket constants, so non-default calls stay oracle-consistent.

    ``k`` is the n-gram window width. The k=3 default matches the
    corpus's shingle machinery (cheap, high recall, but aggressive —
    common 3-word phrases cross-match); production benchmark audits
    (GPT-3 appendix C used 13-grams, most recent reports 8-13) widen
    the window so only genuinely quoted spans count. q_decontaminate_k8
    declares the 8-gram form with its own generated oracle.
    """
    from movie_rec_spark.functions import stable_bucket

    sh = _shingle_rows(documents, k).withColumn(
        "bucket", stable_bucket(F.col("doc_id")))
    ev = (sh.filter(F.col("bucket") >= EVAL_MIN_BUCKET)
          .select(F.col("doc_id").alias("eval_doc"), "g"))
    tr = (sh.filter(F.col("bucket") < TRAIN_MAX_BUCKET)
          .select(F.col("doc_id").alias("train_doc"), "g"))
    ev_sz = ev.groupBy("eval_doc").agg(F.count(F.lit(1)).alias("n_ev"))
    inter = (
        ev.join(tr, "g")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(ev_sz, "eval_doc")
        .select("eval_doc", "train_doc",
                (F.col("n_common") / F.col("n_ev")).alias("containment"))
        .filter(F.col("containment") >= F.lit(threshold))
    )


def q_split_repair(documents: DataFrame,
                   threshold: float = DECON_THRESHOLD) -> DataFrame:
    """Contamination-repaired split manifest — the action taken on
    q_decontaminate's findings, closing the audit loop: every held-out
    document whose shingles are contained in a train document is
    REASSIGNED to the train split (its content already leaks there, so
    it must not score the model; train placement keeps the text usable
    instead of discarding it — the standard alternative, dropping it
    from eval entirely, is this manifest minus those rows).

    Output: (doc_id, orig_split, final_split, was_contaminated) for the
    WHOLE corpus — the manifest a training job consumes directly.

    Scale shape: q_decontaminate's cost (one shingle-keyed shuffle)
    dominates; the repair itself is one doc_id-keyed left join of the
    corpus against the distinct contaminated-id set (which
    is eval-proportional, so it is NOT broadcast — same discipline as
    the audit) plus row-local split arithmetic.
    """
    from movie_rec_spark.functions import stable_bucket

    contaminated = (
        q_decontaminate(documents, threshold)
        .select(F.col("eval_doc").alias("doc_id")).distinct()
        .withColumn("hit", F.lit(1))
    )
    bucket = stable_bucket(F.col("doc_id"))
    split = (
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
    )
    return (
        documents.select("doc_id", bucket.alias("bucket"))
        .withColumn("orig_split", split)
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id", "orig_split",
            F.when(F.col("hit").isNotNull(), "train")
            .otherwise(F.col("orig_split")).alias("final_split"),
            F.col("hit").isNotNull().alias("was_contaminated"),
        )
    )


INCREMENTAL_BATCH_MIN_BUCKET = 95  # bucket >= 95 plays the incoming batch


def q_dedup_incremental(documents: DataFrame) -> DataFrame:
    """Incremental ingestion dedup — the steady-state shape of corpus
    deduplication: a NEW batch arrives and must be deduped against the
    already-ingested corpus (and within itself) WITHOUT rescanning or
    re-pairing the whole corpus. Batch membership here is simulated by
    the stable md5 bucket (>= INCREMENTAL_BATCH_MIN_BUCKET ≈ 5% of the
    table) so the query is self-contained and oracle-checkable.

    Verdict per incoming doc, first match wins:
      dup_of_corpus — content digest already exists in the corpus
      dup_in_batch  — digest is new to the corpus but a smaller doc_id
                      in the SAME batch has it
      new           — first occurrence anywhere

    Scale shape: the corpus side reduces to DISTINCT digests before the
    join (one shuffle keyed on fp, combiner-collapsed), the batch side
    is ~5% of the table, and the join + the within-batch min-window are
    BOTH keyed on fp — at 100 TB with the corpus digest table persisted
    (bucketed by fp) this touches the batch plus one digest-keyed probe,
    never corpus×batch pairs. The corpus digest side is deliberately
    NOT force-broadcast — it is proportional to the corpus, so a
    forced broadcast would OOM at scale (same discipline as
    q_decontaminate); Catalyst may still broadcast it adaptively while
    its size estimate fits, which is the correct behavior at every
    scale.
    """
    from pyspark.sql import Window

    from movie_rec_spark.functions import stable_bucket

    bucket = stable_bucket(F.col("doc_id"))
    with_fp = documents.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp"),
        bucket.alias("bucket"))
    inc = with_fp.filter(
        F.col("bucket") >= INCREMENTAL_BATCH_MIN_BUCKET).drop("bucket")
    corpus_fps = (
        with_fp.filter(F.col("bucket") < INCREMENTAL_BATCH_MIN_BUCKET)
        .select("fp").distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    min_id = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        inc.join(corpus_fps, "fp", "left")
        .withColumn("min_batch_id", min_id)
        .select(
            "doc_id", "fp",
            F.when(F.col("in_corpus").isNotNull(), "dup_of_corpus")
            .when(F.col("doc_id") != F.col("min_batch_id"), "dup_in_batch")
            .otherwise("new").alias("status"),
        )
    )


def q_source_overlap(documents: DataFrame) -> DataFrame:
    """Cross-source content overlap — the mirror/rehost detector a
    corpus owner runs before trusting per-source dedup ratios: for
    every source pair that shares at least one exact content digest,
    the number of shared distinct texts and the Jaccard overlap of the
    two digest sets. A scraped mirror shows up as a pair with overlap
    near 1; syndicated boilerplate as a dense low-overlap clique.

    Scale shape: the corpus collapses to DISTINCT (source, fp) rows in
    one combiner-collapsed shuffle, and that table is MATERIALIZED
    once (lazy localCheckpoint): it feeds four plan positions (both
    self-join sides + both size lookups), and without materialization
    Spark re-derives it per position — four full corpus text scans
    instead of one scan plus three rescans of a digest table ~1% its
    size (observed: 7 exchanges vs 3). The self-join is keyed on fp
    (an inverted index over digests — only pairs that actually share
    content are ever formed, same discipline as q_dedup_jaccard); the
    per-pair count aggregates on source pairs, whose cardinality is
    bounded by sources², not documents. Per-source digest counts are
    a sources-sized table, broadcast back. Integer counts + one float
    division, engine-exact unrounded (same int/int determinism note
    as q_dedup_jaccard).
    """
    sf = (documents.select(
        "source", F.md5(F.col("text").cast("binary")).alias("fp"))
        .distinct().localCheckpoint(eager=False))
    sizes = sf.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sf.alias("a"), sf.alias("b")
    common = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"),
                 F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"),
                      F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"),
                      F.col("n").alias("nb"))
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b", "n_common",
            (F.col("n_common")
             / (F.col("na") + F.col("nb") - F.col("n_common")))
            .alias("overlap_jaccard"),
        )
    )


def q_dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id.
    One shuffle keyed on the digest — at 100 TB the digest is computed
    scan-side and the shuffle carries only (digest, doc_id)."""
    return (
        documents.select(F.md5(F.col("text").cast("binary")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _jaccard_finish(inter: DataFrame, sizes: DataFrame,
                    threshold: float) -> DataFrame:
    """Shared finish of every exact-Jaccard variant: join the (doc_a,
    doc_b, i) intersections to both set sizes and threshold-filter.
    The division stays RAW (unrounded): int/int is bit-deterministic
    across engines, while round() would diverge on exact decimal ties
    — the rule lives here once so the three candidate strategies
    (full index / char-gram / prefix-filtered) cannot drift apart."""
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def q_dedup_jaccard(documents: DataFrame,
                    threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact pairwise word-3-gram Jaccard near-dup pairs.

    inverted-index self-join: only pairs sharing ≥1 shingle are ever
    formed (no cross join). Still worst-case quadratic on hot shingles —
    the LSH variant below is the at-scale path; this is ground truth.

    Oracle note: the DuckDB oracle interpolates JACCARD_THRESHOLD and
    fixes the shingle size at 3 — a call with a non-default
    ``threshold`` or a different ``_shingle_rows`` k is NOT
    oracle-checked (covered by pytest property tests instead).
    """
    sh = _shingle_rows(documents)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return _jaccard_finish(inter, sizes, threshold)


def q_dedup_char_jaccard(documents: DataFrame,
                         threshold: float = JACCARD_THRESHOLD,
                         k: int = 16) -> DataFrame:
    """Character-k-gram Jaccard near-dup pairs — the other standard
    shingling granularity (robust to tokenization differences; the word
    variant is robust to whitespace noise). Same inverted-index
    self-join shape as q_dedup_jaccard.

    k sets the cost curve, not just recall: the self-join work is
    sum(df(g)^2) over shingles, so k must make shingles SELECTIVE.
    On this corpus k=8 (~2 words of context) gives 561M candidate
    comparisons at sf0.1 (174s); k=16 (~3 words) gives 12.5M (~4s).
    Rule: size k so a shingle spans enough context to be rare."""
    from movie_rec_spark.functions import char_shingles

    sh = documents.select(
        "doc_id", F.explode(char_shingles(F.col("text"), k)).alias("g"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return _jaccard_finish(inter, sizes, threshold)


def prefix_index(documents: DataFrame,
                 threshold: float = JACCARD_THRESHOLD,
                 sh: DataFrame | None = None,
                 with_pos: bool = False) -> DataFrame:
    """The (doc_id, g) PREFIX rows q_dedup_prefix indexes: each doc's
    first s − ⌈τ·s⌉ + 1 shingles in ascending global-df order (rarest
    first, ties by shingle). Exposed separately so the candidate
    volume of the prefix strategy (Σ occ·(occ−1)/2 over its (g) blocks)
    can be counted next to the full-index / minhash / simhash paths.

    ``with_pos=True`` additionally carries ``rn`` (the shingle's
    1-based position in the doc's global-df order — the SAME total
    order (df, g) for every doc, which is what makes positions
    comparable across docs) and ``n`` (the doc's shingle-set size),
    the inputs of the AllPairs/PPJoin length + positional candidate
    filters in q_dedup_prefix.

    ``sh``: optionally pass an already-materialized ``_shingle_rows``
    frame — this function references it THREE times (rows, df, sizes)
    and q_dedup_prefix's verify stage twice more, so sharing one
    lazily-checkpointed frame keeps the tokenize subtree single-
    execution by construction. (Measured neutral at sf0.1 — Catalyst
    was already deduplicating the identical scan subtrees via
    ReusedExchange — but the checkpoint makes that guarantee explicit
    rather than optimizer-dependent.)"""
    if sh is None:
        sh = _shingle_rows(documents).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df_ = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "g"))
    cols = ["doc_id", "g", "rn", "n"] if with_pos else ["doc_id", "g"]
    return (
        sh.join(df_, "g").join(sizes, "doc_id")
        .withColumn("rn", rn)
        .filter(F.col("rn")
                <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n"))
                + 1)
        .select(*cols)
        .localCheckpoint(eager=False)
    )


def q_dedup_prefix(documents: DataFrame,
                   threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """EXACT word-3-gram Jaccard near-dup pairs via PREFIX FILTERING
    (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al. ICDE'08) —
    the third candidate-generation strategy for the same answer as
    q_dedup_jaccard (full inverted index) and q_dedup_minhash+verify
    (probabilistic): exact like the former, sub-index-sized like the
    latter wants to be.

    The filter: order every doc's shingles by ascending GLOBAL
    document frequency (rarest first, ties by shingle); for Jaccard ≥
    τ a pair must overlap in ≥ ⌈τ·s⌉ shingles, so if two docs share
    NOTHING in their first s − ⌈τ·s⌉ + 1 shingles, all shared mass
    fits in the remaining ⌈τ·s⌉ − 1 — contradiction. Indexing ONLY
    that prefix is therefore complete, and because prefixes are the
    RAREST shingles, the quadratic hot-shingle buckets that dominate
    the full index (df² per shingle) mostly vanish: measured candidate
    volume is 8.7× below the full index at sf0.01 and 2.9× at sf0.1
    (this corpus is duplicate-DENSE by construction, so many surviving
    candidates are true pairs — the floor of what any complete filter
    can prune; the gain grows with hot-shingle skew on natural text).
    Verification recounts the TRUE intersection for survivors only, so
    the answer is bit-identical — the declared query shares
    q_dedup_jaccard's oracle verbatim.

    Scale shape: one df agg, one per-doc rank window (partitions
    bounded by doc length), the prefix self-join (small by design),
    and one verify join keyed on the candidate pair. All keyed; the
    skew knob is the same as every blocked path (per-block occupancy).
    """
    sh = _shingle_rows(documents).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    prefix = prefix_index(documents, threshold, sh=sh, with_pos=True)
    # AllPairs/PPJoin candidate pruning (r13, guide §2.3 — shuffle
    # fewer bytes into the verify join). Both filters only drop pairs
    # that PROVABLY cannot pass the final jaccard >= τ predicate, so
    # the verified output is bit-identical:
    # - LENGTH filter: i <= min(na, nb), so the best possible Jaccard
    #   is min/max — evaluated with the SAME double division/compare
    #   as _jaccard_finish (correctly-rounded division is monotone in
    #   an integer numerator, so passing the real filter implies
    #   passing this one; no epsilon games).
    # - POSITIONAL filter (PPJoin, Xiao et al. ICDE'08): every doc
    #   orders its shingles by the same global (df, g) total order, so
    #   for the FIRST matched prefix pair (minimal rn on both sides —
    #   the same shingle attains both minima) no common shingle
    #   precedes it in either doc, hence i <= B := 1 + min(na - pa,
    #   nb - pb). Keep the pair iff B's Jaccard upper bound passes the
    #   same double predicate.
    a, b = prefix.alias("a"), prefix.alias("b")
    pa, pb = F.min("a.rn"), F.min("b.rn")
    na, nb = F.min("a.n"), F.min("b.n")  # constant per doc
    bound = F.lit(1) + F.least(F.col("na") - F.col("pa"),
                               F.col("nb") - F.col("pb"))
    cands = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (F.least(F.col("a.n"), F.col("b.n"))
                  / F.greatest(F.col("a.n"), F.col("b.n"))
                  >= F.lit(threshold)))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(pa.alias("pa"), pb.alias("pb"),
             na.alias("na"), nb.alias("nb"))
        .filter(bound / (F.col("na") + F.col("nb") - bound)
                >= F.lit(threshold))
        .select("doc_a", "doc_b")
    )
    # verify: candidate pairs pick up doc_a's shingles, then count
    # matches against doc_b's set on (doc_b, g) — the true intersection
    ta = sh.select(F.col("doc_id").alias("doc_a"), "g")
    tb = sh.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (cands.join(ta, "doc_a").join(tb, ["doc_b", "g"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("i")))
    return _jaccard_finish(inter, sizes, threshold)


def minhash_signatures(documents: DataFrame,
                       num_perms: int = MINHASH_PERMS) -> DataFrame:
    """Per-doc MinHash signature as array<bigint> of length num_perms:
    the ``minhash_portable_sigs`` columns packed into one array.
    Permutation hashes are the universal-hash family over the
    md5-prefix base hash mod the Mersenne prime 2^31−1 (the
    q_minhash_eval recipe), bit-identical in Spark and DuckDB, so the
    declared q_dedup_minhash / q_minhash_groups pipelines carry driver
    hash rows. min over the doc's shingle set per permutation
    approximates Jaccard: P[min_a = min_b] = J(a, b).
    """
    cols = minhash_portable_sigs(documents, num_perms=num_perms)
    return cols.select(
        "doc_id",
        F.array(*[f"h{p}" for p in range(num_perms)]).alias("sig"))


def minhash_banded(documents: DataFrame,
                   num_perms: int = MINHASH_PERMS,
                   bands: int = MINHASH_BANDS) -> DataFrame:
    """Banded MinHash signatures: (doc_id, sig, band, bh) rows — the
    blocked intermediate of q_dedup_minhash, exposed so its bucket
    occupancy per (band, bh) can be counted. Each band is keyed by the
    ':'-joined signature slice, a deterministic string both engines
    build identically."""
    rows_per_band = num_perms // bands
    sig = minhash_signatures(documents, num_perms)
    bb = [F.struct(
        F.lit(b).alias("band"),
        F.concat_ws(":", *[F.col("sig")[b * rows_per_band + r]
                           for r in range(rows_per_band)])
        .alias("bh")) for b in range(bands)]
    return sig.select(
        "doc_id", "sig",
        F.explode(F.array(*bb)).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"),
             F.col("bb.bh").alias("bh"))


def q_dedup_minhash(documents: DataFrame,
                    threshold: float = JACCARD_THRESHOLD,
                    num_perms: int = MINHASH_PERMS,
                    bands: int = MINHASH_BANDS) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified by estimated
    Jaccard (signature agreement rate).

    band → bucket-join: docs collide iff one band of their signatures is
    identical. The join is on (band_id, band_hash) — an equi-join, so at
    100 TB it's a plain shuffle-hash join whose cost tracks true
    near-dup density instead of |docs|².

    ORACLE-EXACT: signatures are the portable universal-hash family of
    q_minhash_eval (md5 base hash mod 2^31−1 + affine permutations,
    one doc-keyed shuffle), so the full declared
    shingle→signature→band→candidate→estimate pipeline reproduces in
    DuckDB and carries a driver hash row.
    """
    banded = minhash_banded(documents, num_perms, bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq)) / F.lit(num_perms), 4)
    return (
        cand.select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= F.lit(threshold))
    )


#: Rounds executed by the most recent call of each CC variant — the
#: observable for round-count budgets (tests) and the SCALE.md chain
#: benchmark. Driver-local telemetry, not part of any query result.
CC_ROUNDS: dict[str, int] = {}

# Below this many edges, connected components run as ONE vectorized
# single-task pass instead of the O(log d)-round distributed iteration
# (guide §1.2: fix the distributed algorithm first — at small edge
# counts the iteration's wall is pure per-round scheduling/shuffle
# overhead, 6-11 driver-synchronized jobs for graphs a single core
# labels in milliseconds). 2M edges is ~32 MB of id pairs — trivially
# within one task's memory anywhere. Scale-adaptive, not local-tuned:
# a 100 TB corpus's near-dup graph exceeds the cap and takes the
# iterative path unchanged.
CC_LOCAL_EDGE_CAP = 2_000_000


def _cc_local_labels(edges: DataFrame, a: str, b: str) -> DataFrame | None:
    """Single-task connected components for edge sets under the local
    cap: min-label propagation with pointer jumping, vectorized in
    NumPy over the whole edge array (guide §4.2 — hand the batch to
    native code). Exactly the iterative kernels' fixpoint — per-edge
    ``comp[u] = comp[v] = min`` plus ``comp := comp[comp]`` — so the
    labeling (comp = minimum reachable id) is identical; the unique
    fixpoint is pinned by tests either way. Returns None when the edge
    columns are not one shared integral type (caller falls back to the
    distributed iteration)."""
    ta = edges.schema[a].dataType.simpleString()
    tb = edges.schema[b].dataType.simpleString()
    np_types = {"smallint": "int16", "int": "int32", "bigint": "int64"}
    if ta != tb or ta not in np_types:
        return None
    out_schema = f"doc_id {ta}, comp {ta}"
    np_t = np_types[ta]

    def comp_fn(batches):
        import numpy as np
        import pandas as pd

        eas: list = []
        ebs: list = []
        for pdf in batches:
            eas.append(pdf.iloc[:, 0].to_numpy(dtype=np.int64))
            ebs.append(pdf.iloc[:, 1].to_numpy(dtype=np.int64))
        if not eas:
            return
        ea = np.concatenate(eas)
        eb = np.concatenate(ebs)
        ids, inv = np.unique(np.concatenate([ea, eb]),
                             return_inverse=True)
        if ids.size == 0:
            return
        ea_i = inv[:ea.size]
        eb_i = inv[ea.size:]
        # comp[x] <= x elementwise throughout (labels only decrease and
        # ids are sorted, so index order == id order); the fixpoint is
        # uniform labels per component equal to the min member index.
        comp = np.arange(ids.size, dtype=np.int64)
        while True:
            before = comp.copy()
            np.minimum.at(comp, ea_i, comp[eb_i])
            np.minimum.at(comp, eb_i, comp[ea_i])
            comp = comp[comp]  # pointer jump: horizon doubles per pass
            if np.array_equal(comp, before):
                break
        yield pd.DataFrame({"doc_id": ids.astype(np_t),
                            "comp": ids[comp].astype(np_t)})

    return (edges.select(a, b).coalesce(1)
            .mapInPandas(comp_fn, out_schema))


def dedup_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs — the step that turns
    pairwise matches into dedup GROUPS (keep one canonical doc per
    component). Iterative min-label propagation: every node repeatedly
    takes the min label among itself and its neighbors until a fixpoint.

    Each round also POINTER-JUMPS (comp := comp of comp), so the label
    horizon doubles per round and convergence takes O(log diameter)
    rounds, not O(diameter) — near-clique dedup graphs still finish in
    2-3 rounds, while the sf0.1 embedding graph (diameter ~18) drops
    from 18 propagation rounds to 6. Each round is two joins + one
    min-agg (shuffle on doc id); the driver only checks the converged
    flag. At extreme scale large-star/small-star remains the
    alternating-contraction alternative (dedup_components_star).

    Input: (doc_a, doc_b) edges. Output: (doc_id, comp) where comp is
    the smallest doc_id reachable — the canonical representative.
    """
    # Lazy-checkpoint the INPUT first: the symmetric union below
    # references it twice, so an unmaterialized pair pipeline (Jaccard
    # self-join, minhash banding, the embedding gemm) would execute
    # twice — measured 18.4 s -> 9.3 s for the minhash composition on
    # the 30x trend corpus. Fixed here, at the double reference, so
    # every caller gets it.
    edges = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    # Size-adaptive route (the simhash_sized_params doctrine applied to
    # CC): count the checkpointed edges — one cheap job over blocks the
    # iteration would materialize anyway — and label small graphs in a
    # single vectorized task. CC_ROUNDS = 0 marks the local path.
    if CC_LOCAL_EDGE_CAP and edges.count() <= CC_LOCAL_EDGE_CAP:
        local = _cc_local_labels(edges, "doc_a", "doc_b")
        if local is not None:
            CC_ROUNDS["minlabel"] = 0
            return local.localCheckpoint(eager=False)
    # Eager checkpoint of sym BEFORE iterating, not just after: the
    # edge set may be the output of an arbitrarily deep plan, and every
    # round's join would otherwise embed that full plan — so the
    # analyzed tree doubles per round and the driver OOMs on plan
    # serialization long before the data is large (observed at sf0.1
    # in a long-lived bench session). After this line each round plans
    # against a materialized scan of bare id pairs.
    sym = edges.unionByName(
        edges.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # Convergence check via a monotone invariant, not a join: each round
    # sets comp := least(comp, min over neighbors), so per-node labels
    # never increase and SUM(comp) strictly decreases iff any label
    # changed. One global agg over the checkpointed labels (partial agg,
    # no shuffle of substance) replaces a join+count per round. decimal
    # sum so billions of 64-bit ids cannot overflow the accumulator.
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels)
    converged = False
    for _round in range(max_iter):
        neigh = (
            sym.join(labels.withColumnRenamed("doc_id", "doc_b")
                     .withColumnRenamed("comp", "n_comp"), "doc_b")
            .groupBy("doc_a").agg(F.min("n_comp").alias("min_neigh"))
            .withColumnRenamed("doc_a", "doc_id")
        )
        new_labels = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("comp"),
                        F.coalesce(F.col("min_neigh"), F.col("comp"))
                        ).alias("comp"),
            )
        )
        # Pointer jump: comp := comp[comp]. Labels are always node ids of
        # the same component with comp[x] <= x, so the hop is monotone
        # non-increasing and doubles the propagation horizon — O(log d)
        # rounds on a diameter-d graph. The left join tolerates a label
        # whose row hasn't shuffled in yet (keeps the pre-jump value).
        #
        # new_labels is LAZILY checkpointed before the jump joins it to
        # itself: both join sides then resolve to ONE shared RDD, so the
        # neighbor-propagation stage computes once per round instead of
        # twice (measured 12.3 s → 5.5 s on the sf0.1 embedding graph,
        # 11 rounds). A second jump per round was measured and rejected:
        # it barely cuts rounds on chain-shaped graphs (10 vs 11 — the
        # lookup table is itself only partially jumped) while adding a
        # full stage per round.
        #
        # Checkpoint EVERY round, not cache: without truncation the
        # self-referencing plan doubles per round — at ~18 rounds the
        # plan stringification alone OOMed an 8 GB driver heap. cache()
        # does not truncate the analyzed plan; localCheckpoint does.
        # Each round then plans against a bare (doc_id, comp) scan —
        # O(1) plan depth regardless of diameter. eager=False: the
        # convergence-check sum is the round's ONLY action — it
        # materializes the whole lazy chain in one Spark job.
        nl_ck = new_labels.localCheckpoint(eager=False)
        jumped = (
            nl_ck.join(
                nl_ck.select(F.col("doc_id").alias("comp"),
                             F.col("comp").alias("comp2")),
                "comp", "left")
            .select("doc_id",
                    F.coalesce(F.col("comp2"), F.col("comp")).alias("comp"))
            .localCheckpoint(eager=False)
        )
        new_sum = _label_sum(jumped)
        labels = jumped
        CC_ROUNDS["minlabel"] = _round + 1
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Never return silently-wrong labels: a chain of diameter >
        # max_iter would exit here with non-minimal components.
        import warnings
        warnings.warn(
            f"dedup_components did not converge within {max_iter} rounds; "
            "labels may be non-minimal (raise max_iter, or use "
            "large-star/small-star for high-diameter graphs)",
            RuntimeWarning, stacklevel=2,
        )
    # labels is already checkpointed (per-round), so the returned plan is a
    # bare scan of the converged (doc_id, comp) table; on a production
    # cluster prefer a reliable checkpoint dir
    # (spark.sparkContext.setCheckpointDir + .checkpoint()) to survive
    # executor loss.
    return labels


def dedup_components_star(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round alternative to ``dedup_components``' min-label
    propagation, whose round count is the graph DIAMETER.

    Near-dup graphs are near-cliques (diameter 2-3), so min-label wins
    there; chain-shaped graphs — entity-resolution style id chains,
    temporal near-dup sequences — have diameter O(n) and need this
    form. Each round is two join+agg passes over the edge set; the edge
    set monotonically contracts toward a star forest whose centers are
    component minima.

    Same contract as dedup_components: (doc_a, doc_b) edges in,
    (doc_id, comp = min reachable id) out.
    """
    # checkpoint the input edge set before iterating (same plan-lineage
    # rationale as dedup_components: the producer plan may be deep)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")) \
        .localCheckpoint(eager=True)
    # Same size-adaptive route as dedup_components: small graphs label
    # in one vectorized task (identical fixpoint), large graphs iterate.
    if CC_LOCAL_EDGE_CAP and edges.count() <= CC_LOCAL_EDGE_CAP:
        local = _cc_local_labels(edges, "u", "v")
        if local is not None:
            CC_ROUNDS["star"] = 0
            return local.localCheckpoint(eager=False)
    nodes = (edges.select(F.col("u").alias("doc_id"))
             .unionByName(edges.select(F.col("v").alias("doc_id")))
             .distinct().localCheckpoint(eager=True))

    def star_round(e: DataFrame, large: bool) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (sym.groupBy("u")
             .agg(F.min("v").alias("_mn"))
             .select("u", F.least(F.col("u"), F.col("_mn")).alias("m")))
        joined = sym.join(m, "u")
        # large-star: rewire strictly-larger neighbors to the local min;
        # small-star: rewire smaller-or-equal neighbors (and u itself)
        keep = (F.col("v") > F.col("u")) if large else (F.col("v") <= F.col("u"))
        out = (
            joined.filter(keep)
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        if not large:
            out = out.unionByName(m.select("u", F.col("m").alias("v")))
        return (out.filter(F.col("u") != F.col("v"))
                .distinct())

    for i in range(max_iter):
        after = star_round(star_round(edges, large=True), large=False)
        # localCheckpoint each round: the plan would otherwise nest
        # O(rounds) joins deep (same lineage blow-up as min-label).
        # eager=False: the count() below is the round's first action and
        # materializes the checkpoint — one job per round, not two.
        after = after.localCheckpoint(eager=False)
        # cheap count-equality gate first; the exceptAll set-equality
        # pass only runs on the (rare) rounds where counts match
        stable = (after.count() == edges.count()
                  and after.exceptAll(edges).limit(1).count() == 0)
        edges = after
        CC_ROUNDS["star"] = i + 1
        if stable:
            break
    else:
        import warnings
        warnings.warn(
            f"dedup_components_star did not stabilize within {max_iter} "
            "rounds", RuntimeWarning, stacklevel=2)
    labels = (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("comp")))
    return (
        nodes.join(labels, "doc_id", "left")
        .select("doc_id",
                F.coalesce(F.col("comp"), F.col("doc_id")).alias("comp"))
    )


def q_dedup_groups(documents: DataFrame) -> DataFrame:
    """Declared query: near-dup components over the Jaccard pairs —
    (doc_id, comp) with comp = canonical (minimum) member id.
    dedup_components checkpoints the pair feed internally, so the
    Jaccard pipeline runs once despite CC's double edge reference."""
    return dedup_components(q_dedup_jaccard(documents).select("doc_a", "doc_b"))


def q_minhash_groups(documents: DataFrame) -> DataFrame:
    """Declared query (ORACLE-EXACT, with q_dedup_minhash's
    portable signatures): the FULL approximate dedup pipeline composed
    end-to-end — MinHash banding candidates → signature-verified
    pairs → connected components → (doc_id, comp).

    This is the pipeline that actually runs at 100 TB, where the exact
    Jaccard ground truth (q_dedup_groups' input) is unaffordable: every
    stage is an equi-join/group on band or id keys, so total cost
    tracks duplicate density. Candidate recall (banding misses) and
    precision (signature-estimate false positives) both shift the
    components; agreement with the exact-Jaccard groups on the test
    corpus is asserted in tests/test_text_dedup.py."""
    return dedup_components(q_dedup_minhash(documents).select("doc_a", "doc_b"))


CC_CHAIN_LEN = 1000  # id-block width of the synthetic chain graph


def chain_edges(documents: DataFrame,
                chain_len: int = CC_CHAIN_LEN) -> DataFrame:
    """Deterministic chain-shaped edge set over the corpus ids: edge
    (i, i+1) whenever both ids exist and share an id-block of
    ``chain_len`` (blk = doc_id div chain_len). Contiguous ids yield
    chains of length chain_len — diameter chain_len−1, the WORST case
    for propagation-style connected components and the shape min-label
    was flagged on (entity-resolution id chains, temporal near-dup
    sequences). Pure projection + one equi-join on doc_id; no window,
    no global sort — scales like any id-keyed join.
    """
    d = documents.select("doc_id")
    succ = d.select((F.col("doc_id") - F.lit(1)).alias("doc_a"),
                    F.col("doc_id").alias("doc_b"))
    return (
        d.select(F.col("doc_id").alias("doc_a"))
        .join(succ, "doc_a")
        .filter(F.floor(F.col("doc_a") / chain_len)
                == F.floor(F.col("doc_b") / chain_len))
    )


def _cc_chain(documents: DataFrame, cc, chain_len: int) -> DataFrame:
    labels = cc(chain_edges(documents, chain_len))
    # isolated ids (an id-block containing a single doc) never appear in
    # the edge set; restore them with comp = self
    return (
        documents.select("doc_id")
        .join(labels.withColumnRenamed("comp", "_comp"), "doc_id", "left")
        .select("doc_id",
                F.coalesce(F.col("_comp"), F.col("doc_id")).alias("comp"))
    )


def q_cc_chain_star(documents: DataFrame,
                    chain_len: int = CC_CHAIN_LEN) -> DataFrame:
    """Declared query: connected components of the chain graph via
    alternating large-star/small-star — the O(log n)-round contraction
    that is DIAMETER-INDEPENDENT. On the sf0.1 chain set (5 chains of
    1000, diameter 999) it stabilizes in ~6 rounds where one-hop label
    propagation would need 999; round counts for both variants are
    recorded in CC_ROUNDS and budget-tested. Oracle: gaps-and-islands
    SQL (comp = min id of the maximal consecutive run inside the
    id-block), so the result is hash-checked, not rows-only."""
    return _cc_chain(documents, dedup_components_star, chain_len)


def q_cc_chain_minlabel(documents: DataFrame,
                        chain_len: int = CC_CHAIN_LEN) -> DataFrame:
    """Declared query: the same chain graph through min-label
    propagation WITH pointer jumping — the horizon doubles per round,
    so the worst case is O(log diameter) (~11 rounds at diameter 999),
    not O(diameter). Benched side-by-side with q_cc_chain_star so the
    crossover between the two CC forms is measured, not asserted; same
    gaps-and-islands oracle."""
    return _cc_chain(
        documents,
        lambda e: dedup_components(e, max_iter=30), chain_len)


CHUNK_TOKENS = 10  # tokens per paragraph-proxy chunk (stride == width)


def chunk_rows(documents: DataFrame, k: int = CHUNK_TOKENS) -> DataFrame:
    """(doc_id, chunk_idx, chunk) stride-``k`` token windows — the
    paragraph proxy for corpora whose documents carry no newline
    structure (real pipelines split on blank lines first and fall back
    to fixed token windows for wall-of-text documents).

    Built entirely map-side: split once, then ``sequence`` +
    ``slice`` + ``concat_ws`` inside codegen — NO explode-then-groupBy
    round trip, so chunking itself costs zero shuffles and the chunk
    count per row is |tokens|/k, linear scan bandwidth at 100 TB.
    """
    w = F.split("text", " ")
    n_chunks = F.ceil(F.size(w) / F.lit(k)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(w, c * k + 1, k)).alias("chunk")),
    )
    return (
        documents
        .select("doc_id", F.explode(chunks).alias("ch"))
        .select("doc_id", F.col("ch.chunk_idx").alias("chunk_idx"),
                F.col("ch.chunk").alias("chunk"))
    )


def q_chunk_dedup(documents: DataFrame,
                  k: int = CHUNK_TOKENS) -> DataFrame:
    """Cross-document repeated-paragraph audit (ExactSubstr-lite, after
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): token-window chunks appearing in MORE THAN ONE document,
    with occurrence counts and the canonical first occurrence.
    Boilerplate headers, license blocks, and mirrored passages show up
    here even when whole-document dedup (q_dedup_exact) finds nothing —
    document-level Jaccard stays low while the shared paragraph repeats
    verbatim.

    Reference analogue: none (the reference dedups nothing); this is
    the corpus-hygiene extension of the digest machinery in
    q_dedup_exact (`web/app/controller.py` has no equivalent).

    Scale shape: map-side chunking (chunk_rows) then ONE shuffle keyed
    on the chunk digest — cost tracks corpus token count, never pairs.
    Output is one row per duplicated chunk: (fp, chunk, n_docs, n_occ,
    first_doc, first_idx), first occurrence = lexicographic min
    (doc_id, chunk_idx) so the canonical copy is deterministic.
    """
    ch = chunk_rows(documents, k).withColumn(
        "fp", F.md5(F.col("chunk").cast("binary")))
    return (
        ch.groupBy("fp", "chunk")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc_id", "chunk_idx")).alias("_first"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            "fp", "chunk", "n_docs", "n_occ",
            F.col("_first.doc_id").alias("first_doc"),
            F.col("_first.chunk_idx").alias("first_idx"),
        )
    )


def q_chunk_prune(documents: DataFrame,
                  k: int = CHUNK_TOKENS) -> DataFrame:
    """The action on q_chunk_dedup's findings: rebuild every document
    with non-first occurrences of globally duplicated chunks REMOVED
    (first occurrence in (doc_id, chunk_idx) order survives, so exactly
    one copy of each repeated paragraph remains corpus-wide) — the
    standard repeated-passage scrub before LLM training.

    Scale shape: two shuffles — one keyed on the chunk digest for the
    first-occurrence rank (row_number over fp; duplicate groups are
    small so the per-key window is bounded), one keyed on doc_id to
    reassemble. The conditional collect_list drops pruned chunks
    map-side, and array_sort on (chunk_idx, chunk) structs restores
    document order without a sort exchange.
    """
    from pyspark.sql.window import Window

    ch = chunk_rows(documents, k).withColumn(
        "fp", F.md5(F.col("chunk").cast("binary")))
    w = Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")
    ranked = ch.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, F.struct("chunk_idx", "chunk"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.count(kept).cast("int").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(F.array_sort(F.collect_list(kept)),
                            lambda s: s["chunk"])).alias("cleaned_text"),
        )
    )


PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def pagerank(edges: DataFrame, n_iter: int = PAGERANK_ITERS,
             damping: float = PAGERANK_DAMPING,
             dangling: str = "decay") -> DataFrame:
    """Fixed-iteration PageRank over a directed edge set (doc_a →
    doc_b) — the link-quality signal web-corpus pipelines feed into
    document weighting (Common Crawl-style harmonic/PageRank quality
    priors). Uniform init 1/N over the edge-touched node universe,
    rank = (1-d)/N + d·Σ_in rank/outdeg per round.

    ``dangling`` picks the sink treatment:

    - ``'decay'`` (default): a dangling node's mass decays each round.
      The result is then a deterministic per-node product of scalars on
      in-degree ≤ 1 graphs, which is what keeps q_pagerank_chain
      BIT-identical to its unrolled-CTE SQL oracle.
    - ``'redistribute'``: the textbook/NetworkX form — each round the
      total mass parked on out-degree-0 nodes is redistributed
      uniformly, so Σ rank stays 1. Implemented with a 1-row aggregate
      cross-joined (broadcast) into the update — no driver-side scalar
      per round, the dangling mass never leaves the cluster.

    Scale shape per round: one join of edges to the current ranks on
    the source id and one aggregate keyed on the destination id — the
    same id-keyed equi-join/agg cost class as dedup_components, O(|E|)
    rows moved per round, with a lazy localCheckpoint each round so
    the plan does not accrete across iterations. N arrives via one
    scalar count() (same bounded driver sync as the CC convergence
    check, dedup.py:548 note). The edges input itself is lazily
    checkpointed up front — it feeds nodes, outdeg, AND every round's
    join, so a caller passing a deep unmaterialized pair pipeline
    would otherwise re-execute it ~2× per round (the same
    plan-recompute hazard dedup_components was fixed for).
    """
    edges = edges.select("doc_a", "doc_b").localCheckpoint(eager=False)
    nodes = (edges.select(F.col("doc_a").alias("node"))
             .union(edges.select(F.col("doc_b"))).distinct()
             .localCheckpoint(eager=False))
    n = nodes.count()
    if n == 0:  # no edges: nothing to rank (the SQL oracle agrees)
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n
    outdeg = edges.groupBy("doc_a").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iter):
        contrib = (
            edges.join(ranks, edges["doc_a"] == ranks["node"])
            .join(outdeg, "doc_a")
            .select(F.col("doc_b").alias("node"),
                    (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("node").agg(F.sum("c").alias("s"))
        )
        incoming = F.coalesce(F.col("s"), F.lit(0.0))
        if dangling == "redistribute":
            dang = (
                ranks.join(outdeg, ranks["node"] == outdeg["doc_a"],
                           "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
            )
            ranks = (
                nodes.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dang))
                .select("node",
                        (F.lit(base) + F.lit(damping)
                         * (incoming + F.col("_dm") / F.lit(float(n))))
                        .alias("rank"))
                .localCheckpoint(eager=False)
            )
        else:
            ranks = (
                nodes.join(contrib, "node", "left")
                .select("node",
                        (F.lit(base) + F.lit(damping) * incoming)
                        .alias("rank"))
                .localCheckpoint(eager=False)
            )
    return ranks


def q_pagerank_chain(documents: DataFrame,
                     chain_len: int = CC_CHAIN_LEN) -> DataFrame:
    """Declared query: PageRank on the deterministic chain graph
    (chain_edges — the same synthetic edge set the CC variants use).
    Chains have in-degree ≤ 1, so every per-round sum has one term and
    the ranks are BIT-identical across engines — the oracle unrolls
    the same five rounds as plain SQL CTEs and the driver hash-checks
    the 6-decimal rounding of identical doubles. General graphs
    (in-degree > 1) reorder the float sum; there the check weakens to
    tolerance, which is why the declared form pins the chain shape."""
    return (
        pagerank(chain_edges(documents, chain_len))
        .select(F.col("node").alias("doc_id"),
                F.round("rank", 6).alias("pr"))
    )


def general_edges(documents: DataFrame, fan: int = 3) -> DataFrame:
    """Deterministic GENERAL directed graph over the corpus ids — the
    shape q_pagerank_chain deliberately avoids: in-degree > 1 (float
    sums reorder) and genuine dangling sinks. Each doc x links to
    x+1, x+4, x+9 (j² offsets, j = 1..fan) where the target id exists,
    EXCEPT ids ≡ 0 (mod 10), which emit no out-edges — they still
    receive links, so they are true dangling nodes whose mass the
    redistribute variant must recycle. Construction is one explode +
    one id-keyed equi-join; no window, no collect — scales like any
    id-keyed join.
    """
    d = documents.select("doc_id")
    offsets = F.array(*[F.lit(j * j) for j in range(1, fan + 1)])
    return (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(F.col("doc_id").alias("doc_a"),
                F.explode(offsets).alias("_off"))
        .select("doc_a", (F.col("doc_a") + F.col("_off")).alias("doc_b"))
        .join(d.select(F.col("doc_id").alias("doc_b")), "doc_b")
        .select("doc_a", "doc_b")
    )


PAGERANK_SCALE = 10 ** 11  # fixed-point denominator for pagerank_exact


def pagerank_exact(edges: DataFrame, n_iter: int = PAGERANK_ITERS,
                   scale: int = PAGERANK_SCALE,
                   lcm_out: int = 6) -> DataFrame:
    """Fixed-point INTEGER PageRank with dangling-mass redistribution
    — the oracle-exact formulation of ``pagerank(dangling=
    'redistribute')``. Float PageRank on in-degree > 1 graphs is
    engine-dependent (the per-round sum reorders), so instead of
    asking two engines to agree on floats, both compute the SAME
    deterministic integer function: ranks live as int64 numerators
    ``r ≈ rank·scale`` and each round is pure integer arithmetic that
    any SQL engine reproduces bit-for-bit.

    Per round, with damping pinned at 17/20 (= PAGERANK_DAMPING
    exactly), N nodes, per-edge weight ``w = lcm_out div outdeg``
    (exact because every out-degree divides lcm_out — checked), C_v =
    Σ_in r_u·w_u and DM = Σ r over dangling nodes::

        r'_v = (3·scale·lcm_out + 17·N·C_v + 17·lcm_out·DM)
               div (20·N·lcm_out)

    which is floor(scale·[(1-d)/N + d·(C_v/(lcm_out·scale) +
    DM/(scale·N))]) — textbook redistribution, truncated to the
    fixed-point grid each round (error ≤ n_iter/scale ≪ any output
    rounding). Init r0 = scale div N. Mass Σr only shrinks under
    floor, so C_v ≤ lcm_out·scale and the largest intermediate is
    17·N·lcm_out·scale — guarded < 2^63 (at the default scale that
    admits N up to ~9·10⁵; shrink ``scale`` beyond that, the grid is
    still 10⁵× finer than 6-decimal output needs).

    Scale shape: identical to ``pagerank`` — one id-keyed equi-join +
    one agg per round, a 1-row broadcast for the dangling mass, lazy
    localCheckpoint per round so plans don't accrete. The out-degree
    divisibility check and N are the same bounded scalar syncs the
    float path already pays.
    """
    assert PAGERANK_DAMPING == 0.85  # 17/20 — the literals below
    edges = edges.select("doc_a", "doc_b").localCheckpoint(eager=False)
    nodes = (edges.select(F.col("doc_a").alias("node"))
             .union(edges.select(F.col("doc_b"))).distinct()
             .localCheckpoint(eager=False))
    n = nodes.count()
    if n == 0:  # no edges: nothing to rank (the SQL oracle agrees)
        return nodes.withColumn("r", F.lit(0).cast("long"))
    if 17 * n * lcm_out * scale >= 2 ** 63:
        raise ValueError(
            f"pagerank_exact int64 budget exceeded: 17·N·lcm_out·scale"
            f" must stay under 2^63 (N={n}, scale={scale}) — pass a"
            f" smaller scale")
    outdeg = edges.groupBy("doc_a").agg(F.count(F.lit(1)).alias("od"))
    bad = outdeg.filter(F.lit(lcm_out) % F.col("od") != 0).count()
    if bad:
        raise ValueError(
            f"pagerank_exact: {bad} nodes have out-degree not dividing"
            f" lcm_out={lcm_out} — per-edge weights would not be exact")
    w = outdeg.select("doc_a",
                      F.expr(f"CAST({lcm_out} div od AS BIGINT)")
                      .alias("w"))
    ranks = nodes.withColumn("r", F.lit(scale // n).cast("long"))
    num_base = 3 * scale * lcm_out
    den = 20 * n * lcm_out
    for _ in range(n_iter):
        contrib = (
            edges.join(ranks, edges["doc_a"] == ranks["node"])
            .join(w, "doc_a")
            .select(F.col("doc_b").alias("node"),
                    (F.col("r") * F.col("w")).alias("cw"))
            .groupBy("node").agg(F.sum("cw").alias("c"))
        )
        dang = (
            ranks.join(w, ranks["node"] == w["doc_a"], "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long")
                 .alias("_dm"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select("node",
                    F.expr(f"({num_base}L + 17L * {n} * coalesce(c, 0L)"
                           f" + {17 * lcm_out}L * _dm) div {den}L")
                    .alias("r"))
            .localCheckpoint(eager=False)
        )
    return ranks


def q_pagerank_general(documents: DataFrame) -> DataFrame:
    """Declared query: PageRank with dangling-mass redistribution on
    the deterministic general graph (general_edges: in-degree up to 3,
    ~10% dangling sinks). ORACLE-EXACT since r09 via pagerank_exact:
    ranks are int64 fixed-point numerators and every round is integer
    arithmetic both engines reproduce bit-for-bit — the DuckDB oracle
    unrolls the same five integer rounds as CTEs (the
    q_kcore/q_label_prop doctrine). Output is rank in HALF_UP
    microunits (pr_micros = round(rank·10⁶)). The pytest gates keep
    the semantics honest: exact equality against a pure-Python integer
    mirror AND closeness of pr_micros/10⁶ to an independent float
    reference implementation plus its Σ rank ≈ 1 mass-conservation
    invariant (tests/test_text_dedup.py)."""
    unit = PAGERANK_SCALE // 10 ** 6
    return (
        pagerank_exact(general_edges(documents))
        .select(F.col("node").alias("doc_id"),
                F.expr(f"(2L * r + {unit}L) div {2 * unit}L")
                .alias("pr_micros"))
        .orderBy("doc_id")
    )


def q_dedup_canonical(documents: DataFrame) -> DataFrame:
    """Quality-aware canonical selection — the 'keep BEST, not first'
    refinement of near-dup grouping: within each q_dedup_groups
    component, the canonical document is the one with the highest
    composite quality score (text.q_quality_score; ties break to the
    smallest doc_id). Real pipelines keep the cleanest copy of a
    near-dup clump, not the one that happened to arrive first — this
    query is that selection as a manifest: every member row carries
    its component, its quality, the winning doc, and a keep flag.

    Scale shape: components ride the existing CC machinery; the
    quality score is a row-local codegen expression joined on doc_id;
    the per-component argmax is one comp-keyed window over groups that
    are near-dup-clump sized (bounded by duplicate density, not by
    the corpus).
    """
    from pyspark.sql.window import Window

    from movie_rec_spark.operators.text import q_quality_score

    comps = q_dedup_groups(documents)
    q = q_quality_score(documents).select("doc_id", "quality_score")
    m = comps.join(q, "doc_id")
    w = Window.partitionBy("comp").orderBy(
        F.desc("quality_score"), F.asc("doc_id"))
    wfull = w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    return m.select(
        "doc_id", "comp", "quality_score",
        F.first("doc_id").over(wfull).alias("canonical_doc"),
        (F.row_number().over(w) == 1).alias("is_canonical"))


FUZZY_MAX_DIST = 3


def q_fuzzy_match(part: DataFrame,
                  max_dist: int = FUZZY_MAX_DIST) -> DataFrame:
    """Record linkage with blocking — the entity-resolution operator:
    distinct part names collapse to entities (representative key +
    cardinality), entities block on their final token (the noun), and
    within-block candidates verify by Levenshtein distance
    <= ``max_dist``. 'cold ring' ~ 'old ring' surfaces; names sharing
    no noun never meet. This is the string-similarity sibling of the
    MinHash family: same block-then-verify shape, edit distance
    instead of Jaccard, for the short-name regime (catalog/vendor
    dedup) where shingles are too coarse.

    Blocking recall is a DIAL, not a bug: cross-block typos (a typo in
    the noun itself) are deliberately missed, exactly like LSH misses
    cross-bucket pairs; widen with a second block key (e.g. first
    token) unioned in when recall matters more than cost.

    Scale shape: the groupBy collapses duplicates BEFORE pairing (the
    fixture has 2 000 parts but 64 entities — pairing raw rows would
    square the duplicate count for nothing), one shuffle keys entities
    by block, and candidate volume is sum_b occ_b², countable from the
    blocks like every other blocked path. Levenshtein is a
    JVM codegen expression on both engines with identical unit-cost
    semantics.
    """
    ents = part.groupBy("p_name").agg(
        F.min("p_partkey").alias("any_key"),
        F.count(F.lit(1)).alias("n_parts"))
    blocked = ents.withColumn(
        "block", F.element_at(F.split("p_name", " "), -1))
    a = blocked.select(F.col("p_name").alias("name_a"),
                       F.col("any_key").alias("key_a"),
                       F.col("n_parts").alias("n_parts_a"), "block")
    b = blocked.select(F.col("p_name").alias("name_b"),
                       F.col("any_key").alias("key_b"),
                       F.col("n_parts").alias("n_parts_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= F.lit(max_dist))
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"),
                "key_a", "key_b", "n_parts_a", "n_parts_b")
    )


KHOP_K = 3   # neighborhood radius


def khop_counts(edges: DataFrame, k: int = KHOP_K) -> DataFrame:
    """Exact ≤k-hop reachability counts per source node — the
    neighborhood-size feature (influence radius, crawl frontier
    sizing, graph embedding context windows) on a directed graph
    (beyond reference; the integer-exact cousin of q_pagerank_general,
    which is rows-only because float mass sums reorder — set
    reachability has no such problem, so this one IS oracle-checked).

    Layered BFS with frontier pruning: round i joins only the NEWLY
    discovered (src, node) pairs against the edge list, anti-joins out
    pairs already reached (so a dense core never re-expands — without
    the prune, k rounds on a clique re-enumerate every path, an
    exponential blowup the naive unrolled join-oracle actually pays),
    and accumulates into the reach set. k is fixed and small; each
    round is one id-keyed equi-join + one anti join, both shuffled on
    the node id — no window, no driver state, frontier checkpointed
    per round to cut lineage (the dedup_components lesson).

    Output: (doc_id, n_reachable) — distinct nodes ≠ src within k
    hops; nodes that reach nothing are absent (same convention as
    q_triangles).
    """
    # Size-adaptive route (r12 — the CC_LOCAL_EDGE_CAP doctrine): edge
    # sets under the cap BFS in ONE task, replaying the identical
    # layered expansion (pandas hash joins stand in for the shuffled
    # equi/anti joins; reach counts are exact integers, so the result
    # is the same set either way). Large graphs take the unchanged
    # iterative path.
    ecp = edges.select("doc_a", "doc_b").localCheckpoint(eager=False)
    if CC_LOCAL_EDGE_CAP and all(
            ecp.schema[c].dataType.simpleString() == "bigint"
            for c in ("doc_a", "doc_b")) and \
            ecp.count() <= CC_LOCAL_EDGE_CAP:
        def khop_fn(batches):
            import pandas as pd

            parts = [pdf for pdf in batches]
            if not parts:
                return
            e_pd = pd.concat(parts, ignore_index=True)
            if not len(e_pd):
                return
            adj = e_pd.rename(columns={"doc_a": "node", "doc_b": "nxt"})
            reach_l = (e_pd.rename(
                columns={"doc_a": "src", "doc_b": "node"})
                .drop_duplicates())
            frontier_l = reach_l
            for _ in range(k - 1):
                grown = (frontier_l.merge(adj, on="node")
                         [["src", "nxt"]]
                         .rename(columns={"nxt": "node"})
                         .drop_duplicates())
                m = grown.merge(reach_l, on=["src", "node"],
                                how="left", indicator=True)
                frontier_l = m[m["_merge"] == "left_only"][
                    ["src", "node"]]
                reach_l = pd.concat([reach_l, frontier_l],
                                    ignore_index=True)
            reach_l = reach_l[reach_l["src"] != reach_l["node"]]
            out = (reach_l.groupby("src").size()
                   .reset_index(name="n_reachable"))
            yield pd.DataFrame({
                "doc_id": out["src"].astype("int64"),
                "n_reachable": out["n_reachable"].astype("int64")})

        return ecp.coalesce(1).mapInPandas(
            khop_fn, "doc_id bigint, n_reachable bigint")
    e = ecp.select(F.col("doc_a").alias("node"),
                   F.col("doc_b").alias("nxt"))
    reach = (ecp.select(F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("node"))
             .distinct().localCheckpoint(eager=False))
    frontier = reach
    for _ in range(k - 1):
        grown = (frontier.join(e, "node")
                 .select("src", F.col("nxt").alias("node"))
                 .distinct())
        frontier = (grown.join(reach, ["src", "node"], "left_anti")
                    .localCheckpoint(eager=False))
        reach = reach.unionByName(frontier).localCheckpoint(eager=False)
    return (reach.filter(F.col("src") != F.col("node"))
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("n_reachable"))
            .withColumnRenamed("src", "doc_id"))


def q_khop(documents: DataFrame) -> DataFrame:
    """Declared query: ≤3-hop reachability counts on the deterministic
    general directed graph (general_edges: j² fan-out offsets, ~10%
    dangling sinks contribute in-edges only). Oracle = the naive
    unrolled 3-layer DISTINCT-union join — frontier pruning must
    change cost, never the answer."""
    return khop_counts(general_edges(documents), KHOP_K)


def triangle_edges(documents: DataFrame) -> DataFrame:
    """Deterministic UNDIRECTED edge set with real triangle structure:
    doc x links to x+1, x+2, x+3 (where the target exists), so every
    offset pair summing to another offset closes a triangle —
    (x, x+1, x+2), (x, x+1, x+3)*, (x, x+2, x+3)* — rich enough that
    per-node support varies by position. Same construction cost class
    as general_edges: one explode + one id-keyed equi-join."""
    d = documents.select("doc_id")
    offsets = F.array(F.lit(1), F.lit(2), F.lit(3))
    return (
        d.select(F.col("doc_id").alias("doc_a"),
                 F.explode(offsets).alias("_off"))
        .select("doc_a", (F.col("doc_a") + F.col("_off")).alias("doc_b"))
        .join(d.select(F.col("doc_id").alias("doc_b")), "doc_b")
        .select("doc_a", "doc_b")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle support (how many triangles each node sits
    in) via DEGREE-ORDERED edge orientation — the standard
    at-scale algorithm (Suri & Vassilvitskii's MapReduce formulation;
    Spark GraphX's TriangleCount uses the same idea): canonicalize the
    undirected edge set, orient every edge from its lower-(degree, id)
    endpoint to the higher, enumerate wedges only at each edge's LOW
    endpoint, and close them with a semi join.

    Why orientation is the scale story: naive wedge enumeration joins
    the adjacency list with itself, so a celebrity node with degree d
    contributes d² wedges — quadratic blowups on exactly the skewed
    nodes a web/social corpus has. Orienting by degree bounds every
    node's OUT-degree by O(√m) regardless of its raw degree (the
    arboricity argument), so wedge volume is Σ outdeg² ≤ O(m^1.5)
    worst-case and near-linear on real degree distributions — the join
    keys stay skew-free. The oracle is the NAIVE triple self-join in
    SQL; the two must agree exactly, which is the point: orientation
    is an optimization, never a semantics change.

    Scale shape: one distinct (canonicalize), one degree aggregate,
    the rank join-back, one wedge self-join keyed on the low endpoint,
    one semi join to close — all id-keyed equi-joins, no window, no
    driver state. Output: (doc_id, n_triangles) for nodes in ≥1
    triangle."""
    e = (edges.select(F.least("doc_a", "doc_b").alias("a"),
                      F.greatest("doc_a", "doc_b").alias("b"))
         .filter(F.col("a") != F.col("b")).distinct()
         .localCheckpoint(eager=False))
    # Size-adaptive route (r12 — the CC_LOCAL_EDGE_CAP doctrine):
    # canonical edge sets under the cap run the SAME degree-ordered
    # orientation + wedge close in ONE task (pandas hash joins replay
    # the shuffled joins; the rank formula deg·2³² + id is computed in
    # int64 like the JVM, and triangle support is an exact integer, so
    # the per-node counts are identical by uniqueness of the triangle
    # set). Large graphs take the unchanged distributed joins.
    if CC_LOCAL_EDGE_CAP and all(
            e.schema[c].dataType.simpleString() == "bigint"
            for c in ("a", "b")) and e.count() <= CC_LOCAL_EDGE_CAP:
        def tri_fn(batches):
            import numpy as np
            import pandas as pd

            parts = [pdf for pdf in batches]
            if not parts:
                return
            e_pd = pd.concat(parts, ignore_index=True)
            if not len(e_pd):
                return
            a = e_pd["a"].to_numpy(np.int64)
            b = e_pd["b"].to_numpy(np.int64)
            ids, inv = np.unique(np.concatenate([a, b]),
                                 return_inverse=True)
            ai, bi = inv[:a.size], inv[a.size:]
            deg = (np.bincount(ai, minlength=ids.size)
                   + np.bincount(bi, minlength=ids.size))
            rk = deg.astype(np.int64) * np.int64(1 << 32) + ids
            lo = rk[ai] < rk[bi]
            u = np.where(lo, a, b)
            v = np.where(lo, b, a)
            rkv = np.maximum(rk[ai], rk[bi])
            er = pd.DataFrame({"u": u, "v": v, "rkv": rkv})
            w = er.merge(er, on="u")
            w = w[w["rkv_x"] < w["rkv_y"]]
            wedges = pd.DataFrame({"x": w["u"],
                                   "p": w["v_x"], "q": w["v_y"]})
            tri = wedges.merge(
                er[["u", "v"]].rename(columns={"u": "p", "v": "q"}),
                on=["p", "q"])
            corners = np.concatenate([
                tri["x"].to_numpy(np.int64),
                tri["p"].to_numpy(np.int64),
                tri["q"].to_numpy(np.int64)])
            if corners.size == 0:
                return
            node, cnt = np.unique(corners, return_counts=True)
            yield pd.DataFrame({"doc_id": node,
                                "n_triangles": cnt.astype(np.int64)})

        return e.coalesce(1).mapInPandas(
            tri_fn, "doc_id bigint, n_triangles bigint")
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # total order monotone in (deg, id): rank = deg·2^32 + id
    rk = deg.select(
        "node",
        (F.col("deg").cast("long") * F.lit(1 << 32)
         + F.col("node")).alias("rk"))
    er = (
        e.join(rk.select(F.col("node").alias("a"),
                         F.col("rk").alias("rka")), "a")
        .join(rk.select(F.col("node").alias("b"),
                        F.col("rk").alias("rkb")), "b")
        .select(
            F.when(F.col("rka") < F.col("rkb"), F.col("a"))
            .otherwise(F.col("b")).alias("u"),
            F.when(F.col("rka") < F.col("rkb"), F.col("b"))
            .otherwise(F.col("a")).alias("v"),
            F.greatest("rka", "rkb").alias("rkv"))
        # er feeds THREE plan positions (both wedge sides + the
        # closing semi join); checkpoint it once or the whole
        # canonicalize→degree→orient subtree recomputes 3× (measured:
        # 32 Exchanges without, 5 with — the dedup_components lesson)
        .localCheckpoint(eager=False)
    )
    wedges = (
        er.alias("e1").join(
            er.alias("e2"),
            (F.col("e1.u") == F.col("e2.u"))
            & (F.col("e1.rkv") < F.col("e2.rkv")))
        .select(F.col("e1.u").alias("x"),
                F.col("e1.v").alias("p"),
                F.col("e2.v").alias("q"))
    )
    # the closing edge p—q is oriented p→q (rank(p) < rank(q) by
    # construction of the wedge), so one directed semi join closes it
    tri = wedges.join(
        er.select(F.col("u").alias("p"), F.col("v").alias("q")),
        ["p", "q"], "left_semi")
    corners = tri.select(
        F.explode(F.array("x", "p", "q")).alias("doc_id"))
    return (corners.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def q_triangles(documents: DataFrame) -> DataFrame:
    """Declared query: per-node triangle support on the deterministic
    offset graph. Oracle = the naive triple self-join over the same
    canonical edge set — exact integer agreement proves the
    degree-ordered optimization changes cost, not answers."""
    return triangle_count(triangle_edges(documents))


CONTAINMENT_THRESHOLD = 0.9  # |A∩B| / min(|A|,|B|) at-or-above -> pair


def q_dedup_containment(documents: DataFrame,
                        threshold: float = CONTAINMENT_THRESHOLD
                        ) -> DataFrame:
    """ASYMMETRIC set-containment near-dup pairs over word-3-gram
    shingle sets — catches the subset duplicates Jaccard misses: a
    short doc embedded verbatim inside a longer one has containment
    ≈ 1 but Jaccard ≈ |A|/|B|, far below any symmetric threshold
    (the quote/boilerplate/excerpt case every training-data dedup
    pipeline needs; cf. Broder's containment coefficient).

    Same inverted-index self-join shape as q_dedup_jaccard (only
    pairs sharing ≥1 shingle are formed), finishing with BOTH
    directional ratios i/|A| and i/|B| — kept RAW (int/int division
    is bit-deterministic across engines; rounding could diverge on
    exact ties). A pair is emitted when EITHER direction clears the
    threshold, i.e. max containment = i/min(|A|,|B|) ≥ τ.

    Scale shape: identical to q_dedup_jaccard — one shingle-keyed
    self-join + one pair-keyed count, sizes broadcast. The LSH /
    prefix-filter candidate strategies compose in front of this
    finish unchanged when the corpus outgrows the full index.
    """
    sh = _shingle_rows(documents)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("nb"))
    cab = F.col("i") / F.col("na")
    cba = F.col("i") / F.col("nb")
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b",
                cab.alias("cont_a_in_b"), cba.alias("cont_b_in_a"))
        .filter((F.col("cont_a_in_b") >= F.lit(threshold))
                | (F.col("cont_b_in_a") >= F.lit(threshold)))
    )


KCORE_K = 5  # keeps the clique blocks of core_edges, peels the paths


def kcore(edges: DataFrame, k: int = KCORE_K,
          max_rounds: int = 100) -> DataFrame:
    """k-core decomposition by ITERATIVE PEELING (Matula–Beck): drop
    every node with degree < k, recompute degrees on the induced
    subgraph, repeat until stable. The surviving subgraph is the
    maximal one where every node keeps ≥ k neighbors — the standard
    graph-density filter (spam rings, bot clusters, community cores).

    Determinism: peeling is confluent — the k-core is unique
    regardless of removal order — so synchronous whole-round peeling
    gives the same answer as any sequential order; the pytest gate
    compares against an independent pure-Python sequential peeler.

    Scale shape per round: one degree aggregate (node-keyed shuffle)
    + two semi joins to drop incident edges, with an EAGER
    localCheckpoint so round r+1 plans against materialized id pairs
    (the dedup_components lesson — lineage would otherwise double per
    round). Driver sync is one scalar per round (did anything peel).

    Round-count caveat (measured, not theoretical): peel depth is the
    graph's DEGENERACY ORDERING depth, which is O(n) on pathological
    near-path graphs — the chain-shaped general_edges graph took >100
    rounds at k=4 here, which is why q_kcore runs on the community-
    structured core_edges instead. On real community graphs (and on
    core_edges) depth is a small constant; cap with ``max_rounds`` and
    fail loudly rather than loop silently.

    Input: (doc_a, doc_b) directed or undirected; canonicalized here.
    Output: (doc_id, deg) — core members with their IN-CORE degree.
    """
    e = (edges.select(F.least("doc_a", "doc_b").alias("a"),
                      F.greatest("doc_a", "doc_b").alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct().localCheckpoint(eager=True))
    # Size-adaptive route (r12 — the CC_LOCAL_EDGE_CAP doctrine): edge
    # sets under the cap peel in ONE vectorized task; k-core is
    # confluent (unique result under any peel schedule), and the local
    # kernel peels the same synchronous whole rounds, so survivors AND
    # in-core degrees are identical. Counting the already-materialized
    # checkpoint is one cheap job; large graphs take the unchanged
    # iterative rounds.
    if CC_LOCAL_EDGE_CAP and e.count() <= CC_LOCAL_EDGE_CAP:
        def peel_fn(batches):
            import numpy as np
            import pandas as pd

            eas, ebs = [], []
            for pdf in batches:
                eas.append(pdf["a"].to_numpy(np.int64))
                ebs.append(pdf["b"].to_numpy(np.int64))
            ea = np.concatenate(eas) if eas else np.empty(0, np.int64)
            eb = np.concatenate(ebs) if ebs else np.empty(0, np.int64)
            if ea.size == 0:
                return
            ids, inv = np.unique(np.concatenate([ea, eb]),
                                 return_inverse=True)
            ai, bi = inv[:ea.size], inv[ea.size:]
            peels_l = 0
            while True:
                deg = (np.bincount(ai, minlength=ids.size)
                       + np.bincount(bi, minlength=ids.size))
                low = (deg > 0) & (deg < k)
                if not low.any():
                    mask = deg > 0
                    if mask.any():
                        yield pd.DataFrame({
                            "doc_id": ids[mask],
                            "deg": deg[mask].astype(np.int64)})
                    return
                if peels_l >= max_rounds:
                    raise RuntimeError(
                        f"kcore did not stabilize in {max_rounds} "
                        "rounds")
                peels_l += 1
                live = deg >= k
                keep_e = live[ai] & live[bi]
                ai, bi = ai[keep_e], bi[keep_e]

        return e.coalesce(1).mapInPandas(
            peel_fn, "doc_id bigint, deg bigint")
    peels = 0
    while True:
        deg = (e.select(F.col("a").alias("node"))
               .unionAll(e.select(F.col("b").alias("node")))
               .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
               .localCheckpoint(eager=False))
        if deg.filter(F.col("deg") < k).limit(1).count() == 0:
            return deg.select(F.col("node").alias("doc_id"), "deg")
        # cap counts PEELS, not checks: a graph whose peel depth is
        # exactly max_rounds still gets its final stability check
        if peels >= max_rounds:
            raise RuntimeError(
                f"kcore did not stabilize in {max_rounds} rounds")
        peels += 1
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = (e.join(keep.select(F.col("node").alias("a")), "a",
                    "left_semi")
             .join(keep.select(F.col("node").alias("b")), "b",
                   "left_semi")
             .select("a", "b").localCheckpoint(eager=True))


CORE_BLOCK = 10  # community size in core_edges


def core_edges(documents: DataFrame) -> DataFrame:
    """Deterministic COMMUNITY graph over the corpus ids — the shape a
    density filter is actually pointed at: docs group into blocks of
    ``CORE_BLOCK``; EVEN blocks are cliques (in-block degree 9), ODD
    blocks are id-chains (degree ≤ 2), and consecutive ids bridge the
    blocks into one connected graph. The ≥3-core is exactly the clique
    blocks, the chains evaporate in one peel round, and degrees vary
    2..10 — real contrast, shallow peel depth.

    Construction cost: one block-keyed self-join for the cliques (each
    block is O(CORE_BLOCK²) edges, bounded) + one id-shift join for
    the chain — both id-keyed equi-joins, no window, no collect.
    """
    ids = documents.select(
        "doc_id", F.floor(F.col("doc_id") / CORE_BLOCK).alias("blk"))
    even = ids.filter(F.col("blk") % 2 == 0)
    a, b = even.alias("a"), even.alias("b")
    clique = (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b")))
    d = documents.select("doc_id")
    chain = (
        d.select(F.col("doc_id").alias("doc_a"),
                 (F.col("doc_id") + 1).alias("doc_b"))
        .join(d.select(F.col("doc_id").alias("doc_b")), "doc_b")
        # consecutive pairs INSIDE an even block are already clique
        # edges — excluded here (row-local) so the union is duplicate-
        # free by construction and degree-counting consumers need no
        # repair distinct()
        .filter(~((F.floor(F.col("doc_a") / CORE_BLOCK) % 2 == 0)
                  & (F.floor(F.col("doc_b") / CORE_BLOCK)
                     == F.floor(F.col("doc_a") / CORE_BLOCK))))
        .select("doc_a", "doc_b"))
    return clique.unionByName(chain)


def q_kcore(documents: DataFrame) -> DataFrame:
    """Declared query: the 5-core of the community graph (core_edges:
    clique blocks survive at in-core degree 9, chain blocks and
    bridges peel). ORACLE-EXACT since round 8: peeling is a bounded-
    round confluent fixpoint, so the DuckDB oracle unrolls it round-
    per-CTE (the q_bpe_merges/q_kmeans doctrine) — extra unrolled
    rounds past stabilization are the identity, so the unroll count
    only has to cover core_edges' structural peel depth (≤3). The
    pytest comparison against an independent pure-Python sequential
    peeler (k-core uniqueness/confluence makes any removal order
    comparable) and the min-degree ≥ k invariant stay as defense in
    depth.
    """
    return kcore(core_edges(documents), KCORE_K)


LABELPROP_ITERS = 4  # fixed synchronous rounds (deterministic cut)


def label_propagation(edges: DataFrame,
                      iters: int = LABELPROP_ITERS) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007) with a deterministic tie rule: each round, every node
    adopts the most frequent label among its NEIGHBORS, ties broken by
    the smallest label. Classic LPA randomizes update order and tie
    breaks; that is non-reproducible across runs, let alone engines,
    so this uses the synchronous variant with a total-order tie break
    and a FIXED round count — same answer every run, every engine,
    verifiable against a pure-Python mirror (the pytest gate).

    Scale shape per round: one join (labels onto the symmetric edge
    list, node-keyed) + one (node, label) count + one node-keyed
    argmax via max(struct(cnt, -label)) — all map-side-combinable
    aggregates, eager-checkpointed so plans stay flat across rounds.
    """
    sym = (edges.select(F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"))
           .unionByName(edges.select(F.col("doc_b").alias("src"),
                                     F.col("doc_a").alias("dst")))
           .filter(F.col("src") != F.col("dst"))
           .distinct().localCheckpoint(eager=True))
    # Size-adaptive route (r12 — the CC_LOCAL_EDGE_CAP doctrine): the
    # synchronous rounds with the (cnt DESC, label ASC) argmax are a
    # pure function of the edge set, so the vectorized single-task
    # kernel below computes the identical label assignment; large
    # graphs run the unchanged per-round joins/aggs.
    if CC_LOCAL_EDGE_CAP and sym.count() <= CC_LOCAL_EDGE_CAP:
        n_iters = iters

        def lpa_fn(batches):
            import numpy as np
            import pandas as pd

            srcs, dsts = [], []
            for pdf in batches:
                srcs.append(pdf["src"].to_numpy(np.int64))
                dsts.append(pdf["dst"].to_numpy(np.int64))
            src = np.concatenate(srcs) if srcs else np.empty(0, np.int64)
            dst = np.concatenate(dsts) if dsts else np.empty(0, np.int64)
            if src.size == 0:
                return
            nodes, inv = np.unique(np.concatenate([src, dst]),
                                   return_inverse=True)
            si, di = inv[:src.size], inv[src.size:]
            labels_a = nodes.copy()          # init: own id
            for _ in range(n_iters):
                lbl = labels_a[di]           # dst label per edge
                order = np.lexsort((lbl, si))
                so, lo = si[order], lbl[order]
                brk = (so[1:] != so[:-1]) | (lo[1:] != lo[:-1])
                starts = np.concatenate(
                    [[0], np.nonzero(brk)[0] + 1])
                gi, gl = so[starts], lo[starts]
                cnt = np.diff(np.concatenate([starts, [so.size]]))
                # argmax per node by (cnt DESC, label ASC)
                o2 = np.lexsort((gl, -cnt, gi))
                gi2, gl2 = gi[o2], gl[o2]
                first = np.concatenate([[True], gi2[1:] != gi2[:-1]])
                new = labels_a.copy()
                new[gi2[first]] = gl2[first]
                labels_a = new
            yield pd.DataFrame({"doc_id": nodes, "label": labels_a})

        return sym.coalesce(1).mapInPandas(
            lpa_fn, "doc_id bigint, label bigint")
    labels = (sym.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    for _ in range(iters):
        nb = (sym.join(labels.select(F.col("node").alias("dst"),
                                     "label"), "dst")
              .groupBy(F.col("src").alias("node"), "label")
              .agg(F.count(F.lit(1)).alias("cnt")))
        # argmax by (cnt DESC, label ASC) in ONE aggregate:
        # max(struct(cnt, -label)) is maximal exactly at the most
        # frequent label with smallest-label tie break
        labels = (nb.groupBy("node")
                  .agg(F.max(F.struct(F.col("cnt"),
                                      (-F.col("label")).alias("neg")))
                       .alias("m"))
                  .select("node", (-F.col("m.neg")).alias("label"))
                  .localCheckpoint(eager=True))
    return labels.select(F.col("node").alias("doc_id"), "label")


def q_label_prop(documents: DataFrame) -> DataFrame:
    """Declared query: 4-round deterministic synchronous LPA over the
    community graph (core_edges). On the uniform triangle chain LPA
    degenerates — every node's neighbor labels are an all-distinct
    tie, so the min rule just shifts labels down the chain and no
    communities form (measured: 488 singleton labels on 500 docs).
    On core_edges the clique blocks lock onto one label within two
    rounds (real mode wins, not ties) while the chains fragment —
    exactly the contrast a community detector should show.
    ORACLE-EXACT since round 8: the FIXED 4 synchronous rounds unroll
    as one (neighbor-count, argmax) CTE pair per round in DuckDB;
    pytest additionally compares the full assignment against an
    independent pure-Python synchronous mirror.
    """
    return label_propagation(core_edges(documents), LABELPROP_ITERS)


# Portable minhash (q_minhash_eval): base hash = 60-bit md5 prefix mod
# the Mersenne prime P, permutations = universal hashes (a_p*h + b_p)
# mod P. Everything stays below 2^62 (a_p, h < 2^31 so the product
# fits a BIGINT on both engines, no overflow under ANSI), and every
# step — md5 prefix, integer mod, min — is bit-identical in Spark and
# DuckDB, which is the point — and this portable family IS
# q_dedup_minhash's signature kernel, so the declared pipeline is
# hash-checkable end to end too. 16 perms / 2 bands of 8 rows: a
# deliberately precision-tight config — collision prob J^8 per band
# (J=0.9 → 43%/band, ~68% over 2 bands; J=0.5 → 0.4%) — so the audit
# has REAL misses to count (a 4-row-band config finds every sf0.01
# true pair and the recall column degenerates to 1.0).
MHP_P = 2_147_483_647
MHP_PERMS = 16
MHP_BANDS = 2  # rows per band = 16/2 = 8


def mh_coeffs(n: int) -> tuple[list[int], list[int]]:
    """Universal-hash coefficient pairs (a_p, b_p) mod the Mersenne
    prime for ``n`` permutations — fixed LCG-multiplier formulas, so
    Spark, DuckDB SQL generators, and pure-Python test mirrors all
    derive the identical family from the permutation index alone."""
    a = [(1103515245 * (p + 1) + 12345) % MHP_P for p in range(n)]
    b = [(69069 * (p + 1) + 1) % MHP_P for p in range(n)]
    return a, b


MHP_A, MHP_B = mh_coeffs(MHP_PERMS)


def minhash_portable_sigs(documents: DataFrame,
                          sh: DataFrame | None = None,
                          num_perms: int = MHP_PERMS) -> DataFrame:
    """(doc_id, h0..h{num_perms-1}) portable minhash signatures — the
    cross-engine-deterministic signature kernel of minhash_signatures
    and q_minhash_eval. Pass a prepared (doc_id, g) frame via ``sh``
    to share one shingle scan with other pipeline stages
    (q_minhash_eval's pattern). a_p·h+b_p stays < 2^62 (both factors
    < 2^31), so the mins are int64-exact.
    """
    if sh is None:
        sh = _shingle_rows(documents)
    a_c, b_c = mh_coeffs(num_perms)
    h = (F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 15),
                16, 10).cast("long") % MHP_P)
    hs = sh.select("doc_id", h.alias("h"))
    mins = [F.min((F.lit(a_c[p]) * F.col("h") + F.lit(b_c[p]))
                  % MHP_P).alias(f"h{p}")
            for p in range(num_perms)]
    return hs.groupBy("doc_id").agg(*mins)


def q_minhash_eval(documents: DataFrame,
                   threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """MinHash-LSH configuration audit — the measurement a pipeline
    runs BEFORE burning 100 TB on a dedup config: for this corpus (or
    a stable-bucket sample of it at scale), how many true near-dup
    pairs does banding find, and what rides along?

    One hash-checked table over the UNION of LSH candidate pairs and
    exact-Jaccard true pairs (so both false positives and misses are
    rows, not absences):

      doc_a, doc_b | candidate (banding collided) | is_true (exact
      word-3-gram Jaccard >= threshold) | n_match (signature positions
      agreeing, 0..16) | n_inter, n_union (exact shingle overlap)

    Every column is an integer — precision = sum(candidate*is_true) /
    sum(candidate), recall = sum(candidate*is_true) / sum(is_true),
    and the estimated Jaccard n_match/16 are all left to the consumer
    as exact ratios, so the audit has NO float-rounding surface at
    all (the q_rolling_percentiles lesson applied preemptively).

    The signature pipeline is the PORTABLE integer minhash
    (minhash_portable_sigs): md5-prefix base hash + universal-hash
    permutations mod the Mersenne prime 2^31-1 — bit-identical in
    Spark and DuckDB — and also q_dedup_minhash's kernel — so the
    full shingle->signature->band->candidate path is oracle-exact.

    Scale shape: signatures are ONE doc-keyed shuffle (16 mins in one
    agg); banding candidates are an equi-join on the 4-value band key;
    the exact-Jaccard side is the inverted-index ground truth — the
    quadratic-on-hot-shingles cost class every exact audit pays, which
    is why at 100 TB this runs on a stable_bucket sample, never the
    full corpus (same posture as q_dedup_jaccard's docstring).

    Reference analogue: none (SURVEY S2 has no dedup); this is the
    evaluation member of the minhash family next to q_dedup_minhash /
    q_minhash_groups.
    """
    # ONE materialized shingle frame feeds sizes, signatures, and the
    # exact-truth self-join (five plan references otherwise re-scan +
    # re-explode the corpus each — the d087588 prefix-pipeline lesson)
    sh = _shingle_rows(documents).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sigs = minhash_portable_sigs(documents, sh=sh)
    rows = MHP_PERMS // MHP_BANDS
    banded = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(":", *[F.col(f"h{b * rows + r}")
                                   for r in range(rows)]).alias("key"))
            for b in range(MHP_BANDS)
        ])).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"),
             F.col("bb.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .withColumn("c", F.lit(1))
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        sa.join(sb, (F.col("sa.g") == F.col("sb.g"))
                & (F.col("sa.doc_id") < F.col("sb.doc_id")))
        .groupBy(F.col("sa.doc_id").alias("doc_a"),
                 F.col("sb.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    _thr_num, _thr_den = jaccard_threshold_frac(threshold)
    true_pairs = (
        inter.join(F.broadcast(sizes.select(
            F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))),
            "doc_a")
        .join(F.broadcast(sizes.select(
            F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))),
            "doc_b")
        # integer-exact threshold test: i/(na+nb-i) >= num/den
        # <=> i*den >= union*num, with (num, den) the exact rational
        # of the threshold (jaccard_threshold_frac) — no float division
        .filter(F.col("n_inter") * F.lit(_thr_den)
                >= (F.col("na") + F.col("nb") - F.col("n_inter"))
                * F.lit(_thr_num))
        .select("doc_a", "doc_b")
        .withColumn("t", F.lit(1))
    )
    pairs = (
        cand.join(true_pairs, ["doc_a", "doc_b"], "full_outer")
        .select("doc_a", "doc_b",
                F.coalesce("c", F.lit(0)).alias("candidate"),
                F.coalesce("t", F.lit(0)).alias("is_true"))
    )
    siga = sigs.select(F.col("doc_id").alias("doc_a"),
                       *[F.col(f"h{p}").alias(f"a{p}")
                         for p in range(MHP_PERMS)])
    sigb = sigs.select(F.col("doc_id").alias("doc_b"),
                       *[F.col(f"h{p}").alias(f"b{p}")
                         for p in range(MHP_PERMS)])
    n_match = sum(
        F.when(F.col(f"a{p}") == F.col(f"b{p}"), 1).otherwise(0)
        for p in range(MHP_PERMS))
    szb = sizes.select(F.col("doc_id").alias("doc_b"),
                       F.col("n").alias("nb"))
    sza = sizes.select(F.col("doc_id").alias("doc_a"),
                       F.col("n").alias("na"))
    return (
        pairs.join(siga, "doc_a").join(sigb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(F.broadcast(sza), "doc_a").join(F.broadcast(szb), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.col("candidate").cast("int").alias("candidate"),
            F.col("is_true").cast("int").alias("is_true"),
            n_match.cast("int").alias("n_match"),
            F.coalesce("n_inter", F.lit(0)).cast("int").alias("n_inter"),
            (F.col("na") + F.col("nb")
             - F.coalesce("n_inter", F.lit(0))).cast("int")
            .alias("n_union"))
        .orderBy("doc_a", "doc_b")
    )


# Portable simhash (q_simhash_eval): 56-bit signatures whose token
# hashes come from the shared md5 recipe, so the vote sums, the
# signature bits, and every pairwise hamming distance are bit-identical
# in Spark and DuckDB. 56 bits — the full entropy of the 14-hex md5
# prefix (a 32-bit variant measured 18 897 candidate pairs at sf0.01,
# ~15% of all pairs: on a degenerate 31-word vocabulary narrow
# signatures collide constantly; 56 bits restores the standard
# hamming≤3 selectivity band).
SHP_BITS = 56
SHP_HMAX = 3  # pigeonhole: SHP_HMAX+1 segments of 14 bits


def simhash_portable_sigs(documents: DataFrame) -> DataFrame:
    """(doc_id, sig) portable 56-bit simhash — md5-hashed distinct
    tokens, per-bit ±1 votes, bit set iff the vote sum is positive
    (a zero vote leaves the bit 0, deterministically). Input fanned
    out (``fanout_scan``): per-token md5 dominates the map side and the
    corpus arrives as a single-task scan at test scale."""
    toks = fanout_scan(documents.select("doc_id", "text")).select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("t"))
    h = (F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 14),
                16, 10).cast("long"))
    hashed = toks.select("doc_id", h.alias("h"))
    # one F.expr per vote — same parsed plan, ~5× fewer py4j calls
    # than the Column-chain form (see simhash_sized_sigs)
    votes = [
        F.expr(f"sum(CASE WHEN ((h >> {i}) & 1) = 1 "
               f"THEN 1 ELSE -1 END) AS v{i}")
        for i in range(SHP_BITS)
    ]
    sig = F.expr(" + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)" for i in range(SHP_BITS)))
    return hashed.groupBy("doc_id").agg(*votes).select(
        "doc_id", sig.alias("sig"))


def q_simhash_eval(documents: DataFrame,
                   threshold: float = JACCARD_THRESHOLD,
                   hamming_max: int = SHP_HMAX) -> DataFrame:
    """SimHash-as-near-dup-proxy audit — q_minhash_eval's sibling for
    the OTHER sketch family: one hash-checked integer table over the
    union of simhash candidate pairs (hamming ≤ hamming_max over the
    portable 56-bit signatures) and exact word-3-gram Jaccard true
    pairs, so both proxy failure modes are rows: false positives
    (close in hamming, dissimilar in Jaccard) and misses (true
    near-dups beyond the radius).

      doc_a, doc_b | candidate | is_true | hamming | n_inter | n_union

    The Spark side generates candidates with the pigeonhole segment
    blocking (hamming_max+1 segments of 14 bits — an equi-join, the
    at-scale path); the DuckDB oracle brute-forces hamming over ALL
    pairs instead. Their hash-match is therefore ALSO a driver-checked
    proof of the blocking's exactness guarantee (a pair within the
    radius cannot differ in every segment), on top of the signature
    arithmetic itself. All columns integers — no float surface.

    Scale shape: signatures are one doc-keyed 32-vote aggregate;
    candidates are the segment equi-join; the exact-Jaccard side is
    the inverted-index ground-truth cost class — at 100 TB the audit
    runs on a stable_bucket sample, same posture as q_minhash_eval.

    Reference analogue: none; the evaluation member of the simhash
    family next to simhash_neardup (the declared q_dedup_simhash).
    """
    sigs = simhash_portable_sigs(documents)
    n_seg = hamming_max + 1
    width = SHP_BITS // n_seg
    segs = sigs.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                F.expr(f"(sig >> {q * width}) & {(1 << width) - 1}")
                .alias("qh"))
            for q in range(n_seg)
        ])).alias("ss"),
    ).select("doc_id", "sig", F.col("ss.q").alias("q"),
             F.col("ss.qh").alias("qh"))
    a, b = segs.alias("a"), segs.alias("b")
    cand = (
        a.join(b, (F.col("a.q") == F.col("b.q"))
               & (F.col("a.qh") == F.col("b.qh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.expr("bit_count(a.sig ^ b.sig)").alias("hamming"))
        .filter(F.col("hamming") <= hamming_max)
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("c", F.lit(1))
    )
    # shared shingle materialization, same rationale as q_minhash_eval
    sh = _shingle_rows(documents).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        sa.join(sb, (F.col("sa.g") == F.col("sb.g"))
                & (F.col("sa.doc_id") < F.col("sb.doc_id")))
        .groupBy(F.col("sa.doc_id").alias("doc_a"),
                 F.col("sb.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    thr_num, thr_den = jaccard_threshold_frac(threshold)
    true_pairs = (
        inter.join(F.broadcast(sizes.select(
            F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))),
            "doc_a")
        .join(F.broadcast(sizes.select(
            F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))),
            "doc_b")
        .filter(F.col("n_inter") * F.lit(thr_den)
                >= (F.col("na") + F.col("nb") - F.col("n_inter"))
                * F.lit(thr_num))
        .select("doc_a", "doc_b")
        .withColumn("t", F.lit(1))
    )
    pairs = (
        cand.select("doc_a", "doc_b", "c")
        .join(true_pairs, ["doc_a", "doc_b"], "full_outer")
        .select("doc_a", "doc_b",
                F.coalesce("c", F.lit(0)).alias("candidate"),
                F.coalesce("t", F.lit(0)).alias("is_true"))
    )
    siga = sigs.select(F.col("doc_id").alias("doc_a"),
                       F.col("sig").alias("sig_a"))
    sigb = sigs.select(F.col("doc_id").alias("doc_b"),
                       F.col("sig").alias("sig_b"))
    sza = sizes.select(F.col("doc_id").alias("doc_a"),
                       F.col("n").alias("na"))
    szb = sizes.select(F.col("doc_id").alias("doc_b"),
                       F.col("n").alias("nb"))
    return (
        pairs.join(siga, "doc_a").join(sigb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(F.broadcast(sza), "doc_a").join(F.broadcast(szb), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.col("candidate").cast("int").alias("candidate"),
            F.col("is_true").cast("int").alias("is_true"),
            F.expr("bit_count(sig_a ^ sig_b)").cast("int")
            .alias("hamming"),
            F.coalesce("n_inter", F.lit(0)).cast("int").alias("n_inter"),
            (F.col("na") + F.col("nb")
             - F.coalesce("n_inter", F.lit(0))).cast("int")
            .alias("n_union"))
        .orderBy("doc_a", "doc_b")
    )


# --- Corpus-sized simhash (r10 verdict item 1: the one weak mark) ----
#
# Pigeonhole blocking at a FIXED segment width w carries a chance-
# collision candidate term of (k+1)·n²/2^(w+1) — quadratic in corpus
# size (measured: 11.8× candidates at a 10× corpus with max bucket
# occupancy 2,950 under the fixed 4×14-bit form, SCALE.md §Round 10).
# The cure is the lsh_sized_params doctrine applied to the OTHER knob
# this family has: segment width must GROW with log2(n), and since the
# k+1 segments must cover the signature (that is the exactness
# guarantee), the signature itself widens to (k+1)·w bits. Wider
# signatures are semantically a strictly TIGHTER near-dup proxy (more
# independent hash bits per hamming budget), so the sized family trades
# no correctness — the declared q_dedup_simhash (simhash_neardup with
# n_docs) keeps the 56-bit/14-bit oracle-exact form at test scale
# because the sizer's floor IS that form below 2^SHP_SEG_MIN documents.
SHP_SEG_MIN = 14        # floor: the declared 4x14 = 56-bit test-scale form
SHP_LIMB_HEX = 14       # md5 limb width: 14 hex chars = 56 bits per limb
SHP_MAX_BITS = 112      # two limbs of the 32-hex md5 — the entropy ceiling


def simhash_sized_params(n_docs: int,
                         hamming_max: int = SHP_HMAX) -> tuple[int, int]:
    """(sig_bits, seg_width) sized so chance-collision candidates stay
    LINEAR in corpus size — the ``lsh_sized_params`` analog for
    pigeonhole blocking.

    Chance collisions put ~n/2^w unrelated docs in every segment
    bucket, so candidate pairs grow as (k+1)·n²/2^(w+1): quadratic at
    FIXED w. Pinning expected chance occupancy at ≤1 (w = ⌈log2 n⌉)
    bounds the chance term at (k+1)·n/2 pairs for ANY corpus size —
    every surviving collision is then signature similarity, which is
    the blocking's job. The floor keeps the 56-bit declared form (and
    its DuckDB hash row) at test scale; the cap is the md5 entropy
    ceiling (two 56-bit limbs), reached at 2^28 ≈ 268 M docs for k=3 —
    beyond it occupancy grows again, but only as n/2^28 (~4 at 10⁹
    docs), still far from the fixed-width cliff.
    """
    import math

    n_seg = hamming_max + 1
    w = math.ceil(math.log2(max(n_docs, 2)))
    w = max(w, SHP_SEG_MIN)
    w = min(w, SHP_MAX_BITS // n_seg)
    return n_seg * w, w


def simhash_sized_sigs(documents: DataFrame, sig_bits: int,
                       seg_width: int) -> DataFrame:
    """(doc_id, segs array<bigint>) — the portable md5 simhash of
    ``simhash_portable_sigs`` generalized to arbitrary width ≤
    SHP_MAX_BITS, represented directly as its ``sig_bits/seg_width``
    pigeonhole segments (each ≤ 56 bits, bigint-safe; the segment
    array IS the signature — hamming(a,b) = Σ_q bit_count(a[q]^b[q])).

    Token-hash bits come from consecutive 14-hex md5 limbs, so for
    (56, 14) the segment values are bit-identical to the declared
    scalar form's ``(sig >> 14q) & 0x3FFF`` — the sized operator
    collapses to the oracle-exact query below the sizer's floor. One
    doc-keyed vote aggregate either way (sig_bits sum columns).
    """
    n_seg = sig_bits // seg_width
    assert n_seg * seg_width == sig_bits <= SHP_MAX_BITS
    toks = fanout_scan(documents.select("doc_id", "text")).select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("t"))
    md5c = F.md5(F.col("t").cast("binary"))
    n_limbs = -(-sig_bits // 56)
    hashed = toks.select("doc_id", *[
        F.conv(F.substring(md5c, 1 + SHP_LIMB_HEX * j, SHP_LIMB_HEX),
               16, 10).cast("long").alias(f"h{j}")
        for j in range(n_limbs)])
    # one F.expr per vote (the parsed plan is identical to the former
    # F.sum(F.when(...)) Column chain): building sig_bits votes as
    # Column objects cost ~5 py4j round-trips EACH — ~0.5 s of builder
    # wall at 96 bits, measured via cProfile on q_pipeline_llm's
    # near-dedup stage
    votes = [
        F.expr(f"sum(CASE WHEN ((h{i // 56} >> {i % 56}) & 1) = 1 "
               f"THEN 1 ELSE -1 END) AS v{i}")
        for i in range(sig_bits)
    ]
    segs = F.array(*[
        F.expr(" + ".join(
            f"(CASE WHEN v{q * seg_width + t} > 0 "
            f"THEN CAST({1 << t} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)" for t in range(seg_width)))
        for q in range(n_seg)])
    return hashed.groupBy("doc_id").agg(*votes).select(
        "doc_id", segs.alias("segs"))


def simhash_sized_segments(documents: DataFrame, sig_bits: int,
                           seg_width: int) -> DataFrame:
    """Blocked intermediate of the sized family: (doc_id, segs, q, qh)
    — one row per (doc, segment), the equi-join side of
    ``simhash_neardup``."""
    sigs = simhash_sized_sigs(documents, sig_bits, seg_width)
    return sigs.select(
        "doc_id", "segs",
        F.posexplode("segs").alias("q", "qh"))


def simhash_neardup(documents: DataFrame,
                    hamming_max: int = SHP_HMAX,
                    n_docs: int | None = None,
                    sig_bits: int | None = None,
                    seg_width: int | None = None) -> DataFrame:
    """SimHash near-dup pairs (doc_a, doc_b, hamming) under the SIZED
    portable family — the declared q_dedup_simhash (with ``n_docs``)
    and q_simhash_sized (pinned 96/24). The oracle states the
    SEMANTICS (all-pairs hamming filter); the pigeonhole blocking
    below provably returns the identical set, so the hash match also
    certifies the blocking's exactness.

    Params resolve as: explicit (sig_bits, seg_width) > sized from
    ``n_docs`` (``simhash_sized_params``, a parquet-footer count) >
    hamming_max+1 segments of ⌊56/(hamming_max+1)⌋ bits (56/14, the
    declared test-scale form, at the default radius). The pigeonhole
    guarantee is width-independent (a pair within hamming_max cannot
    differ in every one of the hamming_max+1 segments), so the
    candidate equi-join returns the exact hamming-filter set at every
    size. Cost note: chance collisions grow (k+1)·n²/2^(w+1) at fixed
    segment width w — quadratic in corpus size (measured 11.8×
    candidates at a 10× corpus, SCALE.md §Round 10) — which is why the
    declared query passes ``n_docs``. Plan: one vote aggregate, one
    segment equi-join, hamming filtered BEFORE the cross-segment dedup
    exchange, so that exchange carries only true near-dup pairs.
    """
    if sig_bits is None or seg_width is None:
        if n_docs is None:
            n_seg = hamming_max + 1
            seg_width = SHP_BITS // n_seg
            sig_bits = n_seg * seg_width
        else:
            sig_bits, seg_width = simhash_sized_params(n_docs, hamming_max)
    segments = simhash_sized_segments(documents, sig_bits, seg_width)
    n_seg = sig_bits // seg_width
    a, b = segments.alias("a"), segments.alias("b")
    # static per-index sum, not aggregate(zip_with(...)): n_seg is a
    # plan-time constant and the unrolled expression stays inside
    # whole-stage codegen, while the higher-order-function form
    # interprets its lambda per candidate pair (measured 2.4 s slower
    # at sf0.1's 3.2M candidates)
    ham = F.expr(" + ".join(
        f"bit_count(asegs[{q}] ^ bsegs[{q}])" for q in range(n_seg)))
    return (
        a.join(b, (F.col("a.q") == F.col("b.q"))
               & (F.col("a.qh") == F.col("b.qh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.segs").alias("asegs"),
                F.col("b.segs").alias("bsegs"))
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= F.lit(hamming_max))
        .dropDuplicates(["doc_a", "doc_b"])
    )


# Bloom membership audit: M bits, K md5-derived positions per key.
# Together with q_kmv_distinct (cardinality), the Misra-Gries heavy
# hitters (frequency), and q_quantile_merge (quantiles) this closes
# the verifiable-sketch family: every sketch whose state is plain
# integers gets a hash-checked oracle, while binary-state sketches
# (HLL) stay rows-only by necessity. M=4096/K=3 on the ~400-digest
# train side gives a theory FP rate of (1-e^{-Kn/M})^K ≈ 2% — small
# but non-zero, so the audit measures something real.
BLOOM_M = 4096
BLOOM_K = 3


def q_bloom_audit(documents: DataFrame,
                  m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Bloom-filter membership audit — the pre-deployment measurement
    for the most common 100 TB join-pruning trick (ship a KB-sized
    filter of the build side's keys to every scan task; rows whose
    keys miss the filter die before the shuffle): build the filter
    over the TRAIN split's content digests, probe EVERY document in
    the corpus, and emit per-probe ground truth so the realized
    false-positive rate is measured, not assumed.

      doc_id | bloom_hit (all k bit positions set) | is_member (the
      digest truly occurs in the train split) | n_bits_set (the
      filter's load, same on every row — the theory input)

    Probing the whole corpus (not just the eval split) keeps both
    sides of the guarantee non-vacuous: every train doc is a member,
    so the no-false-negative property is exercised on ~80% of rows
    (any is_member=1, bloom_hit=0 row would hash-mismatch), while the
    eval split supplies the non-member probes whose hits are the
    measured false positives.
    State is pure integers (the set of set bit positions, md5-derived:
    pos_j = md5(fp || ':' || j) % m), so filter construction, probe,
    and truth are all cross-engine exact. All-integer output.

    Scale shape: the filter state is ≤ m rows built in one distinct
    over k·|train| position rows; probes join that state BROADCAST
    (the whole point of a Bloom filter — per-task membership with no
    shuffle of the probe side); truth is one digest-keyed semi-join,
    the audit-only part a production filter never pays.

    Reference analogue: none; the membership member of the sketch
    family next to q_kmv_distinct / q_heavy_hitters /
    q_quantile_merge.
    """
    from movie_rec_spark.functions import stable_bucket

    fp = F.md5(F.col("text").cast("binary"))
    docs = documents.select(
        "doc_id", fp.alias("fp"),
        stable_bucket(F.col("doc_id")).alias("bucket"))
    train = docs.filter(F.col("bucket") < TRAIN_MAX_BUCKET)

    def positions(src):
        return src.select(
            "doc_id",
            F.explode(F.array(*[
                (F.conv(F.substring(
                    F.md5(F.concat(F.col("fp"), F.lit(f":{j}"))
                          .cast("binary")), 1, 14), 16, 10)
                 .cast("long") % m).cast("int").alias("p")
                for j in range(k)
            ])).alias("pos"))

    bits = positions(train).select("pos").distinct()
    n_bits = bits.agg(F.count(F.lit(1)).cast("int").alias("n_bits_set"))
    probe = (positions(docs)
             .join(F.broadcast(bits.withColumn("hit", F.lit(1))),
                   "pos", "left")
             .groupBy("doc_id")
             .agg(F.min(F.coalesce("hit", F.lit(0))).cast("int")
                  .alias("bloom_hit")))
    member = (docs.join(train.select("fp").distinct()
                        .withColumn("mem", F.lit(1)), "fp", "left")
              .select("doc_id",
                      F.coalesce("mem", F.lit(0)).cast("int")
                      .alias("is_member")))
    return (probe.join(member, "doc_id")
            .crossJoin(F.broadcast(n_bits))
            .select("doc_id", "bloom_hit", "is_member", "n_bits_set")
            .orderBy("doc_id"))


SUBSTR_K = 8  # sliding-window length in tokens (ExactSubstr span unit)


def substring_windows(documents: DataFrame,
                      k: int = SUBSTR_K) -> DataFrame:
    """(doc_id, start, fp) for EVERY k-token sliding window (stride 1,
    0-based token offset) — the suffix-array stand-in of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"
    (ExactSubstr). Where chunk_rows cuts stride-k paragraphs, this
    fingerprints all |tokens|-k+1 offsets, so a verbatim span is found
    at ANY alignment, not only on chunk boundaries.

    Built map-side in one codegen expression (split once, sequence +
    slice + concat_ws + md5) — no explode-then-self-join; the window
    count is |tokens|-k+1 per doc, so total work is corpus token count
    x 1, the same linear scan class the paper's suffix array achieves
    and the shape that survives 100 TB. Docs shorter than k produce no
    windows (guarded sequence).

    fp is the md5 UNHEXED to 16 binary bytes, not the 32-char hex
    string (guide §2.3, narrower types): both consumers shuffle every
    window row keyed on fp and only ever compare fp for equality —
    unhex is a bijection of the hex form, so the grouping is
    bit-identical while the dominant shuffle carries half the key
    bytes.

    The input fans out first (``fanout_scan``): per-window md5 is the
    family's dominant map cost and the corpus arrives as a single-task
    scan at test scale — a no-op wherever the table already has
    scan parallelism.
    """
    documents = fanout_scan(documents.select("doc_id", "text"))
    w = F.split("text", " ")
    n_wins = F.size(w) - F.lit(k - 1)
    wins = F.when(
        n_wins > 0,
        F.transform(
            F.sequence(F.lit(0), n_wins - 1),
            lambda i: F.struct(
                i.cast("int").alias("start"),
                F.unhex(F.md5(F.concat_ws(" ", F.slice(w, i + 1, k))
                              .cast("binary"))).alias("fp")),
        )).otherwise(F.array())
    return (
        documents
        .select("doc_id", F.explode(wins).alias("wn"))
        .select("doc_id", F.col("wn.start").alias("start"),
                F.col("wn.fp").alias("fp"))
    )


def q_dedup_substring(documents: DataFrame,
                      k: int = SUBSTR_K) -> DataFrame:
    """Declared query: maximal cross-document duplicated spans —
    ExactSubstr's findings table. A window is duplicated when its
    fingerprint occurs in MORE THAN ONE document; overlapping or
    touching duplicated windows within a doc merge (gaps-and-islands,
    break when the next start is > k past the previous — coverage
    would no longer be contiguous) into one maximal span. Output one
    row per span: (doc_id, span_start, span_len, n_windows), token
    offsets — the byte-range artifact of the paper, in token units.

    This catches what BOTH whole-doc dedup and stride-chunk dedup
    miss: a shared passage at different offsets in two documents
    lands on different chunk boundaries (q_chunk_dedup finds nothing)
    while document Jaccard stays low (q_dedup_jaccard finds nothing);
    here the interior windows of the shared passage collide at every
    alignment.

    Scale shape: map-side windowing (substring_windows), then ONE
    shuffle keyed on the window fingerprint (the min!=max-over-fp
    duplicate test runs inside that exchange — no groupBy+join round
    trip), then ONE shuffle keyed on doc_id for the island merge.
    Cost tracks corpus token count, never document pairs. The paper's
    suffix array is a single-machine construction; fp-keyed shuffles
    are the distributed equivalent with the same O(corpus) work.

    Reference analogue: none (`web/app/controller.py` has no dedup);
    corpus-hygiene extension of the q_chunk_dedup digest machinery.
    """
    wins = substring_windows(documents, k)
    wfp = Window.partitionBy("fp")
    dup = (wins
           .withColumn(
               "dup",
               F.min("doc_id").over(wfp) != F.max("doc_id").over(wfp))
           .filter("dup"))
    wdoc = Window.partitionBy("doc_id").orderBy("start")
    brk = F.when(
        F.lag("start").over(wdoc).isNull()
        | (F.col("start") - F.lag("start").over(wdoc) > k),
        1).otherwise(0)
    isl = (dup.select("doc_id", "start")
           .withColumn("brk", brk)
           .withColumn("island", F.sum("brk").over(
               wdoc.rowsBetween(Window.unboundedPreceding, 0))))
    return (
        isl.groupBy("doc_id", "island")
        .agg(F.min("start").cast("int").alias("span_start"),
             (F.max("start") + F.lit(k) - F.min("start")).cast("int")
             .alias("span_len"),
             F.count(F.lit(1)).cast("long").alias("n_windows"))
        .select("doc_id", "span_start", "span_len", "n_windows")
        .orderBy("doc_id", "span_start")
    )


def q_substring_prune(documents: DataFrame,
                      k: int = SUBSTR_K) -> DataFrame:
    """Declared query: the action on q_dedup_substring's findings —
    rebuild every document with the tokens covered by NON-CANONICAL
    duplicated windows removed. The canonical occurrence of each
    duplicated fingerprint is its (doc_id, start)-minimal window
    (row_number = 1 in that order), so exactly one copy of every
    duplicated passage survives corpus-wide and the canonical copy is
    deterministic — the sliding-window counterpart of q_chunk_prune
    and the scrub step of Lee et al.'s ExactSubstr pipeline.

    Scale shape: windows shuffle ONCE on fp (duplicate test + the
    canonical row_number share the exchange), removed positions
    aggregate ONCE on doc_id into a per-doc array (bounded by doc
    length), and the rebuild is map-side codegen — filter the token
    index sequence against the removed-position array and concat. No
    token-level anti-join; nothing shuffles more than (doc_id, pos).

    Output: (doc_id, n_tokens, n_removed, cleaned_text), every doc
    present (short/no-window docs pass through untouched).
    """
    wins = substring_windows(documents, k)
    wfp = Window.partitionBy("fp")
    word = Window.partitionBy("fp").orderBy("doc_id", "start")
    flagged = wins.select(
        "doc_id", "start",
        (F.min("doc_id").over(wfp) != F.max("doc_id").over(wfp))
        .alias("dup"),
        F.row_number().over(word).alias("rn"))
    rmpos = (flagged.filter("dup AND rn > 1")
             .select("doc_id",
                     F.explode(F.sequence(
                         F.col("start"),
                         F.col("start") + F.lit(k - 1))).alias("pos"))
             .groupBy("doc_id")
             .agg(F.array_sort(F.collect_set(F.col("pos").cast("int")))
                  .alias("rm")))
    toks = F.split("text", " ")
    rm = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    # array_except builds one hash set over rm per row (O(n_tokens +
    # |rm|)) where the filter/array_contains form rescanned rm for
    # every token index (O(n_tokens x |rm|)); order and membership are
    # identical (the index sequence is already unique and ascending).
    kept_idx = F.array_except(
        F.sequence(F.lit(0), F.size(toks) - 1), rm)
    return (
        # rebuild side fans out too: token-index filtering + concat is
        # the second per-row-heavy chain and otherwise runs on the
        # single-task scan (no-op at production partition counts)
        fanout_scan(documents.select("doc_id", "text"))
        .join(rmpos, "doc_id", "left")
        .select(
            "doc_id",
            F.size(toks).cast("int").alias("n_tokens"),
            F.size(rm).cast("int").alias("n_removed"),
            F.concat_ws(" ", F.transform(
                kept_idx,
                lambda i: F.element_at(toks, i + 1)))
            .alias("cleaned_text"))
        .orderBy("doc_id")
    )


def q_dup_stats(documents: DataFrame) -> DataFrame:
    """Declared query: duplication-factor histogram — the corpus-level
    summary a dedup run is judged by (how much mass sits in clusters
    of each size, hence how many tokens dedup will reclaim). One row
    per exact-duplicate cluster size: how many clusters have that many
    copies, the documents they hold, and the docs that exact dedup
    would REMOVE at that size (n_docs − n_clusters, min-id keep rule).

    Scale shape: the q_dedup_exact digest aggregate (one digest-keyed
    shuffle of (fp, doc_id) scan-side pairs) collapsed one level
    further by a ≤max-cluster-size-key aggregate — the histogram
    shuffle moves cluster-count rows, not documents. Both levels get
    map-side partials.

    Reference analogue: none; beyond-reference LLM-pipeline member
    (composes q_dedup_exact, dedup.py:283).
    """
    groups = q_dedup_exact(documents)
    return (groups.groupBy(F.col("n_copies").alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum("n_copies").alias("n_docs"),
                 (F.sum("n_copies") - F.count(F.lit(1)))
                 .alias("n_removable"))
            .orderBy("cluster_size"))
