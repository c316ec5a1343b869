"""Corpus-level scoring and curation operators for LLM training-data
pipelines: benchmark decontamination, TF-IDF / BM25 relevance, per-key
caps, unigram-LM quality scoring, and embedding semantic dedup.

These extend the reference's table verbs (SURVEY.md §7 phase 9 tier)
with the curation steps a 100 TB pretraining pipeline runs between raw
ingest and packing. Everything is built-in column expressions + hash
aggregates / equi-joins — the shuffle carries distinct (doc, term) or
(key) rows, never raw text twice, and no Python touches the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import track
from .textstats import token_count, tokens

__all__ = [
    "word_ngrams",
    "word_ngram_hashes",
    "decontaminate",
    "decontaminate_stateless",
    "decontaminate_stateless_bloom",
    "tf_idf_top_terms",
    "bm25_scores",
    "cap_per_key",
    "unigram_logprob",
    "semantic_dedup",
    "filter_funnel",
    "split_by_hash",
    "curate",
    "incremental_new",
    "chunk_text",
    "remove_duplicate_spans",
]


def word_ngrams(text, n: int) -> Column:
    """Array of space-joined word ``n``-grams (lowercased, whitespace
    tokenized); empty array when the doc has fewer than ``n`` tokens.

    Built as a zip_with fold over ``n`` shifted slices (the q62 bigram
    shape generalized): n-1 elementwise concat passes. The obvious
    per-position ``transform(sequence(...), i -> array_join(slice(t, i,
    n)))`` is 5x slower under the interpreted HOF evaluator — one
    O(n)-allocating slice + join per output gram vs a flat concat."""
    t = tokens(text)
    m = F.size(t) - n + 1
    acc = F.slice(t, 1, m)
    for i in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(t, i, m), lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(t) >= n, acc).otherwise(F.array().cast("array<string>"))


def word_ngram_hashes(text, n: int) -> Column:
    """xxhash64'd word ``n``-grams WITHOUT materializing the joined gram
    strings (r15, guide §2.3 applied to compute): the same zip_with fold
    as :func:`word_ngrams` but each pass folds the hash —
    ``hash(...hash(hash(t1, t2), t3)..., tn)`` — a deterministic
    injective-modulo-collisions map of the token tuple, the same
    accepted collision class as ``xxhash64(space-joined gram)``, and the
    gram id :func:`decontaminate` joins on; per-gram concat allocations
    disappear."""
    t = tokens(text)
    if n == 1:
        return F.transform(t, lambda w: F.xxhash64(w))
    m = F.size(t) - n + 1
    acc = F.zip_with(F.slice(t, 1, m), F.slice(t, 2, m), lambda a, b: F.xxhash64(a, b))
    for i in range(3, n + 1):
        acc = F.zip_with(acc, F.slice(t, i, m), lambda h, w: F.xxhash64(h, w))
    return F.when(F.size(t) >= n, acc).otherwise(F.array().cast("array<bigint>"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    prefilter: str | None = None,
    bloom_bits_per_gram: int = 16,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    ``n``-gram with a held-out benchmark set (the standard n-gram
    overlap test used before pretraining; n=8..13 in practice).

    Returns ``docs`` + ``n_hit`` (distinct contaminated n-grams per doc)
    + ``contaminated``. Scale shape: both sides explode 64-bit n-gram
    ids (:func:`word_ngram_hashes` — gram strings never materialize) and
    reduce to DISTINCT (id, ngram) pairs before the equi-join, so the
    shuffle carries 8-byte distinct n-grams, not positions or text; the
    benchmark side is a distinct id set (typically thousands of rows ->
    auto-broadcast). Exact modulo xxhash64 collisions, which both sides
    share consistently.

    ``prefilter='bloom'`` inserts a map-side Bloom screen BEFORE the
    doc-side distinct — the dominant cost at corpus scale is that
    distinct's shuffle of every doc n-gram, and almost none of them can
    match a bounded benchmark set. The benchmark's distinct ids fold
    into a bit array literal (``bloom_bits_per_gram`` bits each, 7
    xxhash64-seeded probes; ~2 MB per million grams) evaluated inside
    whole-stage codegen, so only probable hits reach the shuffle. The
    RESULT EQUALS the unscreened path by construction: the filter is
    built and probed on the same ids the join matches, a Bloom filter
    has no false negatives (every inserted id sets the bits the probe
    tests), and false positives (~0.1% at 16 bits/gram) only pass extra
    ids through to the equi-join, which discards them. Requires a
    driver-side collect of the benchmark's distinct-gram BIT POSITIONS
    (not the grams) — the same bounded-benchmark contract as
    ``decontaminate_stateless``.
    """
    if prefilter not in (None, "bloom"):
        raise ValueError(f"decontaminate: unknown prefilter {prefilter!r}")
    gram_arr = word_ngram_hashes(text, n)
    doc_grams = docs.select(F.col(id_col), F.explode(gram_arr).alias("ng"))
    bench_grams = benchmark.select(F.explode(gram_arr).alias("ng")).distinct()
    if prefilter == "bloom":
        # the build runs two jobs over the benchmark ids (count +
        # position collect) and the equi-join reads them a third time —
        # cache the bounded distinct set across all three
        bench_grams = track(bench_grams)
        doc_grams = doc_grams.where(
            _bloom_test("ng", *_bloom_build(bench_grams, "ng", bloom_bits_per_gram))
        )
    hits = (
        doc_grams.distinct()
        .join(bench_grams, "ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
        .withColumn("contaminated", F.col("n_hit") > 0)
    )


_BLOOM_SEEDS = (101, 211, 307, 401, 503, 601, 701)


def _bloom_build(grams: DataFrame, col: str, bits_per_gram: int) -> tuple[list[int], int]:
    """Bit-array words for a Bloom filter over a bounded gram frame.

    Bit positions are computed IN SPARK with the same
    ``pmod(xxhash64(g, seed), m)`` expressions the probe uses, so
    build and test agree by construction (no Python reimplementation
    of xxhash64 to drift); only the integer positions reach the
    driver. Returns ``(words, m_bits)``.
    """
    n_grams = grams.count()
    m_bits = max(64, ((max(n_grams, 1) * bits_per_gram + 63) // 64) * 64)
    if m_bits > (1 << 23):
        # the bit array embeds as a plan literal in each of the 7
        # probes; past ~8M bits (≈0.5M benchmark grams at 16 b/g) that
        # is tens of MB of expression tree — at that size the
        # "benchmark" is corpus-shaped and the unscreened equi-join is
        # the right tool (its shuffle is already candidate-bounded by
        # the distinct gram set)
        raise ValueError(
            f"decontaminate prefilter='bloom': benchmark has {n_grams} "
            f"distinct n-grams ({m_bits} filter bits) — too large for a "
            "plan-literal Bloom; use the unscreened path (prefilter=None) "
            "or lower bloom_bits_per_gram"
        )
    pos_cols = [
        F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(m_bits)).alias(f"p{i}")
        for i, s in enumerate(_BLOOM_SEEDS)
    ]
    words = [0] * (m_bits // 64)
    for r in grams.select(*pos_cols).collect():
        for i in range(len(_BLOOM_SEEDS)):
            p = r[i]
            words[p >> 6] |= 1 << (p & 63)
    # keep words signed-64 for the BIGINT array literal
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    return words, m_bits


def _bloom_probe(g: Column, words: list[int], m_bits: int) -> Column:
    """AND of the 7 bit probes on an arbitrary expression ``g``
    (pure column DSL — getbit takes a computed position — so the probe
    composes into HOF lambdas for the per-row array form)."""
    import functools
    import operator

    arr = F.lit(words).cast("array<bigint>")
    probes = []
    for s in _BLOOM_SEEDS:
        p = F.pmod(F.xxhash64(g, F.lit(s)), F.lit(m_bits))
        word = F.element_at(arr, (p / F.lit(64)).cast("int") + F.lit(1))
        probes.append(F.getbit(word, p % F.lit(64)) == F.lit(1))
    return functools.reduce(operator.and_, probes)


def _bloom_test(col: str, words: list[int], m_bits: int) -> Column:
    return _bloom_probe(F.col(col), words, m_bits)


def decontaminate_stateless_bloom(
    docs: DataFrame,
    bench_ngrams: list[str],
    text: str = "text",
    n: int = 8,
    bits_per_gram: int = 16,
) -> DataFrame:
    """The SCALABLE stateless screen: like :func:`decontaminate_
    stateless` (per-row, no join or aggregate — append-mode streaming
    safe) but the benchmark folds into the plan as a packed Bloom bit
    array (~2 bytes/gram at 16 bits/gram) instead of the raw gram-
    string array literal (~30-60 bytes/gram, compared per gram by
    arrays_overlap) — 10^5-10^6-gram eval suites stop bloating the
    plan, and each doc gram probes in O(1).

    Returns ``maybe_contaminated``: a SUPERSET flag (~0.1% false-
    positive rate at 16 bits/gram, NO false negatives). Streams route
    probable hits to the exact batch confirm (`decontaminate`) or
    quarantine them; the stateless exact flag needs the literal-array
    form. Build parameters ride the plan, so a restart re-derives the
    identical filter from the same benchmark list.
    """
    spark = docs.sparkSession
    grams = sorted(set(bench_ngrams))
    gdf = spark.createDataFrame([(g,) for g in grams], "ng string")
    words, m_bits = _bloom_build(gdf, "ng", bits_per_gram)
    return docs.withColumn(
        "maybe_contaminated",
        F.exists(word_ngrams(text, n), lambda g: _bloom_probe(g, words, m_bits)),
    )


def tf_idf_top_terms(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (smooth idf,
    ``ln((N+1)/(df+1)) + 1`` as in scikit-learn's TfidfTransformer).

    Returns (id, term, tf, tfidf, rank), rank 1..k, deterministic
    tiebreak (score desc, term asc). Scale shape: one explode ->
    (doc, term) hash aggregate with map-side partial combine; document
    frequencies derive from that same aggregate (term cardinality
    shuffle, auto-broadcast back); N is a 1-row aggregate folded in by
    cross join, never a driver collect. The top-k window partitions by
    doc — millions of small partitions, no global sort.
    """
    # persist the (doc, term) aggregate: both the scoring side and the
    # document-frequency side read it, and without the cache Catalyst
    # plans the token-explode scan twice (no cross-subtree CSE). A
    # windowed count-over-term would avoid the cache but shuffles the
    # full frame on term — skewed on stopwords — so groupBy + broadcast
    # join on the term aggregate is the scale shape. Spill-safe level;
    # LRU-evictable (no unpersist handle — the frame is the aggregated
    # (doc, term) counts, far smaller than the corpus).
    tf = track(
        docs.select(F.col(id_col), F.explode(tokens(text)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
                6,
            ),
        )
    )
    # rank on the ROUNDED score so the ordering (hence rank) is stable
    # across engines that may differ in the last ulp of ln()
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    text: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 score of every document against a bag of query terms
    (``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, standard k1/b).

    Returns (id, score) for docs matching at least one term. Scale
    shape: term frequencies only materialize for the query's terms (the
    explode is filtered by an isin on the literal term list before the
    aggregate), avgdl/N are 1-row aggregates folded in via broadcast
    cross join, and the per-doc sum is one hash aggregate.
    """
    terms = [t.lower() for t in query_terms]
    # persisted: read by the avgdl scalar AND the per-doc join — one
    # length scan instead of two (two longs per doc, trivially cached)
    lens = track(docs.select(F.col(id_col), token_count(text).alias("dl")))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select(F.col(id_col), F.explode(tokens(text)).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    per_term = (
        tf.join(df_t, "term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "part",
            F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return per_term.groupBy(id_col).agg(F.round(F.sum("part"), 6).alias("score"))


def cap_per_key(
    df: DataFrame,
    key: str,
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` rows per ``key`` value (per-source /
    per-domain caps, the standard anti-over-representation step in web
    corpus curation).

    Selection is a deterministic pseudo-random order — Knuth
    multiplicative hash of the id (``(id * 2654435761) mod 2^32``) —
    so the kept subset is stable across runs/engines yet uncorrelated
    with insertion order. Scale shape: one shuffle on ``key``; each
    key's partition is capped independently (window row_number, no
    global sort). Skewed domains are exactly the rows this op removes,
    and the heaviest key still fits one task at cap sizes in practice;
    for pathological skew, pre-filter with a sampled count.
    """
    order = F.pmod(F.col(id_col) * F.lit(2654435761), F.lit(4294967296))
    w = Window.partitionBy(key).orderBy(order.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def unigram_logprob(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's own
    add-one-smoothed unigram LM — the cheap perplexity proxy used as a
    quality filter (high avg_nll = unusual token mix).

    ``p(w) = (c_w + 1) / (T + V)`` with corpus totals T (tokens) and V
    (vocabulary). Returns (id, n_tok, avg_nll). Scale shape: the LM is
    the (word, count) aggregate — vocabulary-sized, auto-broadcast back
    onto the per-doc term counts; corpus totals are a 1-row fold-in.
    Docs with zero tokens are dropped (no defined mean).
    """
    # persisted: the LM, the corpus totals, and the scoring join all
    # derive from this aggregate — without the cache the token-explode
    # scan is planned three times (same rationale as tf_idf_top_terms)
    term = track(
        docs.select(F.col(id_col), F.explode(tokens(text)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # persisted too: both the scoring join and the corpus totals read the
    # LM — uncached, the vocab shuffle over `term` is planned twice
    lm = track(term.groupBy("w").agg(F.sum("c").alias("cw")))
    totals = lm.agg(
        F.sum("cw").alias("t_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    return (
        term.join(lm, "w")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "nll",
            -F.log((F.col("cw") + 1) / (F.col("t_tokens") + F.col("vocab"))),
        )
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tok"),
            F.round(F.sum(F.col("c") * F.col("nll")) / F.sum("c"), 6).alias("avg_nll"),
        )
    )


def backoff_logprob(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document mean negative log-score under a trigram LM with
    STUPID BACKOFF (Brants et al., EMNLP 2007 — the web-scale n-gram
    smoothing: no discounting, a fixed backoff factor, scores instead
    of probabilities) built from the corpus itself. Extends
    :func:`unigram_logprob` (q90) to the real perplexity-filter shape:

    ``S(c|a,b) = c3/c_ab`` when the trigram survives pruning, else
    ``alpha * S(c|b)``; ``S(c|b) = c_bc/c_b`` when the bigram survives,
    else ``alpha * S(c)``; ``S(c) = c_c/T``. Early positions start at
    the highest order they have context for (no padding tokens).

    ``min_count`` prunes the trigram/bigram tables (count >= min_count)
    — the standard web-scale move (you never ship singleton n-grams at
    100 TB), and what makes backoff actually trigger when the LM is
    built from the scoring corpus itself (every observed n-gram would
    otherwise have count >= 1). Unigrams are not pruned (every scored
    token is in the corpus, so S > 0 always — no smoothing needed).

    Returns (id, n_tok, avg_nll). Scale shape: positions are built
    INSIDE the row (one transform over the token array — no window,
    no self-join), each n-gram table is one map-side-combined
    aggregate of the position stream, and scoring is five left
    equi-joins of the stream against the (pruned, n-gram-bounded)
    tables — Catalyst broadcasts the small ones, AQE handles the big;
    the final per-doc mean is one hash aggregate.

    The position stream carries xxhash64(token) longs instead of token
    strings (r15), so all three n-gram aggregates and all five scoring
    joins shuffle/probe 8-byte keys (guide §2.3). Counts — hence
    scores — are identical up to xxhash64 collisions
    (~|vocab|^2/2^65), the same accepted class as the hashed gram keys
    elsewhere. (The persisted-LM path, ``ngram_lm_build``/
    ``backoff_score``, keeps strings — its parquet artifact is a
    public contract.)
    """
    pos = track(_ngram_positions(docs, text, id_col, hash_tokens=True))
    tri, bi, uni = _ngram_tables(pos, min_count)
    uni = track(uni)
    return _backoff_join_score(pos, tri, bi, uni, id_col, alpha, smooth_oov=False)


def _ngram_positions(
    docs: DataFrame, text: str, id_col: str, hash_tokens: bool = False
) -> DataFrame:
    """(id, pos, a, b, c) position stream: c = token, b/a = the one/two
    preceding tokens (null at the document start) — built inside the
    row with one transform over the token array, no window.

    ``hash_tokens=True`` replaces each token with xxhash64(token)
    INSIDE the token array (before the position transform, so the
    null-at-document-start markers stay null): every downstream n-gram
    aggregate and scoring join then carries 8-byte longs instead of
    token strings (guide §2.3 — same accepted collision class as the
    hashed gram keys q86/q109/q116/q132 ship)."""
    tok = tokens(text)
    if hash_tokens:
        tok = F.transform(tok, lambda t: F.xxhash64(t))
    return (
        docs.select(F.col(id_col), tok.alias("_t"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(_t, (c, i) -> struct(i AS pos, c AS c, "
                    "CASE WHEN i >= 1 THEN _t[i - 1] END AS b, "
                    "CASE WHEN i >= 2 THEN _t[i - 2] END AS a))"
                )
            ).alias("p"),
        )
        .select(id_col, "p.pos", "p.a", "p.b", "p.c")
    )


def _ngram_tables(
    pos: DataFrame, min_count: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Pruned trigram (a,b,c,c3) / bigram (b,c,c2) tables plus the
    unpruned unigram (c,c1) table from a position stream."""
    tri = (
        pos.where(F.col("a").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("c3"))
        .where(F.col("c3") >= min_count)
    )
    bi = (
        pos.where(F.col("b").isNotNull())
        .groupBy("b", "c")
        .agg(F.count(F.lit(1)).alias("c2"))
        .where(F.col("c2") >= min_count)
    )
    uni = pos.groupBy("c").agg(F.count(F.lit(1)).alias("c1"))
    return tri, bi, uni


def _backoff_join_score(
    pos: DataFrame,
    tri: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    id_col: str,
    alpha: float,
    smooth_oov: bool,
) -> DataFrame:
    """Score a position stream against LM tables: five left equi-joins
    + the stupid-backoff CASE + one per-doc aggregate. ``smooth_oov``
    selects the unigram floor: False = c_c / T with an INNER unigram
    join (same-corpus scoring — every token is in the LM by
    construction); True = Laplace (c_c + 1) / (T + V) with a LEFT join,
    so tokens the LM never saw still get positive mass (external-LM
    scoring of a new shard — without the floor an OOV token would score
    0 and -log would blow up)."""
    a = float(alpha)
    totals = uni.agg(
        F.sum("c1").alias("t_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    scored = (
        pos.join(tri, ["a", "b", "c"], "left")
        .join(
            bi.select(
                F.col("b").alias("a"), F.col("c").alias("b"), F.col("c2").alias("c_ab")
            ),
            ["a", "b"],
            "left",
        )
        .join(bi.withColumnRenamed("c2", "c_bc"), ["b", "c"], "left")
        .join(uni.select(F.col("c").alias("b"), F.col("c1").alias("c_b")), ["b"], "left")
        .join(uni.withColumnRenamed("c1", "c_c"), ["c"], "left" if smooth_oov else "inner")
        .crossJoin(F.broadcast(totals))
    )
    if smooth_oov:
        s_uni = (F.coalesce(F.col("c_c"), F.lit(0)) + F.lit(1)) / (
            F.col("t_tokens") + F.col("vocab")
        )
    else:
        s_uni = F.col("c_c") / F.col("t_tokens")
    s = (
        F.when(
            F.col("a").isNotNull() & F.col("c3").isNotNull() & F.col("c_ab").isNotNull(),
            F.col("c3") / F.col("c_ab"),
        )
        .when(
            F.col("b").isNotNull() & F.col("c_bc").isNotNull() & F.col("c_b").isNotNull(),
            F.when(F.col("a").isNotNull(), F.lit(a)).otherwise(F.lit(1.0))
            * F.col("c_bc")
            / F.col("c_b"),
        )
        .otherwise(
            # 0.4^(start_order - 1): pos 0 starts at unigram (no
            # penalty), pos 1 backs off once, pos >= 2 twice
            F.when(F.col("a").isNotNull(), F.lit(a * a))
            .when(F.col("b").isNotNull(), F.lit(a))
            .otherwise(F.lit(1.0))
            * s_uni
        )
    )
    return (
        scored.withColumn("nll", -F.log(s))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(F.sum("nll") / F.count(F.lit(1)), 6).alias("avg_nll"),
        )
    )


def ngram_lm_build(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the stupid-backoff LM's count tables ONCE from a reference
    corpus: pruned trigram (a, b, c, c3) and bigram (b, c, c2) tables
    (count >= ``min_count`` — the web-scale pruning) plus the unpruned
    unigram (c, c1) table. Persist them (``save_ngram_lm``) and score
    any number of new shards/streams with :func:`backoff_score` —
    the train-once / score-daily split a real perplexity filter runs
    (:func:`backoff_logprob` is the same-corpus one-shot form). Each
    table is one map-side-combined aggregate of the position stream,
    which is persisted (tracked — release via cache.release_caches)
    so the three aggregates share ONE tokenize+explode scan of the
    corpus instead of re-deriving it per table (r15, guide §2.4; the
    same discipline backoff_logprob already applies)."""
    pos = track(_ngram_positions(docs, text, id_col))
    return _ngram_tables(pos, min_count)


def backoff_score(
    docs: DataFrame,
    tri: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Score documents against an EXTERNAL stupid-backoff LM (built by
    :func:`ngram_lm_build`, possibly reloaded from a persisted
    artifact): same position stream, joins and backoff chain as
    :func:`backoff_logprob`, but the LM tables arrive as arguments and
    the unigram floor is Laplace-smoothed ((c + 1) / (T + V)) so
    out-of-vocabulary tokens score positive mass instead of -log(0).
    Returns (id, n_tok, avg_nll). The joins are stream-static, so the
    position/score pipeline also runs on a readStream frame (the
    per-doc aggregate then needs a watermark/output-mode choice; the
    batch form is the oracle-checked contract)."""
    pos = _ngram_positions(docs, text, id_col)
    return _backoff_join_score(pos, tri, bi, uni, id_col, alpha, smooth_oov=True)


def collect_ngram_lm(
    tri: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    max_entries: int = 100_000,
) -> tuple[dict, dict, dict]:
    """Collect :func:`ngram_lm_build` tables into literal dicts keyed by
    space-joined n-grams (tokens are whitespace-split, so the join is
    collision-free) — the bounded-model input of
    :func:`backoff_score_stateless`. ``max_entries`` bounds each
    driver-side collect (fetch cap+1, fail fast past it): a web-scale
    LM does NOT fit in a plan literal — prune harder (min_count) or use
    the DataFrame-join form (:func:`backoff_score`)."""
    out = []
    for df, key_cols, cnt, name in (
        (tri, ("a", "b", "c"), "c3", "trigram"),
        (bi, ("b", "c"), "c2", "bigram"),
        (uni, ("c",), "c1", "unigram"),
    ):
        rows = df.limit(max_entries + 1).collect()
        if len(rows) > max_entries:
            raise ValueError(
                f"collect_ngram_lm: {name} table exceeds {max_entries} "
                "entries — a plan-literal LM must be bounded; raise "
                "min_count, prune the tables, or score with the "
                "DataFrame-join form (backoff_score)."
            )
        out.append({" ".join(r[k] for k in key_cols): int(r[cnt]) for r in rows})
    return out[0], out[1], out[2]


def backoff_score_stateless(
    docs: DataFrame,
    tri: dict[str, int],
    bi: dict[str, int],
    uni: dict[str, int],
    text: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Append-mode-safe variant of :func:`backoff_score`: the LM
    arrives as literal maps (:func:`collect_ngram_lm`) folded into the
    plan, so scoring is ONE per-row expression — no explode, no joins,
    no aggregation — and runs unchanged on a readStream frame in append
    mode (the same bounded-model trade as ``linear_score_stateless``
    and ``decontaminate_stateless``). Same backoff chain and Laplace
    OOV floor as the join form; pytest pins rounded-score equality.
    Docs with zero tokens are dropped (no defined mean), matching the
    join form."""
    if not uni:
        raise ValueError("backoff_score_stateless: empty unigram map")
    a = float(alpha)
    m3 = F.create_map(*[F.lit(x) for k, v in sorted(tri.items()) for x in (k, float(v))]) if tri else None
    m2 = F.create_map(*[F.lit(x) for k, v in sorted(bi.items()) for x in (k, float(v))]) if bi else None
    m1 = F.create_map(*[F.lit(x) for k, v in sorted(uni.items()) for x in (k, float(v))])
    t_tokens = float(sum(uni.values()))
    vocab = float(len(uni))
    t = tokens(text)

    def pos_nll(tarr):
        def f(c, i):
            b = F.when(i >= 1, F.element_at(tarr, i))  # element_at is 1-based
            aa = F.when(i >= 2, F.element_at(tarr, i - 1))
            c3 = (
                F.element_at(m3, F.concat(aa, F.lit(" "), b, F.lit(" "), c))
                if m3 is not None
                else F.lit(None).cast("double")
            )
            c_ab = (
                F.element_at(m2, F.concat(aa, F.lit(" "), b))
                if m2 is not None
                else F.lit(None).cast("double")
            )
            c_bc = (
                F.element_at(m2, F.concat(b, F.lit(" "), c))
                if m2 is not None
                else F.lit(None).cast("double")
            )
            c_b = F.element_at(m1, b)
            c_c = F.element_at(m1, c)
            s = (
                F.when(
                    aa.isNotNull() & c3.isNotNull() & c_ab.isNotNull(),
                    c3 / c_ab,
                )
                .when(
                    b.isNotNull() & c_bc.isNotNull() & c_b.isNotNull(),
                    F.when(aa.isNotNull(), F.lit(a)).otherwise(F.lit(1.0))
                    * c_bc
                    / c_b,
                )
                .otherwise(
                    F.when(aa.isNotNull(), F.lit(a * a))
                    .when(b.isNotNull(), F.lit(a))
                    .otherwise(F.lit(1.0))
                    * ((F.coalesce(c_c, F.lit(0.0)) + F.lit(1.0))
                       / F.lit(t_tokens + vocab))
                )
            )
            return -F.log(s)

        return f

    n = F.size(t)
    total = F.aggregate(F.transform(t, pos_nll(t)), F.lit(0.0), lambda acc, x: acc + x)
    return docs.where(n > 0).select(
        F.col(id_col),
        n.cast("long").alias("n_tok"),
        F.round(total / n, 6).alias("avg_nll"),
    )


def semantic_dedup(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_cells: int = 16,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: KMeans-cluster the
    embeddings (IVF coarse cells), compare pairs only WITHIN a cell,
    and keep one representative (min id) per near-duplicate group.

    Returns (id, cell, keep). Scale shape: candidate generation is an
    equi-join on the cell id — cost is the sum of squared cell sizes,
    ~n^2/n_cells for balanced cells, and n_cells grows with the corpus
    (sqrt(n) rule) so per-cell work stays bounded; the grouping step is
    the same min-label propagation as near-dup clustering. Cross-cell
    near-dups are missed by construction — that is SemDeDup's stated
    approximation (arXiv:2303.09540), controlled by n_cells.
    """
    from .dedup import neardup_clusters
    from .similarity import ivf_index

    indexed, _ = ivf_index(df, vec, id_col, n_cells=n_cells, seed=seed)
    a = indexed.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), "cell")
    b = indexed.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "cell")
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with("va", "vb", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
    )
    clusters = neardup_clusters(pairs)  # (node, cluster_id=min id of group)
    return (
        indexed.select(F.col(id_col), "cell")
        .join(clusters.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn(
            "keep",
            F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col(id_col)),
        )
        .select(id_col, "cell", "keep")
    )


def filter_funnel(
    df: DataFrame,
    gates: list[tuple[str, Column]],
) -> DataFrame:
    """Retention report for a gate cascade: how many rows survive each
    successive filter (the per-stage accounting every curation run
    reports). Returns (stage, n_kept) with a leading 'total' row;
    gate i's count applies gates 1..i cumulatively.

    Scale shape: ONE pass — the cumulative AND flags are plain columns
    (window-expression gates like "first copy of this text" are
    evaluated in the select, so their shuffles happen once), then a
    single ungrouped aggregate reduces to one row, unpivoted driver-free
    via ``stack``.
    """
    import re

    for name, _ in gates:
        # stage names are spliced into the stack() SQL as literals
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"gate name must be an identifier: {name!r}")
    flags = []
    cum = None
    for i, (_, cond) in enumerate(gates):
        cum = cond if cum is None else (cum & cond)
        flags.append(cum.cast("long").alias(f"__g{i}"))
    flagged = df.select(*flags)
    aggs = [F.count(F.lit(1)).alias("__total")] + [
        F.sum(f"__g{i}").alias(f"__s{i}") for i in range(len(gates))
    ]
    row = flagged.agg(*aggs)
    pairs = ["'total', __total"] + [
        f"'{name}', __s{i}" for i, (name, _) in enumerate(gates)
    ]
    n = len(pairs)
    return row.selectExpr(f"stack({n}, {', '.join(pairs)}) AS (stage, n_kept)")


def split_by_hash(
    df: DataFrame,
    id_col: str = "doc_id",
    fractions: dict[str, float] | None = None,
    out: str = "split",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Deterministic train/val/test assignment: Knuth-hash the id into
    ``n_buckets`` buckets and carve them by cumulative fraction. Same
    id -> same split on every run and engine (pure integer arithmetic,
    no RNG state), docs never leak across splits when the corpus grows
    — the standard held-out-split contract.

    ``fractions`` must sum to 1 (within 1e-9); each split gets
    round(frac * n_buckets) buckets, the last absorbs rounding.
    Scale shape: one projection, no shuffle.
    """
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    if not fractions or any(v < 0 for v in fractions.values()):
        raise ValueError(f"fractions must be non-negative and non-empty: {fractions}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = F.pmod(F.col(id_col) * F.lit(2654435761), F.lit(4294967296)) % n_buckets
    names = list(fractions)
    edges = []
    acc = 0.0
    for name in names[:-1]:
        acc += fractions[name]
        edges.append(int(round(acc * n_buckets)))
    case = None
    for name, edge in zip(names[:-1], edges):
        cond = bucket < edge
        case = F.when(cond, name) if case is None else case.when(cond, name)
    case = F.lit(names[-1]) if case is None else case.otherwise(names[-1])
    return df.withColumn(out, case)


def curate(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
    max_chars: int = 10**9,
    langs: list[str] | None = None,
    lang_col: str = "lang",
    cap: int | None = None,
    cap_key: str = "source",
) -> DataFrame:
    """End-to-end curation composition: length gate -> language gate ->
    exact-duplicate removal (first copy by lowest id wins) -> per-key
    cap. The one-call path from raw corpus to training candidate set;
    each stage is the same operator exposed individually, so the funnel
    (`filter_funnel`) can report the identical cascade.

    Scale shape: gates are pushed-down filters; dedup is one window
    pass keyed on the text (shuffle on text hash, no pairwise
    comparisons); the cap is one window pass keyed on ``cap_key``.
    """
    gated = df.filter(F.length(F.col(text)).between(min_chars, max_chars))
    if langs is not None:
        gated = gated.filter(F.col(lang_col).isin(langs))
    w = Window.partitionBy(text)
    first = (
        gated.withColumn("__m", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__m"))
        .drop("__m")
    )
    return first if cap is None else cap_per_key(first, cap_key, cap, id_col)


def decontaminate_stateless(
    docs: DataFrame,
    bench_ngrams: list[str],
    text: str = "text",
    n: int = 8,
) -> DataFrame:
    """Stateless decontamination for STREAMS and bounded benchmark sets:
    the benchmark's n-gram set is folded into the plan as an array
    literal, and each doc is flagged by `arrays_overlap` — no join, no
    aggregation, so it runs unchanged under Structured Streaming append
    mode (the batch `decontaminate` needs a per-doc aggregate that
    streams only with watermarked state).

    Use when the benchmark n-gram set is small enough to broadcast as a
    literal (typical eval suites: 10^4-10^6 n-grams); beyond that, the
    static-frame `decontaminate` is the batch path.
    """
    bench = F.array(*[F.lit(g) for g in sorted(set(bench_ngrams))])
    return docs.withColumn(
        "contaminated", F.arrays_overlap(word_ngrams(text, n), bench)
    )


def incremental_new(
    batch: DataFrame,
    history: DataFrame,
    on: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot-delta dedup: rows of ``batch`` whose ``on`` value was
    never seen in ``history`` — the daily-crawl ingestion step (only
    genuinely new documents enter the pipeline; re-crawled pages drop).
    Within the batch itself, the lowest-id copy of each value is kept.

    Scale shape: LEFT ANTI join keyed on xxhash64(``on``) — 8-byte
    shuffle keys instead of document text; the history side reduces to
    its DISTINCT key set first, so the shuffle carries one row per
    distinct historical document, and the anti join never materializes
    matches. Exact modulo xxhash64 collisions (a new document whose key
    collides with a historical one is dropped).
    """
    seen = history.select(F.xxhash64(on).alias("__k")).distinct()
    w = Window.partitionBy(on)
    fresh = (
        batch.withColumn("__m", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__m"))
        .drop("__m")
    )
    return (
        fresh.withColumn("__k", F.xxhash64(on))
        .join(seen, "__k", "left_anti")
        .drop("__k")
    )


def chunk_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window token chunking — the context-window shaping step
    of an embedding / RAG / pretraining pipeline: each document yields
    overlapping chunks of ``chunk_tokens`` tokens advancing by
    ``chunk_tokens - overlap``, the final chunk keeping the tail
    (possibly shorter). Empty documents yield nothing; documents at or
    under one window yield exactly one chunk.

    Returns (id, chunk_index, chunk, chunk_tokens_) rows. Scale shape:
    pure per-row JVM expressions (tokenize once, posexplode the
    start-offset sequence, slice+join per chunk) — no shuffle, no
    Python; the row expansion factor is ~n_tokens/stride."""
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap {overlap} must be < chunk_tokens {chunk_tokens}")
    stride = chunk_tokens - overlap
    t = tokens(text_col)
    with_tok = docs.select(F.col(id_col), t.alias("_t"), F.size(t).alias("_n")).where(
        F.size(t) > 0
    )
    n = F.col("_n")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - chunk_tokens) / F.lit(float(stride))).cast("long") + 1
    )
    return (
        with_tok.select(
            F.col(id_col),
            "_t",
            "_n",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("_pos", "_k"),
        )
        .select(
            F.col(id_col),
            F.col("_k").cast("int").alias("chunk_index"),
            F.array_join(
                F.slice(F.col("_t"), F.col("_k") * stride + 1, chunk_tokens), " "
            ).alias("chunk"),
            F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_k") * stride)
            .cast("int")
            .alias("chunk_tokens"),
        )
    )


def _span_keys(text_col: str, window: int) -> Column:
    """64-bit keys of every ``window``-token span of a document, in
    position order (empty when the doc is shorter than ``window``).

    The span STRINGS are never built: each token hashes once, then the
    window key is a rolling polynomial combine over the long array
    (wrapping 64-bit arithmetic, ANSI off) — the zip_with cascade of
    :func:`word_ngrams` on 8-byte longs instead of growing strings
    (which churn ~18 GB of concat intermediates at a 30M-row corpus;
    measured 42 s -> 21 s). Exact modulo 2^-64 collisions."""
    th = F.transform(tokens(text_col), lambda x: F.xxhash64(x))
    m = F.greatest(F.size(th) - window + 1, F.lit(0))
    acc = F.slice(th, 1, m)
    for i in range(2, window + 1):
        acc = F.zip_with(acc, F.slice(th, i, m), lambda a, b: a * F.lit(1000003) + b)
    return F.when(F.size(th) >= window, acc).otherwise(F.array().cast("array<bigint>"))


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-span removal — the distributed form of the
    suffix-array substring dedup of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (ACL 2022): any ``window``-token
    span that occurs ``min_count``+ times across the corpus (including
    repeats inside one document) is cut from every document, and the
    surviving tokens are rejoined in order.

    Plan shape: one explode to (doc, pos, token), one explode to
    (doc, wpos, window key), a groupBy on the key to find duplicated
    windows (the only corpus-wide shuffle — it and the candidate join
    carry 8-byte :func:`_span_keys` instead of ~window x 6-byte span
    strings, the same trade as ``decontaminate``; exact modulo 2^-64
    collisions), a position-range explode to mark covered
    tokens (distinct acts as the pre-shuffle combiner for overlapping
    windows), an anti-join, and one per-doc aggregate whose order is
    restored by array_sort (no collect_list-order dependence).
    Returns (id, kept_text, n_tokens_before, n_tokens_after).

    Measured stage breakdown (30M-sweep fixture: 3M docs x 20 tokens,
    window=10, dedicated idle 16g JVM; cumulative noop-sink timings):
    token explode 2.7 s; gram build + dup
    aggregate 15.8 s (the zip_with cascade plus the one corpus-wide
    shuffle — irreducible per-byte work); covered-position join 14.7 s
    (ReuseExchange shares the gram exchange, so approximately the dup
    aggregate re-read); anti-join +1.6 s; REBUILD +15.1 s — the
    collect_list shuffle + per-doc sort of every (doc, pos, tok) row,
    paid even when nothing was cut. Hence the touched-doc gate below:
    untouched docs (no covered position) skip the rebuild and emit the
    per-row token rejoin — full operator 31.4 -> ~17-21 s on that
    fixture (zero touched docs); on an adversarial every-doc-touched
    fixture the gate costs ~10% (post-anti semi pass over the rebuild's
    own input, see inline comment)."""
    from .util import _fan_out

    # the window-gram fold is the CPU-heavy per-row stage (n zip_with
    # passes per doc); fan a small single-split input out to cluster
    # parallelism first — a no-op at real scale (see util._fan_out)
    docs = _fan_out(docs)
    t = tokens(text_col)
    tok = docs.select(
        F.col(id_col), F.posexplode(t).alias("pos", "tok")
    )
    grams = docs.select(
        F.col(id_col), F.posexplode(_span_keys(text_col, window)).alias("wpos", "gram")
    )
    # no persist: both consumers (dup aggregate, covered join) shuffle
    # this frame on `gram`, so ReuseExchange dedupes the computation
    # already — a cache only adds write overhead (measured)
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("wpos"), F.col("wpos") + F.lit(window - 1))
            ).alias("pos"),
        )
        # distinct is the map-side COMBINER here, not dead weight: each
        # covered position recurs up to `window` times (overlapping dup
        # windows), and the partial aggregate dedups before the shuffle
        # that feeds the anti-join — measured 10% faster at 30M rows
        # than shipping the duplicates into the join
        .distinct()
    )
    # TOUCHED-DOC GATE (round-10, measured): docs with no covered
    # position need no rebuild at all — their output is the per-row
    # token rejoin. Without the gate the rebuild shuffled ALL
    # (doc, pos, tok) rows and re-assembled every document even when
    # nothing was cut; the 30M-fixture stage breakdown (docstring
    # below) put that at ~half the operator. The touched-id list is
    # covered-id-bounded; AQE broadcasts the semi/anti joins when it is
    # small (the common case — most docs carry no corpus-wide repeated
    # span), so the untouched path is shuffle-free. 30M fixture: ~40%
    # saved when most docs are untouched; on the sf0.1 template fixture
    # (8.3% of docs touched) an idle ABBA read the gate free-to-helpful
    # (medians 2.696/3.002 s vs 2.797 s ungated, BASELINE.md).
    touched = covered.select(id_col).distinct()
    # gate AFTER the anti-join, not before: a pre-anti semi pass would
    # re-scan all token rows against the touched-id table (measured
    # +~30% on an every-doc-touched fixture); post-anti, the semi only
    # filters the anti-join's survivors, which the rebuild was about to
    # shuffle anyway — so the gate costs one bounded pass in the worst
    # case and removes the rebuild entirely in the common one
    kept = tok.join(covered, [id_col, "pos"], "left_anti").join(
        touched, id_col, "left_semi"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("kept_text"),
        F.count(F.lit(1)).alias("n_tokens_after"),
    )
    base = docs.select(
        F.col(id_col), t.alias("_t"), F.size(t).alias("n_tokens_before")
    ).where(F.size(t) > 0)
    touched_out = (
        base.join(touched, id_col, "left_semi")
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            # a fully-covered doc has no kept row: empty text, 0 tokens
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            "n_tokens_before",
            F.coalesce("n_tokens_after", F.lit(0)).alias("n_tokens_after"),
        )
    )
    untouched_out = base.join(touched, id_col, "left_anti").select(
        F.col(id_col),
        F.array_join("_t", " ").alias("kept_text"),
        "n_tokens_before",
        F.col("n_tokens_before").cast("long").alias("n_tokens_after"),
    )
    return touched_out.unionByName(untouched_out)
