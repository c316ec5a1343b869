"""Round-13 tests: driver-fold BPE training (VERDICT r12 directive #3),
py-fold segmentation parity, deep-merge encode, and the era-gate audit
trail (directive #7)."""

import json
import random

import pytest
from pyspark.sql import functions as F


def _toy_corpus(spark, seed=13, n_words=400, n_docs=150):
    rng = random.Random(seed)
    alpha = "abcdefgh"
    words = [
        "".join(rng.choices(alpha, k=rng.randint(2, 10))) for _ in range(n_words)
    ]
    docs = [
        (i, " ".join(rng.choices(words, k=rng.randint(0, 25))))
        for i in range(n_docs)
    ]
    docs[3] = (3, "")  # empty doc must survive every path
    return spark.createDataFrame(docs, "doc_id long, text string")


def _past_48(merges):
    """``merges`` padded to 49 with monotone merges of symbols no test
    word contains (Latin Extended-A code points): the padding changes
    no segmentation, only the list length, which moves segment_words
    from its JVM form (<= 48 merges) to its mapInPandas form."""
    pad = 49 - len(merges)
    return merges + [(chr(0x100 + i), chr(0x100 + i)) for i in range(pad)]


def _recount_bpe(words, n_merges):
    """Naive BPE reference: RECOUNT every pair from scratch each round,
    max count wins, ties to the lexicographically smallest pair."""
    from ezdata_spark.operators.bpe import _merge_pair

    words = [(list(s), c) for s, c in words]
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, cnt in words:
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        words = [(_merge_pair(s, *best), c) for s, c in words]
    return merges


def _corpus_vocab(df):
    """(chars + end-of-word, count) per distinct whitespace token."""
    from collections import Counter

    counts = Counter(w for (t,) in df.select("text").collect() for w in t.lower().split())
    return [([*w, "</w>"], c) for w, c in counts.items()]


def test_learn_bpe_driver_matches_distributed(spark):
    """Directive #3 done-criterion: merge-list parity (==) between the
    driver incremental fold and the sequential distributed loop (forced
    by a zero driver budget), both equal to the pure-Python recount
    reference, plus final-vocabulary parity. The toy corpus is
    tie-rich (8-char alphabet), so the lexicographic tie-break is
    genuinely exercised."""
    from ezdata_spark.operators.bpe import learn_bpe

    df = _toy_corpus(spark, seed=31, n_words=60, n_docs=40)
    m_dist, v_dist = learn_bpe(df, n_merges=14, max_driver_vocab=0)
    m_drv, v_drv = learn_bpe(df, n_merges=14)
    assert m_drv == m_dist == _recount_bpe(_corpus_vocab(df), 14)
    assert len(m_dist) == 14
    d1 = {r.word: (list(r.symbols), r["count"]) for r in v_dist.collect()}
    d2 = {r.word: (list(r.symbols), r["count"]) for r in v_drv.collect()}
    assert d1 == d2


def test_learn_bpe_auto_picks_driver_within_budget(spark):
    """The driver fold runs when the distinct-word count fits
    max_driver_vocab, and the distributed loop when it does not
    (forced with max_driver_vocab=1); both equal the pure-Python
    recount reference."""
    from ezdata_spark.operators.bpe import learn_bpe

    df = _toy_corpus(spark, seed=7, n_words=50, n_docs=30)
    m_drv, _ = learn_bpe(df, n_merges=6)
    m_forced, _ = learn_bpe(df, n_merges=6, max_driver_vocab=1)
    assert m_drv == m_forced == _recount_bpe(_corpus_vocab(df), 6)


def test_learn_bpe_driver_deep_merges_encode_matches_python(spark):
    """A realistic-scale merge count (1024) trains through the driver
    fold and the resulting tokenizer encodes the corpus — via the
    constant-plan-depth py segmentation path — identically to a
    pure-Python BPE reference (ids = lexicographic over the segmented
    inventory, empty docs -> empty arrays)."""
    from ezdata_spark.operators.bpe import (
        _py_apply_merges,
        encode_corpus,
        learn_bpe,
    )
    from ezdata_spark.operators.textstats import tokens

    df = _toy_corpus(spark, seed=13)
    merges, _ = learn_bpe(df, n_merges=1024)
    assert len(merges) > 48  # deep enough for segment_words' mapInPandas form
    got = {r.doc_id: list(r.token_ids) for r in encode_corpus(df, merges).collect()}

    tokrows = {
        r.doc_id: list(r.w)
        for r in df.select("doc_id", tokens("text").alias("w")).collect()
    }
    distinct_words = {w for ws in tokrows.values() for w in ws}
    sid = {
        s: i
        for i, s in enumerate(
            sorted({s for w in distinct_words for s in _py_apply_merges(w, merges)})
        )
    }
    want = {
        d: [sid[s] for w in ws for s in _py_apply_merges(w, merges)]
        for d, ws in tokrows.items()
    }
    assert got == want
    assert got[3] == []


def test_segment_words_py_equals_jvm(spark):
    """The constant-depth mapInPandas segmentation == the stacked-
    projection JVM fold, word for word, on randomized input. The 12
    learned merges take the JVM form; padding the list past 48 with
    merges of absent symbols takes the mapInPandas form on identical
    semantics."""
    from ezdata_spark.operators.bpe import learn_bpe, segment_words

    df = _toy_corpus(spark, seed=5, n_words=80, n_docs=40)
    merges, _ = learn_bpe(df, n_merges=12)
    padded = _past_48(merges)
    rng = random.Random(99)
    rows = [
        ("".join(rng.choices("abcdefghij", k=rng.randint(1, 12))),)
        for _ in range(200)
    ]
    # JVM-exact edge semantics must survive the mapInPandas form too: NULL word
    # -> NULL symbols, empty word -> ['', '</w>'] (Spark split('','')
    # yields [''], unlike Python's [*''])
    rows += [("",), (None,)]
    new = spark.createDataFrame(rows, "word string").distinct()
    jvm = {
        r.word: (list(r.symbols) if r.symbols is not None else None)
        for r in segment_words(new, merges).collect()
    }
    py = {
        r.word: (list(r.symbols) if r.symbols is not None else None)
        for r in segment_words(new, padded).collect()
    }
    assert jvm == py
    assert jvm[""] is not None and jvm[None] is None
    # column ORDER parity for frames that already carry symbols
    wide = segment_words(new, merges[:2]).withColumn("extra", F.lit(1))
    a = segment_words(wide, merges).columns
    b = segment_words(wide, padded).columns
    assert a == b


def test_era_gate_audit_trail():
    """Directive #7: the normalized-bench judgments cannot be silently
    loosened by an era bump — era_basket >= the original gate_basket,
    every era bump carries dated idle evidence, and drift is always
    reported against the ORIGINAL gate basket."""
    import bench

    doc = bench.load_baseline_map()  # cwd-independent, same loader bench uses
    assert doc["era_basket"] >= doc["gate_basket"]
    # the original recording-era basket is pinned; rebasing it is the
    # silent-ratchet failure mode this test exists to catch
    assert doc["gate_basket"] == 1.311
    if doc["era_basket"] != doc["gate_basket"]:
        ev = doc.get("era_evidence")
        assert ev, "era_basket changed without era_evidence"
        assert ev.get("date") and ev.get("idle_baskets"), ev
        assert len(ev["idle_baskets"]) >= 2
    # behavioral pin (not a source grep): basket_vs_baseline must be
    # computed against gate_basket, NOT era_basket — feed a map where
    # the two differ and check which divisor the drift used
    fake = {
        "gate_basket": 1.0,
        "gate_ratio": 1.25,
        "era_basket": 2.0,
        "era_ratio": 1.15,
        "queries": {"q": {"sec": 1.0, "basket": 1.0}},
    }
    _, drift, gate_ok = bench.normalize_vs_baseline({"q": 3.0}, 3.0, fake)
    assert drift == 3.0, "basket_vs_baseline must divide by gate_basket"
    # ...while the canonicality gate anchors to era_basket * era_ratio
    # (3.0 > 2.0 * 1.15 -> not canonical), independent of the drift
    assert gate_ok is False
    _, _, gate_ok2 = bench.normalize_vs_baseline({"q": 2.2}, 2.2, fake)
    assert gate_ok2 is True  # 2.2 <= 2.3 era bound though 2.2 > 1.25 gate


def test_z159_tokenizer_reload_equals_in_session(spark):
    """Directive #6: the durable BPE tokenizer artifact is exercised
    across a real path boundary by a driver catalog row, and the
    reloaded artifact encodes the shard identically to the in-session
    tokenizer (z158's frame)."""
    import __spark_entry__ as e

    qs = e.queries()
    assert "z159_bpe_tokenizer_reload" in qs
    a = {
        r.doc_id: (list(r.head_ids), r.n_tokens, r.has_unk)
        for r in qs["z159_bpe_tokenizer_reload"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    b = {
        r.doc_id: (list(r.head_ids), r.n_tokens, r.has_unk)
        for r in qs["z158_bpe_encode_frozen"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert a and a == b


def test_learn_bpe_overflow_prune(spark):
    """When the vocabulary exceeds max_driver_vocab, overflow='prune'
    trains the driver fold on the highest-count words (deterministic
    top-k) — the sentencepiece frequency-threshold contract. Pinned:
    deterministic across calls, and the learned merges track the
    full-vocabulary sequence closely on a Zipf-ish fixture (the
    dropped tail here carries ~12% of token mass — far heavier than a
    real web tail relative to a 2M budget, so this floor is
    conservative)."""
    from ezdata_spark.operators.bpe import learn_bpe

    rng = random.Random(13)
    alpha = "abcdefgh"
    head = ["".join(rng.choices(alpha, k=rng.randint(2, 8))) for _ in range(120)]
    tail = ["".join(rng.choices(alpha, k=rng.randint(2, 8))) for _ in range(600)]
    docs = []
    for i in range(400):
        ws = rng.choices(head, k=15) + [tail[(3 * i + j) % 600] for j in range(2)]
        docs.append((i, " ".join(ws)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    m_full, _ = learn_bpe(df, n_merges=60)
    m_pruned, _ = learn_bpe(df, n_merges=60, max_driver_vocab=150, overflow="prune")
    m_pruned2, _ = learn_bpe(df, n_merges=60, max_driver_vocab=150, overflow="prune")
    assert m_pruned == m_pruned2  # deterministic top-k + fold
    assert len(m_pruned) == 60
    shared = len(set(m_full) & set(m_pruned))
    assert shared >= 50, f"only {shared}/60 merges shared with full training"
    # default overflow stays the exact distributed loop (no silent
    # behavior change): auto with a tiny budget must NOT prune
    m_dist, _ = learn_bpe(df, n_merges=4, max_driver_vocab=150)
    m_seq, _ = learn_bpe(df, n_merges=4, max_driver_vocab=0)
    assert m_dist == m_seq


def test_ivf_trainer_driver_full_probe_equality(spark):
    """ivf_index(trainer='driver') — numpy Lloyd on the hash-ordered
    driver sample — yields bit-identical knn_join results to the mllib
    trainer under FULL probing (cell assignment only affects grouping:
    the candidate cut is a global top-K over (negadc/cosine, rid)),
    for both the raw and PQ paths, and is deterministic across calls."""
    from ezdata_spark.operators.similarity import (
        ivf_index, ivf_pq_encode, knn_join, pq_train,
    )
    from ezdata_spark.queries import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    cb = pq_train(emb, m=8, k=16)

    def run(trainer, pq):
        indexed, cents = ivf_index(emb, n_cells=4, trainer=trainer)
        corpus = ivf_pq_encode(indexed, cb) if pq else indexed
        kw = dict(pq_codebooks=cb, pq_oversample=10, rescore="cogroup") if pq else {}
        return sorted(
            (r.doc_id, r.vec_id, r.cosine, r.rank)
            for r in knn_join(
                left, corpus, cents, k=5, nprobe=4, round_ndigits=6, **kw
            ).collect()
        )

    for pq in (False, True):
        a = run("mllib", pq)
        b = run("driver", pq)
        b2 = run("driver", pq)
        assert a == b, f"pq={pq}: trainer changed full-probe results"
        assert b == b2, f"pq={pq}: driver trainer not deterministic"


def test_segment_words_parity_non_bmp(spark):
    """Unicode durability: Spark's split(w, '') splits CODE POINTS
    (surrogate pairs stay whole — verified, not assumed), matching
    Python's [*w], so jvm == py (6 learned merges vs those padded to 49)
    holds for emoji / CJK / combining marks, not just ascii."""
    from ezdata_spark.operators.bpe import learn_bpe, segment_words

    train = spark.createDataFrame(
        [(0, "a\U0001F600b a\U0001F600b ab"), (1, "日本語 ab ab")],
        "doc_id long, text string",
    )
    merges, _ = learn_bpe(train, n_merges=6)
    words = spark.createDataFrame(
        [("a\U0001F600b",), ("日本語",), ("étude",), ("ab",)],
        "word string",
    )
    jvm = {r.word: list(r.symbols) for r in segment_words(words, merges).collect()}
    py = {
        r.word: list(r.symbols)
        for r in segment_words(words, _past_48(merges)).collect()
    }
    assert jvm == py
    # the emoji survives as an intact code point in the segmentation
    # (never split into surrogate halves) on BOTH paths
    assert "\U0001F600" in "".join(jvm["a\U0001F600b"])
    assert all("\ud800" > ch or ch > "\udfff" for s in jvm["a\U0001F600b"] for ch in s)


def test_train_bpe_driver_fuzz_vs_recount_reference():
    """Pure-Python fuzz: the incremental-pair-count trainer (heap +
    subtract/rebuild/add updates) must equal a naive reference that
    RECOUNTS every pair from scratch each round (the distributed
    loop's semantics) — 60 randomized vocabularies, including
    repeated-symbol words that exercise the greedy non-re-entrant
    fold and tie-heavy tiny alphabets."""
    from ezdata_spark.operators.bpe import _train_bpe_driver

    rng = random.Random(1337)
    for case in range(60):
        alpha = "ab" if case % 3 == 0 else "abcd"
        vocab = []
        for _ in range(rng.randint(1, 25)):
            w = "".join(rng.choices(alpha, k=rng.randint(1, 9)))
            vocab.append(([*w, "</w>"], rng.randint(1, 5)))
        n_merges = rng.randint(1, 30)
        want = _recount_bpe(vocab, n_merges)
        got = _train_bpe_driver([(list(s), c) for s, c in vocab], n_merges)
        assert got == want, (case, got, want)
