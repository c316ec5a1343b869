"""BPE tokenizer training and corpus-scale encode on-cluster.

Classic byte-pair encoding (Sennrich et al. 2016, arXiv:1508.07909)
with the sentencepiece-shaped split of work: the corpus is scanned
ONCE to build the weighted distinct-word vocabulary (word, count) —
the only corpus-sized job — and the merge LOOP then runs where the
vocabulary size puts it. A vocabulary within :func:`learn_bpe`'s
``max_driver_vocab`` budget trains on the driver: incremental
pair-count maintenance with a lazy-invalidation max-heap argmax, so
realistic merge counts (1024-32k) train in seconds-to-minutes with
exact merge-for-merge parity to the distributed loop (pytest-pinned).
The distributed loop — vocabulary-sized pair-count aggregate + 1-row
driver round-trip + one greedy-fold projection PER MERGE, lineage cut
by localCheckpoint — is the exact fallback for too-big-to-collect
vocabularies at small merge counts, and ``overflow='prune'``
(frequency-threshold top-k, the sentencepiece/subword-nmt contract)
covers big-vocab AND deep-merge. Encoding has one kernel
(:func:`encode_stream`; :func:`encode_corpus` derives the default id
inventory from the corpus and runs it): one Arrow-batched pass that
segments each distinct word once per executor under a word cache,
with a frozen-inventory unk contract.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "build_word_vocab",
    "learn_bpe",
    "apply_bpe_merge",
    "segment_words",
    "bpe_vocab_ids",
    "encode_corpus",
    "encode_stream",
]

_EOW = "</w>"  # end-of-word marker, per the original BPE formulation
# the distributed merge loop cuts its growing lambda lineage with a
# localCheckpoint every this many merges
_CHECKPOINT_EVERY = 8


def _check_alphabet(where: str, alphabet: str) -> None:
    if alphabet not in ("char", "byte"):
        raise ValueError(
            f"{where}: unknown alphabet {alphabet!r} "
            "(expected 'char' or 'byte')"
        )


def _byte_symbols_col(word) -> "F.Column":
    """JVM byte-level symbol split: each UTF-8 byte of the word as its
    2-hex-digit UPPERCASE string (the byte-mode base alphabet — 256
    fixed-width symbols, no exotic codepoints, trivially decodable
    with unhex). NULL word -> NULL symbols; empty word -> just the
    end-of-word marker (no empty-string symbol: a word's byte
    sequence is genuinely empty, unlike Spark's char split('',''))."""
    c = F.col(word) if isinstance(word, str) else word
    pairs = F.filter(
        F.split(F.hex(F.encode(c, "UTF-8")), r"(?<=\G..)"),
        lambda t: t != "",
    )
    return F.concat(pairs, F.array(F.lit(_EOW)))


def _py_byte_symbols(word: str) -> list[str]:
    """Python twin of :func:`_byte_symbols_col` (JVM==Python parity is
    pytest-pinned, multi-byte UTF-8 included)."""
    return [f"{b:02X}" for b in word.encode("utf-8")] + [_EOW]


def build_word_vocab(
    docs: DataFrame, text: str = "text", alphabet: str = "char"
) -> DataFrame:
    """One corpus pass -> (word, count, symbols) with symbols = the
    word's characters (``alphabet='char'``, the original formulation)
    or its UTF-8 bytes as 2-hex-digit strings (``alphabet='byte'``,
    the GPT-2-style base alphabet that makes the tokenizer TOTAL — any
    text decomposes to the 256 byte symbols, so a frozen inventory
    seeded with them never emits unk), plus an end-of-word marker.
    This is the only corpus-sized job in BPE training."""
    from .textstats import tokens

    _check_alphabet("build_word_vocab", alphabet)
    symbols = (
        _byte_symbols_col("word")
        if alphabet == "byte"
        else F.concat(
            F.split(F.col("word"), ""),  # one char per element
            F.array(F.lit(_EOW)),
        )
    )
    return (
        docs.select(F.explode(tokens(text)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("symbols", symbols)
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word count (one explode +
    partial-combine aggregate over the vocabulary frame)."""
    m = F.size("symbols") - 1
    pairs = F.zip_with(
        F.slice("symbols", 1, m),
        F.slice("symbols", 2, m),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return (
        vocab.filter(F.size("symbols") >= 2)
        .select("count", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("count").alias("n"))
    )


def apply_bpe_merge(vocab: DataFrame, a: str, b: str) -> DataFrame:
    """Greedily merge every adjacent (a, b) into one symbol, left to
    right (a merged symbol does not re-merge within the same pass —
    standard BPE). Pure HOF fold: the accumulator carries (out array,
    pending symbol); a merge consumes the pending symbol so the next
    element starts fresh."""
    a_lit, b_lit = F.lit(a), F.lit(b)
    merged = F.lit(a + b)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )
    step = lambda acc, s: (  # noqa: E731
        F.when(acc["prev"].isNull(), F.struct(acc["out"].alias("out"), s.alias("prev")))
        .when(
            (acc["prev"] == a_lit) & (s == b_lit),
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("prev"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["prev"])).alias("out"),
                s.alias("prev"),
            )
        )
    )
    fin = lambda acc: F.when(  # noqa: E731
        acc["prev"].isNull(), acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["prev"])))
    return vocab.withColumn("symbols", F.aggregate("symbols", init, step, fin))


def _train_bpe_driver(
    words: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[str, str]]:
    """In-memory incremental BPE training over a collected
    ``(symbols, count)`` vocabulary — the sentencepiece-shaped fast
    path of :func:`learn_bpe`. Mutates ``words`` in place to the final
    segmentation and returns the ordered merge list.

    Semantics are EXACTLY the distributed loop's (pytest parity-pinned,
    merge list ==): each round picks the max-count pair, ties broken by
    lexicographically smallest (a, b) — Python code-point order ==
    Spark's UTF8String binary order, since UTF-8 byte order preserves
    code points — and applies it with the same greedy left-to-right
    non-re-entrant fold. Counts are maintained incrementally: merging a
    pair only touches the words that contain it (subtract the word's
    old adjacent-pair multiset, rebuild, add the new one — exact, so no
    drift vs the distributed loop's from-scratch recount), with a
    lazy-invalidation max-heap for argmax so a 32k-merge run never
    scans the full pair table per round. Per-merge cost is the total
    length of affected words — this is what makes n_merges in the
    thousands tractable where the distributed loop's one driver
    round-trip + one projection layer per merge is not."""
    import heapq
    from collections import defaultdict

    pair_n: dict[tuple[str, str], int] = defaultdict(int)
    occ: dict[tuple[str, str], set[int]] = defaultdict(set)
    heap: list[tuple[int, tuple[str, str]]] = []
    for idx, (syms, cnt) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_n[p] += cnt
            occ[p].add(idx)
    for p, n in pair_n.items():
        heap.append((-n, p))
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        while heap:
            neg, p = heapq.heappop(heap)
            # lazy invalidation: an entry is live only if it matches
            # the CURRENT count (stale pushes from earlier updates —
            # or for already-merged pairs — are skipped)
            if pair_n.get(p) == -neg and -neg > 0:
                best = p
                break
        if best is None:
            break  # every word is a single symbol
        a, b = best
        merges.append((a, b))
        for idx in list(occ[best]):
            syms, cnt = words[idx]
            if cnt == 0:
                continue
            new = _merge_pair(syms, a, b)
            if len(new) == len(syms):
                continue  # stale occ membership: pair no longer present
            for p in zip(syms, syms[1:]):
                pair_n[p] -= cnt
            words[idx] = (new, cnt)
            touched = set()
            for p in zip(new, new[1:]):
                pair_n[p] += cnt
                occ[p].add(idx)
                touched.add(p)
            for p in set(zip(syms, syms[1:])) | touched:
                n = pair_n.get(p, 0)
                if n > 0:
                    heapq.heappush(heap, (-n, p))
                else:
                    pair_n.pop(p, None)
        occ.pop(best, None)
        pair_n.pop(best, None)
    return merges


def learn_bpe(
    docs: DataFrame,
    n_merges: int = 50,
    text: str = "text",
    max_driver_vocab: int = 2_000_000,
    overflow: str = "distributed",
    alphabet: str = "char",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    (ordered merge list, final segmented vocabulary frame).

    Ties on pair count break deterministically ((a, b) lexicographic),
    so the merge sequence is reproducible across runs, paths, and
    engines.

    The corpus pass (:func:`build_word_vocab`) is always distributed;
    the distinct-word count (one cheap count on the checkpointed
    vocabulary) then picks where the merge LOOP runs:

    - within ``max_driver_vocab`` (the same driver-budget class as
      PQ codebooks and IVF centroids): collect the
      ``(symbols, count)`` vocabulary and run :func:`_train_bpe_driver`'s
      incremental-pair-count fold (what sentencepiece does). This makes
      realistic merge counts (32k-100k) tractable: per-merge cost is
      the total length of the words containing the winning pair, not a
      cluster round-trip.
    - over budget, ``overflow`` picks the policy:

      - ``'distributed'`` (default): the vocabulary-frame loop — each
        round a vocabulary-sized pair-count aggregate + a 1-row collect
        + a merge-fold projection, with a localCheckpoint every
        ``_CHECKPOINT_EVERY`` rounds to cut the growing lambda lineage.
        One driver round-trip and one projection layer PER MERGE, so
        right when the merge count is small enough to afford them
        (O(100s)). It returns the same (merge list, segmented
        vocabulary) as the driver fold bit-for-bit; parity is
        pytest-pinned.
      - ``'prune'``: train the driver fold on the ``max_driver_vocab``
        HIGHEST-COUNT words (deterministic distributed top-k: count
        desc, word asc) — what sentencepiece/subword-nmt do with their
        frequency threshold. The dropped tail is singleton-heavy
        (typos, URLs, ids) and contributes negligible pair mass, so the
        learned merges track the full-vocabulary sequence closely
        (agreement measured and pinned on a fixture, NOT exact parity —
        this is the documented approximation that makes realistic merge
        counts reachable at web-scale type counts where neither exact
        path can: >budget types AND >O(100s) merges). Batched
        distributed merge rounds were considered and rejected: a
        symbol-disjoint batch rule degenerates to length 1-2 on natural
        corpora because the top pairs share high-frequency symbols
        ((t,h),(h,e),(e,_)...), so the round-trip count barely drops.
        Under ``'prune'`` the returned segmented frame covers the
        RETAINED vocabulary only; freezing ids from it maps symbols
        seen only in dropped-tail words to ``unk_id`` at encode time —
        the sentencepiece rare-symbol contract. (``encode_corpus``
        without an explicit ``token_ids`` is unaffected: it derives the
        inventory from the encoded corpus's own distinct words.)

    ``alphabet='byte'`` (r14): GPT-2-style byte-level BPE — base
    symbols are the UTF-8 bytes of each word (as 2-hex-digit strings),
    so the learned tokenizer is TOTAL: with the inventory from
    :func:`bpe_vocab_ids` (which seeds all 256 byte symbols in byte
    mode) encoding never emits ``unk_id``, the remaining delta to
    production LLM tokenizers. The merge machinery is symbol-generic;
    only the base split and the inventory seeding differ.
    """
    _check_alphabet("learn_bpe", alphabet)
    if overflow not in ("distributed", "prune"):
        raise ValueError(
            f"learn_bpe: unknown overflow {overflow!r} "
            "(expected 'distributed' or 'prune')"
        )
    vocab = build_word_vocab(docs, text, alphabet).localCheckpoint(eager=True)
    on_driver = vocab.count() <= max_driver_vocab
    if not on_driver and overflow == "prune":
        from .window import global_row_id

        # deterministic top-k without a single-partition global
        # sort: range-partitioned 0-based rank on (count desc,
        # word asc) via a negated-count sort key, then keep ranks
        # within budget
        ranked = global_row_id(
            vocab.withColumn("_negcount", -F.col("count")),
            ["_negcount", "word"],
            "_rk",
        )
        vocab = (
            ranked.filter(F.col("_rk") < max_driver_vocab)
            .drop("_rk", "_negcount")
            .localCheckpoint(eager=True)
        )
        on_driver = True
    if on_driver:
        rows = vocab.select("word", "count", "symbols").collect()
        # start from the JVM-derived symbols so char splitting is
        # byte-identical to the distributed path for any input
        words = [(list(r["symbols"]), int(r["count"])) for r in rows]
        merges = _train_bpe_driver(words, n_merges)
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "word": [r["word"] for r in rows],
                "count": [int(r["count"]) for r in rows],
                "symbols": [syms for syms, _ in words],
            }
        )
        # localCheckpoint: the created frame is driver-LOCAL data —
        # without the cut, every downstream job (bpe_vocab_ids alone
        # runs two) re-ships the up-to-2M-row vocabulary from the
        # driver; checkpointed it becomes cluster-resident like the
        # distributed path's return
        out = docs.sparkSession.createDataFrame(
            pdf, schema="word string, count bigint, symbols array<string>"
        ).localCheckpoint(eager=True)
        return merges, out
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # every word is a single symbol
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        vocab = apply_bpe_merge(vocab, a, b)
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges, vocab


def bpe_vocab_ids(segmented_vocab: DataFrame, alphabet: str = "char") -> DataFrame:
    """``(symbol, token_id)`` for every distinct symbol of a segmented
    vocabulary frame, ids assigned in lexicographic symbol order — the
    deterministic assignment a tokenizer artifact needs (shards and
    re-runs sharing the merge list produce identical ids).

    Ids come from :func:`window.global_row_id` — range partition +
    in-partition sort + cumulative partition offsets — so even a
    web-scale symbol inventory (~10^5-10^6 types) never funnels
    through an Exchange SinglePartition global sort.

    ``alphabet='byte'``: the inventory is SEEDED with all 256 byte
    symbols (GPT-2 contract) in addition to whatever the training
    corpus produced — a frozen byte-mode tokenizer can therefore
    encode ANY text with zero unk, even bytes the training corpus
    never contained."""
    from .window import global_row_id

    _check_alphabet("bpe_vocab_ids", alphabet)
    syms = segmented_vocab.select(F.explode("symbols").alias("symbol")).distinct()
    if alphabet == "byte":
        base = segmented_vocab.sparkSession.range(256).select(
            F.lpad(
                F.upper(F.conv(F.col("id").cast("string"), 10, 16)), 2, "0"
            ).alias("symbol")
        )
        syms = syms.unionByName(base).distinct()
    return global_row_id(syms, ["symbol"], "token_id").select(
        "symbol", F.col("token_id").cast("int").alias("token_id")
    )


def encode_corpus(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text: str = "text",
    token_ids: DataFrame | None = None,
    unk_id: int = -1,
    alphabet: str = "char",
) -> DataFrame:
    """Corpus-scale BPE ENCODE — the tokenize-the-corpus production
    step that follows :func:`learn_bpe` (Sennrich et al. 2016; the
    reference has no tokenizer tier — this is part of the
    LLM-data-pipeline extension surface).

    Ids come from ``token_ids`` — pass the saved (symbol, token_id)
    frame to encode new shards consistently against a frozen
    tokenizer; symbols absent from a frozen inventory map to
    ``unk_id``, never silently drop. Without it, the inventory is
    derived from the corpus itself (:func:`bpe_vocab_ids` over the
    segmented DISTINCT words — vocabulary-sized, like training; the
    segmentation is localCheckpoint'd because the merge-deep nested
    aggregate() is cheap to execute but pathologically expensive to
    re-analyze, measured ~30 s/action of driver time at merges=12).
    That derivation is this function's only job of its own: the
    encode itself is :func:`encode_stream`'s kernel (one Arrow-batched
    ``mapInPandas`` pass over the JVM-tokenized word arrays, a
    per-executor word cache, only the symbol inventory collected to
    the driver) — so batch and streaming encodes are one code path.

    Docs with no tokens (NULL text included) return an empty array.
    Returns
    ``(id_col, token_ids array<int>, n_tokens)``.
    """
    from .textstats import tokens

    _check_alphabet("encode_corpus", alphabet)
    if token_ids is None:
        words = docs.select(F.explode(tokens(text)).alias("word")).distinct()
        seg = segment_words(words, merges, alphabet=alphabet).localCheckpoint(
            eager=True
        )
        token_ids = bpe_vocab_ids(seg, alphabet=alphabet)
    return encode_stream(
        docs,
        merges,
        token_ids,
        id_col=id_col,
        text=text,
        unk_id=unk_id,
        alphabet=alphabet,
    )


def _merge_pair(syms: list[str], a: str, b: str) -> list[str]:
    """One greedy left-to-right merge pass over a symbol list — the
    exact per-word semantics of :func:`apply_bpe_merge`'s JVM fold (a
    merged symbol never re-merges within its pass). Shared by the
    driver trainer and the encode kernel; JVM==Python
    equality is pytest-pinned on randomized words."""
    out: list[str] = []
    prev = None
    for s in syms:
        if prev is None:
            prev = s
        elif prev == a and s == b:
            out.append(a + b)
            prev = None
        else:
            out.append(prev)
            prev = s
    if prev is not None:
        out.append(prev)
    return out


def _py_apply_merges(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python greedy merge application: chars + end-of-word, then
    each merge in learned order via :func:`_merge_pair`. O(n_merges x
    len) per word — the REFERENCE semantics; the encode kernels use
    :func:`_py_apply_ranks` (cost independent of merge-list length)
    whenever :func:`_rank_encode_exact` proves it bit-identical."""
    syms = [*word, _EOW]
    for a, b in merges:
        syms = _merge_pair(syms, a, b)
    return syms


def _rank_encode_exact(
    merges: list[tuple[str, str]], base_len: int = 1
) -> bool:
    """True iff merge-rank priority encoding (:func:`_py_apply_ranks`)
    is PROVABLY bit-identical to sequential application
    (:func:`_py_apply_merges`) for this merge list. The sufficient
    condition is monotone construction: each pair's components exist
    before its rank (base symbol — up to ``base_len`` chars (1 for the
    char alphabet, 2 for byte mode's hex pairs; the empty string
    included) or the end-of-word marker — or the product of an earlier
    merge) and each merge creates a DISTINCT, non-base symbol string.
    Then no merge can (re)create a symbol participating in an
    earlier-rank pair (new adjacencies always involve the newly
    created symbol, which differs from every base symbol and every
    earlier product — byte-mode products concatenate >= two 2-char
    symbols, so they can never land back at base length), so both
    algorithms apply exactly the same greedy left-to-right passes in
    the same strictly-increasing rank order. Trainer-learned lists
    satisfy this by construction except in degenerate corpora (two
    merge paths producing the same symbol string); the encode kernels
    fall back to sequential application when this returns False, so
    correctness never rests on the condition holding."""
    created: set[str] = set()
    for a, b in merges:
        if not (len(a) <= base_len or a == _EOW or a in created):
            return False
        if not (len(b) <= base_len or b == _EOW or b in created):
            return False
        s = a + b
        if len(s) <= base_len or s == _EOW or s in created:
            return False
        created.add(s)
    return True


def _merge_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    """(a, b) -> learned rank, first occurrence winning."""
    ranks: dict[tuple[str, str], int] = {}
    for i, (a, b) in enumerate(merges):
        ranks.setdefault((a, b), i)
    return ranks


def _py_apply_ranks(
    syms: list[str], ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Merge-RANK priority encoding — the sentencepiece/HF tokenizer
    algorithm (r13 verdict directive #2): repeatedly apply the present
    pair with the lowest learned rank, via the same greedy
    left-to-right pass (:func:`_merge_pair`) as sequential
    application. Cost is O(len^2) dict probes per word, INDEPENDENT of
    the merge-list length — sequential application pays O(n_merges x
    len), which at the 32k merge lists the r13 trainer produces is
    ~1000x more symbol compares per distinct word. Bit-identical to
    :func:`_py_apply_merges` whenever :func:`_rank_encode_exact`
    holds (fuzz-pinned at 1024 learned merges by pytest)."""
    while len(syms) >= 2:
        best = None
        best_rank = None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best = p
        if best is None:
            break
        syms = _merge_pair(syms, best[0], best[1])
    return syms


# Executor-lifetime word caches for encode_stream kernels, keyed by a
# unique per-call driver token closed into the kernel, so two
# different frozen tokenizers never share segmentations. Python workers are
# reused across Arrow batches AND tasks (spark.python.worker.reuse
# default true), so a module-level cache amortizes the per-word greedy
# fold across the executor's whole stream lifetime — the same pattern
# as the decode caches in the media tier. Bounded by an APPROXIMATE
# worker-wide BYTE budget (r13 advice: an entry-count bound lets a
# many-core host serving several large-vocab tokenizers pin multiple
# GB): each insert charges ~(220 + len(word) + 8*len(ids)) bytes —
# CPython dict slot + str header + list-of-int-refs; the int objects
# themselves are shared with the broadcast id inventory — and over
# budget, whole OLDEST caches are evicted first (finished/idle
# streams), then the current cache resets if it alone exceeds the
# budget (``_STREAM_CACHE_DEFAULT_BYTES``).
# Measured at the 3M-doc fixture (20 tokens/doc, 50-word vocab,
# encode_stream batch mode, ABBA A/B, 4 reps/arm): executor-lifetime
# median 3.09 s vs per-batch 3.39 s — a real but small ~9% win (3 of 4
# adjacent ABBA pairs favor lifetime; sample ranges overlap) at that
# tiny vocabulary, where the per-batch cache already hits ~100% within
# a batch. The lifetime cache's advantage grows with vocabulary size,
# where each fresh batch otherwise re-segments the long tail.
_STREAM_CACHES: dict[int, dict] = {}
_STREAM_CACHE_SIZES: dict[int, int] = {}
_STREAM_CACHE_KEYS = itertools.count()
_STREAM_CACHE_DEFAULT_BYTES = 256 << 20  # 256 MiB per worker process
_STREAM_CACHE_MAX_LIVE = 8


def _entry_bytes(word: str, ids: list) -> int:
    # CPython estimate: dict slot (~100 B) + str header (~56 B +
    # chars) + list header (~56 B + 8 B/element pointer); int objects
    # are shared references into the broadcast inventory, not copies
    return 220 + len(word) + 8 * len(ids)


def _stream_word_cache(cache_key: int) -> dict:
    got = _STREAM_CACHES.get(cache_key)
    if got is None:
        # bound the number of live caches by evicting OLDEST-first
        # (dict preserves insertion order): a worker that has served
        # many tokenizers frees finished jobs' caches as new ones
        # arrive, and a still-running old stream only loses ITS cache
        # (graceful re-segmentation), never every stream's at once
        while len(_STREAM_CACHES) >= _STREAM_CACHE_MAX_LIVE:
            dead = next(iter(_STREAM_CACHES))
            _STREAM_CACHES.pop(dead)
            _STREAM_CACHE_SIZES.pop(dead, None)
        got = _STREAM_CACHES[cache_key] = {}
        _STREAM_CACHE_SIZES[cache_key] = 0
    return got


def _stream_cache_insert(
    cache_key: int, cache: dict, word: str, ids: list
) -> None:
    """Miss-path insert under the worker-wide approximate-byte budget
    (hit-path cost is untouched — one dict get). Evicts whole OLDEST
    caches first; resets the current cache only if it alone exceeds
    the budget (rare full reset beats per-hit LRU bookkeeping; with
    Zipfian word draws the hot head repopulates in one batch)."""
    cache[word] = ids
    _STREAM_CACHE_SIZES[cache_key] = _STREAM_CACHE_SIZES.get(
        cache_key, 0
    ) + _entry_bytes(word, ids)
    while sum(_STREAM_CACHE_SIZES.values()) > _STREAM_CACHE_DEFAULT_BYTES:
        victim = next(
            (k for k in _STREAM_CACHES if k != cache_key), None
        )
        if victim is None:
            break
        _STREAM_CACHES.pop(victim, None)
        _STREAM_CACHE_SIZES.pop(victim, None)
    if _STREAM_CACHE_SIZES.get(cache_key, 0) > _STREAM_CACHE_DEFAULT_BYTES:
        cache.clear()
        cache[word] = ids
        _STREAM_CACHE_SIZES[cache_key] = _entry_bytes(word, ids)


def encode_stream(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    token_ids: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    unk_id: int = -1,
    alphabet: str = "char",
) -> DataFrame:
    """BPE encode against a FROZEN tokenizer
    (:func:`ann_index.load_bpe_tokenizer`) — the one encode kernel,
    also run by :func:`encode_corpus`; same pattern as
    ``minhash_match_stream``: fully STATELESS (append-mode safe, no
    watermark, no state store). JVM tokenization projection, then ONE
    Arrow-batched ``mapInPandas`` whose kernel segments each word by
    merge-RANK priority (:func:`_py_apply_ranks` — cost independent of
    merge-list length, bit-identical to the sequential fold under the
    :func:`_rank_encode_exact` precondition, else the exact sequential
    fallback) under an executor-lifetime word cache (distinct-word
    amortization without a corpus-wide distinct — see
    :data:`_STREAM_CACHES` for the approximate-byte bound, keying, and
    the measured 3M-doc A/B vs the r12 per-batch cache) and resolves
    symbol ids from the broadcast frozen inventory (the only driver
    collect) — novel symbols surface as ``unk_id``, never silently
    drop.

    Works identically on a batch frame or a ``readStream`` frame, so
    one pipeline definition serves both modes; stream==batch is
    pytest-pinned.

    ``alphabet='byte'``: byte-level kernel (see :func:`learn_bpe`) —
    with a byte-mode inventory (:func:`bpe_vocab_ids` seeds all 256
    byte symbols) the encode is TOTAL and ``unk_id`` never surfaces.

    Returns ``(id_col, token_ids array<int>, n_tokens)``.
    """
    _check_alphabet("encode_stream", alphabet)
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    from .textstats import tokens

    sid = {r["symbol"]: r["token_id"] for r in token_ids.collect()}
    bm = docs.sparkSession.sparkContext.broadcast(
        ([tuple(m) for m in merges], sid, int(unk_id))
    )
    src = docs.select(F.col(id_col), tokens(text).alias("__words"))
    out_schema = StructType(
        [
            src.schema[id_col],
            StructField("token_ids", ArrayType(IntegerType(), False), False),
            StructField("n_tokens", IntegerType(), False),
        ]
    )

    key = next(_STREAM_CACHE_KEYS)
    byte_mode = alphabet == "byte"

    def gen(batches):
        import pandas as pd

        merges_, ids, unk = bm.value
        cache = _stream_word_cache(key)
        # once per task, not per word: rank-priority when provably
        # exact (trainer-learned lists always are), sequential fallback
        # otherwise — bit-identical either way
        ranks = (
            _merge_ranks(merges_)
            if _rank_encode_exact(merges_, 2 if byte_mode else 1)
            else None
        )

        def base_syms(w):
            return _py_byte_symbols(w) if byte_mode else [*w, _EOW]

        def word_ids(w):
            got = cache.get(w)
            if got is None:
                if ranks is not None:
                    syms = _py_apply_ranks(base_syms(w), ranks)
                else:
                    syms = base_syms(w)
                    for a, b in merges_:
                        syms = _merge_pair(syms, a, b)
                got = [ids.get(s, unk) for s in syms]
                _stream_cache_insert(key, cache, w, got)
            return got

        for pdf in batches:
            enc = [
                # NULL text -> NULL token array -> no tokens
                [i for w in ws for i in word_ids(w)] if ws is not None else []
                for ws in pdf["__words"]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "token_ids": enc,
                    "n_tokens": [len(x) for x in enc],
                }
            )

    return src.mapInPandas(gen, out_schema)


def segment_words(
    words: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    alphabet: str = "char",
) -> DataFrame:
    """Apply a learned merge list to segment words (tokenization-time
    path): chars + end-of-word, then each merge in learned order.

    The merge-list length picks the physical form (the two agree word
    for word, NULL/empty words and column order included —
    pytest-pinned):

    - up to 48 merges: the merge list folds into the plan as successive
      whole-stage-codegen projections — one scan, no shuffles, no
      Python. Each merge adds a projection LAYER, and a deep stack of
      nested aggregate() HOFs is pathological for Catalyst re-analysis
      (measured ~30 s/action at depth 12 once a Generate inlines it) —
      a 1024-merge tokenizer would not even plan.
    - beyond 48: one Arrow-batched ``mapInPandas`` segmenting each word
      by merge-RANK priority (:func:`_py_apply_ranks` — per-word cost
      independent of the merge-list length; the sequential fold is the
      exact fallback when :func:`_rank_encode_exact` cannot prove the
      list monotone) — plan depth is constant in the merge count, so
      realistic (32k-merge) tokenizers segment in one pass. Python
      cost stays vocabulary-sized because every caller feeds distinct
      words.
    """
    _check_alphabet("segment_words", alphabet)
    if len(merges) > 48:
        from pyspark.sql.types import ArrayType, StringType, StructField, StructType

        # symbols replaces any existing column IN PLACE (else appends),
        # so both forms agree on column ORDER as well as content —
        # positional consumers must not see a different shape when the
        # merge count crosses the threshold
        sym_field = StructField("symbols", ArrayType(StringType()), True)
        fields = [
            sym_field if f.name == "symbols" else f for f in words.schema.fields
        ]
        if "symbols" not in {f.name for f in fields}:
            fields.append(sym_field)
        out_schema = StructType(fields)
        cols = [f.name for f in fields if f.name != "symbols"]
        bm = words.sparkSession.sparkContext.broadcast(
            [tuple(m) for m in merges]
        )
        order = [f.name for f in fields]

        byte_mode = alphabet == "byte"

        def seg(w, merges_, ranks):
            # JVM-exact edge semantics (pytest-pinned): NULL word ->
            # NULL symbols (split(NULL) is NULL); char-mode empty word
            # -> ['', '</w>'] (Spark split('', '') yields [''], unlike
            # Python's [*''] == []); byte-mode empty word -> ['</w>']
            # (its byte sequence is genuinely empty)
            if w is None or w != w:  # None / pandas NaN
                return None
            if byte_mode:
                syms = _py_byte_symbols(w)
            else:
                syms = ([""] if w == "" else [*w]) + [_EOW]
            if ranks is not None:
                return _py_apply_ranks(syms, ranks)
            for a, b in merges_:
                syms = _merge_pair(syms, a, b)
            return syms

        def gen(batches):
            import pandas as pd

            merges_ = bm.value
            ranks = (
                _merge_ranks(merges_)
                if _rank_encode_exact(merges_, 2 if byte_mode else 1)
                else None
            )
            for pdf in batches:
                res = pdf[cols].copy()
                res["symbols"] = [seg(w, merges_, ranks) for w in pdf[word_col]]
                yield res[order]

        return words.mapInPandas(gen, out_schema)
    out = words.withColumn(
        "symbols",
        _byte_symbols_col(word_col)
        if alphabet == "byte"
        else F.concat(F.split(F.col(word_col), ""), F.array(F.lit(_EOW))),
    )
    for a, b in merges:
        out = apply_bpe_merge(out, a, b)
    return out
