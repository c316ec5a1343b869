"""Deduplication operators for large-scale text corpora.

Extensions beyond the reference (whose only dedup surface is the O(n^2)
``find_duplicate``, simpletable.py:2691-2708). All variants are
shuffle-aware: candidate generation is an equi-join on hash buckets, so
the cluster never materializes the O(n^2) pair space.

- exact_dedup: hash groupBy on the full text (or any key set)
- minhash_lsh_*: shingle -> minhash signature -> band buckets ->
  bucket equi-join -> verified Jaccard
- simhash: 64-bit rotation-invariant fingerprint via token hashing
- ngram_jaccard_pairs: exact Jaccard on candidate pairs only

Determinism: every hash is Spark's xxhash64/crc32 with fixed seeds —
stable across runs and partitionings.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import track


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keep one representative (min id) per duplicate group.

    Single hash-aggregate; partial combine map-side, shuffle carries one
    row per distinct key.
    """
    return df.groupBy(*keys).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def duplicate_groups(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Groups with >1 member (find_duplicate semantics, vectorized)."""
    return exact_dedup(df, keys, id_col).filter(F.col("n_copies") > 1)


def _shingles(toks, n: int = 5):
    """Word n-gram shingles from a *bound token-array column*. The input
    must be a materialized column reference, not a split(...) expression:
    Catalyst does not CSE inside higher-order-function lambdas, so an
    inline split would be recomputed per lambda element (O(T^2))."""
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def _tokens(text_col):
    return F.split(F.lower(text_col), r"\s+")


def _fan_out(df: DataFrame) -> DataFrame:
    """Repartition CPU-bound per-row stages up to cluster parallelism.

    A small parquet file arrives as 1-2 partitions (bytes-based split),
    which serializes compute-heavy stages like shingle hashing on a
    many-core executor; the shuffle of the raw rows costs far less than
    the single-threaded hashing. At real scale (many files / row
    groups) the input already has enough partitions and this is a no-op.
    Streaming frames pass through untouched (no .rdd on a stream; the
    micro-batch source picks its own parallelism).
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def minhash_signatures(
    df: DataFrame, text: str, id_col: str, num_hashes: int = 64, shingle_n: int = 5
) -> DataFrame:
    """MinHash signature per document.

    h_i(s) = xxhash64(shingle, seed=i); signature_i = min over shingles.
    Everything stays JVM-side: explode-free (transform + array_min per
    hash), one pass over the data, no shuffle.
    """
    # two bound-column steps so HOF lambdas never re-evaluate upstream
    # expressions (no CSE inside lambdas): tokens -> token hashes ->
    # shingle hashes. Each token is xxhash64'd ONCE; a shingle's hash is
    # a degree-n polynomial of its token hashes (odd multiplier, wraps
    # mod 2^64) — no n-gram string materialization, ~5x less cold-JIT
    # surface than concat_ws(slice(...)) per shingle.
    toked = _fan_out(df).select(id_col, _tokens(F.col(text)).alias("tk"))
    hashed = toked.select(id_col, F.expr("transform(tk, t -> xxhash64(t))").alias("th"))
    base = hashed.select(
        id_col,
        F.expr(
            f"transform(sequence(0, greatest(size(th) - {shingle_n}, 0)),"
            f" i -> aggregate(slice(th, i + 1, {shingle_n}), 0L,"
            "  (a, h) -> a * -7046029254386353131L + h))"
        ).alias("hv"),
    )
    # hash every shingle ONCE (JVM xxhash64), then derive the k hash
    # functions as affine transforms of the base hash (h_i = a_i*h + b_i
    # over Z_2^64, odd a_i => bijection; universal hashing). The k x T
    # min-reduction is ONE aggregate pass whose accumulator is the
    # k-slot signature array — pure JVM expressions, so the whole
    # pipeline needs no Python workers (no Arrow transfer, no per-
    # executor interpreter cold start). The min is the *unsigned* 64-bit
    # min: signed compare of (x + 2^63) == unsigned compare of x, so we
    # bias into the accumulator and un-bias at the end (adding -2^63
    # twice is the identity mod 2^64).
    import random

    rng = random.Random(42)
    a_signed = np.array(
        [rng.randrange(1, 2**62) * 2 + 1 for _ in range(num_hashes)], dtype=np.uint64
    ).view(np.int64)
    b_signed = np.array(
        [rng.randrange(2**62) for _ in range(num_hashes)], dtype=np.uint64
    ).view(np.int64)
    # single F.expr parse: building these trees Column-by-Column costs
    # hundreds of py4j round-trips (~2 s of driver time per query)
    a_sql = "array(" + ",".join(f"{int(a)}L" for a in a_signed) + ")"
    bias = -(1 << 63)
    # fold the unsigned-compare bias into b at build time (mod 2^64)
    b_biased = (b_signed.view(np.uint64) + np.uint64(bias & 0xFFFFFFFFFFFFFFFF)).view(np.int64)
    b_sql = "array(" + ",".join(f"{int(b)}L" for b in b_biased) + ")"
    # NB: a*h+b wraps mod 2^64 (Java long); requires ANSI off, which
    # get_spark/tune_existing guarantee
    sig = F.expr(
        f"""
        transform(
          aggregate(
            hv,
            array_repeat({(1 << 63) - 1}L, {num_hashes}),
            (acc, h) -> zip_with(acc,
                                 zip_with({a_sql}, {b_sql},
                                          (a, b) -> a * h + b),
                                 (m, v) -> least(m, v))),
          x -> x + {bias}L)
        """
    )
    return base.select(id_col, sig.alias("signature"))


def _minhash_band_frame(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) rows: one bucket per signature band. This is
    the frame a persisted LSH index stores (bucketed/sorted by
    (band, bucket) in parquet, probes prune row groups); recomputing it
    from a signature table is one O(num_hashes)-per-row projection —
    no text access. explode(sequence) + column-start slice keeps the
    expression tree O(1) in ``bands``."""
    return (
        sigs.select(id_col, "signature", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"))
        .select(
            id_col,
            "band",
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice("signature", F.col("band") * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("bucket"),
        )
    )


def minhash_lsh_candidates(
    sigs: DataFrame, id_col: str, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket; docs
    sharing any (band, bucket) are candidates.

    Candidate generation = groupBy on (band, bucket) — an equi-shuffle on
    a uniform key; self-join within buckets only. Pairs are emitted with
    id_a < id_b so each pair appears once.
    """
    banded = _minhash_band_frame(sigs, id_col, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, on=["band", "bucket"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def minhash_jaccard(sigs: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Estimated Jaccard = fraction of matching signature slots."""
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    j = (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard_est",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
            / F.size("sig_a"),
        )
        .select("id_a", "id_b", "jaccard_est")
    )
    return j


def minhash_dedup(
    df: DataFrame,
    text: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> verified
    pairs above threshold. Returns (id_a, id_b, jaccard_est)."""
    sigs = minhash_signatures(df, text, id_col, num_hashes, shingle_n)
    sigs = track(sigs)
    pairs = minhash_lsh_candidates(sigs, id_col, bands, num_hashes // bands)
    return minhash_jaccard(sigs, pairs, id_col).filter(F.col("jaccard_est") >= threshold)


def minhash_dedup_incremental(
    batch: DataFrame,
    history_signatures: DataFrame | None = None,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    history_bands: DataFrame | None = None,
    return_bands: bool = False,
    check_id_order: bool | str = "auto",
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental NEAR-dup (MinHash) dedup across crawl snapshots: the
    new shard is deduplicated against a persisted signature index, not
    against the re-shingled historical corpus. ``incremental_new``
    (corpus.py) is the exact-key form of this; real pipelines dedup a
    daily shard near-dup-wise without touching historical text.

    Returns ``(survivors, updated_signatures)``:

    - ``survivors``: batch rows with NO estimated-Jaccard >= threshold
      match to any indexed document or to a smaller-id batch document;
    - ``updated_signatures``: ``history_signatures`` plus the
      signatures of EVERY batch row (kept and dropped) — persist this
      (parquet) as the next snapshot's index. Dropped docs stay
      indexed on purpose: it makes the incremental chain EQUAL to a
      batch rerun over the union under the "drop iff near-dup of any
      smaller-id doc" rule (a survivors-only index would silently
      re-admit near-dups of dropped documents, diverging from the
      batch answer — transitive chains A~B, B~C, A!~C).

    Requires document ids to be globally monotone across snapshots
    (history ids < batch ids — crawl ids are), so "matches history"
    and "matches a smaller id" are the same total order the batch
    rerun uses. ``check_id_order`` verifies this with one cheap
    columnar aggregate per side (max history id vs min batch id) and
    fails fast — a violating caller would otherwise silently get drops
    that diverge from the documented batch-equivalent semantics. The
    guard is an EAGER action at call time, and eagerly materializing a
    CACHED history index before the candidate/verify joins compile
    feeds exact InMemoryRelation statistics to the planner — the
    cache-stats join-flip hazard documented on
    ``trigram_similarity_pairs``' auto profile. ``'auto'`` (default)
    therefore runs the guard only when ``history_signatures`` is not
    cached; pass ``True`` to force it (accepting the stats effect) or
    ``False`` to skip when the pipeline guarantees monotone ids by
    construction.

    Scale shape: pass ``history_bands`` (the (id, band, bucket) frame —
    get it by persisting the third element of a ``return_bands=True``
    call) and each increment bands ONLY the new shard: the history side
    of the candidate equi-join is read as-is, no per-snapshot
    re-banding of the index. Measured honestly at 1.5M x 1.5M (30M
    sweep scale): the re-banding was NOT the dominant cost — it is ~9 s
    of a ~50 s run and overlaps the join stages on a wide executor, so
    the band artifact buys latency only when cores are scarce; the real
    cost structure is (a) shingling+signing the NEW shard (~14 s,
    irreducible per-byte work any dedup pays), (b) the (band, bucket)
    candidate equi-join (~18 s; at true 100 TB index sizes write the
    band table BUCKETED by the join key so the history side joins
    without a shuffle — at this in-memory smoke scale the bucketed
    parquet scan measured slower than the persisted frame, 54 s vs
    48 s, disk dominating), and (c) verification, which joins signature
    pairs only — the b-side lookup touches batch signatures only (id_b
    is always a batch doc), so one full-index shuffle is avoided.

    With ``return_bands=True`` returns ``(survivors,
    updated_signatures, updated_bands)`` — persist BOTH artifacts for
    the next snapshot (signatures verify, bands generate candidates).
    """
    if history_bands is not None and history_signatures is None:
        raise ValueError(
            "minhash_dedup_incremental: history_bands requires "
            "history_signatures (bands generate candidates, signatures "
            "verify them) — with neither, the batch would silently dedup "
            "only against itself"
        )
    if check_id_order == "auto":
        check_id_order = history_signatures is not None and not history_signatures.is_cached
        if history_signatures is not None and not check_id_order:
            # the skip closes the cache-stats join-flip hazard but
            # reopens the silent-divergence window the guard exists
            # for — make the skip visible so a cached out-of-order
            # history is at least diagnosable
            warnings.warn(
                "minhash_dedup_incremental: id-order guard skipped "
                "(history_signatures is cached; eager aggregates on a "
                "cached index feed exact stats to the planner). Ids must "
                "still be globally monotone across snapshots — pass "
                "check_id_order=True to force the guard.",
                UserWarning,
                stacklevel=2,
            )
    if check_id_order and history_signatures is not None:
        hmax = history_signatures.agg(F.max(id_col)).first()[0]
        bmin = batch.agg(F.min(id_col)).first()[0]
        if hmax is not None and bmin is not None and hmax >= bmin:
            raise ValueError(
                "minhash_dedup_incremental: history ids must all precede "
                f"batch ids (max history {id_col}={hmax!r} >= min batch "
                f"{id_col}={bmin!r}); the incremental chain is only "
                "batch-rerun-equivalent under globally monotone ids"
            )
    sigs_b = track(minhash_signatures(batch, text, id_col, num_hashes, shingle_n))
    rpb = num_hashes // bands
    bands_new = _minhash_band_frame(sigs_b, id_col, bands, rpb)
    if history_signatures is None:
        all_sigs = sigs_b
        bands_all = bands_new
    else:
        all_sigs = history_signatures.select(id_col, "signature").unionByName(sigs_b)
        hb = (
            history_bands.select(id_col, "band", "bucket")
            if history_bands is not None
            else _minhash_band_frame(
                history_signatures.select(id_col, "signature"), id_col, bands, rpb
            )
        )
        bands_all = hb.unionByName(bands_new)
    a = bands_all.alias("a")
    b = bands_new.alias("b")
    pairs = (
        a.join(b, on=["band", "bucket"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # verify like minhash_jaccard, but the b-side lookup joins ONLY the
    # batch signatures: id_b always comes from bands_new, so shuffling
    # the full history signature table for it is pure waste (r9 — one
    # of the two full-index shuffles in the per-increment cost)
    sa = all_sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs_b.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    dup = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard_est",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
            / F.size("sig_a"),
        )
        .filter(F.col("jaccard_est") >= threshold)
    )
    dropped = dup.select(F.col("id_b").alias(id_col)).distinct()
    survivors = batch.join(dropped, id_col, "left_anti")
    if return_bands:
        return survivors, all_sigs, bands_all
    return survivors, all_sigs


def minhash_match_stream(
    docs: DataFrame,
    index_signatures: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
) -> DataFrame:
    """STREAMING near-dup screen: match events for documents arriving
    on a stream against a STATIC persisted MinHash signature index —
    the online form of :func:`minhash_dedup_incremental` (ingest-time
    filtering instead of end-of-day snapshots).

    Fully STATELESS (append-mode safe, no watermark, no state store):
    signature + band buckets are pure projections, candidates come
    from a stream-static equi-join on (band, bucket), and verification
    is a projection over the joined signature pair. Emits one match
    event ``(id_col, match_id, jaccard_est)`` per MATCHING BAND — a
    pair sharing several bands emits several identical events;
    downstream either tolerates duplicates (any match means "drop") or
    applies ``dropDuplicates([id_col, 'match_id'])`` with a watermark.
    Batch parity: distinct events == the batch-vs-index dup pairs of
    ``minhash_dedup_incremental`` (pinned by pytest).

    Works identically on a batch frame (the join becomes an ordinary
    equi-join), so one pipeline definition serves both modes.
    """
    rpb = num_hashes // bands

    def bands_with_sig(sig_frame, out_id, sig_alias):
        # band expansion CARRYING the signature: the verify step must
        # not join back to the signature frame — on the stream side
        # that would be a stream-stream self-join (stateful, needs
        # watermarks); one projection keeps the whole op stateless
        return sig_frame.select(
            F.col(id_col).alias(out_id), F.col("signature").alias(sig_alias)
        ).select(
            out_id,
            sig_alias,
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        ).select(
            out_id,
            sig_alias,
            "band",
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(sig_alias, F.col("band") * rpb + 1, rpb),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("bucket"),
        )

    sigs = minhash_signatures(docs, text, id_col, num_hashes, shingle_n)
    s_bands = bands_with_sig(sigs, id_col, "sig_s")
    i_bands = bands_with_sig(index_signatures, "match_id", "sig_h")
    est = (
        F.size(F.filter(F.zip_with("sig_s", "sig_h", lambda x, y: x == y), lambda m: m))
        / F.lit(num_hashes)
    )
    return (
        s_bands.join(i_bands, ["band", "bucket"])
        .withColumn("jaccard_est", est)
        .where(F.col("jaccard_est") >= threshold)
        .select(id_col, "match_id", "jaccard_est")
    )


def simhash(df: DataFrame, text: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document: sign-sum of token-hash bits.

    Pure built-ins: tokens -> xxhash64 -> per-bit +1/-1 vote via
    aggregate over a bit-index sequence. One pass, no shuffle.
    """
    toks = F.filter(F.split(F.lower(F.col(text)), r"\s+"), lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    hcol = "__simhash_hashes"
    with_h = _fan_out(df).withColumn(hcol, hashes)
    # votes[i] = sum over tokens of (bit i set ? +1 : -1), all `bits`
    # slots accumulated in ONE pass over the token hashes (a 64-slot
    # array accumulator; transform's index var supplies the bit number);
    # fingerprint bit i set iff votes[i] > 0. One F.expr parse — the
    # unrolled per-bit form costs `bits` interpreted traversals of the
    # array and a py4j-built expression tree to match.
    fp = F.expr(
        f"""
        aggregate(
          transform(
            aggregate(
              {hcol},
              array_repeat(0, {bits}),
              (acc, h) -> transform(acc, (v, i) ->
                 v + IF((h >> i) & 1 = 1, 1, -1))),
            (v, i) -> IF(v > 0, shiftleft(1L, i), 0L)),
          0L, (a, x) -> a + x)
        """
    )
    return with_h.select(id_col, fp.alias("simhash"))


def hamming_near_dup(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_distance: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """All pairs of 64-bit fingerprints within ``max_distance`` Hamming
    bits — the self-join behind SimHash and perceptual-image-hash
    dedup. Returns (id_a, id_b, distance), id_a < id_b.

    COMPLETE by pigeonhole (the classic multi-index Hamming search,
    e.g. Norouzi et al., "Fast Search in Hamming Space with Multi-Index
    Hashing", CVPR 2012): the hash is split into ``bands`` disjoint
    bit-slices; d differing bits can corrupt at most d slices, so any
    pair within distance d < bands agrees EXACTLY on some slice.
    Candidates are an equi-join on (band, slice-value) — never a cross
    join; verification is one ``bit_count(a ^ b)`` per candidate.
    ``bands`` defaults to ``max_distance + 1`` (the completeness
    minimum; more bands = shorter slices = more candidates but smaller
    per-bucket skew)."""
    nb = bands if bands is not None else max_distance + 1
    if nb <= max_distance:
        raise ValueError(
            f"bands={nb} must exceed max_distance={max_distance} for "
            "pigeonhole completeness"
        )
    if not 1 <= nb <= 64:
        raise ValueError(f"bands={nb} out of range [1, 64]")
    # band i covers bits [offs[i], offs[i] + width_i): equal splits,
    # remainder spread over the first bands
    base, extra = divmod(64, nb)
    offs, widths, o = [], [], 0
    for i in range(nb):
        w_i = base + (1 if i < extra else 0)
        offs.append(o)
        widths.append(w_i)
        o += w_i
    offs_sql = "array(" + ",".join(str(x) for x in offs) + ")"
    # mask = (1 << width) - 1 precomputed per band; the width-64 band
    # (max_distance=0, one band = exact fingerprint equality) is all
    # bits, i.e. -1 as a signed long — (1<<64)-1 overflows the literal
    masks_sql = "array(" + ",".join(
        (str((1 << w_i) - 1) if w_i < 64 else "-1") + "L" for w_i in widths
    ) + ")"
    h = F.col(hash_col)
    banded = _fan_out(df).select(
        id_col,
        h.alias("__h"),
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("band"),
    ).select(
        id_col,
        "__h",
        "band",
        F.expr(
            f"shiftrightunsigned(__h, element_at({offs_sql}, band + 1))"
            f" & element_at({masks_sql}, band + 1)"
        ).alias("slice"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("__h").alias("ha"), "band", "slice"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("__h").alias("hb"), "band", "slice"
    )
    return (
        a.join(b, ["band", "slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.bit_count(F.expr("ha ^ hb")))
        .filter(F.col("distance") <= max_distance)
        .groupBy("id_a", "id_b")
        .agg(F.max("distance").alias("distance"))
        .select("id_a", "id_b", "distance")
    )


def ngram_jaccard_pairs(
    df: DataFrame, text: str, id_col: str, n: int = 3, threshold: float = 0.5,
    bands: int = 8, num_hashes: int = 32,
) -> DataFrame:
    """Exact word-n-gram Jaccard, evaluated only on LSH candidate pairs
    (never all pairs). Returns (id_a, id_b, jaccard)."""
    sigs = minhash_signatures(df, text, id_col, num_hashes, n)
    pairs = minhash_lsh_candidates(sigs, id_col, bands, num_hashes // bands)
    grams = df.select(id_col, _tokens(F.col(text)).alias("tk")).select(
        id_col, F.array_distinct(_shingles(F.col("tk"), n)).alias("g")
    )
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return (
        pairs.join(ga, "id_a").join(gb, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def segment_dedup(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
) -> DataFrame:
    """C4-style cross-document exact segment dedup: split each document's
    token stream into fixed ``seg_words`` segments (C4 uses newline
    "lines"; segmentation is the parameter), keep each distinct segment
    ONLY at its first corpus occurrence (lowest doc id, then lowest
    position), and rebuild the surviving text.

    Scale shape: explode to (segment, doc, pos) rows, one window pass
    partitioned by segment (shuffle keyed on segment text — well
    distributed), then groupBy(doc) to reassemble. No pairwise
    comparisons anywhere; cost is linear in total segments.

    Returns (id_col, text): the deduplicated text ('' if every segment
    of the document occurred earlier in the corpus).
    """
    toks = _tokens(F.col(text))
    # the token array is materialized as a named column first, so the
    # segmentation transform references it once (no inlined re-tokenize)
    exploded = (
        df.select(id_col, toks.alias("__t"))
        .filter(F.size("__t") > 0)
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, int(ceil(size(__t) / {seg_words}.0)) - 1),"
                    f" i -> array_join(slice(__t, i * {seg_words} + 1, {seg_words}), ' '))"
                )
            ).alias("pos", "seg"),
        )
    )
    w = Window.partitionBy("seg").orderBy(F.col(id_col), F.col("pos"))
    kept = exploded.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))), lambda s: s["seg"]
            ),
            " ",
        ).alias(text)
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        id_col, F.coalesce(F.col(text), F.lit("")).alias(text)
    )


def neardup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: the final step of a
    dedup pipeline — pair lists become clusters, each keeping one
    representative (the minimum id).

    Algorithm: min-label propagation. Every node starts labeled with its
    own id; each round every node takes the min label over itself and
    its neighbors; converged when no label changes. Label count halves
    at least geometrically with graph diameter — near-dup graphs are
    short chains/cliques, so a handful of rounds suffice; ``max_iter``
    bounds pathological chains.

    Scale shape: each round is one shuffle join (edges x labels, both
    keyed on node) + a groupBy min; lineage is cut every round with
    localCheckpoint so plans do not grow. The convergence check is a
    count aggregate per round.

    Returns (node, cluster_id) with cluster_id = min id of the
    component.
    """
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nb_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nb_label"))
        )
        new_labels = (
            labels.join(nb_min, labels["node"] == nb_min["a"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("cluster_id"))


def fuzzy_pairs(strings: DataFrame, col: str, max_dist: int = 1) -> DataFrame:
    """Edit-distance near-pairs over a string column WITHOUT the O(n^2)
    cross join: deletion-neighborhood blocking (the public FastSS /
    SymSpell family). Every distinct string emits itself plus its
    ``len`` single-deletion variants as join keys; two strings within
    one edit (substitution, insertion, or deletion) necessarily share a
    key, so the equi-join generates a COMPLETE candidate set — unlike
    prefix or length blocking there is no recall loss — and the exact
    ``levenshtein`` refine drops the false positives (e.g. swapped
    adjacent characters, which share a deletion key but sit at distance
    2). Returns (left, right, dist) with left < right, each pair once.

    Scale shape: keys per row are linear in string length, the join is
    a hash equi-join on the key, and the refine runs on candidates
    only — no cartesian anywhere. Only ``max_dist=1`` is supported (the
    single-deletion neighborhood theorem; larger radii need multi-
    deletion neighborhoods, which grow combinatorially).

    r14: join keys are xxhash64 of the deletion variants (8 bytes
    through the shuffle instead of near-full-length strings; exact
    modulo 2^-64 collisions, the key class q86/q116/q132 already
    ship), and the refine uses the bounded ``levenshtein(l, r, 1)``
    form (early-exit banded DP, -1 past the threshold) instead of the
    full O(len^2) distance — measured ~11% end-to-end at sf0.1 with
    row-identical output (262,500 pairs)."""
    if max_dist != 1:
        raise ValueError("fuzzy_pairs supports max_dist=1 (single-deletion blocking)")
    w = F.col("_w")
    dels = F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.xxhash64(
            F.concat(w.substr(F.lit(1), i - F.lit(1)), w.substr(i + F.lit(1), F.length(w)))
        ),
    )
    variants = F.when(
        F.length(w) > 0, F.array_union(F.array(F.xxhash64(w)), dels)
    ).otherwise(F.array(F.xxhash64(w)))
    keys = (
        strings.select(F.col(col).alias("_w"))
        .where(F.col(col).isNotNull())
        .distinct()
        .select("_w", F.explode(variants).alias("_k"))
    )
    # Pin the key-hash partitioning at cluster parallelism: a small
    # input arrives as 1-2 splits and AQE coalesces the tiny-by-bytes
    # shuffle to one partition, serializing the CPU-heavy candidate
    # join + levenshtein refine. An explicit repartition-by-key is
    # exempt from AQE coalescing, co-partitions both sides of the
    # self-join (no second shuffle), and is a no-op at real scale.
    target = strings.sparkSession.sparkContext.defaultParallelism
    keys = keys.repartition(target, F.col("_k"))
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(b, F.col("a._k") == F.col("b._k"))
        .where(F.col("a._w") < F.col("b._w"))
        .select(F.col("a._w").alias("left"), F.col("b._w").alias("right"))
        .distinct()
    )
    return cand.withColumn(
        "dist", F.levenshtein("left", "right", max_dist)
    ).where(F.col("dist") >= 0)


def _gram_hash_set(text_col: str, unit) -> Column:
    """Distinct gram set of a document for the similarity join, as
    xxhash64 gram ids — gram strings never materialize. ``"char3"`` =
    character trigrams of the lowercased text (pg_trgm, no padding),
    folded through two elementwise ``xxhash64`` passes over the shifted
    char slices (hash(hash(c1, c2), c3)); ``"word"`` = word tokens; an
    int n = space-joined word n-shingles. Char trigrams fit SHORT
    strings (names, titles): their universe is alphabet^3, so at corpus
    scale every gram is frequent. Long-document joins should run on
    word/shingle units, whose rare-token tail is what makes prefix
    filtering effective (the token-set setting of the AllPairs/PPJoin
    papers).

    ``array_distinct`` runs its primitive-long path instead of the
    per-doc quadratic string-equality scan (measured ~3x on the q132
    gram-set build). Every consumer treats the hash as an opaque gram
    id, and prefix filtering is exact under ANY global gram order; two
    distinct grams colliding to one id merge consistently everywhere
    (probability ~|vocab|^2 / 2^65)."""
    if unit == "char3":
        t = F.split(F.lower(F.col(text_col)), "")
        m = F.greatest(F.size(t) - 2, F.lit(0))
        acc = F.zip_with(
            F.slice(t, 1, m), F.slice(t, 2, m), lambda a, b: F.xxhash64(a, b)
        )
        acc = F.zip_with(acc, F.slice(t, 3, m), lambda h, c: F.xxhash64(h, c))
        return F.array_distinct(acc)
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    if unit == "word":
        return F.array_distinct(F.transform(toks, lambda w: F.xxhash64(w)))
    n = int(unit)
    m = F.size(toks) - (n - 1)
    # guard m >= 1: sequence(1, 0) is DESCENDING [1, 0] in Spark, which
    # would fabricate partial shingles for docs shorter than n tokens —
    # such docs have no n-shingles at all
    return F.array_distinct(
        F.when(
            m >= 1,
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.xxhash64(F.array_join(F.slice(toks, i, n), " ")),
            ),
        ).otherwise(F.expr("array()").cast("array<bigint>"))
    )


def trigram_similarity_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    unit="char3",
    max_gram_df: int | str | None = "auto",
) -> DataFrame:
    """Exact Jaccard similarity self-join on per-document gram sets
    (default: character trigrams, pg_trgm semantics) with PREFIX
    FILTERING — the AllPairs algorithm of Bayardo, Ma & Srikant,
    "Scaling Up All Pairs Similarity Search" (WWW 2007): a pair with
    Jaccard >= t MUST share a gram in the first |G| - ceil(t|G|) + 1
    grams of each side under one global gram ordering (rarest first),
    so the candidate join runs on prefix grams only — the
    frequent-gram blowup (every doc shares 'the') never reaches the
    join. A size filter (|B| >= t|A|) prunes further; exact Jaccard on
    full gram sets is the final verdict.

    The POSITIONAL filter of PPJoin (Xiao, Wang, Lin & Yu, WWW 2008)
    prunes further: a shared gram at sorted positions (ra, rb) bounds
    the best possible overlap by 1 + min(|A|-ra, |B|-rb), which must
    reach ceil(t/(1+t)(|A|+|B|)) — on template-heavy corpora (shared
    boilerplate vocabulary) this cuts candidates ~20x where the prefix
    filter alone barely bites.

    Returns (id_a, id_b, n_inter, n_a, n_b, jaccard) with id_a < id_b.
    Scale: shuffles carry prefix grams (rare by construction) and the
    per-doc gram arrays for candidates only (AQE broadcasts small
    verify sides from their measured size). The WHOLE join runs on
    xxhash64 gram ids (see ``_gram_hash_set``): the explode emits 8-byte
    longs, so the frequency aggregate, the per-doc rank window, the
    prefix candidate join, and the verify arrays all shuffle primitive
    longs (Spark's long hash aggregate / array_intersect are ~2x the
    string path). A global collision between two distinct grams
    (probability ~|vocab|^2 / 2^65 — ~1e-5 at 20M distinct grams)
    merges them consistently in candidates and verification,
    overcounting one intersection slot for pairs holding both.

    ``unit`` picks the gram vocabulary (see ``_gram_hash_set``): char
    trigrams for short strings; ``"word"`` or an int shingle width for
    documents, where the rare-token tail keeps prefixes selective at
    corpus scale.

    ``max_gram_df`` (RECALL KNOB — standard AllPairs practice): when
    set, grams whose document frequency exceeds the cap are dropped
    from candidate generation (never from verification). Bounds the
    candidate join on adversarial corpora where many documents consist
    ENTIRELY of ultra-frequent grams — exactly those documents have no
    sub-cap gram in their prefix and generate no candidates, so pairs
    among them are missed. Precision is unaffected (verification stays
    exact); recall is complete for every pair in which either side
    retains one sub-cap prefix gram.

    ``"auto"`` (the default — scale-safe out of the box) derives the
    cap from the corpus's own gram-frequency profile with one cheap
    action on the (persisted) gram frame: cap = max(p99 of the
    distinct-gram document frequencies, 20), ENABLED only when the
    most frequent gram exceeds 10x that cap — i.e. a detectable
    boilerplate spike towers over the df distribution's own tail, the
    corpus shape whose candidate volume is quadratic in the spike.
    On flat profiles (max df within 10x of p99 — e.g. char trigrams,
    whose alphabet^3 universe saturates uniformly) auto resolves to
    None and the join is EXACT — so auto only trades recall on
    corpora where the uncapped join is already quadratic-infeasible,
    and the pairs it can miss are all-boilerplate near-template pairs
    (exact-dedup territory). Pass None to force the exact join
    regardless of profile (the oracle-checked mode); pass an int to
    pin the cap.

    The gram document frequency (the rank key) reaches each gram row by
    one of two plans, chosen from ``unit`` (identical values and rank
    order either way):

    - char trigrams (``unit='char3'``): a map-side-combined
      ``groupBy(g).count()`` (its exchange carries distinct grams only)
      broadcast-joined back onto the gram frame, so the prefix build's
      only corpus-wide exchange is the id one its rank windows need
      anyway — the full-frame sort by g never happens. Safe because at
      most |alphabet|^3 trigrams exist no matter the corpus size, the
      same vocabulary-bounded broadcast contract as the LM scoring
      joins (corpus.py).
    - word/shingle units: ``count(*) over (partition by g)`` — one full
      exchange + sort of the gram frame by g, since an open
      vocabulary's distinct-gram table can outgrow any broadcast."""
    gs = _gram_hash_set(text_col, unit)
    if max_gram_df == "auto":
        # Profile the df distribution on an INDEPENDENT, UNPERSISTED
        # plan (one extra explode+agg scan), then build the join. Do
        # NOT run this action through the tracked `grams` persist
        # below: materializing that cache before the join compiles
        # feeds exact InMemoryRelation statistics to the planner,
        # which flipped a verify-side join to a broadcast build of a
        # multi-hundred-MB frame (measured 58 s -> 207 s for the whole
        # join — the broadcast build stage alone burned 5.8k exec-s).
        # p99 (not p99.9): far from approxQuantile's 0.001-rank error
        # band, and boilerplate vocabularies are <<1% of distinct
        # grams at any scale where the cap matters; enable the cap
        # only when a spike towers 10x over that tail.
        prof = (
            df.select(F.explode(gs).alias("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("gc"))
        )
        qs = prof.stat.approxQuantile("gc", [0.99, 1.0], 0.001)
        if qs:
            cap = max(int(qs[0]), 20)
            max_gram_df = cap if qs[1] > 10 * cap else None
        else:
            max_gram_df = None
        if max_gram_df is not None:
            # surface the data-dependent recall change (round-8 ADVICE):
            # callers see WHICH cap auto derived and can pin it / None
            warnings.warn(
                f"trigram_similarity_pairs: max_gram_df='auto' enabled a "
                f"corpus-frequency cap of {max_gram_df} (p99 of gram df; "
                f"max df {int(qs[1])} > 10x). Grams above the cap are "
                f"excluded from candidate generation — pairs sharing ONLY "
                f"boilerplate grams fall to exact_dedup (docstring recall "
                f"contract). Pass max_gram_df=None for the exact join or "
                f"an int to pin the cap.",
                stacklevel=2,
            )
    grams = (
        # _gram_hash_set is array_distinct per doc, so (id, g) is already
        # unique — no global distinct shuffle needed
        track(df.select(F.col(id_col).alias("id"), F.explode(gs).alias("g")))
    )
    w = Window.partitionBy("id").orderBy("gc", "g")
    # Prefix length is EXACTLY ng - ceil(t*ng) + 1 (Bayardo et al. §3).
    # Computed as floor((1-t)*ng)+1 in floating point this comes out one
    # gram SHORT whenever (1-t)*ng is integral (t=0.8, ng=10: 0.2*10 ->
    # 1.9999999999999996 -> floor+1 = 2, required 3) and silently drops
    # qualifying pairs — so the ceil runs on t*ng nudged down by an
    # epsilon far below the 1-ulp scale of any realistic t*ng, which can
    # only lengthen the prefix (completeness-safe, never lossy).
    prefix_len = (
        F.col("ng")
        - F.ceil(F.lit(threshold) * F.col("ng") - F.lit(1e-9))
        + F.lit(1)
    )
    # gc (gram document frequency) and ng (per-doc set size): (id, g) is
    # unique, so the per-g count IS the document frequency and the
    # per-id window count IS the set size. char3's vocabulary is bounded
    # (alphabet^3), so its df table is one map-side-combined aggregate
    # broadcast back — the Exchange+sort of the gram frame by g never
    # happens. Open vocabularies (word/shingle) take the window, whose
    # exchange carries the gram frame once where a groupBy+join-back
    # would shuffle it twice. The ng window shares the id exchange the
    # rank window needs anyway.
    if unit == "char3":
        gdf = grams.groupBy("g").agg(F.count(F.lit(1)).alias("gc"))
        with_gc = grams.join(F.broadcast(gdf), "g")
    else:
        with_gc = grams.withColumn(
            "gc", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )
    prefix = (
        with_gc.withColumn("ng", F.count(F.lit(1)).over(Window.partitionBy("id")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= prefix_len)
    )
    if max_gram_df is not None:
        # rn stays ranked over the FULL order so the positional filter
        # keeps its meaning; the cap only removes frequent grams from
        # the candidate join (recall contract in the docstring)
        prefix = prefix.where(F.col("gc") <= max_gram_df)
    prefix = prefix.select("id", "g", "ng", "rn")
    # tracked persist: both join sides (a and b) read the prefix frame —
    # uncached, the gdf-join + window subtree plans twice. Caller (or
    # bench loop) releases via ezdata_spark.cache.release_caches().
    prefix = track(prefix)
    a = prefix.select(
        F.col("id").alias("id_a"), "g", F.col("ng").alias("n_a"), F.col("rn").alias("ra")
    )
    b = prefix.select(
        F.col("id").alias("id_b"), "g", F.col("ng").alias("n_b"), F.col("rn").alias("rb")
    )
    # Same epsilon hardening on every ceil-of-float bound: each must
    # never round UP past the exact rational value, or borderline pairs
    # are pruned before verification.
    min_overlap = F.ceil(
        F.lit(threshold / (1 + threshold)) * (F.col("n_a") + F.col("n_b"))
        - F.lit(1e-9)
    )
    # ACCUMULATED positional filter (r15): the candidate pair-dedup
    # shuffle (previously a plain .distinct()) now aggregates, per
    # pair, the EXACT count of shared prefix grams (cp) and the last
    # shared positions (max ra, max rb) — the same exchange, three
    # cheap partially-aggregated columns more — and prunes on
    #   cp + min(n_a - max(ra), n_b - max(rb)) >= min_overlap.
    # Exactness: every common gram NOT counted in cp is outside at
    # least one side's prefix, so its global rank exceeds that of the
    # last shared prefix gram g* (per-doc positions are ranked by the
    # one global (gc, g) order), hence it sits after max(ra) in A AND
    # after max(rb) in B; there are at most min(n_a - max(ra),
    # n_b - max(rb)) such grams, so the bound is a true overlap upper
    # bound and no qualifying pair is pruned. It is also always at
    # least as tight as the old per-row PPJoin bound
    # 1 + min(n_a - ra, n_b - rb) (ra_max >= ra_min + cp - 1), which
    # it therefore subsumes. On the sf0.1 template corpus — where the
    # per-row bound pruned 0% because candidates share entire
    # prefixes — this cuts candidates 3,431,419 -> 122,989 (27.9x,
    # measured in the brute-force oracle dialect), shrinking the
    # verify stage (the measured 2/3 of the query) by the same factor.
    cand = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.least("n_a", "n_b")
            >= F.ceil(F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(1e-9))
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(
            F.count(F.lit(1)).alias("_cp"),
            F.max("ra").alias("_ra"),
            F.max("rb").alias("_rb"),
        )
        .where(
            F.col("_cp")
            + F.least(F.col("n_a") - F.col("_ra"), F.col("n_b") - F.col("_rb"))
            >= min_overlap
        )
        .select("id_a", "id_b", "n_a", "n_b")
    )
    # PROGRESSIVE VERIFICATION (r14, measured 3.2x on the verify stage):
    # each doc's gram set is split into two halves by the gram id's
    # sign, so n_inter = |A0∩B0| + |A1∩B1| exactly (the split
    # partitions the gram universe, and per-doc sets are distinct).
    # The verify intersects HALF the width first, then prunes on the
    # exact bound  i0 + min(|A1|,|B1|) >= min_overlap  before paying
    # for the second half. On the sf0.1 corpus 99.97% of candidates
    # sit below jaccard 0.7 and die after the first half (candidate
    # jaccard histogram: 2.68M of 3.43M pairs < 0.6, 754k in
    # [0.6,0.7), 905 >= 0.7), cutting the array_intersect stage —
    # which is ~2/3 of the whole query and pure per-pair hash-set
    # compute, not shuffle — from 10.4 s to 3.3 s measured on the
    # full candidate set with bit-identical output. Deeper cascades
    # were measured SLOWER (quarter-split 3.6 s: two extra intersect
    # calls per surviving row outweigh the extra pruning).
    sets = track(
        grams.select("id", F.col("g").alias("gv"))
        .groupBy("id")
        .agg(F.collect_set("gv").alias("_gs"))
        .select(
            "id",
            F.filter("_gs", lambda x: x < 0).alias("h0"),
            F.filter("_gs", lambda x: ~(x < 0)).alias("h1"),
        )
    )
    sa_ = sets.select(
        F.col("id").alias("id_a"), F.col("h0").alias("a0"), F.col("h1").alias("a1")
    )
    sb_ = sets.select(
        F.col("id").alias("id_b"), F.col("h0").alias("b0"), F.col("h1").alias("b1")
    )
    verified = (
        cand.join(sa_, "id_a")
        .join(sb_, "id_b")
        .withColumn("_i0", F.size(F.array_intersect("a0", "b0")))
        # exact prune: half-1 overlap can add at most min(|A1|,|B1|)
        .where(
            F.col("_i0") + F.least(F.size("a1"), F.size("b1")) >= min_overlap
        )
        .withColumn("n_inter", F.col("_i0") + F.size(F.array_intersect("a1", "b1")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    )
    return verified
