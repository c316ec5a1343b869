"""Round-7 regression tests: ADVICE r6 findings + cache hygiene.

1. AllPairs prefix length must be the exact ng - ceil(t*ng) + 1 bound —
   the floating-point floor((1-t)*ng)+1 form computes one gram SHORT
   whenever (1-t)*ng is integral (t=0.8 with ng in 5,10,15,...) and
   silently drops qualifying pairs.
2. global_cumsum must survive all-NULL partitions and must not quantize
   double offsets through DECIMAL(38,6).
3. knn_cone without an explicit tiebreak must still produce a
   run-stable ranking (total order).
4. resample must floor-divide negative (pre-1970) epochs into
   left-closed buckets, not truncate toward zero.
5. Operators that persist intermediates register them with the tracked
   cache; release_caches() leaves zero persistent RDDs behind.
"""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def _trigrams(s: str) -> frozenset:
    s = s.lower()
    return frozenset(s[i : i + 3] for i in range(len(s) - 2))


def _brute_pairs(texts: dict, threshold: float) -> set:
    out = set()
    ids = sorted(texts)
    for i, a in enumerate(ids):
        ga = _trigrams(texts[a])
        if not ga:
            continue
        for b in ids[i + 1 :]:
            gb = _trigrams(texts[b])
            if not gb:
                continue
            inter = len(ga & gb)
            j = round(inter / (len(ga) + len(gb) - inter), 6)
            if j >= threshold:
                out.add((a, b))
    return out


def test_trigram_prefix_boundary_pair(spark):
    """Deterministic regression for the fp prefix bound: B's 12 trigrams
    are a subset of A's 15, jaccard = 12/15 = 0.8 EXACTLY. A's three
    unique grams (count 1) rank rarer than every shared gram (count 2),
    so A's prefix under the buggy floor((1-t)*ng)+1 length (3 instead of
    4) is entirely unique grams — disjoint from B's prefix — and the
    un-epsiloned size filter (ceil(0.8*15) -> 13 in fp) and positional
    filter (ceil(12.000000000000002) -> 13) each ALSO pruned this pair.
    All three fixes are needed for it to surface."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="abcdefghijklmnopq"),  # 15 trigrams
            Row(doc_id=2, text="abcdefghijklmn"),     # its 12-trigram prefix
        ]
    )
    got = trigram_similarity_pairs(df, threshold=0.8).collect()
    release_caches()
    assert len(got) == 1
    r = got[0]
    assert (r.id_a, r.id_b, r.n_inter, r.n_a, r.n_b) == (1, 2, 12, 15, 12)
    assert r.jaccard == 0.8


@pytest.mark.parametrize("threshold", [0.8, 0.9, 0.6])
def test_trigram_prefix_exact_bound(spark, threshold):
    """Equivalence vs Python brute force on an adversarial corpus whose
    gram-set sizes are multiples of 5 (where (1-t)*ng is integral for
    t=0.8) drawn from a 4-letter alphabet so near-dup pairs are dense
    and shortened prefixes actually lose candidates."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    import random

    rng = random.Random(7)
    texts = {}
    i = 0
    # strings of length 7/12/17 -> up to 5/10/15 trigrams; resample until
    # the DISTINCT gram count is exactly the multiple of 5, which is the
    # regime the fp bug bites
    for length, want in [(7, 5), (12, 10), (17, 15)]:
        made = 0
        while made < 30:
            s = "".join(rng.choice("abcd") for _ in range(length))
            if len(_trigrams(s)) == want:
                texts[i] = s
                i += 1
                made += 1
    # plus mutated near-copies to guarantee qualifying pairs exist
    base_ids = list(texts)
    for bid in base_ids[:40]:
        s = list(texts[bid])
        pos = rng.randrange(len(s))
        s[pos] = rng.choice("abcd")
        texts[i] = "".join(s)
        i += 1

    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in texts.items()]
    )
    got = {
        (r.id_a, r.id_b)
        for r in trigram_similarity_pairs(df, threshold=threshold).collect()
    }
    release_caches()
    want = _brute_pairs(texts, threshold)
    assert got == want, (
        f"t={threshold}: missing={sorted(want - got)[:5]} "
        f"extra={sorted(got - want)[:5]}"
    )


def test_similarity_word_unit_equivalence(spark):
    """unit='word' must equal Python brute force on word token sets —
    the long-document scale configuration."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(12)) for i in range(120)
    }

    def wset(s):
        return frozenset(s.lower().split())

    want = set()
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ga, gb = wset(texts[a]), wset(texts[b])
            inter = len(ga & gb)
            if round(inter / (len(ga) + len(gb) - inter), 6) >= 0.6:
                want.add((a, b))

    df = spark.createDataFrame([Row(doc_id=k, text=v) for k, v in texts.items()])
    got = {
        (r.id_a, r.id_b)
        for r in trigram_similarity_pairs(df, threshold=0.6, unit="word").collect()
    }
    release_caches()
    assert got == want


def test_similarity_shingle_unit(spark):
    """Integer unit = word n-shingles; docs shorter than n tokens have
    NO shingles (regression: sequence(1, 0) is descending in Spark and
    fabricated partial shingles)."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import _gram_hash_set, trigram_similarity_pairs

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e"),
            Row(doc_id=2, text="a b c d f"),
            Row(doc_id=3, text="x y"),       # shorter than n=3: no shingles
            Row(doc_id=4, text=""),
        ]
    )
    g = {
        r.doc_id: sorted(r.g)
        for r in df.select("doc_id", _gram_hash_set("text", 3).alias("g")).collect()
    }

    def ids(*shingles):
        row = spark.range(1).select(*[F.xxhash64(F.lit(s)) for s in shingles]).first()
        return sorted(row)

    assert g[1] == ids("a b c", "b c d", "c d e")
    assert g[2] == ids("a b c", "b c d", "c d f")
    assert g[3] == [] and g[4] == []

    out = trigram_similarity_pairs(df, threshold=0.6, unit=3).collect()
    release_caches()
    # docs 1,2 share 2 of 4 distinct shingles: jaccard 0.5 < 0.6 -> none
    assert out == []
    out2 = trigram_similarity_pairs(df, threshold=0.5, unit=3).collect()
    release_caches()
    assert [(r.id_a, r.id_b, r.jaccard) for r in out2] == [(1, 2, 0.5)]


def test_similarity_gram_df_cap_recall_contract(spark):
    """max_gram_df drops ultra-frequent grams from candidate generation:
    pairs of docs made ENTIRELY of capped grams are missed (documented
    recall contract), pairs with any sub-cap prefix gram survive, and no
    false positives appear."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    rows = []
    # 40 docs of pure boilerplate words (every gram df=40+)
    for i in range(40):
        rows.append(Row(doc_id=i, text="the quick brown fox jumps"))
    # 2 near-dup docs with rare tokens alongside the boilerplate
    rows.append(Row(doc_id=100, text="the quick brown rareword1 rareword2"))
    rows.append(Row(doc_id=101, text="the quick brown rareword1 rareword3"))
    df = spark.createDataFrame(rows)

    exact = {
        (r.id_a, r.id_b)
        for r in trigram_similarity_pairs(df, threshold=0.6, unit="word").collect()
    }
    release_caches()
    capped = {
        (r.id_a, r.id_b)
        for r in trigram_similarity_pairs(
            df, threshold=0.6, unit="word", max_gram_df=10
        ).collect()
    }
    release_caches()
    # exact finds all boilerplate pairs + the rare pair
    assert (100, 101) in exact and len(exact) == 40 * 39 // 2 + 1
    # capped keeps the rare-gram pair, loses the all-frequent pairs,
    # introduces nothing new
    assert capped == {(100, 101)}


def test_global_cumsum_null_partition(spark):
    """A range partition whose values are entirely NULL must not raise
    (Decimal('None')) and must contribute 0 to downstream offsets."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.window import global_cumsum

    rows = [Row(k=i, v=(None if 300 <= i < 700 else float(i))) for i in range(1000)]
    df = spark.createDataFrame(rows).repartition(8)
    out = (
        global_cumsum(df, "v", [F.col("k")], name="cum")
        .orderBy("k")
        .collect()
    )
    release_caches()
    acc = 0.0
    for r in out:
        if r.v is not None:
            acc += r.v
            assert abs(r.cum - acc) < 1e-6, (r.k, r.cum, acc)


def test_global_cumsum_double_not_quantized(spark):
    """Double offsets must carry full precision across partition
    boundaries — the old DECIMAL(38,6) literal quantized each boundary
    at 1e-6."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.window import global_cumsum

    # tiny values: any 1e-6 quantization of a partition offset is
    # catastrophic relative error
    rows = [Row(k=i, v=1e-9 * (i + 1)) for i in range(4000)]
    df = spark.createDataFrame(rows).repartition(16)
    out = global_cumsum(df, "v", [F.col("k")], name="cum").orderBy("k").collect()
    release_caches()
    acc = 0.0
    for r in out:
        acc += r.v
        assert abs(r.cum - acc) <= 1e-15 + 1e-9 * abs(acc), (r.k, r.cum, acc)


def test_global_cumsum_bigint(spark):
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.window import global_cumsum

    rows = [Row(k=i, v=i * 1_000_003) for i in range(2000)]
    df = spark.createDataFrame(rows).repartition(8)
    out = global_cumsum(df, "v", [F.col("k")], name="cum").orderBy("k").collect()
    release_caches()
    acc = 0
    for r in out:
        acc += r.v
        assert r.cum == acc


def test_knn_cone_default_tiebreak_deterministic(spark):
    """No explicit tiebreak: ranking must be identical across different
    input partitionings (total order from appended right columns)."""
    from ezdata_spark.functions.astro import knn_cone

    left = spark.createDataFrame(
        [Row(lid=i, ra=float(i % 360), dec=float((i % 120) - 60)) for i in range(40)]
    )
    # equidistant ties by construction: several right rows at the same
    # rounded separation from each left row
    right = spark.createDataFrame(
        [
            Row(rid=j, ra=float(j % 360), dec=float((j % 120) - 60))
            for j in range(200)
        ]
    )

    def run(l, r):
        out = knn_cone(
            l, r, k=3, radius_deg=5.0, id_left="lid",
            ra_l="ra", dec_l="dec", ra_r="ra", dec_r="dec",
        )
        return sorted(
            (r_.lid, r_.knn_rank, r_.rid) for r_ in out.collect()
        )

    a = run(left.repartition(2), right.repartition(3))
    b = run(left.repartition(7), right.repartition(11))
    assert a == b


def test_resample_negative_epoch_floor(spark):
    """Pre-1970 timestamps must land in left-closed floor buckets."""
    from ezdata_spark.operators.timeseries import resample

    ts = [
        datetime.datetime(1969, 12, 31, 23, 59, 10),  # epoch -50
        datetime.datetime(1969, 12, 31, 23, 58, 30),  # epoch -90
        datetime.datetime(1970, 1, 1, 0, 0, 50),      # epoch 50
    ]
    df = spark.createDataFrame([Row(ts=t) for t in ts])
    out = {
        r.bucket: r.n
        for r in resample(df, "ts", 60, dense=False).collect()
    }
    # floor(-50/60)=-1 -> bucket epoch -60; floor(-90/60)=-2 -> -120
    assert out == {
        datetime.datetime(1969, 12, 31, 23, 59): 1,
        datetime.datetime(1969, 12, 31, 23, 58): 1,
        datetime.datetime(1970, 1, 1, 0, 0): 1,
    }


def test_resample_dense_negative_epoch_grid(spark):
    from ezdata_spark.operators.timeseries import resample

    ts = [
        datetime.datetime(1969, 12, 31, 23, 58, 30),
        datetime.datetime(1970, 1, 1, 0, 0, 50),
    ]
    df = spark.createDataFrame([Row(ts=t) for t in ts])
    out = sorted(r.bucket for r in resample(df, "ts", 60, dense=True).collect())
    # grid from floor(-90/60)*60=-120 to floor(50/60)*60=0, step 60
    assert out == [
        datetime.datetime(1969, 12, 31, 23, 58),
        datetime.datetime(1969, 12, 31, 23, 59),
        datetime.datetime(1970, 1, 1, 0, 0),
    ]


def test_cache_hygiene_tracked_release(spark, sf_dir):
    """Every operator that persists registers with the tracked cache;
    after materialize + release_caches() there are zero persistent RDDs
    left in the context (VERDICT r6 'What's wrong' #1)."""
    from ezdata_spark.cache import release_caches, tracked_count
    from ezdata_spark.operators.corpus import tf_idf_top_terms, unigram_logprob
    from ezdata_spark.operators.dedup import (
        minhash_dedup,
        trigram_similarity_pairs,
    )
    from ezdata_spark.operators.graph import triangle_count
    from ezdata_spark.operators.window import global_cumsum, global_row_id

    def persistent_rdd_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    release_caches()
    spark.catalog.clearCache()
    # baseline SET, not a count: in a full-suite session MLlib (KMeans
    # in the ANN tests) leaves internal RDD-API persists that clearCache
    # cannot touch, and Spark's async ContextCleaner may evict some of
    # those third-party persists WHILE this test runs — so a count
    # comparison is direction-blind (r12 flake: 11 vs 33 because the
    # baseline shrank underneath us). A leak from OUR operators is
    # strictly a NEW id that survives release_caches(); ids vanishing
    # from the baseline are someone else's cleanup, not our problem.
    base = persistent_rdd_ids()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(500)

    runs = [
        lambda: tf_idf_top_terms(docs, k=3),
        lambda: unigram_logprob(docs),
        lambda: minhash_dedup(docs, "text", "doc_id"),
        lambda: trigram_similarity_pairs(docs, threshold=0.8),
        lambda: triangle_count(
            orders.selectExpr(
                "o_custkey % 97 AS src", "o_orderkey % 89 AS dst"
            )
        ),
        lambda: global_row_id(orders, ["o_orderkey"]),
        lambda: global_cumsum(
            orders, "o_totalprice", [F.col("o_orderkey")], name="cum"
        ),
    ]
    for fn in runs:
        df = fn()
        df.write.format("noop").mode("overwrite").save()
        assert tracked_count() > 0  # the operator registered its persists
        release_caches()
        assert tracked_count() == 0
        leaked = persistent_rdd_ids() - base
        assert not leaked, (fn, leaked)
