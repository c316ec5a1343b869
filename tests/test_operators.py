"""Operator-level tests: binned aggs vs numpy, dedup estimators vs exact
Jaccard, LSH recall vs brute force, healpix self-consistency (the
rows-only queries' correctness backstop per FIXTURES.md §C)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


# ---------------------------------------------------------------------
# binned aggregation vs numpy.histogramdd (xarray.py parity)
# ---------------------------------------------------------------------
def test_histogram_matches_numpy(spark):
    rng = np.random.RandomState(0)
    vals = rng.uniform(0, 10, 2000)
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")

    from ezdata_spark.operators.binned import histogram

    got = {
        r["x__bin"]: r["count"]
        for r in histogram(df, "x", nbins=20, lo=0.0, hi=10.0).collect()
    }
    expected, _ = np.histogram(vals, bins=20, range=(0, 10))
    assert [got[i] for i in range(20)] == expected.tolist()


def test_histogram_densifies_empty_bins(spark):
    df = spark.createDataFrame([(1.0,), (9.0,)], "x double")
    from ezdata_spark.operators.binned import histogram

    rows = histogram(df, "x", nbins=10, lo=0.0, hi=10.0).collect()
    assert len(rows) == 10
    assert sum(r["count"] for r in rows) == 2


def test_guess_bins_matches_reference_formula(spark):
    """guess_bins (xarray.py:23-31): dx = min spacing of sorted unique
    values, edges = arange(min - dx/2, max + 0.6 dx, dx); histogram with
    nbins=None must reproduce np.histogram on those edges."""
    vals = [0.0, 0.5, 1.0, 1.5, 3.0, 3.5, 7.0, 7.0, 0.5]
    df = spark.createDataFrame([(v,) for v in vals], "x double")

    from ezdata_spark.operators.binned import guess_bins, histogram

    x = np.asarray(vals)
    xu = np.sort(np.unique(x))
    dx = np.diff(xu).min()
    ref_edges = np.arange(xu.min() - 0.5 * dx, xu.max() + 0.6 * dx, dx)
    got_edges = guess_bins(df, "x")
    np.testing.assert_allclose(got_edges, ref_edges)

    expected, _ = np.histogram(x, bins=ref_edges)
    got = {r["x__bin"]: r["count"] for r in histogram(df, "x", nbins=None).collect()}
    assert [got[i] for i in range(len(ref_edges) - 1)] == expected.tolist()


def test_guess_bins_rejects_degenerate_and_continuous(spark):
    from ezdata_spark.operators.binned import guess_bins

    one = spark.createDataFrame([(1.0,), (1.0,)], "x double")
    with pytest.raises(ValueError):
        guess_bins(one, "x")
    many = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    with pytest.raises(ValueError):
        guess_bins(many, "x", max_distinct=50)


def test_plotter_hist_guess_bins(spark):
    """Plotter.hist(bins=None) puts every distinct quantized value in
    its own bin (the reference's casual-hist default)."""
    from ezdata_spark.plotting import Plotter
    from ezdata_spark.table import EzTable

    df = spark.createDataFrame([(float(v),) for v in [1.0, 2.0, 2.0, 4.0]], "x double")
    h = Plotter(EzTable(df)).hist("x", bins=None)
    centers = (h.edges[:-1] + h.edges[1:]) / 2
    got = {round(float(c), 6): int(n) for c, n in zip(centers, h.counts) if n}
    assert got == {1.0: 1, 2.0: 2, 4.0: 1}


def test_binned_statistic_matches_scipy_mean(spark):
    rng = np.random.RandomState(1)
    x = rng.uniform(0, 10, 500)
    v = rng.normal(0, 1, 500)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, v)], "x double, v double"
    )
    from ezdata_spark.operators.binned import BinSpec, binned_statistic

    got = {
        r["x__bin"]: r["mean"]
        for r in binned_statistic(df, [BinSpec("x", 0.0, 10.0, 5)], "v").collect()
    }
    for i in range(5):
        mask = (x >= i * 2) & (x < (i + 1) * 2) | ((i == 4) & (x == 10.0))
        if mask.any():
            assert got[i] == pytest.approx(v[mask].mean(), rel=1e-9)


def test_binned_statistic_mode(spark):
    """Datashader `mode` reduction (datashader.py:132-133): per-bin most
    frequent value, checked against a numpy bincount mode on frames with
    unambiguous modes (ties are engine-defined both here and in scipy)."""
    from ezdata_spark.operators.binned import BinSpec, binned_statistic

    rows = []
    # bin 0 (x in [0,2)): values dominated by 7; bin 1: by 3
    rows += [(0.5, 7.0)] * 5 + [(1.0, 1.0)] * 2
    rows += [(2.5, 3.0)] * 4 + [(3.0, 9.0)]
    df = spark.createDataFrame(rows, "x double, v double")
    got = {
        r["x__bin"]: r["mode"]
        for r in binned_statistic(df, [BinSpec("x", 0.0, 4.0, 2)], "v", "mode").collect()
    }
    assert got == {0: 7.0, 1: 3.0}


def test_parse_agg_mode(spark):
    from ezdata_spark.operators.groupby import parse_agg
    from ezdata_spark.table import EzTable

    df = spark.createDataFrame([(1, 5.0), (1, 5.0), (1, 2.0)], "g int, v double")
    out = df.groupBy("g").agg(parse_agg(EzTable(df), "mode(v)").alias("m")).collect()
    assert out[0].m == 5.0


# ---------------------------------------------------------------------
# dedup: minhash estimate ~ exact jaccard; simhash similarity property
# ---------------------------------------------------------------------
def _doc_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")
    far = "completely different words in this unrelated document " * 5
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)], "doc_id long, text string"
    )


def test_minhash_estimates_jaccard(spark):
    from ezdata_spark.operators.dedup import minhash_dedup

    out = minhash_dedup(_doc_pairs(spark), "text", "doc_id", threshold=0.3,
                        num_hashes=128, bands=32, shingle_n=3)
    rows = {(r.id_a, r.id_b): r.jaccard_est for r in out.collect()}
    assert rows[(0, 1)] == 1.0  # identical docs
    assert (0, 3) not in rows and (1, 3) not in rows  # unrelated below threshold
    assert 0.3 <= rows[(0, 2)] <= 1.0  # near-dup found


def test_simhash_hamming_tracks_similarity(spark):
    from ezdata_spark.operators.dedup import simhash

    fps = {r.doc_id: r.simhash for r in simhash(_doc_pairs(spark), "text", "doc_id").collect()}
    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert fps[0] == fps[1]
    assert ham(fps[0], fps[2]) < ham(fps[0], fps[3])


def test_exact_dedup_representatives(spark):
    from ezdata_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "doc_id long, text string"
    )
    rows = {r.text: (r.keep_id, r.n_copies) for r in exact_dedup(df, ["text"], "doc_id").collect()}
    assert rows == {"x": (1, 2), "y": (3, 1)}


# ---------------------------------------------------------------------
# similarity: LSH recall vs brute force on the real embeddings fixture
# ---------------------------------------------------------------------
def test_lsh_recall_vs_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")

    from ezdata_spark.operators.similarity import cosine_topk, cosine_topk_lsh

    exact = {(r.qid, r.vec_id) for r in cosine_topk(emb, qs, k=10).collect()}
    # random-uniform embeddings are near-orthogonal (cosine ~0.2-0.5),
    # the hardest case for hyperplane LSH: use short codes + more tables
    approx = {(r.qid, r.vec_id) for r in
              cosine_topk_lsh(emb, qs, k=10, dim=64, n_planes=4, n_tables=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_prebuilt_index_matches_inline(spark, sf_dir):
    """cosine_topk_lsh(index=lsh_index(...)) must return exactly the
    rows the inline (index-less) probe returns — the split only moves
    the corpus bucket computation out of the query path."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    from ezdata_spark.operators.similarity import cosine_topk_lsh, lsh_index

    kw = dict(k=10, dim=64, n_planes=4, n_tables=8)
    idx = lsh_index(emb, dim=64, n_planes=4, n_tables=8)
    inline = {tuple(r) for r in cosine_topk_lsh(emb, qs, **kw).collect()}
    via_index = {tuple(r) for r in cosine_topk_lsh(emb, qs, index=idx, **kw).collect()}
    assert via_index == inline and len(inline) > 0


def test_lsh_bucket_engines_agree(spark, sf_dir):
    """Both _bucket_frame engines produce exactly the (id, tbl, bucket)
    rows of a numpy sign-bucket reference — the sign rule (bit i =
    strictly dot(v, plane_i) > 0) is the whole contract. At 4 tables x
    64 dims, 4 planes take the JVM higher-order-function path and 8
    the Arrow matmul path."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    from ezdata_spark.operators.similarity import lsh_index, random_hyperplanes

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    V = np.asarray([r.embedding for r in rows], dtype=np.float64)
    for n_planes in (4, 8):
        want = set()
        for t in range(4):
            P = np.asarray(random_hyperplanes(64, n_planes, seed=42 + t))
            bits = (V @ P.T > 0) @ (1 << np.arange(n_planes))
            want |= {(i, t, int(b)) for i, b in zip(ids, bits)}
        got = {tuple(r) for r in
               lsh_index(emb, dim=64, n_planes=n_planes, n_tables=4).collect()}
        assert got == want and len(got) > 0, n_planes


def test_lsh_multiprobe_improves_recall(spark, sf_dir):
    """Multiprobe (query-side bucket expansion) must (a) expand every
    query's candidate set to a superset of the single-probe candidates
    over the SAME index, and (b) lift recall vs exact top-k on a table
    budget too small for plain LSH."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("qid"), "embedding")
    from ezdata_spark.operators.similarity import (
        _multi_buckets,
        _multi_probe_buckets,
        cosine_topk,
        cosine_topk_lsh,
        random_hyperplanes,
    )

    # (a) probe-bucket sets are supersets: base bucket always included,
    # n_probes=1 expansion identical to _multi_buckets
    planes = [random_hyperplanes(64, 4, seed=42 + t) for t in range(2)]
    rows = qs.select(
        _multi_buckets("embedding", planes).alias("single"),
        _multi_probe_buckets("embedding", planes, 3).alias("multi"),
    ).collect()
    for r in rows:
        single = {(x.tbl, x.bucket) for x in r.single}
        multi = {(x.tbl, x.bucket) for x in r.multi}
        assert single <= multi and len(multi) == 6  # 2 tables x 3 probes

    # (b) recall is monotone in probe width and the full single-bit
    # neighbourhood lifts it substantially on a deliberately starved
    # config (1 table; uniform-random embeddings are the hardest case
    # for hyperplane LSH — measured 0.175 -> 0.312 over p=1..7)
    exact = {(r.qid, r.vec_id) for r in cosine_topk(emb, qs, k=10).collect()}
    kw = dict(k=10, dim=64, n_planes=6, n_tables=1)
    recalls = []
    for p in (1, 4, 7):
        got = {(r.qid, r.vec_id) for r in
               cosine_topk_lsh(emb, qs, n_probes=p, **kw).collect()}
        recalls.append(len(exact & got) / len(exact))
    assert recalls == sorted(recalls), f"recall not monotone in probes: {recalls}"
    assert recalls[-1] >= recalls[0] + 0.1, f"multiprobe lift too small: {recalls}"


def test_knn_join_recall_vs_exact(spark, sf_dir):
    """knn_join (IVF-cell candidate join) vs the exact broadcast top-k
    with the left table as the query set: full-probe must be EXACT (all
    cells searched), partial probe keeps high recall."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    from ezdata_spark.operators.similarity import cosine_topk, ivf_index, knn_join

    n_cells = 8
    indexed, cents = ivf_index(emb, n_cells=n_cells)
    exact = {(r.qid, r.vec_id) for r in
             cosine_topk(emb, left.withColumnRenamed("doc_id", "qid"),
                         k=5, qid_col="qid").collect()}
    full = {(r.doc_id, r.vec_id) for r in
            knn_join(left, indexed, cents, k=5, nprobe=n_cells).collect()}
    assert full == exact  # probing every cell is the exact join
    part = {(r.doc_id, r.vec_id) for r in
            knn_join(left, indexed, cents, k=5, nprobe=4).collect()}
    recall = len(exact & part) / len(exact)
    assert recall >= 0.7, f"knn_join nprobe=4/8 recall too low: {recall}"
    # corpus sharding is a pure execution-shape knob: per-shard top-k
    # unioned through the global window must equal the unsharded join
    sharded = {(r.doc_id, r.vec_id) for r in
               knn_join(left, indexed, cents, k=5, nprobe=n_cells,
                        shard_corpus=4).collect()}
    assert sharded == exact
    # float32 scoring is an execution-precision knob for the
    # approximate path: identical neighbour sets here (ties are far
    # wider than the ~1e-7 f32 cosine error on this fixture)
    f32 = {(r.doc_id, r.vec_id) for r in
           knn_join(left, indexed, cents, k=5, nprobe=n_cells,
                    score_dtype="float32").collect()}
    assert f32 == exact


def test_select_topk_desc_matches_stable_argsort():
    """The argpartition-based selection must match the full stable
    argsort contract — (value desc, column asc) — exactly, including
    heavy boundary ties (the case plain argpartition gets wrong)."""
    import numpy as np

    from ezdata_spark.operators.similarity import _select_topk_desc

    rng = np.random.RandomState(3)
    for trial in range(25):
        ncol = int(rng.randint(1, 40))
        kb = int(rng.randint(1, 12))
        m = rng.randint(0, 4, size=(8, ncol)) / 2.0  # many exact ties
        if trial % 2:
            m = rng.randn(8, ncol)  # continuous: no ties
        ref_top = np.argsort(-m, axis=1, kind="stable")[:, : min(kb, ncol)]
        ref_val = np.take_along_axis(m, ref_top, axis=1)
        vals, cols = _select_topk_desc(m, min(kb, ncol))
        assert np.array_equal(vals, ref_val), (trial, kb, ncol)
        assert np.array_equal(cols, ref_top), (trial, kb, ncol)


def test_cosine_topk_self_is_top1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("qid"), "embedding")
    from ezdata_spark.operators.similarity import cosine_topk

    top1 = {r.qid: r.vec_id for r in cosine_topk(emb, qs, k=1).collect()}
    assert top1 == {0: 0, 1: 1, 2: 2}


# ---------------------------------------------------------------------
# healpix: self-consistency of the NESTED ang2pix implementation
# ---------------------------------------------------------------------
def test_healpix_bounds_and_total(spark, sf_dir):
    from ezdata_spark.functions.astro import add_column_healpix

    sky = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey", "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec"
    )
    order = 3
    df = add_column_healpix(sky, order=order)
    grid = df.groupBy("healpix").agg(F.count(F.lit(1)).alias("n")).collect()
    npix = 12 * (2**order) ** 2
    assert all(0 <= r.healpix < npix for r in grid)
    assert sum(r.n for r in grid) == sky.count()


def test_healpix_nested_prefix_property(spark, sf_dir):
    """NESTED scheme invariant: pix(order k) == pix(order k+1) div 4."""
    from ezdata_spark.functions.astro import add_column_healpix

    sky = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey", "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec"
    )
    a = add_column_healpix(sky, order=3, name="h3")
    b = add_column_healpix(a, order=4, name="h4")
    bad = b.filter(F.expr("h4 div 4") != F.col("h3")).count()
    assert bad == 0


def test_healpix_ring_consistency_with_nested(spark, sf_dir):
    """RING and NESTED index the SAME cell partition of the sphere, just
    in different orders: the multiset of per-cell counts must be equal
    at order 3, pixel ids must cover [0, 12*nside^2), and at nside=1 the
    two orderings coincide pixel-by-pixel (a known HEALPix identity).
    Ring-structure invariant: the first 4 RING pixels are the north
    polar cap's first ring, the last 4 the south cap's."""
    from ezdata_spark.functions.astro import add_column_healpix

    sky = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey", "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec"
    )
    order = 3
    npix = 12 * (2**order) ** 2
    nested = add_column_healpix(sky, order=order, name="hn")
    both = add_column_healpix(nested, order=order, name="hr", nest=False)
    rows = both.select("hn", "hr").collect()
    assert all(0 <= r.hr < npix for r in rows)
    from collections import Counter

    cn = Counter(r.hn for r in rows)
    cr = Counter(r.hr for r in rows)
    assert sorted(cn.values()) == sorted(cr.values())
    # the nested->ring cell relabeling must be a consistent bijection
    mapping = {}
    for r in rows:
        assert mapping.setdefault(r.hn, r.hr) == r.hr
    assert len(set(mapping.values())) == len(mapping)

    # nside=1: RING == NESTED identically
    o0 = add_column_healpix(sky, order=0, name="n0")
    o0 = add_column_healpix(o0, order=0, name="r0", nest=False)
    assert o0.filter(F.col("n0") != F.col("r0")).count() == 0

    # poles: north pole in ring pixels 0..3, south pole in the last 4
    poles = spark.createDataFrame([(0.0, 89.9999), (0.0, -89.9999)], "ra double, dec double")
    pr = {r.dec: r.healpix for r in add_column_healpix(poles, order=order, nest=False).collect()}
    assert pr[89.9999] < 4 and pr[-89.9999] >= npix - 4


def test_sphdist_known_values(spark):
    from ezdata_spark.functions.astro import sphdist

    df = spark.createDataFrame([(0.0, 0.0, 90.0, 0.0), (10.0, 20.0, 10.0, 20.0)],
                               "ra1 double, dec1 double, ra2 double, dec2 double")
    got = df.select(sphdist("ra1", "dec1", "ra2", "dec2").alias("d")).collect()
    assert got[0].d == pytest.approx(90.0, abs=1e-9)
    assert got[1].d == pytest.approx(0.0, abs=1e-12)


def test_sexagesimal_roundtrip_property(spark):
    from ezdata_spark.functions.astro import deg2dms, deg2hms, dms2deg, hms2deg

    df = spark.createDataFrame(
        [(d,) for d in [0.0, 15.125, 123.456, 359.9, 42.0]], "deg double"
    )
    out = df.select(
        "deg",
        hms2deg(deg2hms(F.col("deg"))).alias("h_rt"),
        dms2deg(deg2dms(F.col("deg") - 90.0)).alias("d_rt"),
    ).collect()
    for r in out:
        assert r.h_rt == pytest.approx(r.deg, abs=5e-4)
        assert r.d_rt == pytest.approx(r.deg - 90.0, abs=5e-3)


# ---------------------------------------------------------------------
# text stats
# ---------------------------------------------------------------------
def test_token_count_and_quality(spark):
    from ezdata_spark.operators.textstats import quality_features

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "!!! ??? ...")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in quality_features(df).collect()}
    assert rows[1].n_tokens == 6
    assert rows[1].stopword_ratio == pytest.approx(2 / 6)
    assert rows[2].punct_ratio > 0.5
    assert rows[1].quality_score > rows[2].quality_score


def test_lang_id_votes(spark):
    from ezdata_spark.operators.textstats import lang_id

    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "der hund ist nicht da"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.lang_pred for r in lang_id(df).collect()}
    assert rows == {1: "en", 2: "de", 3: "und"}


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=n_cells degenerates to exact search; with fewer
    probes recall@5 stays high on clustered data."""
    from ezdata_spark.operators.similarity import cosine_topk, ivf_index, ivf_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    exact = {
        (r.qid, r.vec_id) for r in cosine_topk(emb, qs, k=5).collect()
    }
    indexed, cents = ivf_index(emb, n_cells=4)
    indexed = indexed.persist()
    # all cells probed == exact
    full = {(r.qid, r.vec_id) for r in ivf_topk(indexed, cents, qs, k=5, nprobe=4).collect()}
    assert full == exact
    # partial probe: recall@5 >= 0.6 (every query's own vector must be found)
    part = {(r.qid, r.vec_id) for r in ivf_topk(indexed, cents, qs, k=5, nprobe=2).collect()}
    assert len(part & exact) / len(exact) >= 0.6
    assert all((q, q) in part for q in range(5))


def test_pairwise_neardup_lsh_recall_and_plan(spark):
    """The bucketed near-dup path (q83) must (a) reach recall >= 0.9 vs
    the exact theta-join pairs (q52 semantics) at sf0.01 and (b) plan as
    an equi-join — no BroadcastNestedLoopJoin / cartesian anywhere."""
    from ezdata_spark.operators.similarity import _dot, normalize, pairwise_near_dup

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    n = normalize(emb, "embedding", "v").select("vec_id", "v")
    a = n.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = n.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _dot(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= 0.35)
        .select("id_a", "id_b")
        .collect()
    }
    approx_df = pairwise_near_dup(emb, threshold=0.35, n_planes=3, n_tables=12)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan, plan
    approx = {(r.id_a, r.id_b) for r in approx_df.collect()}
    assert approx <= exact  # rescore is exact: no false positives
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"near-dup LSH recall too low: {recall}"


def test_pairwise_neardup_lsh_prunes_at_tight_threshold(spark):
    """At a production near-dup threshold (cosine >= 0.95) deep codes
    find all planted duplicate pairs while examining far fewer than
    n^2/2 candidate pairs."""
    import numpy as np

    from ezdata_spark.operators.similarity import pairwise_near_dup

    rng = np.random.RandomState(0)
    base = rng.randn(200, 32)
    rows = [(i, base[i].tolist()) for i in range(200)]
    # plant 20 near-exact duplicates: id 1000+i ~ id i
    for i in range(20):
        rows.append((1000 + i, (base[i] + 0.01 * rng.randn(32)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = pairwise_near_dup(df, threshold=0.95, n_planes=10, n_tables=4)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert {(i, 1000 + i) for i in range(20)} <= pairs
    # candidate volume: sum of C(bucket_size, 2) over tables << n^2/2
    from ezdata_spark.operators.similarity import _multi_buckets, random_hyperplanes

    planes_list = [random_hyperplanes(32, 10, seed=7 + t) for t in range(4)]
    bucketed = df.select(F.explode(_multi_buckets("embedding", planes_list)).alias("tb"))
    sizes = (
        bucketed.groupBy("tb.tbl", "tb.bucket")
        .count()
        .agg(F.sum(F.expr("count * (count - 1) / 2")).alias("cand"))
        .first()
        .cand
    )
    assert sizes < (220 * 219 / 2) * 0.2, f"no pruning: {sizes} candidates"


def test_global_row_id_no_single_partition_stage(spark, sf_dir):
    """Positional ids must not funnel through one task: the plan has no
    Exchange SinglePartition, and ids are dense 0..n-1 in key order."""
    from ezdata_spark.operators.window import global_row_id

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ids = global_row_id(df, ["o_orderkey"], "rid")
    plan = ids._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    rows = ids.select("o_orderkey", "rid").orderBy("rid").collect()
    assert [r.rid for r in rows] == list(range(len(rows)))
    keys = [r.o_orderkey for r in rows]
    assert keys == sorted(keys)


def test_lag_column_global_matches_window_and_plan(spark, sf_dir):
    """Global lag (no partition_by) must equal the textbook window lag
    while planning without a single-partition exchange."""
    from pyspark.sql import Window

    from ezdata_spark.operators.window import lag_column

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "value")
    got_df = lag_column(ev, "value", "event_id", 2)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    got = {r.event_id: r.value_lag2 for r in got_df.collect()}
    ref = {
        r.event_id: r.ref
        for r in ev.withColumn("ref", F.lag("value", 2).over(Window.orderBy("event_id"))).collect()
    }
    assert got == ref


def test_salted_agg_matches_plain(spark, sf_dir):
    from ezdata_spark.operators.skew import salted_agg
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r.l_returnflag: (r.total, r.n)
        for r in salted_agg(
            df,
            ["l_returnflag"],
            {"total": ("sum(l_quantity)", "sum({p})"), "n": ("count(1)", "sum({p})")},
            salt_n=8,
        ).collect()
    }
    ref = {
        r.l_returnflag: (r.total, r.n)
        for r in df.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        assert got[k][1] == ref[k][1]
        assert abs(got[k][0] - ref[k][0]) < 1e-6


def test_bpe_ish_token_count(spark):
    from ezdata_spark.operators.textstats import bpe_ish_token_count, token_count

    df = spark.createDataFrame(
        [(1, "Hello world"), (2, "don't split-this badly!"), (3, "CamelCaseWords x2")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.bpe, r.ws)
        for r in df.select(
            "doc_id",
            bpe_ish_token_count("text").alias("bpe"),
            token_count("text").alias("ws"),
        ).collect()
    }
    for doc_id, (bpe, ws) in rows.items():
        assert bpe >= ws  # word pieces at least as granular as words
    assert rows[3][0] >= 4  # CamelCase splits on capitals: Camel/Case/Words + x + 2


def test_densify_null_category(spark):
    """A null category is a real bin: densify must not zero its count
    (null-safe grid join)."""
    from ezdata_spark.operators.binned import BinSpec, binned_agg
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a",), (None,), (None,)], "cat string")
    out = binned_agg(
        df, [BinSpec("cat", categorical=True)], {"n": F.count(F.lit(1))}, densify=True
    )
    got = {r["cat__bin"]: r["n"] for r in out.collect()}
    assert got == {"a": 1, None: 2}


def test_count_cat_and_histogram_df(spark, sf_dir):
    from ezdata_spark.operators.binned import BinSpec, count_cat, histogram_df
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cc = count_cat(li, [BinSpec("l_quantity", 0.0, 51.0, 5)], "l_returnflag")
    flags = {r[0] for r in li.select("l_returnflag").distinct().collect()}
    assert flags <= set(cc.columns)
    total = cc.select(sum(F.sum(c) for c in flags).alias("t")).collect()[0]["t"]
    assert total == li.count()

    h = histogram_df(li, "l_quantity", ["l_extendedprice"], nbins=5, lo=0.0, hi=51.0)
    rows = h.collect()
    assert len(rows) == 5  # densified
    assert sum(r["count"] for r in rows) == li.count()
    ref = li.agg(F.sum("l_extendedprice")).collect()[0][0]
    assert abs(sum(r["sum_l_extendedprice"] for r in rows) - ref) < 1e-4


def test_histogram_like_nonuniform_edges(spark):
    """xr_histogram_like parity: arbitrary edges, right-closed last bin,
    out-of-range dropped, empty bins densified."""
    import numpy as np

    from ezdata_spark.operators.binned import histogram_like

    vals = [0.5, 1.0, 2.5, 7.0, 10.0, 11.0, -1.0, 4.0]
    edges = [0.0, 1.0, 5.0, 10.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = {r["x__bin"]: r["count"] for r in histogram_like(df, "x", edges).collect()}
    ref, _ = np.histogram(vals, bins=edges)
    assert rows == {i: int(c) for i, c in enumerate(ref)}
    assert sum(rows.values()) == 6  # -1 and 11 out of range


def test_histogram_like_empty_bin_fill_policy(spark):
    """Non-additive stats keep empty bins null via fill={stat: None}
    (binned_agg policy), instead of a misleading 0 (round-1 ADVICE)."""
    import pyspark.sql.functions as F

    from ezdata_spark.operators.binned import histogram_like

    df = spark.createDataFrame([(0.5, 10.0), (7.0, 20.0)], "x double, y double")
    edges = [0.0, 1.0, 5.0, 10.0]
    out = {
        r["x__bin"]: (r["n"], r["mean_y"])
        for r in histogram_like(
            df, "x", edges,
            aggs={"n": F.count(F.lit(1)), "mean_y": F.avg("y")},
            fill={"mean_y": None},
        ).collect()
    }
    assert out[0] == (1, 10.0)
    assert out[1] == (0, None)  # count fills 0, mean stays null
    assert out[2] == (1, 20.0)


# ---------------------------------------------------------------------
# pipeline tier round 3: repetition / gopher gate / PII / sampling /
# packing / segment dedup
# ---------------------------------------------------------------------
def test_repetition_stats_known_values(spark):
    from ezdata_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "w x y z"), (3, "solo")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    # doc1: 6 words, 2 distinct -> dup 2/3; bigrams: ab,ba,ab,ba,ab -> top 3/5
    assert rows[1].n_words == 6
    assert rows[1].dup_word_frac == pytest.approx(2 / 3)
    assert rows[1].top_bigram_frac == pytest.approx(3 / 5)
    assert rows[2].dup_word_frac == 0.0 and rows[2].top_bigram_frac == pytest.approx(1 / 3)
    assert rows[3].n_words == 1 and rows[3].top_bigram_frac == 0.0


def test_pii_scan_and_redact(spark):
    from ezdata_spark.operators.textstats import pii_scan, redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.b@x.org and c@d.io, call 555-123-4567, host 10.0.0.1"),
         (2, "clean text without identifiers")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(pii_scan(df)).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (2, 1, 1)
    assert out[1].redacted == "mail <EMAIL> and <EMAIL>, call <PHONE>, host <IPV4>"
    assert (out[2].n_email, out[2].n_phone, out[2].n_ipv4) == (0, 0, 0)
    assert out[2].redacted == out[2].text


def test_stratified_sample_exact_counts_and_determinism(spark, sf_dir):
    from ezdata_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    samp = stratified_sample(docs, "source", 0.3, "doc_id", seed=1)
    got = {r[0]: r[1] for r in samp.groupBy("source").count().collect()}
    import math

    assert got == {k: math.ceil(0.3 * v) for k, v in per.items()}
    ids1 = {r.doc_id for r in samp.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in stratified_sample(docs, "source", 0.3, "doc_id", seed=1)
        .select("doc_id").collect()
    }
    assert ids1 == ids2  # deterministic
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert ids1 <= all_ids
    # different seed -> (almost surely) different membership, same counts
    ids3 = {
        r.doc_id
        for r in stratified_sample(docs, "source", 0.3, "doc_id", seed=2)
        .select("doc_id").collect()
    }
    assert len(ids3) == len(ids1) and ids3 != ids1
    # approximate variant runs and stays a subset
    approx = stratified_sample(docs, "source", 0.3, "doc_id", exact=False)
    assert {r.doc_id for r in approx.select("doc_id").collect()} <= all_ids


def test_pack_sequences_invariants(spark):
    from ezdata_spark.operators.sampling import pack_sequences

    rows = [(i, int(l)) for i, l in enumerate([100, 200, 50, 300, 120, 80, 999, 10, 10])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = pack_sequences(df, max_len=256, n_shards=2).collect()
    assert len(packed) == len(rows)  # no doc lost or duplicated
    by_pack: dict = {}
    for r in packed:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pid, members in by_pack.items():
        budget = sum(min(m.n_tokens, 256) for m in members)
        assert budget <= 256, f"pack {pid} over budget: {budget}"
        assert sorted(m.pack_pos for m in members) == list(range(len(members)))
    # oversize doc (999 tokens) sits alone in its pack
    big = [r for r in packed if r.doc_id == 6][0]
    assert len(by_pack[big.pack_id]) == 1
    # deterministic across runs
    again = {(r.doc_id, r.pack_id, r.pack_pos) for r in
             pack_sequences(df, max_len=256, n_shards=2).collect()}
    assert again == {(r.doc_id, r.pack_id, r.pack_pos) for r in packed}


def test_segment_dedup_first_occurrence_wins(spark):
    from ezdata_spark.operators.dedup import segment_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"),   # segs [a..j], [k l]
         (2, "a b c d e f g h i j x y"),   # first seg dup of doc1 -> dropped
         (3, "k l")],                      # seg dup of doc1's tail -> empty
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.text for r in segment_dedup(df, seg_words=10).collect()}
    assert rows == {1: "a b c d e f g h i j k l", 2: "x y", 3: ""}


def test_neardup_clusters_match_union_find(spark):
    """Distributed min-label propagation must agree with a driver-side
    union-find on the same pair list (chains force several rounds)."""
    import random

    rng = random.Random(0)
    edges = [(i, i + 1) for i in range(0, 40, 1) if i % 7 != 6]  # broken chains
    edges += [(100 + rng.randrange(10), 100 + rng.randrange(10)) for _ in range(15)]
    edges = [(a, b) if a < b else (b, a) for a, b in edges if a != b]

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    from ezdata_spark.operators.dedup import neardup_clusters

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.cluster_id for r in neardup_clusters(pairs).collect()}
    assert got == expected


def test_mix_corpus_weights_and_determinism(spark, sf_dir):
    from ezdata_spark.operators.sampling import mix_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    w = {"src0": 1.0, "src1": 0.5}
    mixed = mix_corpus(docs, "source", w, "doc_id")
    import math

    got = {r[0]: r[1] for r in mixed.groupBy("source").count().collect()}
    assert got == {k: math.ceil(f * per[k]) for k, f in w.items()}
    ids1 = {r.doc_id for r in mixed.select("doc_id").collect()}
    ids2 = {r.doc_id for r in mix_corpus(docs, "source", w, "doc_id").select("doc_id").collect()}
    assert ids1 == ids2
    # unweighted sources are dropped entirely
    kept_sources = {r[0] for r in mixed.select("source").distinct().collect()}
    assert kept_sources == set(w)


def test_quantize_int8_roundtrip_error_bound(spark, sf_dir):
    from ezdata_spark.operators.similarity import dequantize_int8, quantize_int8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = quantize_int8(emb)
    # int8 range respected
    assert q.filter(F.expr("aggregate(q, 0, (m, x) -> greatest(m, abs(x))) > 127")).count() == 0
    d = dequantize_int8(q)
    joined = emb.select("vec_id", F.col("embedding").alias("orig")).join(d, "vec_id")
    viol = joined.filter(
        F.expr("aggregate(zip_with(orig, embedding, (a, b) -> abs(a - b)), 0D, (m, x) -> greatest(m, x))")
        > F.col("q_scale") / 2 + 1e-12
    ).count()
    assert viol == 0


# ---------------------------------------------------------------------
# corpus curation tier (operators/corpus.py): decontamination, TF-IDF,
# BM25, per-key caps, unigram LM, semantic dedup
# ---------------------------------------------------------------------
def test_decontaminate_known_overlap(spark):
    from ezdata_spark.operators.corpus import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares "quick brown fox"
            (2, "a totally different sentence here"),
            (3, "quick brown fox quick brown fox"),  # same 3-gram twice -> 1 distinct hit
            (4, "ab"),                           # shorter than n
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "lazy quick brown fox sleeps")], "doc_id long, text string"
    )
    # the join runs on 64-bit gram ids; the hand-counted string-gram
    # overlap must come out unchanged
    got = {r.doc_id: (r.n_hit, r.contaminated)
           for r in decontaminate(train, bench, n=3).collect()}
    assert got == {1: (1, True), 2: (0, False), 3: (1, True), 4: (0, False)}


def test_tfidf_matches_manual(spark):
    import math

    from ezdata_spark.operators.corpus import tf_idf_top_terms

    corpus = [(0, "a a b"), (1, "a c"), (2, "b b b d")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {(r.doc_id, r.term): (r.tf, r.tfidf, r.rank)
           for r in tf_idf_top_terms(df, k=2).collect()}

    n = 3
    dfreq = {"a": 2, "b": 2, "c": 1, "d": 1}
    for doc_id, text in corpus:
        toks = text.split()
        tf = {t: toks.count(t) for t in set(toks)}
        scored = sorted(
            (
                (round(c * (math.log((n + 1) / (dfreq[t] + 1)) + 1.0), 6), t, c)
                for t, c in tf.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )[:2]
        for rank, (s, t, c) in enumerate(scored, 1):
            assert got[(doc_id, t)] == (c, pytest.approx(s, abs=1e-6), rank)


def test_bm25_matches_manual(spark):
    import math

    from ezdata_spark.operators.corpus import bm25_scores

    corpus = [(0, "x y x z"), (1, "x q q"), (2, "w w w w w w")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: r.score for r in bm25_scores(df, ["x", "w"]).collect()}

    n, k1, b = 3, 1.2, 0.75
    lens = {0: 4, 1: 3, 2: 6}
    avgdl = sum(lens.values()) / n
    tf = {(0, "x"): 2, (1, "x"): 1, (2, "w"): 6}
    dfreq = {"x": 2, "w": 1}
    expected: dict = {}
    for (d, t), f in tf.items():
        idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
        part = idf * (f * (k1 + 1)) / (f + k1 * (1 - b + b * lens[d] / avgdl))
        expected[d] = expected.get(d, 0.0) + part
    assert set(got) == set(expected)
    for d in expected:
        assert got[d] == pytest.approx(expected[d], abs=1e-6)


def test_cap_per_key_cap_and_determinism(spark, sf_dir):
    from ezdata_spark.operators.corpus import cap_per_key

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    capped = cap_per_key(docs, "source", cap=3)
    counts = {r.source: r.n for r in
              capped.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    full = {r.source: r.n for r in
            docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for src, n_full in full.items():
        assert counts[src] == min(3, n_full)
    # deterministic: same subset on a second evaluation
    ids1 = sorted(r.doc_id for r in capped.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in cap_per_key(docs, "source", cap=3)
                  .select("doc_id").collect())
    assert ids1 == ids2


def test_unigram_logprob_matches_manual(spark):
    import math

    from ezdata_spark.operators.corpus import unigram_logprob

    corpus = [(0, "a a b"), (1, "b c")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: (r.n_tok, r.avg_nll) for r in unigram_logprob(df).collect()}

    cw = {"a": 2, "b": 2, "c": 1}
    t_tokens, vocab = 5, 3
    for doc_id, text in corpus:
        toks = text.split()
        nll = sum(-math.log((cw[t] + 1) / (t_tokens + vocab)) for t in toks) / len(toks)
        assert got[doc_id][0] == len(toks)
        assert got[doc_id][1] == pytest.approx(nll, abs=1e-6)


def test_semantic_dedup_within_cell_brute_force(spark):
    """The keep-set must equal a driver-side brute force: within each
    KMeans cell, connected components over cosine>=t pairs keep only
    the min id."""
    rng = np.random.RandomState(7)
    base = rng.randn(30, 8)
    # plant exact duplicate groups: (30,0), (31,1), (32,1)
    vecs = np.vstack([base, base[0:1], base[1:2], base[1:2]])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )

    from ezdata_spark.operators.corpus import semantic_dedup

    got = {r.vec_id: (r.cell, r.keep) for r in
           semantic_dedup(df, threshold=0.999, n_cells=4, seed=1).collect()}
    assert len(got) == len(vecs)

    # brute force using the SAME cell assignment the operator produced
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    parent = {i: i for i in range(len(vecs))}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            if got[i][0] == got[j][0] and float(norm[i] @ norm[j]) >= 0.999:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    expected_keep = {i: find(i) == i for i in range(len(vecs))}
    assert {i: k for i, (_, k) in got.items()} == expected_keep
    # exact duplicates share a nearest centroid, so drops must happen:
    # 30 duplicates 0, and {31, 32} duplicate 1 -> exactly 3 dropped
    assert sum(not k for k in expected_keep.values()) == 3


def test_filter_funnel_counts(spark):
    from ezdata_spark.operators.corpus import filter_funnel

    df = spark.createDataFrame(
        [(i, "x" * (10 if i % 2 else 100), "en" if i < 6 else "fr") for i in range(8)],
        "doc_id long, text string, lang string",
    )
    got = {r.stage: r.n_kept for r in filter_funnel(
        df,
        [
            ("long_enough", F.length("text") > 50),   # even ids: 0,2,4,6
            ("lang_en", F.col("lang") == "en"),       # ids < 6 -> 0,2,4
        ],
    ).collect()}
    assert got == {"total": 8, "long_enough": 4, "lang_en": 3}


def test_split_by_hash_cover_disjoint_deterministic(spark, sf_dir):
    from ezdata_spark.operators.corpus import split_by_hash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    split = split_by_hash(docs, fractions={"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in
              split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n          # total cover, no dropped rows
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)  # proportions roughly honored
    # same id -> same split on re-evaluation
    a = {r.doc_id: r.split for r in split.select("doc_id", "split").collect()}
    b = {r.doc_id: r.split for r in
         split_by_hash(docs, fractions={"train": 0.8, "val": 0.1, "test": 0.1})
         .select("doc_id", "split").collect()}
    assert a == b

    with pytest.raises(ValueError):
        split_by_hash(docs, fractions={"train": 0.5, "val": 0.1})


def test_curate_composition(spark):
    from ezdata_spark.operators.corpus import curate

    df = spark.createDataFrame(
        [
            (0, "keep me please today", "en", "s1"),
            (1, "keep me please today", "en", "s1"),   # exact dup of 0 -> dropped
            (2, "tiny", "en", "s1"),                    # too short
            (3, "une phrase assez longue", "fr", "s1"), # wrong lang
            (4, "another good document here", "en", "s1"),
            (5, "yet another fine document", "en", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = sorted(r.doc_id for r in
                 curate(df, min_chars=10, max_chars=100, langs=["en"], cap=5).collect())
    assert got == [0, 4, 5]


def test_decontaminate_stateless_matches_static(spark):
    from ezdata_spark.operators.corpus import (
        decontaminate,
        decontaminate_stateless,
        word_ngrams,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "a different sentence entirely")],
        "doc_id long, text string",
    )
    bench_df = spark.createDataFrame(
        [(9, "lazy quick brown fox naps")], "doc_id long, text string"
    )
    bench_grams = [
        r.ng for r in bench_df.select(
            F.explode(word_ngrams("text", 3)).alias("ng")).distinct().collect()
    ]
    static = {r.doc_id: r.contaminated for r in
              decontaminate(docs, bench_df, n=3).collect()}
    stateless = {r.doc_id: r.contaminated for r in
                 decontaminate_stateless(docs, bench_grams, n=3).collect()}
    assert stateless == static == {1: True, 2: False}


def test_incremental_new_delta_dedup(spark):
    from ezdata_spark.operators.corpus import incremental_new

    hist = spark.createDataFrame(
        [(100, "seen before"), (101, "also old news")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, "seen before"),        # in history -> dropped
            (2, "brand new content"),
            (3, "brand new content"),  # dup within batch -> lowest id kept
            (4, "another fresh doc"),
        ],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in incremental_new(batch, hist).collect())
    assert got == [2, 4]


# ---------------------------------------------------------------------
# distributed BPE merge learning vs a pure-Python reference
# ---------------------------------------------------------------------
def _py_bpe(word_counts: dict, n_merges: int):
    """Reference BPE (Sennrich alg.) with the same deterministic
    tiebreak: max count, then (a, b) lexicographic."""
    vocab = {w: [*w, "</w>"] for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs: dict = {}
        for w, syms in vocab.items():
            c = word_counts[w]
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] = pairs.get((x, y), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w, syms in vocab.items():
            out, prev = [], None
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
            vocab[w] = out
    return merges, vocab


def test_learn_bpe_matches_python_reference(spark):
    from ezdata_spark.operators.bpe import learn_bpe

    corpus = [
        "low low low lower lower newest newest newest newest widest",
        "widest widest newest low",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                               "doc_id long, text string")
    word_counts: dict = {}
    for t in corpus:
        for w in t.split():
            word_counts[w] = word_counts.get(w, 0) + 1

    exp_merges, exp_vocab = _py_bpe(word_counts, 12)
    got_merges, got_vocab_df = learn_bpe(df, n_merges=12)
    assert got_merges == exp_merges
    got_vocab = {r.word: list(r.symbols) for r in got_vocab_df.collect()}
    assert got_vocab == exp_vocab


def test_segment_words_applies_learned_merges(spark):
    from ezdata_spark.operators.bpe import learn_bpe, segment_words

    df = spark.createDataFrame(
        [(0, "banana bandana banana band")], "doc_id long, text string"
    )
    merges, _ = learn_bpe(df, n_merges=6)
    new = spark.createDataFrame([("banana",), ("bananas",), ("b",)], "word string")
    segs = {r.word: list(r.symbols) for r in segment_words(new, merges).collect()}
    # segmentation is lossless: symbols re-concatenate to word + </w>
    for w, syms in segs.items():
        assert "".join(syms) == w + "</w>"
    # a word from the training corpus compresses below char count + 1
    assert len(segs["banana"]) < len("banana") + 1


def test_pq_recall_vs_exact(spark, sf_dir):
    """Product quantization: ADC top-k with exact rescore must recover
    most of the true cosine top-10 on the embeddings fixture, and the
    ADC-only path must place each query's own vector first."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")

    from ezdata_spark.operators.similarity import (
        cosine_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    books = pq_train(emb, m=8, k=16)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    enc = pq_encode(emb, books).persist()
    codes = enc.select("codes").first()["codes"]
    assert len(codes) == 8 and all(0 <= c < 16 for c in codes)

    exact = {(r.qid, r.vec_id) for r in cosine_topk(emb, qs, k=10).collect()}
    # random-uniform embeddings are near-orthogonal — the hardest case
    # for PQ (same reason the LSH recall gate is 0.5); real clustered
    # embeddings quantize far better
    approx = {(r.qid, r.vec_id) for r in pq_topk(enc, books, qs, k=10, oversample=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.55, f"PQ recall too low: {recall}"

    # ADC-only (no rescore): the query's own code word maximizes the LUT sum
    adc = pq_topk(enc, books, qs, k=1, rescore=False).collect()
    assert all(r.qid == r.vec_id for r in adc), [(r.qid, r.vec_id) for r in adc]

    # the Arrow LUT-gather scan's per-batch top-K under (adc desc, id
    # asc) is a monotone filter, so the rescored result must match a
    # full-scan ADC reference pair-for-pair: score every code, keep the
    # top k*oversample, rescore exactly, rank
    CB = np.asarray(books)
    corpus = enc.select("vec_id", "codes", "v").collect()
    cids = np.asarray([r.vec_id for r in corpus])
    codes = np.asarray([r.codes for r in corpus])
    Vn = np.asarray([r.v for r in corpus])
    ref = set()
    for r in qs.collect():
        q = np.asarray(r.embedding, dtype=np.float64)
        q = q / np.linalg.norm(q)
        lut = np.einsum("jd,jcd->jc", q.reshape(8, 8), CB)
        adc = sum(lut[j, codes[:, j]] for j in range(8))
        cand = np.lexsort((cids, -adc))[:80]
        cos = Vn[cand] @ q
        top = cand[np.lexsort((cids[cand], -cos))[:10]]
        ref |= {(r.qid, int(i)) for i in cids[top]}
    assert ref == approx
    enc.unpersist()


# ---------------------------------------------------------------------
# as-of / range joins (operators/asof.py)
# ---------------------------------------------------------------------
def test_asof_join_backward_forward_tolerance(spark):
    from ezdata_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [(1, 10.0, "t1"), (1, 20.0, "t2"), (1, 4.0, "t0"), (2, 15.0, "t3")],
        "k long, ts double, tag string",
    )
    quotes = spark.createDataFrame(
        [(1, 5.0, 100.0), (1, 10.0, 110.0), (1, 18.0, 120.0), (2, 30.0, 200.0)],
        "k long, ts double, px double",
    )
    back = {
        (r.tag, r.ts_r, r.px_r)
        for r in asof_join(trades, quotes, on="ts", by="k").collect()
    }
    # t1@10 matches the equal-ts quote@10; t0@4 has no earlier quote (inner drops)
    assert back == {("t1", 10.0, 110.0), ("t2", 18.0, 120.0)}

    left = {
        (r.tag, r.ts_r, r.px_r)
        for r in asof_join(trades, quotes, on="ts", by="k", how="left").collect()
    }
    assert ("t0", None, None) in left and ("t3", None, None) in left and len(left) == 4

    fwd = {
        (r.tag, r.ts_r, r.px_r)
        for r in asof_join(trades, quotes, on="ts", by="k", direction="forward").collect()
    }
    # t0@4 -> quote@5; t2@20 has no later quote on k=1; t3@15 -> quote@30 (k=2)
    assert fwd == {("t0", 5.0, 100.0), ("t1", 10.0, 110.0), ("t3", 30.0, 200.0)}

    tol = {
        (r.tag, r.ts_r)
        for r in asof_join(trades, quotes, on="ts", by="k", tolerance=2.0).collect()
    }
    # t2@20 vs quote@18 = gap 2 (kept); t1@10 gap 0
    assert tol == {("t1", 10.0), ("t2", 18.0)}


def test_asof_join_null_event_times_never_match(spark):
    """SQL comparison semantics: a NULL event time on either side is
    UNKNOWN vs every timestamp, so it never matches (DuckDB ASOF JOIN
    drops such rows). Window null-ordering must not smuggle one in."""
    from ezdata_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [(1, 10.0, "t1"), (1, None, "tnull"), (2, 7.0, "t2")],
        "k long, ts double, tag string",
    )
    quotes = spark.createDataFrame(
        [(1, 5.0, 100.0), (1, None, 999.0), (2, None, 888.0)],
        "k long, ts double, px double",
    )
    for direction in ("backward", "forward"):
        inner = {
            (r.tag, r.ts_r, r.px_r)
            for r in asof_join(
                trades, quotes, on="ts", by="k", direction=direction
            ).collect()
        }
        # tnull (null left ts) never matches; t2's only candidate has a
        # null ts -> no match; t1 matches only backward (quote@5 <= 10)
        expected = {("t1", 5.0, 100.0)} if direction == "backward" else set()
        assert inner == expected, (direction, inner)

    left = {
        (r.tag, r.ts_r, r.px_r)
        for r in asof_join(trades, quotes, on="ts", by="k", how="left").collect()
    }
    assert left == {("t1", 5.0, 100.0), ("tnull", None, None), ("t2", None, None)}


def test_asof_join_matches_duckdb(spark):
    """Cross-engine pin: the union-window construction must equal
    DuckDB's native ASOF JOIN on a random frame."""
    import duckdb
    import numpy as np

    from ezdata_spark.operators.asof import asof_join

    rng = np.random.RandomState(11)
    trades = [(int(k), float(t)) for k, t in zip(rng.randint(0, 5, 200), rng.uniform(0, 100, 200))]
    quotes_raw = [
        (int(k), float(t), float(p))
        for k, t, p in zip(rng.randint(0, 5, 80), rng.uniform(0, 100, 80), rng.uniform(1, 2, 80))
    ]
    # unique (k, ts) on the right: equal-ts duplicates make the matched
    # payload engine-dependent
    seen, quotes = set(), []
    for k, t, p in quotes_raw:
        if (k, t) not in seen:
            seen.add((k, t))
            quotes.append((k, t, p))

    tdf = spark.createDataFrame(trades, "k long, ts double")
    qdf = spark.createDataFrame(quotes, "k long, ts double, px double")
    got = {
        (r.k, round(r.ts, 9), round(r.px_r, 9))
        for r in asof_join(tdf, qdf, on="ts", by="k").collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t(k BIGINT, ts DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", trades)
    con.execute("CREATE TABLE q(k BIGINT, ts DOUBLE, px DOUBLE)")
    con.executemany("INSERT INTO q VALUES (?, ?, ?)", quotes)
    want = {
        (k, round(ts, 9), round(px, 9))
        for k, ts, px in con.execute(
            "SELECT t.k, t.ts, q.px FROM t ASOF JOIN q ON t.k = q.k AND t.ts >= q.ts"
        ).fetchall()
    }
    assert got == want


def test_range_join_inner_and_left(spark):
    from ezdata_spark.operators.asof import range_join

    pts = spark.createDataFrame([(1, 5.0), (2, 25.0), (3, 999.0)], "pid long, v double")
    bands = spark.createDataFrame(
        [(10, 0.0, 10.0), (20, 4.0, 30.0), (30, 100.0, 200.0)],
        "bid long, lo double, hi double",
    )
    inner = {
        (r.pid, r.bid) for r in range_join(pts, bands, "v", "lo", "hi", 8.0).collect()
    }
    assert inner == {(1, 10), (1, 20), (2, 20)}  # overlapping bands both match
    left = {
        (r.pid, r.bid)
        for r in range_join(pts, bands, "v", "lo", "hi", 8.0, how="left").collect()
    }
    assert left == inner | {(3, None)}
    with pytest.raises(ValueError, match="overlapping"):
        range_join(pts, pts.withColumnRenamed("pid", "p2"), "v", "lo", "hi", 8.0)


def test_interval_overlap_join(spark):
    """Bucketized overlap join equals the brute-force theta join on a
    random frame, with each pair exactly once (canonical-bucket dedup)."""
    import numpy as np

    from ezdata_spark.operators.asof import interval_overlap_join

    rng = np.random.RandomState(3)
    a = [(i, float(lo), float(lo + rng.uniform(0, 25))) for i, lo in enumerate(rng.uniform(0, 100, 60))]
    b = [(j, float(lo), float(lo + rng.uniform(0, 25))) for j, lo in enumerate(rng.uniform(0, 100, 40))]
    adf = spark.createDataFrame(a, "aid long, alo double, ahi double")
    bdf = spark.createDataFrame(b, "bid long, blo double, bhi double")
    got = [
        (r.aid, r.bid)
        for r in interval_overlap_join(adf, bdf, "alo", "ahi", "blo", "bhi", 10.0).collect()
    ]
    want = [
        (i, j)
        for i, alo, ahi in a
        for j, blo, bhi in b
        if alo <= bhi and blo <= ahi
    ]
    assert sorted(got) == sorted(want)  # exactly once each: no dupes


def test_approx_stats_close_to_exact(spark, sf_dir):
    """HLL distinct within rsd bounds and approx median within 2% of the
    exact on the lineitem fixture."""
    from ezdata_spark.operators.stats import approx_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = approx_stats(
        li, ["l_orderkey", "l_extendedprice"], rsd=0.02, quantiles=[0.5]
    ).collect()[0]
    exact_distinct = li.select("l_orderkey").distinct().count()
    exact_median = li.selectExpr("percentile(l_extendedprice, 0.5)").collect()[0][0]
    assert abs(row["l_orderkey_approx_distinct"] - exact_distinct) <= 0.1 * exact_distinct
    assert abs(row["l_extendedprice_p50"] - exact_median) <= 0.02 * exact_median

    per_group = approx_stats(li, ["l_extendedprice"], group_by=["l_returnflag"])
    assert per_group.count() == li.select("l_returnflag").distinct().count()


def test_approx_stats_quantile_names_unique(spark):
    """Fractional quantiles keep distinct, dot-free column names —
    int(round(q*100)) collided 0.5 and 0.501 into one _p50 column."""
    from ezdata_spark.operators.stats import approx_stats

    df = spark.range(0, 100).select(F.col("id").cast("double").alias("x"))
    out = approx_stats(df, ["x"], quantiles=[0.5, 0.501, 0.001, 1.0])
    names = [c for c in out.columns if c.startswith("x_p")]
    assert names == ["x_p50", "x_p50_1", "x_p0_1", "x_p100"]
    assert len(set(names)) == len(names)
    with pytest.raises(ValueError, match="duplicate"):
        approx_stats(df, ["x"], quantiles=[0.5, 0.5])


def test_asof_join_timestamp_tolerance(spark):
    """tolerance on a timestamp event-time column is interpreted in
    seconds (exact integer-microsecond arithmetic)."""
    from ezdata_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [(1, "2026-01-01 00:10:00", "t1"), (1, "2026-01-01 02:00:00", "t2")],
        "k long, ts string, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [(1, "2026-01-01 00:00:00", 1.0)], "k long, ts string, px double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r.tag
        for r in asof_join(
            trades, quotes, on="ts", by="k", tolerance=3600.0
        ).collect()
    }
    assert got == {"t1"}  # t2 is 2h past the quote: outside the 1h tolerance


def test_asof_join_right_tiebreak_deterministic(spark):
    """Equal-(key, ts) right rows: the greatest tiebreak value wins,
    independent of partition order."""
    from ezdata_spark.operators.asof import asof_join

    trades = spark.createDataFrame([(1, 10.0, "t1")], "k long, ts double, tag string")
    quotes = spark.createDataFrame(
        [(1, 5.0, 7, 100.0), (1, 5.0, 9, 300.0), (1, 5.0, 8, 200.0)],
        "k long, ts double, qid long, px double",
    ).repartition(3)
    for _ in range(3):
        rows = asof_join(
            trades, quotes, on="ts", by="k",
            right_cols=["px"], right_tiebreak=["qid"],
        ).collect()
        assert len(rows) == 1 and rows[0].px_r == 300.0  # qid=9 wins


# ------------------------------------------------- fuzzy pairs (FastSS)
def test_fuzzy_pairs_complete_vs_brute_force(spark):
    """Deletion-neighborhood blocking finds EXACTLY the brute-force
    edit-distance<=1 pairs: substitutions, insertions, deletions in,
    transpositions (distance 2) out."""
    import itertools

    from ezdata_spark.operators.dedup import fuzzy_pairs

    words = [
        "spark", "spars", "sparks", "park", "spak", "psark",  # sub/del/ins/transpose
        "table", "cable", "tble", "tables", "stable",
        "query", "q", "", "xyz",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {(r.left, r.right, r.dist) for r in fuzzy_pairs(df, "w").collect()}

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return d[len(b)]

    want = {
        (a, b, lev(a, b))
        for a, b in itertools.combinations(sorted(set(words)), 2)
        if lev(a, b) <= 1
    }
    assert got == want
    assert ("spark", "psark", 1) not in got  # transposition is distance 2
    import pytest

    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_pairs(df, "w", max_dist=2)


def test_fuzzy_pairs_no_cartesian_plan(spark):
    from ezdata_spark.operators.dedup import fuzzy_pairs

    df = spark.createDataFrame([("abc",), ("abd",)], "w string")
    plan = fuzzy_pairs(df, "w")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ----------------------------------------------------------- event funnel
def test_funnel_vs_manual(spark):
    """Per-user ordered reachability with a time budget, verified
    against a driver-side replay."""
    from ezdata_spark.operators.window import funnel

    rows = [
        # u1 converts fully within budget
        (1, "2024-01-01 00:00:00", "signup"),
        (1, "2024-01-01 00:10:00", "click"),
        (1, "2024-01-01 00:20:00", "purchase"),
        # u2 clicks BEFORE signup -> click doesn't count
        (2, "2024-01-01 00:05:00", "click"),
        (2, "2024-01-01 00:06:00", "signup"),
        (2, "2024-01-01 00:07:00", "purchase"),
        # u3 clicks too late (outside 1h budget)
        (3, "2024-01-01 00:00:00", "signup"),
        (3, "2024-01-01 02:00:00", "click"),
        # u4 same-timestamp click -> strict > excludes it
        (4, "2024-01-01 00:00:00", "signup"),
        (4, "2024-01-01 00:00:00", "click"),
        # u5 never signs up
        (5, "2024-01-01 00:00:00", "purchase"),
    ]
    df = spark.createDataFrame(
        [(u, t, e) for u, t, e in rows], "user_id long, ts string, event_type string"
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts"))
    out = {
        (r.step_index, r.step): r.users
        for r in funnel(
            df, "user_id", "ts", "event_type",
            ["signup", "click", "purchase"], within_seconds=3600,
        ).collect()
    }
    assert out == {(1, "signup"): 4, (2, "click"): 1, (3, "purchase"): 1}


def test_funnel_no_time_budget(spark):
    from pyspark.sql import functions as F

    from ezdata_spark.operators.window import funnel

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a"), (1, "2024-03-01 00:00:00", "b")],
        "user_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.step: r.users for r in funnel(df, "user_id", "ts", "event_type", ["a", "b"]).collect()}
    assert out == {"a": 1, "b": 1}  # months apart still converts without a budget


# ------------------------------------------------- linear classifier
def test_linear_score_vs_numpy(spark):
    import numpy as np

    from ezdata_spark.operators.textstats import linear_score

    docs = spark.createDataFrame(
        [
            (1, "good great good"),
            (2, "bad awful"),
            (3, "neutral words only"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    weights = spark.createDataFrame(
        [("good", 2.0), ("great", 1.0), ("bad", -2.0), ("awful", -3.0)],
        "term string, weight double",
    )
    got = {r.doc_id: (r.n_tokens, r.prob) for r in linear_score(docs, weights, bias=0.5).collect()}

    def sig(z):
        return 1.0 / (1.0 + np.exp(-z))

    assert got[1][0] == 3 and got[1][1] == pytest.approx(sig((2 + 1 + 2) / 3 + 0.5))
    assert got[2][1] == pytest.approx(sig((-2 - 3) / 2 + 0.5))
    assert got[3][1] == pytest.approx(sig(0.5))  # all OOV -> bias only
    assert got[4][0] == 0 and got[4][1] == pytest.approx(sig(0.5))  # empty doc


def test_linear_score_broadcasts_vocab(spark):
    from ezdata_spark.operators.textstats import linear_score

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    weights = spark.createDataFrame([("a", 1.0)], "term string, weight double")
    plan = linear_score(docs, weights)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------- text chunking
def test_chunk_text_vs_manual(spark):
    """Sliding-window chunking: stride/overlap math, tail chunk, short
    and empty docs — verified against a driver-side replay."""
    from ezdata_spark.operators.corpus import chunk_text

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens, chunk 4 stride 3
            (2, "a b"),  # under one window -> one chunk
            (3, ""),  # empty -> nothing
            (4, "x " * 4),  # exactly one window
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_index): (r.chunk, r.chunk_tokens)
        for r in chunk_text(docs, chunk_tokens=4, overlap=1).collect()
    }

    def manual(tokens, chunk, overlap):
        stride = chunk - overlap
        n = len(tokens)
        if n == 0:
            return []
        k = 1 if n <= chunk else -(-(n - chunk) // stride) + 1
        return [
            (" ".join(tokens[i * stride : i * stride + chunk]), min(chunk, n - i * stride))
            for i in range(k)
        ]

    for doc_id, text in [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (4, "x x x x")]:
        toks = text.split()
        want = manual(toks, 4, 1)
        have = [got[(doc_id, i)] for i in range(len(want))]
        assert have == want, (doc_id, have, want)
    assert not any(k[0] == 3 for k in got)
    # every consecutive pair overlaps by exactly `overlap` tokens (except the tail)
    c0, c1 = got[(1, 0)][0].split(), got[(1, 1)][0].split()
    assert c0[-1:] == c1[:1]
    import pytest

    with pytest.raises(ValueError, match="overlap"):
        chunk_text(docs, chunk_tokens=4, overlap=4)


def test_chunk_text_coverage_property(spark):
    """Every token position is covered by at least one chunk and chunk
    token counts sum to n + overlap*(k-1) (except a shorter tail)."""
    from ezdata_spark.operators.corpus import chunk_text

    text = " ".join(f"t{i}" for i in range(137))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_text(docs, chunk_tokens=32, overlap=8).collect(),
        key=lambda r: r.chunk_index,
    )
    stride = 32 - 8
    seen = set()
    for r in rows:
        toks = r.chunk.split()
        assert len(toks) == r.chunk_tokens
        start = r.chunk_index * stride
        assert toks == [f"t{i}" for i in range(start, start + len(toks))]
        seen.update(range(start, start + len(toks)))
    assert seen == set(range(137))  # full coverage, no gaps


def test_linear_score_stateless_matches_dataframe_form(spark):
    """The literal-map stateless scorer and the broadcast-join scorer
    agree to float precision on the same vocabulary."""
    from ezdata_spark.operators.textstats import linear_score, linear_score_stateless

    docs = spark.createDataFrame(
        [(1, "good great good oov"), (2, ""), (3, "oov only here")],
        "doc_id long, text string",
    )
    w = {"good": 2.0, "great": 1.0, "here": -0.75}
    wdf = spark.createDataFrame(list(w.items()), "term string, weight double")
    a = {r.doc_id: (r.n_tokens, r.prob) for r in linear_score(docs, wdf, bias=0.1).collect()}
    b = {
        r.doc_id: (r.n_tokens, r.prob)
        for r in linear_score_stateless(docs, w, bias=0.1).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == b[k][0]
        assert a[k][1] == pytest.approx(b[k][1], abs=1e-12)
    import pytest as _pt

    with _pt.raises(ValueError, match="weights"):
        linear_score_stateless(docs, {})


# --------------------------------------------------------- z-order layout
def test_zorder_value_matches_reference(spark):
    """Bit-interleave matches a pure-python Morton reference, including
    clamping and null handling."""
    from ezdata_spark.operators.layout import zorder_layout

    rows = [(1, 0.0, 0.0), (2, 10.0, 3.0), (3, 15.9, 15.9), (4, -5.0, 99.0), (5, None, 8.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    bounds = {"x": (0.0, 16.0), "y": (0.0, 16.0)}
    got = {r.id: r.zval for r in zorder_layout(df, bounds, bits=4).collect()}

    def cell(v, lo, hi, bits):
        if v is None:
            return 0
        c = int(np.floor((v - lo) / (hi - lo) * (1 << bits)))
        return min((1 << bits) - 1, max(0, c))

    def morton(x, y, bits):
        cx, cy = cell(x, 0.0, 16.0, bits), cell(y, 0.0, 16.0, bits)
        out = 0
        for i in range(bits):
            out |= ((cx >> i) & 1) << (2 * i)
            out |= ((cy >> i) & 1) << (2 * i + 1)
        return out

    for i, x, y in rows:
        assert got[i] == morton(x, y, 4), (i, x, y)

    import pytest as _pt

    from ezdata_spark.operators.layout import zorder_value

    with _pt.raises(ValueError, match="exceeds"):
        zorder_value({"a": (0, 1), "b": (0, 1)}, bits=32)
    with _pt.raises(ValueError, match="hi > lo"):
        zorder_value({"a": (1.0, 1.0)})


def test_write_zordered_tightens_file_stats(spark, tmp_path):
    """The point of the layout: after write_zordered, EACH parquet
    file's min/max span on BOTH dimensions is a fraction of the global
    range (a lexicographic sort only achieves that for its leading
    column), so predicates on either column can skip most files."""
    import pyarrow.parquet as pq

    from ezdata_spark.operators.layout import write_zordered

    n = 20_000
    rng = np.random.RandomState(0)
    import pandas as pd

    pdf = pd.DataFrame({
        "x": rng.uniform(0, 100, n),
        "y": rng.uniform(0, 100, n),
        "payload": rng.randint(0, 1 << 30, n),
    })
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "zordered")
    write_zordered(df, path, {"x": (0.0, 100.0), "y": (0.0, 100.0)}, n_files=16)

    import glob

    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) >= 8
    spans_x, spans_y = [], []
    total = 0
    for f in files:
        md = pq.read_metadata(f)
        total += md.num_rows
        if md.num_rows == 0:
            continue
        for name, spans in (("x", spans_x), ("y", spans_y)):
            idx = md.schema.names.index(name)
            lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            spans.append(hi - lo)
    assert total == n
    # average per-file span well under the global 100 on BOTH dims
    assert np.mean(spans_x) < 45 and np.mean(spans_y) < 45, (
        np.mean(spans_x), np.mean(spans_y))
    # and reading back loses nothing
    assert spark.read.parquet(path).count() == n


@settings(max_examples=20, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcde", min_size=0, max_size=6), min_size=2, max_size=25
    ),
    seed=st.integers(0, 100),
)
def test_fuzzy_pairs_property_vs_brute_force(spark, words, seed):
    """Random small-alphabet vocabularies (dense near-neighbors, empty
    strings, duplicates): blocking output == brute force, always."""
    import itertools

    from ezdata_spark.operators.dedup import fuzzy_pairs

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {(r.left, r.right) for r in fuzzy_pairs(df, "w").collect()}

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return d[len(b)]

    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(set(words)), 2)
        if lev(a, b) <= 1
    }
    assert got == want


# ------------------------------------------------ duplicate-span removal
def test_remove_duplicate_spans_vs_manual(spark):
    """A span shared by two docs is cut from BOTH; a span repeated
    inside one doc is cut at both sites; unique text survives."""
    from ezdata_spark.operators.corpus import remove_duplicate_spans

    shared = "the quick brown fox"  # 4-token window, appears in docs 1+2
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"one two three {shared} four"),
            (3, f"{shared} middle words here {shared}"),   # twice in one doc
            (4, "totally unique text nothing repeats"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.kept_text, r.n_tokens_before, r.n_tokens_after)
        for r in remove_duplicate_spans(docs, window=4, min_count=2).collect()
    }
    assert out[1] == ("alpha beta gamma delta", 8, 4)
    assert out[2] == ("one two three four", 8, 4)
    # doc 3: both copies cut; 'middle words here' has no 4-window of its own...
    # windows covering positions: every 4-window of doc3 that matches `shared`
    # covers 0-3 and 7-10; middle tokens 4-6 survive
    assert out[3] == ("middle words here", 11, 3)
    assert out[4][0] == "totally unique text nothing repeats"
    assert 5 not in out  # empty doc emits nothing (no tokens)


def test_remove_duplicate_spans_overlapping_windows(spark):
    """A long duplicated passage produces overlapping duplicated
    windows whose covered ranges merge seamlessly (no survivor holes)."""
    from ezdata_spark.operators.corpus import remove_duplicate_spans

    passage = " ".join(f"p{i}" for i in range(10))  # 10-token passage
    docs = spark.createDataFrame(
        [(1, f"intro {passage} outro"), (2, f"{passage} tail words")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.kept_text, r.n_tokens_after)
        for r in remove_duplicate_spans(docs, window=5, min_count=2).collect()
    }
    assert out[1] == ("intro outro", 2)
    assert out[2] == ("tail words", 2)


# ----------------------------------------------------------- SCD2 merge
def test_scd2_apply_semantics(spark):
    """Changed key closes + reopens; unchanged and unmatched pass
    through; new key inserts; closed history untouched; latest update
    in the batch wins."""
    from ezdata_spark.operators.scd import scd2_apply

    dim = spark.createDataFrame(
        [
            # closed history row for key 1
            (1, "OLD", "2020-01-01 00:00:00", "2022-01-01 00:00:00"),
            (1, "A", "2022-01-01 00:00:00", None),   # open, will change
            (2, "B", "2022-01-01 00:00:00", None),   # open, same value arrives
            (3, "C", "2022-01-01 00:00:00", None),   # open, no update
        ],
        "k long, seg string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "seg",
        "cast(valid_from as timestamp) valid_from",
        "cast(valid_to as timestamp) valid_to",
    )
    updates = spark.createDataFrame(
        [
            (1, "2023-05-01 00:00:00", "X"),   # older intra-batch version
            (1, "2023-06-01 00:00:00", "A2"),  # latest wins
            (2, "2023-06-01 00:00:00", "B"),   # unchanged value
            (9, "2023-06-01 00:00:00", "NEW"), # brand-new key
        ],
        "k long, ts string, seg string",
    ).selectExpr("k", "cast(ts as timestamp) ts", "seg")

    out = scd2_apply(dim, updates, "k", ["seg"], ts_col="ts")
    rows = {(r.k, r.seg, str(r.valid_from), str(r.valid_to)) for r in out.collect()}
    assert rows == {
        (1, "OLD", "2020-01-01 00:00:00", "2022-01-01 00:00:00"),  # history kept
        (1, "A", "2022-01-01 00:00:00", "2023-06-01 00:00:00"),    # closed at LATEST ts
        (1, "A2", "2023-06-01 00:00:00", "None"),                  # new open version
        (2, "B", "2022-01-01 00:00:00", "None"),                   # unchanged passes
        (3, "C", "2022-01-01 00:00:00", "None"),                   # unmatched passes
        (9, "NEW", "2023-06-01 00:00:00", "None"),                 # insert
    }
    # exactly one open row per live key
    opens = [r.k for r in out.where("valid_to is null").collect()]
    assert sorted(opens) == [1, 2, 3, 9]
    # idempotence: re-applying the same batch changes nothing
    again = scd2_apply(out, updates, "k", ["seg"], ts_col="ts")
    rows2 = {(r.k, r.seg, str(r.valid_from), str(r.valid_to)) for r in again.collect()}
    assert rows2 == rows


# ------------------------------------------------------------- PageRank
def test_pagerank_vs_dense_power_iteration(spark):
    """Relational PageRank equals the dense numpy power iteration with
    dangling redistribution, including a dangling node and a cycle."""
    from ezdata_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)]  # node 2->0 cycle, 3 feeds in
    # add a dangling node 4 (no out-edges, referenced by 1)
    edges.append((1, 4))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=25, cut_every=7).collect()}

    n = 5
    d = 0.85
    import numpy as np

    M = np.zeros((n, n))
    out = {}
    for s, t in set(edges):
        out.setdefault(s, []).append(t)
    for s, ts in out.items():
        for t in ts:
            M[t, s] = 1.0 / len(ts)
    r = np.full(n, 1.0 / n)
    for _ in range(25):
        dangling = sum(r[i] for i in range(n) if i not in out)
        r = (1 - d) / n + d * (M @ r + dangling / n)
    for i in range(n):
        assert got[i] == pytest.approx(r[i], abs=1e-9), i
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # authority ordering: the cycle hub 0 outranks the feeder 3
    assert got[0] > got[3]


@settings(max_examples=12, deadline=None)
@given(
    dim_keys=st.lists(st.integers(0, 8), min_size=0, max_size=6, unique=True),
    upd=st.lists(
        st.tuples(st.integers(0, 9), st.integers(1, 5), st.sampled_from("PQRS")),
        min_size=0,
        max_size=12,
    ),
)
def test_scd2_apply_property_vs_simulator(spark, dim_keys, upd):
    """Random dimensions and update batches vs a pure-Python SCD2
    simulator: same rows, always one open row per live key."""
    from ezdata_spark.operators.scd import scd2_apply

    dim_rows = [(k, f"V{k}", "2020-01-01 00:00:00", None) for k in dim_keys]
    dim = spark.createDataFrame(
        dim_rows, "k long, seg string, valid_from string, valid_to string"
    ).selectExpr(
        "k", "seg",
        "cast(valid_from as timestamp) valid_from",
        "cast(valid_to as timestamp) valid_to",
    )
    upd_rows = [(k, f"2023-0{d}-01 00:00:00", s) for k, d, s in upd]
    updates = spark.createDataFrame(
        upd_rows, "k long, ts string, seg string"
    ).selectExpr("k", "cast(ts as timestamp) ts", "seg")

    got = {
        (r.k, r.seg, str(r.valid_from), str(r.valid_to))
        for r in scd2_apply(dim, updates, "k", ["seg"], ts_col="ts").collect()
    }

    # simulator: latest update per key (ts desc, seg desc tiebreak)
    latest = {}
    for k, ts, s in upd_rows:
        cur = latest.get(k)
        if cur is None or (ts, s) > cur:
            latest[k] = (ts, s)
    want = set()
    open_by_key = {k: f"V{k}" for k in dim_keys}
    for k in dim_keys:
        if k in latest and latest[k][1] != open_by_key[k]:
            ts, s = latest[k]
            want.add((k, open_by_key[k], "2020-01-01 00:00:00", ts))
            want.add((k, s, ts, "None"))
        else:
            want.add((k, open_by_key[k], "2020-01-01 00:00:00", "None"))
    for k, (ts, s) in latest.items():
        if k not in open_by_key:
            want.add((k, s, ts, "None"))
    assert got == want


# ---------------------------------------------------------------------
# round 6: triangle census, skyline, association/entropy profile,
# resample+interpolate, transition matrix
# ---------------------------------------------------------------------


def test_triangle_count_vs_brute_force(spark):
    """Degree-ordered census equals brute-force triangle enumeration on
    a graph with a hub, a clique, duplicate/reversed edges, and a
    self-loop."""
    from itertools import combinations

    from ezdata_spark.operators.graph import triangle_count

    edges = [
        (0, 1), (1, 0), (1, 2), (2, 0),            # triangle 0-1-2 (dup orientation)
        (3, 3),                                    # self-loop: dropped
        (0, 3), (0, 4), (0, 5), (0, 6),            # hub fan (no closures)
        (7, 8), (8, 9), (9, 7), (7, 10), (10, 9),  # triangle 7-8-9 + 7-9-10
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    tris = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if {(a, b), (a, c), (b, c)} <= und
    )
    deg = {n: sum(1 for e in und if n in e) for n in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    assert row.n_nodes == len(nodes)
    assert row.n_edges == len(und)
    assert row.n_wedges == wedges
    assert row.n_triangles == tris == 3
    assert row.global_clustering == pytest.approx(3 * tris / wedges, abs=1e-6)


def test_skyline_vs_brute_force(spark):
    """Two-phase distributed skyline equals the O(n^2) dominance scan,
    including tied points (kept) and exact duplicates (all kept)."""
    from ezdata_spark.operators.skyline import skyline

    rng = np.random.default_rng(7)
    pts = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(rng.integers(0, 30, (200, 2)))]
    pts += [(200, 29.0, 0.0), (201, 29.0, 0.0)]  # duplicate extreme points
    df = spark.createDataFrame(pts, "id long, x double, y double").repartition(7)
    got = {r.id for r in skyline(df, {"x": "max", "y": "min"}).collect()}

    expect = set()
    for i, x, y in pts:
        dominated = any(
            (qx >= x and qy <= y and (qx > x or qy < y)) for _, qx, qy in pts
        )
        if not dominated:
            expect.add(i)
    assert got == expect
    assert {200, 201} <= got


def test_skyline_null_criteria_dropped(spark):
    from ezdata_spark.operators.skyline import skyline

    df = spark.createDataFrame(
        [(1, 5.0, 1.0), (2, None, 0.0), (3, 4.0, 2.0)], "id long, x double, y double"
    )
    got = {r.id for r in skyline(df, {"x": "max", "y": "min"}).collect()}
    assert got == {1}  # row 2 dropped (null), row 3 dominated by 1


def test_association_stats_known_values(spark):
    """MI/chi2 on a hand-computable 2x2 table; independent columns give
    mi ~ 0 and chi2 ~ 0."""
    import math

    from ezdata_spark.operators.profile import association_stats

    # perfectly dependent: b == a, 2 categories, 50/50
    rows = [("x", "x")] * 6 + [("y", "y")] * 6
    df = spark.createDataFrame(rows, "a string, b string")
    r = association_stats(df, "a", "b").collect()[0]
    assert r.n == 12 and r.card_a == 2 and r.card_b == 2 and r.dof == 1
    assert r.mi_bits == pytest.approx(1.0, abs=1e-6)       # H(a) = 1 bit
    assert r.h_joint_bits == pytest.approx(1.0, abs=1e-6)  # joint == marginal
    assert r.chi2 == pytest.approx(12.0, abs=1e-3)  # n * phi^2, phi=1

    # independent uniform columns
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(5)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = association_stats(df, "a", "b").collect()[0]
    assert r.mi_bits == pytest.approx(0.0, abs=1e-9)
    assert r.chi2 == pytest.approx(0.0, abs=1e-9)
    # null cells form their own category
    df = spark.createDataFrame([("x", None), ("x", "u")], "a string, b string")
    r = association_stats(df, "a", "b").collect()[0]
    assert r.card_b == 2
    del math


def test_entropy_profile_known_values(spark):
    from ezdata_spark.operators.profile import entropy_profile

    df = spark.createDataFrame(
        [("a", "p"), ("a", "q"), ("b", None), ("b", "q")], "u string, w string"
    )
    rows = {r["column"]: r for r in entropy_profile(df, ["u", "w"]).collect()}
    assert rows["u"].entropy_bits == pytest.approx(1.0, abs=1e-6)
    assert rows["u"].n_distinct == 2 and rows["u"].n_null == 0
    assert rows["u"].top_share == pytest.approx(0.5, abs=1e-6)
    assert rows["w"].n_distinct == 3 and rows["w"].n_null == 1
    assert rows["w"].entropy_bits == pytest.approx(1.5, abs=1e-6)  # {1/4,1/2,1/4}


def test_resample_dense_grid_and_interpolation(spark):
    """Dense grid spans each key's range; interpolation is linear in
    time, leading/trailing gaps stay NULL."""
    from ezdata_spark.operators.timeseries import interpolate_linear, resample

    rows = [
        ("k", "2024-01-01 00:00:30", 10.0),
        ("k", "2024-01-01 00:03:10", 40.0),  # 3 buckets gap at 60s
        ("m", "2024-01-01 00:05:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "key string, ts string, v double").select(
        "key", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    r = resample(df, "ts", 60, keys=["key"], aggs={"avg_v": F.avg("v")})
    out = interpolate_linear(r, "avg_v", ts_col="bucket", keys=["key"], out_col="fill")
    got = {
        (row.key, row.bucket.strftime("%H:%M")): (row.avg_v, row.fill)
        for row in out.collect()
    }
    assert len(got) == 5  # k: 00:00..00:03 (4 buckets), m: 00:05
    assert got[("k", "00:00")] == (10.0, 10.0)
    assert got[("k", "00:03")] == (40.0, 40.0)
    assert got[("k", "00:01")][0] is None
    assert got[("k", "00:01")][1] == pytest.approx(20.0)
    assert got[("k", "00:02")][1] == pytest.approx(30.0)
    assert got[("m", "00:05")] == (7.0, 7.0)


def test_interpolate_leading_trailing_gaps_stay_null(spark):
    from ezdata_spark.operators.timeseries import interpolate_linear

    rows = [
        ("k", "2024-01-01 00:00:00", None),
        ("k", "2024-01-01 00:01:00", 4.0),
        ("k", "2024-01-01 00:02:00", None),
        ("k", "2024-01-01 00:03:00", 8.0),
        ("k", "2024-01-01 00:04:00", None),
    ]
    df = spark.createDataFrame(rows, "key string, bucket string, v double").select(
        "key", F.col("bucket").cast("timestamp").alias("bucket"), "v"
    )
    out = interpolate_linear(df, "v", ts_col="bucket", keys=["key"], out_col="f")
    vals = [r.f for r in out.orderBy("bucket").collect()]
    assert vals[0] is None and vals[4] is None  # no extrapolation
    assert vals[1] == 4.0 and vals[3] == 8.0
    assert vals[2] == pytest.approx(6.0)


def test_transition_matrix_probabilities(spark):
    """Row-normalized lead-pair counts; terminal events drop; ties
    ordered by the tiebreak column."""
    from ezdata_spark.operators.window import transition_matrix

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"),   # a->b, b->a
        (2, 1, "a"), (2, 2, "c"),                # a->c
        (3, 5, "a"),                             # terminal only: no pair
    ]
    df = spark.createDataFrame(rows, "user long, seq long, state string").select(
        "user", F.timestamp_seconds("seq").alias("ts"), "state", F.col("seq").alias("eid")
    )
    out = transition_matrix(df, "user", "ts", "state", tiebreak="eid")
    got = {(r.state, r.next_state): (r.n, r.p) for r in out.collect()}
    assert got == {
        ("a", "b"): (1, 0.5),
        ("a", "c"): (1, 0.5),
        ("b", "a"): (1, 1.0),
    }


def test_ewma_vs_recurrence(spark):
    """Distributed per-key EWMA equals the textbook recurrence
    y_t = a*x_t + (1-a)*y_{t-1} (adjust=False), on shuffled input."""
    from ezdata_spark.operators.timeseries import ewma

    alpha = 0.3
    series = {
        "a": [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0],
        "b": [10.0, 20.0, 15.0],
    }
    rows = [
        (k, i, v) for k, vs in series.items() for i, v in enumerate(vs)
    ]
    rows = rows[::-1]  # shuffled arrival order
    df = spark.createDataFrame(rows, "key string, seq long, v double").select(
        "key", F.timestamp_seconds(F.col("seq") * 60).alias("ts"), "seq", "v"
    ).repartition(5)
    out = ewma(df, "v", "ts", ["key"], alpha=alpha, tiebreak=["seq"])
    got = {
        (r.key, r.seq): r.ewma for r in out.collect()
    }
    for k, vs in series.items():
        y = None
        for i, x in enumerate(vs):
            y = x if y is None else alpha * x + (1 - alpha) * y
            assert got[(k, i)] == pytest.approx(y, rel=1e-12), (k, i)


def test_weighted_sample_matches_driver_ranking(spark):
    """A-ES top-k equals the same formula computed driver-side; zero /
    negative / null weights excluded; stable across partitionings."""
    import math

    from ezdata_spark.operators.sampling import weighted_sample

    rows = [(i, float((i * 37) % 100 - 5)) for i in range(1, 401)]  # some <= 0
    df = spark.createDataFrame(rows, "id long, w double")
    got = [r.id for r in weighted_sample(df, "id", "w", k=25).collect()]

    def key(i, w):
        u = ((i * 2654435761) % 2**32 + 0.5) / 2**32
        return math.log(u) / w

    expect = sorted(
        ((key(i, w), i) for i, w in rows if w > 0),
        key=lambda t: (-t[0], t[1]),
    )[:25]
    assert got == [i for _, i in expect]
    # partitioning-invariant
    got7 = [r.id for r in weighted_sample(df.repartition(7), "id", "w", k=25).collect()]
    assert got7 == got


def test_rolling_zscore_matches_pandas(spark):
    """Trailing-window z-score equals pandas rolling mean/std with the
    same window and min_obs; constant windows yield NULL."""
    import numpy as np
    import pandas as pd

    from ezdata_spark.operators.timeseries import rolling_zscore

    rng = np.random.default_rng(11)
    vals = list(rng.normal(10, 3, 60)) + [5.0] * 10  # constant tail
    rows = [("k", i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, seq long, v double").select(
        "key", F.timestamp_seconds("seq").alias("ts"), "seq", "v"
    ).repartition(4)
    out = rolling_zscore(df, "v", "ts", ["key"], n_rows=8, min_obs=3, tiebreak=["seq"])
    got = {r.seq: r.zscore for r in out.collect()}

    s = pd.Series(vals)
    m = s.shift(1).rolling(8, min_periods=3).mean()
    sd = s.shift(1).rolling(8, min_periods=3).std()
    for i, v in enumerate(vals):
        e = (v - m[i]) / sd[i] if (not pd.isna(sd[i]) and sd[i] > 0) else None
        if e is None:
            assert got[i] is None, i
        else:
            assert got[i] == pytest.approx(e, rel=1e-9), i


def test_knn_cone_vs_brute_force(spark):
    """Zone-bucketed kNN == brute-force nearest-3 within radius."""
    import math

    from ezdata_spark.functions.astro import knn_cone

    left = [(i, float((i * 77) % 360), float((i * 13) % 120 - 60)) for i in range(40)]
    right = [(j, float((j * 31) % 360), float((j * 7) % 120 - 60)) for j in range(200)]
    ldf = spark.createDataFrame(left, "lid long, ra double, dec double")
    rdf = spark.createDataFrame(right, "rid long, rra double, rdec double")
    out = knn_cone(
        ldf, rdf, k=3, radius_deg=15.0, id_left="lid",
        ra_l="ra", dec_l="dec", ra_r="rra", dec_r="rdec", tiebreak="rid",
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.lid, []).append((r.knn_rank, r.rid, r.separation))

    def sph(ra1, d1, ra2, d2):
        ra1, d1, ra2, d2 = map(math.radians, (ra1, d1, ra2, d2))
        h = (
            math.sin((d2 - d1) / 2) ** 2
            + math.cos(d1) * math.cos(d2) * math.sin((ra2 - ra1) / 2) ** 2
        )
        return 2 * math.degrees(math.asin(math.sqrt(h)))

    for i, ra, dec in left:
        cands = sorted(
            (round(sph(ra, dec, rra, rdec), 6), j)
            for j, rra, rdec in right
            if sph(ra, dec, rra, rdec) <= 15.0
        )[:3]
        exp = [(rank + 1, j, s) for rank, (s, j) in enumerate(cands)]
        assert sorted(got.get(i, [])) == exp, i


def test_cohort_retention_semantics(spark):
    """Hand-built activity: retention counts distinct users per
    (cohort, offset); month-0 retention is 1.0."""
    from ezdata_spark.operators.window import cohort_retention

    rows = [
        (1, "2024-01-05"), (1, "2024-02-11"), (1, "2024-04-01"),
        (2, "2024-01-20"), (2, "2024-01-25"),        # dup month collapses
        (3, "2024-02-03"), (3, "2024-03-03"),
    ]
    df = spark.createDataFrame(rows, "u long, d string").select(
        "u", F.col("d").cast("timestamp").alias("ts")
    )
    out = cohort_retention(df, "u", "ts")
    got = {
        (r.cohort.strftime("%Y-%m"), r.months_since): (r.active, r.cohort_size, r.retention)
        for r in out.collect()
    }
    assert got[("2024-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01", 1)] == (1, 2, 0.5)   # only user 1 returns in Feb
    assert got[("2024-01", 3)] == (1, 2, 0.5)   # user 1 in April
    assert ("2024-01", 2) not in got            # nobody active in March
    assert got[("2024-02", 0)] == (1, 1, 1.0)
    assert got[("2024-02", 1)] == (1, 1, 1.0)


def test_global_cumsum_matches_sequential(spark):
    """Distributed prefix-sum == driver-side sequential scan, exact in
    decimal, across a forced multi-partition layout; no
    Exchange SinglePartition in the plan."""
    from decimal import Decimal

    from ezdata_spark.operators.window import global_cumsum

    rows = [(i, Decimal(f"{(i * 37) % 100}.25")) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v decimal(18,2)").repartition(13)
    out = global_cumsum(df, "v", [F.col("v").desc(), F.col("id")], name="cum")
    got = {r.id: r.cum for r in out.collect()}

    acc = Decimal(0)
    for i, v in sorted(rows, key=lambda t: (-t[1], t[0])):
        acc += v
        assert got[i] == acc, i

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_trigram_similarity_prefix_filter_vs_brute(spark):
    """Prefix-filtered AllPairs join == brute-force trigram Jaccard,
    including near-dups, disjoint docs, and short (<3 char) texts."""
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over the lazy dog"),
        (3, "lorem ipsum dolor sit amet consectetur"),
        (4, "lorem ipsum dolor sit amet consectetuer"),
        (5, "zz"),                                    # <3 chars: no grams
        (6, "completely unrelated text about spark"),
        (7, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string").repartition(3)
    t = 0.5
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.jaccard)
        for r in trigram_similarity_pairs(df, threshold=t).collect()
    }

    def grams(s):
        s = s.lower()
        return {s[i : i + 3] for i in range(len(s) - 2)}

    exp = {}
    for i, (ia, ta) in enumerate(texts):
        for ib, tb in texts[i + 1 :]:
            ga, gb = grams(ta), grams(tb)
            if not ga or not gb:
                continue
            inter = len(ga & gb)
            j = round(inter / (len(ga) + len(gb) - inter), 6)
            if j >= t:
                exp[(min(ia, ib), max(ia, ib))] = (inter, j)
    assert got == exp
    assert (1, 7) in got and got[(1, 7)][1] == 1.0


def test_dup_span_hash_grams_equivalent(spark):
    """The rolling-hash window keys remove exactly the spans a
    pure-Python string-span reference removes, on a corpus with real
    cross-doc and within-doc duplicate windows."""
    from collections import Counter

    from ezdata_spark.operators.corpus import remove_duplicate_spans

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, f"intro one {boiler} outro alpha"),
        (2, f"intro two {boiler} outro beta"),
        (3, "completely unique text with no repeated windows at all here"),
        (4, f"{boiler} {boiler}"),  # within-doc repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = 5
    toks = {i: t.lower().split() for i, t in rows}
    counts = Counter(
        tuple(ts[p : p + w]) for ts in toks.values() for p in range(len(ts) - w + 1)
    )
    a = {}
    for i, ts in toks.items():
        cut = {
            q
            for p in range(len(ts) - w + 1)
            if counts[tuple(ts[p : p + w])] >= 2
            for q in range(p, p + w)
        }
        kept = [t for q, t in enumerate(ts) if q not in cut]
        a[i] = (" ".join(kept), len(ts), len(kept))
    b = {
        r.doc_id: (r.kept_text, r.n_tokens_before, r.n_tokens_after)
        for r in remove_duplicate_spans(df, window=w).collect()
    }
    assert a == b
    assert a[3][0].startswith("completely unique")  # untouched doc
    assert a[1][2] < a[1][1]                        # boilerplate removed
