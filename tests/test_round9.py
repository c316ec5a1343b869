"""Round-9 tests: cogrouped exact rescore for knn_join (unbounded
left), vectorized PQ encode, persisted MinHash band index, durable ANN
index artifacts, and the round-8 ADVICE regressions."""

import numpy as np
import pytest
from pyspark.sql import functions as F


# --------------------------------------------- knn_join rescore='cogroup'
@pytest.fixture(scope="module")
def pq9_fixture(spark, sf_dir):
    from ezdata_spark.operators.similarity import ivf_index, ivf_pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    indexed, cents = ivf_index(emb, n_cells=8)
    cb = pq_train(emb, m=8, k=16)
    enc = ivf_pq_encode(indexed, cb).persist()
    enc.count()
    yield emb, left, enc, cents, cb
    enc.unpersist()


@pytest.mark.parametrize(
    "kw",
    [
        dict(k=5, nprobe=8, round_ndigits=6),          # full probe, oracle form
        dict(k=5, nprobe=3),                           # unrounded: raw doubles
        dict(k=5, nprobe=8, round_ndigits=6, shard_corpus=3),  # hot-cell shards
    ],
)
def test_knn_join_pq_cogroup_equals_broadcast(pq9_fixture, kw):
    """rescore='cogroup' (nothing broadcasts; second cell-keyed cogroup
    replays the JVM fold order) must return BIT-IDENTICAL rows to the
    broadcast rescore — including raw unrounded doubles, where any
    summation-order deviation would show."""
    from ezdata_spark.operators.similarity import knn_join

    emb, left, enc, cents, cb = pq9_fixture
    b = sorted(
        (r.doc_id, r.vec_id, r.cosine, r.rank)
        for r in knn_join(left, enc, cents, pq_codebooks=cb,
                          rescore="broadcast", **kw).collect()
    )
    c = sorted(
        (r.doc_id, r.vec_id, r.cosine, r.rank)
        for r in knn_join(left, enc, cents, pq_codebooks=cb,
                          rescore="cogroup", **kw).collect()
    )
    assert len(b) > 0 and b == c


def test_knn_join_pq_cogroup_string_ids_and_zero_norm(spark):
    """The cogroup rescore must survive string id columns (object-array
    concat + index lookup) and score an all-zero query 0.0, matching
    both the broadcast path and the raw kernel."""
    from ezdata_spark.operators.similarity import (
        ivf_index,
        ivf_pq_encode,
        knn_join,
        pq_train,
    )

    rng = np.random.RandomState(5)
    emb = spark.createDataFrame(
        [(f"v{i:03d}", rng.randn(16).tolist()) for i in range(40)],
        "vec_id string, embedding array<double>",
    )
    left = spark.createDataFrame(
        [("qzero", [0.0] * 16)] + [(f"q{i}", rng.randn(16).tolist()) for i in range(3)],
        "doc_id string, embedding array<double>",
    )
    indexed, cents = ivf_index(emb, n_cells=2)
    cb = pq_train(emb, m=4, k=16)
    enc = ivf_pq_encode(indexed, cb)
    kw = dict(k=3, nprobe=2, left_id="doc_id", right_id="vec_id",
              pq_codebooks=cb, pq_oversample=4)
    got = knn_join(left, enc, cents, rescore="cogroup", **kw).collect()
    ref = knn_join(left, enc, cents, rescore="broadcast", **kw).collect()
    key = lambda r: (r.doc_id, r.vec_id, r.cosine, r.rank)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, ref))
    zero_rows = [r for r in got if r.doc_id == "qzero"]
    assert zero_rows and all(r.cosine == 0.0 for r in zero_rows)


def test_knn_join_rescore_validation(pq9_fixture):
    from ezdata_spark.operators.similarity import knn_join

    emb, left, enc, cents, cb = pq9_fixture
    with pytest.raises(ValueError, match="rescore"):
        knn_join(left, enc, cents, pq_codebooks=cb, rescore="nope")


# ------------------------------------------------- vectorized PQ encode
def _pq_codes_ref(rows, codebooks):
    """vec_id -> codes reference: per subspace of each row's normalized
    ``v``, the index of the L2-nearest centroid (first on ties)."""
    CB = np.asarray(codebooks)
    m, _, dsub = CB.shape
    V = np.asarray([r.v for r in rows]).reshape(len(rows), m, 1, dsub)
    codes = ((V - CB[None]) ** 2).sum(axis=3).argmin(axis=2)
    return {r.vec_id: tuple(c) for r, c in zip(rows, codes.tolist())}


def test_pq_encode_numpy_matches_jvm(spark, sf_dir):
    """Both assignment engines emit the codes of a numpy nearest-
    centroid reference on real data (near-tie ulp flips are the
    documented theoretical exception; none occur here). At m=8 x 64
    dims, k=4 takes the inlined SQL argmin and k=8 the block-diagonal
    single-matmul kernel."""
    from ezdata_spark.operators.similarity import pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = {}
    for k in (4, 8):
        cb = pq_train(emb, m=8, k=k)
        rows = pq_encode(emb, cb).collect()
        got = {r.vec_id: tuple(r.codes) for r in rows}
        assert got == _pq_codes_ref(rows, cb), k
        assert len(got) > 0
        v[k] = {r.vec_id: list(r.v) for r in rows}
    # normalized vector column must be identical too (both paths share
    # the JVM normalize projection)
    assert v[4] == v[8]


def test_ivf_pq_encode_reencode_replaces_codes(spark, sf_dir):
    """ADVICE r8: re-encoding a frame that already has a 'codes' column
    (codebook retrain) must REPLACE it — one codes field, same values
    as encoding the code-less frame, both equal to the numpy
    nearest-centroid reference — on both assignment paths (at m=8 x 64
    dims, k=32 inlines the codebooks as SQL, k=64 runs the matmul)."""
    from ezdata_spark.operators.similarity import ivf_index, ivf_pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    indexed, cents = ivf_index(emb, n_cells=4)
    for k in (32, 64):
        cb = pq_train(emb, m=8, k=k)
        enc = ivf_pq_encode(indexed, cb)
        re_enc = ivf_pq_encode(enc, cb)
        assert [f.name for f in re_enc.schema.fields].count("codes") == 1
        rows = enc.collect()
        # tuple() reads both code layouts: binary bytes and array<int>
        a = {r.vec_id: tuple(r.codes) for r in rows}
        b = {r.vec_id: tuple(r.codes) for r in re_enc.collect()}
        assert a == b == _pq_codes_ref(rows, cb), k


# -------------------------------------- persisted MinHash band index
def test_minhash_incremental_band_index_parity(spark):
    """history_bands (the persisted (id, band, bucket) artifact) must
    give the same survivors and the same updated index as recomputing
    bands from the signatures — and the returned bands artifact must
    equal the recomputed band frame."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import (
        _minhash_band_frame,
        minhash_dedup_incremental,
        minhash_signatures,
    )

    d0 = "the quick brown fox jumps over the lazy dog today again and again"
    d1 = "completely different content about distributed query engines at scale"
    hist = spark.createDataFrame(
        [(0, d0), (1, d1)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, d0), (11, "fresh topic entirely new words appear here only once"),
         (12, d0.replace("lazy", "sleepy"))],
        "doc_id long, text string",
    )
    kw = dict(threshold=0.7, num_hashes=32, bands=16, shingle_n=3)
    idx = minhash_signatures(hist, "text", "doc_id", 32, 3)
    idx = spark.createDataFrame(idx.collect(), idx.schema)  # "persisted"
    hb = _minhash_band_frame(idx, "doc_id", 16, 2)
    hb = spark.createDataFrame(hb.collect(), hb.schema)  # "persisted"

    s_ref, sig_ref = minhash_dedup_incremental(batch, history_signatures=idx, **kw)
    ref = {r.doc_id for r in s_ref.collect()}
    release_caches()
    s_got, sig_got, bands_got = minhash_dedup_incremental(
        batch, history_signatures=idx, history_bands=hb, return_bands=True, **kw
    )
    got = {r.doc_id for r in s_got.collect()}
    assert got == ref
    assert 11 in got and 10 not in got  # 10 is an exact copy of history 0
    # updated bands artifact == recomputed band frame over the union
    all_b = {(r.doc_id, r.band, r.bucket) for r in bands_got.collect()}
    exp_b = {
        (r.doc_id, r.band, r.bucket)
        for r in _minhash_band_frame(sig_got, "doc_id", 16, 2).collect()
    }
    assert all_b == exp_b
    release_caches()


def test_minhash_incremental_id_order_guard(spark):
    """ADVICE r8: interleaved ids silently diverge from the documented
    batch-equivalent semantics — the guard must fail fast."""
    from ezdata_spark.operators.dedup import minhash_dedup_incremental, minhash_signatures

    hist = spark.createDataFrame(
        [(5, "some history document words")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(3, "a batch document with a smaller id")], "doc_id long, text string"
    )
    idx = minhash_signatures(hist, "text", "doc_id", 32, 3)
    with pytest.raises(ValueError, match="monotone"):
        minhash_dedup_incremental(batch, history_signatures=idx,
                                  num_hashes=32, bands=16, shingle_n=3)
    # explicit opt-out still works
    surv, _ = minhash_dedup_incremental(
        batch, history_signatures=idx, num_hashes=32, bands=16,
        shingle_n=3, check_id_order=False,
    )
    assert {r.doc_id for r in surv.collect()} == {3}


# ------------------------------------------------ durable ANN artifacts
def test_lsh_index_roundtrip(spark, sf_dir, tmp_path):
    from ezdata_spark.operators.ann_index import load_ann_index, save_ann_index
    from ezdata_spark.operators.similarity import cosine_topk_lsh, lsh_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    idx = lsh_index(emb, n_planes=6, n_tables=2, seed=11)
    meta = {"kind": "lsh", "n_planes": 6, "n_tables": 2, "seed": 11, "dim": 64}
    save_ann_index(str(tmp_path / "lsh"), idx, meta)
    fr, m2 = load_ann_index(spark, str(tmp_path / "lsh"))
    assert m2 == meta
    kw = dict(k=5, n_planes=m2["n_planes"], n_tables=m2["n_tables"],
              seed=m2["seed"], dim=m2["dim"])
    key = lambda r: (r.qid, r.vec_id, r.cosine, r.rank)  # noqa: E731
    live = sorted(map(key, cosine_topk_lsh(emb, q, index=idx, **kw).collect()))
    loaded = sorted(map(key, cosine_topk_lsh(emb, q, index=fr, **kw).collect()))
    assert live == loaded and len(live) > 0


def test_ivf_pq_index_roundtrip(spark, sf_dir, tmp_path):
    """Full IVF-PQ artifact: cell-partitioned encoded corpus + centroids
    + codebooks; a reloaded index must answer knn_join identically."""
    from ezdata_spark.operators.ann_index import load_ivf_pq_index, save_ivf_pq_index
    from ezdata_spark.operators.similarity import (
        ivf_index,
        ivf_pq_encode,
        knn_join,
        pq_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    indexed, cents = ivf_index(emb, n_cells=8)
    cb = pq_train(emb, m=8, k=16)
    enc = ivf_pq_encode(indexed, cb)
    save_ivf_pq_index(str(tmp_path / "ivfpq"), enc, cents, cb)
    fr, cents2, cb2, rot = load_ivf_pq_index(spark, str(tmp_path / "ivfpq"))
    assert rot is None and cents2 == cents and cb2 == cb
    kw = dict(k=5, nprobe=8, round_ndigits=6, pq_oversample=8)
    key = lambda r: (r.doc_id, r.vec_id, r.cosine, r.rank)  # noqa: E731
    live = sorted(map(key, knn_join(left, enc, cents, pq_codebooks=cb,
                                    **kw).collect()))
    loaded = sorted(map(key, knn_join(left, fr, cents2, pq_codebooks=cb2,
                                      rescore="cogroup", **kw).collect()))
    assert live == loaded and len(live) > 0


def test_pq_opq_codebook_roundtrip(spark, sf_dir, tmp_path):
    """Parameter-only artifact (no frame): OPQ rotation + codebooks
    reload bit-exactly (JSON shortest-repr doubles) and the loaded
    params reproduce the in-session probe."""
    from ezdata_spark.operators.ann_index import load_ann_index, save_ann_index
    from ezdata_spark.operators.similarity import (
        opq_train,
        pq_encode,
        pq_topk,
        rotate_vectors,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    R, cbs = opq_train(emb, m=8, k=16, opq_iters=3, lloyd_iters=5)
    save_ann_index(str(tmp_path / "opq"), meta={"kind": "opq", "rotation": R,
                                                "codebooks": cbs})
    fr, meta = load_ann_index(spark, str(tmp_path / "opq"))
    assert fr is None
    assert meta["rotation"] == R and meta["codebooks"] == cbs

    rot = rotate_vectors(emb, R, vec="embedding", out="embedding")
    q = rot.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    enc = pq_encode(rot, cbs).persist()
    enc.count()
    key = lambda r: (r.qid, r.vec_id, r.cosine, r.rank)  # noqa: E731
    live = sorted(map(key, pq_topk(enc, cbs, q, k=5).collect()))
    loaded = sorted(map(key, pq_topk(enc, meta["codebooks"], q, k=5).collect()))
    enc.unpersist()
    assert live == loaded and len(live) > 0


# ------------------------------------------------- residual plotly helpers
def test_update_colorbar_position_math():
    """Value-exact against the reference formula (plotly/tools.py:
    247-281): x = x0 + (x1-x0)*xnorm on the subplot's domains; other
    coloraxis keys preserved; defaults merged into the bar."""
    from ezdata_spark.functions.figures import update_colorbar_position

    fig = {
        "layout": {
            "xaxis2": {"domain": [0.55, 0.95]},
            "yaxis2": {"domain": [0.1, 0.5]},
        }
    }
    upd = update_colorbar_position(
        fig, "xaxis2", "yaxis2", "coloraxis3",
        colorbar={"colorscale": "viridis", "cmin": 0.0},
        xnorm=1.05, ynorm=0.5, thickness=15,
    )
    ca = upd["coloraxis3"]
    assert ca["colorscale"] == "viridis" and ca["cmin"] == 0.0
    assert ca["colorbar"]["x"] == round(0.55 + 0.4 * 1.05, 6)
    assert ca["colorbar"]["y"] == round(0.1 + 0.4 * 0.5, 6)
    assert ca["colorbar"]["thickness"] == 15
    # missing axes default to the full paper domain
    upd2 = update_colorbar_position({"layout": {}}, "xaxis", "yaxis", "coloraxis")
    assert upd2["coloraxis"]["colorbar"]["x"] == 1.05
    assert upd2["coloraxis"]["colorbar"]["y"] == 0.5


def test_get_color_fn():
    """Reference semantics (plotly/tools.py:418-470): min maps to the
    first sampled color, max to the last (index int((x-min)/diff *
    (len-1))); the dummy trace carries the colorbar on an invisible
    2-point scatter. Constant input is guarded (documented divergence:
    the reference divides by zero)."""
    from ezdata_spark.functions.figures import get_color_fn, sample_colorscale

    q = [2.0, 4.0, 10.0]
    fn, dummy = get_color_fn(q, "viridis", sampling=11)
    seq = sample_colorscale("viridis", 11)
    assert fn(2.0) == seq[0]
    assert fn(10.0) == seq[10]
    assert fn(6.0) == seq[5]  # (6-2)/8 * 10 = 5
    assert dummy["x"] == [2.0, 10.0] and dummy["marker"]["showscale"] is True
    assert dummy["marker"]["colorbar"]["thickness"] == 20  # default merged
    assert dummy["showlegend"] is False and dummy["mode"] == "markers"
    # anchor-list scales interpolate linearly in RGB
    two = sample_colorscale(["#000000", "#ffffff"], 3)
    assert two == ["rgb(0, 0, 0)", "rgb(128, 128, 128)", "rgb(255, 255, 255)"]
    fn2, _ = get_color_fn([7.0, 7.0], ["#000000", "#ffffff"], sampling=3)
    assert fn2(7.0) == "rgb(0, 0, 0)"  # constant input -> low end, no crash


def test_minhash_index_roundtrip(spark, tmp_path):
    """The persisted signature+band index pair must reload and drive an
    increment to the same survivors as the in-session artifacts."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.ann_index import load_minhash_index, save_minhash_index
    from ezdata_spark.operators.dedup import (
        _minhash_band_frame,
        minhash_dedup_incremental,
        minhash_signatures,
    )

    d0 = "the quick brown fox jumps over the lazy dog today again and again"
    hist = spark.createDataFrame(
        [(0, d0), (1, "completely different content about query engines at scale")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, d0), (11, "fresh topic entirely new words appear here only once")],
        "doc_id long, text string",
    )
    kw = dict(threshold=0.7, num_hashes=32, bands=16, shingle_n=3)
    sigs = minhash_signatures(hist, "text", "doc_id", 32, 3)
    bands = _minhash_band_frame(sigs, "doc_id", 16, 2)
    save_minhash_index(str(tmp_path / "mh"), sigs, bands, num_hashes=32,
                       n_bands=16, shingle_n=3)
    ls, lb, meta = load_minhash_index(spark, str(tmp_path / "mh"))
    assert meta["num_hashes"] == 32 and meta["bands"] == 16 and meta["shingle_n"] == 3
    # loaded signatures == in-session signatures (bit-exact longs)
    assert {(r.doc_id, tuple(r.signature)) for r in ls.collect()} == {
        (r.doc_id, tuple(r.signature)) for r in sigs.collect()
    }
    s_live, _ = minhash_dedup_incremental(batch, history_signatures=sigs,
                                          history_bands=bands, **kw)
    live = {r.doc_id for r in s_live.collect()}
    release_caches()
    s_loaded, _ = minhash_dedup_incremental(batch, history_signatures=ls,
                                            history_bands=lb, **kw)
    loaded = {r.doc_id for r in s_loaded.collect()}
    release_caches()
    assert live == loaded == {11}


# ------------------------------------------------ code-review regressions
def test_minhash_incremental_bands_require_signatures(spark):
    """history_bands without history_signatures must fail fast — the
    silent alternative dedups the batch only against itself."""
    from ezdata_spark.operators.dedup import minhash_dedup_incremental

    batch = spark.createDataFrame([(1, "some words here")], "doc_id long, text string")
    bands = spark.createDataFrame([(0, 0, 7)], "doc_id long, band int, bucket long")
    with pytest.raises(ValueError, match="history_bands requires"):
        minhash_dedup_incremental(batch, history_bands=bands)


def test_minhash_incremental_auto_guard_skips_cached_history(spark):
    """check_id_order='auto' must NOT eagerly materialize a CACHED
    history index (the cache-stats join-flip hazard): with cached,
    out-of-order history the call builds plans without raising."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import minhash_dedup_incremental, minhash_signatures

    hist = spark.createDataFrame(
        [(5, "history words appear here")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(3, "batch doc with a smaller id")], "doc_id long, text string"
    )
    idx = minhash_signatures(hist, "text", "doc_id", 32, 3).persist()
    try:
        surv, _ = minhash_dedup_incremental(
            batch, history_signatures=idx, num_hashes=32, bands=16, shingle_n=3
        )  # auto: cached -> guard skipped, no raise
        assert {r.doc_id for r in surv.collect()} == {3}
        # forcing the guard still raises on the same inputs
        with pytest.raises(ValueError, match="monotone"):
            minhash_dedup_incremental(
                batch, history_signatures=idx, num_hashes=32, bands=16,
                shingle_n=3, check_id_order=True,
            )
    finally:
        idx.unpersist()
        release_caches()


def test_save_ann_index_meta_only_onto_frame_raises(spark, tmp_path):
    """A parameter-only re-save onto a path holding a data frame would
    leave the old frame under the new sidecar — must fail fast."""
    from ezdata_spark.operators.ann_index import load_ann_index, save_ann_index

    p = str(tmp_path / "idx")
    df = spark.createDataFrame([(1, 2.0)], "id long, x double")
    save_ann_index(p, df, {"kind": "pq", "v": 1})
    with pytest.raises(ValueError, match="already holds a data frame"):
        save_ann_index(p, meta={"kind": "pq", "v": 2})
    # coherent re-save (frame + meta together) still works
    save_ann_index(p, df, {"kind": "pq", "v": 2})
    fr, meta = load_ann_index(spark, p)
    assert meta["v"] == 2 and fr.count() == 1


def test_update_colorbar_position_preserves_nested_props():
    from ezdata_spark.functions.figures import update_colorbar_position

    fig = {"layout": {"xaxis": {"domain": [0.0, 0.5]}, "yaxis": {"domain": [0.0, 1.0]}}}
    upd = update_colorbar_position(
        fig, "xaxis", "yaxis", "coloraxis",
        colorbar={"colorscale": "viridis",
                  "colorbar": {"title": "density", "len": 0.4}},
    )
    cb = upd["coloraxis"]["colorbar"]
    assert cb["title"] == "density" and cb["len"] == 0.4  # merged, not replaced
    assert cb["x"] == round(0.5 * 1.05, 6)


def test_get_color_fn_nan_and_out_of_range():
    from ezdata_spark.functions.figures import get_color_fn, sample_colorscale

    fn, _ = get_color_fn([1.0, float("nan"), 3.0], ["#000000", "#ffffff"], sampling=5)
    seq = sample_colorscale(["#000000", "#ffffff"], 5)
    assert fn(float("nan")) == seq[0]
    assert fn(-99.0) == seq[0] and fn(99.0) == seq[4]  # clamped
    assert fn(3.0) == seq[4] and fn(1.0) == seq[0]
