"""Round-10 tests: round-9 ADVICE regressions (sidecar preservation on
frame-only re-save, minhash geometry derivation, get_color_fn anchor
colorscale, auto id-order-skip warning), ADC cell pruning, collect
caps, logistic-regression training, and backoff n-gram LM."""

import json
import os
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F


# --------------------------------------- ADVICE 1: sidecar never orphaned
def test_frame_only_resave_over_sidecar_raises(spark, tmp_path):
    """A frame-only save_ann_index onto an artifact holding a parameter
    sidecar must FAIL FAST: overwrite would destroy the trained
    centroids/codebooks, and carrying the old sidecar over would let a
    re-encoded frame silently pair with stale parameters — both
    branches of the coherence guard raise, symmetrically."""
    from ezdata_spark.operators.ann_index import load_ann_index, save_ann_index

    path = str(tmp_path / "idx")
    df = spark.range(5).select(F.col("id"), (F.col("id") % 2).alias("cell"))
    meta = {"kind": "ivf_pq", "centroids": [[0.5, 1.5]], "codebooks": [[[1.0]]]}
    save_ann_index(path, df, meta, partition_by="cell")
    df2 = spark.range(7).select(F.col("id"), (F.col("id") % 2).alias("cell"))
    with pytest.raises(ValueError, match="pass meta together with the frame"):
        save_ann_index(path, df2, meta=None, partition_by="cell")
    # artifact untouched by the refused save
    frame, got = load_ann_index(spark, path)
    assert got == meta and frame.count() == 5
    # the documented recovery: reload the meta and pass it back
    save_ann_index(path, df2, meta=got, partition_by="cell")
    frame, got2 = load_ann_index(spark, path)
    assert got2 == meta and frame.count() == 7


def test_frame_only_save_fresh_path_has_no_sidecar(spark, tmp_path):
    from ezdata_spark.operators.ann_index import load_ann_index, save_ann_index

    path = str(tmp_path / "plain")
    save_ann_index(path, spark.range(3))
    frame, meta = load_ann_index(spark, path)
    assert meta == {} and frame.count() == 3


# ------------------------------------- ADVICE 2: minhash geometry derived
def test_save_minhash_index_derives_geometry(spark, tmp_path):
    """num_hashes/n_bands come from the frames, not caller kwargs — a
    forgotten kwarg must not persist a wrong sidecar (the next increment
    would sign with mismatched geometry and silently empty the join)."""
    from ezdata_spark.operators.ann_index import (
        load_minhash_index,
        save_minhash_index,
    )
    from ezdata_spark.operators.dedup import minhash_dedup_incremental

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text body") for i in range(20)],
        ["doc_id", "text"],
    )
    # non-default geometry: 32 hashes, 8 bands
    surv, sigs, bands = minhash_dedup_incremental(
        docs, num_hashes=32, bands=8, return_bands=True
    )
    path = str(tmp_path / "mh")
    save_minhash_index(path, sigs, bands)  # note: NO geometry kwargs
    _, _, meta = load_minhash_index(spark, path)
    assert meta["num_hashes"] == 32
    assert meta["bands"] == 8


def test_save_minhash_index_cross_checks_geometry(spark, tmp_path):
    from ezdata_spark.operators.ann_index import save_minhash_index
    from ezdata_spark.operators.dedup import minhash_dedup_incremental

    docs = spark.createDataFrame(
        [(i, f"doc {i} body text here") for i in range(10)], ["doc_id", "text"]
    )
    _, sigs, bands = minhash_dedup_incremental(
        docs, num_hashes=32, bands=8, return_bands=True
    )
    with pytest.raises(ValueError, match="num_hashes=64 does not match"):
        save_minhash_index(str(tmp_path / "bad"), sigs, bands, num_hashes=64)


# --------------------------------- ADVICE 3: get_color_fn anchor colorscale
def test_get_color_fn_anchor_list_colorscale_uses_original_anchors():
    from ezdata_spark.functions.figures import get_color_fn

    anchors = ["#000000", "#ff0000", "#ffffff"]
    _, trace = get_color_fn([1.0, 2.0, 3.0], cmap=anchors, sampling=16)
    scale = trace["marker"]["colorscale"]
    assert len(scale) == 3  # the anchors, not the 16 interpolated stops
    assert scale[0] == [0.0, "rgb(0, 0, 0)"]
    assert scale[1] == [0.5, "rgb(255, 0, 0)"]
    assert scale[2] == [1.0, "rgb(255, 255, 255)"]


def test_get_color_fn_sampling_guard():
    from ezdata_spark.functions.figures import get_color_fn

    with pytest.raises(ValueError, match="sampling must be >= 2"):
        get_color_fn([1.0, 2.0], sampling=1)


def test_get_color_fn_named_cmap_unchanged():
    from ezdata_spark.functions.figures import get_color_fn

    fn, trace = get_color_fn([0.0, 10.0], cmap="viridis", sampling=5)
    assert trace["marker"]["colorscale"] == "viridis"
    assert fn(0.0) != fn(10.0)


# -------------------------------- ADVICE 4: auto id-order skip is visible
def test_auto_id_order_skip_warns_on_cached_history(spark):
    from ezdata_spark.operators.dedup import minhash_dedup_incremental

    hist = spark.createDataFrame(
        [(i, f"history doc {i} text") for i in range(5)], ["doc_id", "text"]
    )
    _, hist_sigs = minhash_dedup_incremental(hist)
    hist_sigs = hist_sigs.persist()
    hist_sigs.count()
    batch = spark.createDataFrame(
        [(i, f"new doc {i} text") for i in range(10, 15)], ["doc_id", "text"]
    )
    try:
        with pytest.warns(UserWarning, match="id-order guard skipped"):
            minhash_dedup_incremental(batch, history_signatures=hist_sigs)
        # explicit False: caller takes responsibility, no warning
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            minhash_dedup_incremental(
                batch, history_signatures=hist_sigs, check_id_order=False
            )
    finally:
        hist_sigs.unpersist()


# ----------------------------------- directive 1: ADC corpus cell pruning
@pytest.fixture(scope="module")
def pq10_fixture(spark, sf_dir, tmp_path_factory):
    from ezdata_spark.operators.ann_index import save_ivf_pq_index
    from ezdata_spark.operators.similarity import ivf_index, ivf_pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    indexed, cents = ivf_index(emb, n_cells=8)
    cb = pq_train(emb, m=8, k=16)
    enc = ivf_pq_encode(indexed, cb).persist()
    enc.count()
    path = str(tmp_path_factory.mktemp("idx") / "ivfpq")
    save_ivf_pq_index(path, enc, cents, cb)
    yield emb, left, enc, cents, cb, path
    enc.unpersist()


def test_knn_join_pq_prune_equals_noprune(pq10_fixture):
    """The probed-cell semi-join prune on the ADC cogroup's corpus side
    is a pure execution-shape change: unprobed cells produce no pairs
    either way, so pruned and unpruned runs must be BIT-IDENTICAL —
    partial probe, both rescore modes."""
    from ezdata_spark.operators.similarity import _fan_out, _knn_join_pq, _nearest_cells

    emb, left, enc, cents, cb, _ = pq10_fixture
    lf = _fan_out(left).select("doc_id", F.col("embedding").alias("qv"))
    probes = lf.select(
        "doc_id", "qv", F.explode(_nearest_cells("qv", cents, 3)).alias("cell")
    )
    for mode in ("broadcast", "cogroup"):
        a = sorted(
            (r.doc_id, r.vec_id, r.cosine, r.rank)
            for r in _knn_join_pq(lf, probes, enc, cb, 5, "doc_id", "vec_id",
                                  None, 1, 4, mode, prune_cells=True).collect()
        )
        b = sorted(
            (r.doc_id, r.vec_id, r.cosine, r.rank)
            for r in _knn_join_pq(lf, probes, enc, cb, 5, "doc_id", "vec_id",
                                  None, 1, 4, mode, prune_cells=False).collect()
        )
        assert len(a) > 0 and a == b, mode


def test_knn_join_prune_plan_partial_probe(spark, pq10_fixture):
    """nprobe < n_cells: the ADC corpus side must be pruned (left-semi
    on the broadcast probed-cell list) — no full-corpus exchange; on the
    loaded cell-partitioned artifact the prune must reach the SCAN as
    dynamic partition pruning."""
    from ezdata_spark.operators.ann_index import load_ivf_pq_index
    from ezdata_spark.operators.similarity import knn_join

    emb, left, enc, cents, cb, path = pq10_fixture
    # in-memory corpus: the semi join must appear in the plan
    res = knn_join(left, enc, cents, pq_codebooks=cb, k=5, nprobe=3)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    # loaded artifact: partition-level pruning on the cell scan
    frame, c2, cb2, _rot = load_ivf_pq_index(spark, path)
    res2 = knn_join(left, frame, c2, pq_codebooks=cb2, k=5, nprobe=3,
                    rescore="cogroup")
    plan2 = res2._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan2
    assert "PartitionFilters: [isnotnull(cell" in plan2
    # raw path prunes too
    from ezdata_spark.operators.similarity import ivf_index
    indexed, rcents = ivf_index(emb, n_cells=8)
    res3 = knn_join(left, indexed, rcents, k=5, nprobe=3)
    assert "LeftSemi" in res3._jdf.queryExecution().executedPlan().toString()


def test_knn_join_full_probe_skips_prune(pq10_fixture):
    """nprobe == n_cells: every cell is probed — the semi-join would
    filter nothing and still pay a pass over the left; knn_join must
    not emit it (oracle forms keep their round-9 plan)."""
    from ezdata_spark.operators.similarity import knn_join

    emb, left, enc, cents, cb, _ = pq10_fixture
    res = knn_join(left, enc, cents, pq_codebooks=cb, k=5, nprobe=8,
                   round_ndigits=6)
    assert "LeftSemi" not in res._jdf.queryExecution().executedPlan().toString()


def test_knn_join_raw_partial_probe_matches_numpy(spark):
    """Raw-path partial probe with the prune active: per-left top-k over
    the probed cells only, checked against a driver-side numpy replay of
    the same cell assignment + cosine ranking."""
    import numpy as np
    from ezdata_spark.operators.similarity import ivf_index, knn_join

    rng = np.random.default_rng(7)
    corpus = [(i, rng.standard_normal(8).tolist()) for i in range(200)]
    queries = [(1000 + i, rng.standard_normal(8).tolist()) for i in range(12)]
    cdf = spark.createDataFrame(corpus, ["vec_id", "embedding"])
    qdf = spark.createDataFrame(queries, ["doc_id", "embedding"])
    indexed, cents = ivf_index(cdf, n_cells=6)
    got = {}
    res = knn_join(qdf, indexed, cents, k=4, nprobe=2, round_ndigits=9)
    for r in res.collect():
        got.setdefault(r.doc_id, []).append((r.rank, r.vec_id, r.cosine))
    # numpy replay
    cell_of = {r.vec_id: r.cell for r in indexed.select("vec_id", "cell").collect()}
    C = np.array(cents)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    V = {i: np.asarray(v) for i, v in corpus}
    for qid, qv in queries:
        q = np.asarray(qv)
        qn = q / (np.linalg.norm(q) or 1.0)
        # nearest 2 cells by cosine to centroids (ties: lower cell id)
        sims = Cn @ qn
        order = sorted(range(len(cents)), key=lambda c: (-sims[c], c))[:2]
        probed = set(order)
        cands = []
        for vid, v in V.items():
            if cell_of[vid] in probed:
                cos = float(qn @ (v / (np.linalg.norm(v) or 1.0)))
                cos = np.sign(cos) * np.floor(abs(cos) * 1e9 + 0.5) / 1e9
                cands.append((-cos, vid))
        cands.sort()
        expect = [(rk + 1, vid, -negcos) for rk, (negcos, vid) in enumerate(cands[:4])]
        have = sorted(got.get(qid, []))
        assert [(r, v) for r, v, _ in have] == [(r, v) for r, v, _ in expect], qid
        for (_, _, a), (_, _, b) in zip(have, expect):
            assert abs(a - b) < 1e-9


# --------------------------------- directive 8: driver-side collect caps
def test_count_cat_cardinality_cap(spark):
    from ezdata_spark.operators.binned import BinSpec, count_cat

    df = spark.range(100).select(
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("u"), F.col("id")).alias("user"),
    )
    spec = BinSpec("x", lo=0.0, hi=100.0, nbins=4)
    with pytest.raises(ValueError, match="more than 20 distinct"):
        count_cat(df, [spec], "user", max_categories=20)
    # below the cap: unchanged behavior
    df2 = df.withColumn("cls", (F.col("x") % 3).cast("int"))
    out = count_cat(df2, [spec], "cls")
    assert set(out.columns) == {"x__bin", "0", "1", "2"}


def test_plotter_groupby_cardinality_cap(spark):
    from ezdata_spark import EzTable
    from ezdata_spark.plotting import Plotter

    df = spark.range(200).select(
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("g"), F.col("id")).alias("g"),
    )
    p = Plotter(EzTable(df))
    with pytest.raises(ValueError, match="more than 50 distinct"):
        p.groupby("g", max_groups=50)
    df3 = df.withColumn("g3", (F.col("x") % 3).cast("int").cast("string"))
    grp = Plotter(EzTable(df3)).groupby("g3")
    assert grp.keys == ["0", "1", "2"]


# ------------------------- directive 7: minhash artifact end-to-end parity
def test_minhash_loaded_artifact_equals_in_session_and_batch(spark, tmp_path):
    """Dedup of a new shard against the LOADED minhash index pair must
    equal (a) dedup against the in-session frames and (b) a batch rerun
    over the union — the artifact is a pure persistence layer."""
    from ezdata_spark.operators.ann_index import (
        load_minhash_index,
        save_minhash_index,
    )
    from ezdata_spark.operators.dedup import minhash_dedup, minhash_dedup_incremental

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, base + f" variant {i % 7}") for i in range(40)]
    rows += [(100 + i, base + f" variant {i % 7} extra") for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    hist = docs.filter(F.col("doc_id") < 50)
    batch = docs.filter(F.col("doc_id") >= 50)
    _, sigs, bands = minhash_dedup_incremental(
        hist, threshold=0.7, return_bands=True
    )
    path = str(tmp_path / "mh_idx")
    save_minhash_index(path, sigs, bands)
    lsigs, lbands, params = load_minhash_index(spark, path)
    kw = dict(
        threshold=0.7,
        num_hashes=params["num_hashes"],
        bands=params["bands"],
        shingle_n=params["shingle_n"],
        id_col=params["id_col"],
    )
    loaded, _ = minhash_dedup_incremental(
        batch, history_signatures=lsigs, history_bands=lbands, **kw
    )
    insess, _ = minhash_dedup_incremental(
        batch, history_signatures=sigs, history_bands=bands, **kw
    )
    got_loaded = sorted(r.doc_id for r in loaded.collect())
    got_insess = sorted(r.doc_id for r in insess.collect())
    assert got_loaded == got_insess
    # batch rerun over the union: "drop iff near-dup of any smaller-id
    # doc" — pairs are (id_a < id_b), so the dropped set is {id_b}
    dropped = {
        r.id_b for r in minhash_dedup(docs, "text", "doc_id", threshold=0.7).collect()
    }
    rerun = sorted(i for i, _ in rows if i >= 50 and i not in dropped)
    assert got_loaded == rerun


# ---------------------------- directive 5: logistic-regression training
def test_logreg_train_matches_numpy_reference(spark):
    """Distributed full-batch GD must equal a driver-side numpy fit on
    the same features (x_j = count_j / n_tokens, zero init, fixed
    epochs, no RNG) to float tolerance, and the trained model must
    separate an obviously separable corpus."""
    from ezdata_spark.operators.textstats import linear_score_stateless, logreg_train

    rng = np.random.default_rng(42)
    good_words = ["science", "theory", "proof", "study", "result"]
    bad_words = ["click", "buy", "cheap", "offer", "win"]
    common = ["the", "a", "of", "and", "to"]
    rows = []
    for i in range(120):
        label = i % 2
        pool = (good_words if label else bad_words) + common
        text = " ".join(rng.choice(pool, size=rng.integers(8, 20)))
        rows.append((i, text, label))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    w, b = logreg_train(docs, vocab_size=16, epochs=4, lr=2.0)

    # ---- numpy replay on identical features
    toks = {i: t.lower().split() for i, t, _ in rows}
    from collections import Counter
    df_cnt = Counter()
    for tl in toks.values():
        df_cnt.update(set(tl))
    vocab = sorted(df_cnt, key=lambda t: (-df_cnt[t], t))[:16]
    vidx = {t: j for j, t in enumerate(vocab)}
    X = np.zeros((len(rows), 16))
    y = np.array([float(l) for _, _, l in rows])
    for r, (i, _, _) in enumerate(rows):
        tl = toks[i]
        n = max(len(tl), 1)
        for t in tl:
            if t in vidx:
                X[r, vidx[t]] += 1.0 / n
    wr = np.zeros(16)
    br = 0.0
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(X @ wr + br)))
        g = p - y
        wr -= 2.0 * (X.T @ g) / len(rows)
        br -= 2.0 * g.sum() / len(rows)
    assert set(w) == set(vocab)
    assert abs(b - br) < 1e-10
    for t in vocab:
        assert abs(w[t] - wr[vidx[t]]) < 1e-10, t
    # the fit separates: good words positive, bad words negative
    for t in good_words:
        if t in w:
            assert w[t] > 0
    for t in bad_words:
        if t in w:
            assert w[t] < 0
    scored = {
        r.doc_id: r.prob
        for r in linear_score_stateless(docs, w, bias=b).collect()
    }
    p_np = 1.0 / (1.0 + np.exp(-(X @ wr + br)))
    for r, (i, _, _) in enumerate(rows):
        assert abs(scored[i] - p_np[r]) < 1e-9


# --------------------------------- directive 6: stupid-backoff trigram LM
def test_backoff_logprob_matches_python_reference(spark):
    """backoff_logprob == a pure-Python stupid-backoff replay: same
    tokenization, same pruning (count >= 2), same 0.4 backoff chain,
    same start-order handling for the first two positions."""
    import math
    from collections import Counter

    from ezdata_spark.operators.corpus import backoff_logprob

    rows = [
        (1, "the cat sat on the mat the cat sat again"),
        (2, "the dog ran in the park the dog ran far"),
        (3, "a completely different sentence with unique words here"),
        (4, "the cat sat on the mat once more today"),
        (5, "the cat sat"),
        (6, "single"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.n_tok, r.avg_nll) for r in backoff_logprob(docs).collect()}

    toks = {i: t.lower().split() for i, t in rows}
    tri, bi, uni = Counter(), Counter(), Counter()
    for tl in toks.values():
        for i, c in enumerate(tl):
            uni[c] += 1
            if i >= 1:
                bi[(tl[i - 1], c)] += 1
            if i >= 2:
                tri[(tl[i - 2], tl[i - 1], c)] += 1
    tri = {k: v for k, v in tri.items() if v >= 2}
    bi = {k: v for k, v in bi.items() if v >= 2}
    T = sum(uni.values())
    A = 0.4
    for did, tl in toks.items():
        nll = 0.0
        for i, c in enumerate(tl):
            a = tl[i - 2] if i >= 2 else None
            b = tl[i - 1] if i >= 1 else None
            if a is not None and (a, b, c) in tri and (a, b) in bi:
                s = tri[(a, b, c)] / bi[(a, b)]
            elif b is not None and (b, c) in bi:
                s = (A if a is not None else 1.0) * bi[(b, c)] / uni[b]
            else:
                pen = A * A if a is not None else (A if b is not None else 1.0)
                s = pen * uni[c] / T
            nll += -math.log(s)
        assert got[did] == (len(tl), round(nll / len(tl), 6)), did


def test_backoff_logprob_drops_empty_docs(spark):
    from ezdata_spark.operators.corpus import backoff_logprob

    docs = spark.createDataFrame(
        [(1, "some words here"), (2, ""), (3, "   ")], ["doc_id", "text"]
    )
    ids = {r.doc_id for r in backoff_logprob(docs).collect()}
    assert ids == {1}


# -------------------------- directive 2: dup_span touched-doc rebuild gate
def test_dup_span_gate_mixed_touched_untouched(spark):
    """The touched-doc gate must not change results: untouched docs
    come back token-rejoined with n_after == n_before, touched docs
    lose exactly the covered positions, fully-covered docs come back
    empty with n_after 0."""
    from ezdata_spark.operators.corpus import remove_duplicate_spans

    span = " ".join(f"s{i}" for i in range(5))
    rows = [
        # two docs sharing a 5-token span (both touched)
        (1, f"alpha beta {span} gamma delta"),
        (2, f"{span} epsilon zeta eta theta iota"),
        # fully covered: the duplicated span IS the whole doc
        (3, span),
        (4, span),
        # untouched
        (5, "completely unique words nobody repeats anywhere near"),
        (6, "another entirely distinct document with fresh content"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.kept_text, r.n_tokens_before, r.n_tokens_after)
        for r in remove_duplicate_spans(docs, window=5, min_count=2).collect()
    }
    assert out[5] == (rows[4][1], 7, 7)
    assert out[6] == (rows[5][1], 7, 7)
    assert out[3] == ("", 5, 0)
    assert out[4] == ("", 5, 0)
    assert out[1] == ("alpha beta gamma delta", 9, 4)
    assert out[2] == ("epsilon zeta eta theta iota", 10, 5)
    assert len(out) == 6


def test_dup_span_gate_hash_grams_parity(spark):
    """The rolling-hash window keys through the gated pipeline: the
    touched docs lose exactly the shared 'words x0 .. x5' run (the two
    duplicated 6-token windows cover positions 2..8), the unique docs
    pass through whole."""
    from ezdata_spark.operators.corpus import remove_duplicate_spans

    span = " ".join(f"x{i}" for i in range(6))
    rows = [(i, f"doc {i} words {span} tail{i} end") for i in range(4)]
    rows += [(10 + i, f"unique doc {i} " + " ".join(f"u{i}_{j}" for j in range(8)))
             for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(map(tuple, remove_duplicate_spans(docs, window=6).collect()))
    want = sorted(
        [(i, f"doc {i} tail{i} end", 11, 4) for i in range(4)]
        + [(i, t, 11, 11) for i, t in rows[4:]]
    )
    assert got == want


# --------------------------------- code-review: None group key member rows
def test_plotter_groupby_null_key_member_selects_null_rows(spark):
    """A null group key must select its own rows (eqNullSafe) — with ==
    the None member was silently empty while the fused Group.hist path
    aggregated the null group, diverging the two documented-identical
    paths."""
    from ezdata_spark import EzTable
    from ezdata_spark.plotting import Plotter

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, None), (3.0, "a"), (4.0, None)], ["x", "g"]
    )
    grp = Plotter(EzTable(df)).groupby("g")
    assert grp.keys == [None, "a"]
    counts = {k: m.t.df.count() for k, m in zip(grp.keys, grp.members)}
    assert counts == {None: 2, "a": 2}


# ------------------- external-LM scoring + persisted ngram-LM artifact
def test_backoff_score_external_lm_matches_python(spark, tmp_path):
    """backoff_score against an ngram_lm_build LM == a pure-Python
    replay: Laplace unigram floor gives OOV tokens positive mass, the
    backoff chain and pruning match q90a's, and the persisted artifact
    (save_ngram_lm/load_ngram_lm) scores identically to the in-session
    tables."""
    import math
    from collections import Counter

    from ezdata_spark.operators.ann_index import load_ngram_lm, save_ngram_lm
    from ezdata_spark.operators.corpus import backoff_score, ngram_lm_build

    lm_rows = [
        (1, "the cat sat on the mat the cat sat again"),
        (2, "the dog ran in the park the dog ran far"),
        (3, "the cat sat on the mat once more"),
    ]
    shard_rows = [
        (10, "the cat sat on the mat"),          # in-LM trigrams
        (11, "zebras quantum xylophone"),          # fully OOV
        (12, "the cat leaps over unknown words"),  # mixed
        (13, "single"),
    ]
    lm_docs = spark.createDataFrame(lm_rows, ["doc_id", "text"])
    shard = spark.createDataFrame(shard_rows, ["doc_id", "text"])
    tri, bi, uni = ngram_lm_build(lm_docs, min_count=2)
    got = {r.doc_id: (r.n_tok, r.avg_nll)
           for r in backoff_score(shard, tri, bi, uni).collect()}

    # persisted-artifact parity
    path = str(tmp_path / "lm")
    save_ngram_lm(path, tri, bi, uni)
    ltri, lbi, luni, params = load_ngram_lm(spark, path)
    assert params["alpha"] == 0.4 and params["min_count"] == 2
    got_loaded = {r.doc_id: (r.n_tok, r.avg_nll)
                  for r in backoff_score(shard, ltri, lbi, luni).collect()}
    assert got == got_loaded

    # pure-python replay
    tric, bic, unic = Counter(), Counter(), Counter()
    for _, t in lm_rows:
        tl = t.lower().split()
        for i, c in enumerate(tl):
            unic[c] += 1
            if i >= 1:
                bic[(tl[i - 1], c)] += 1
            if i >= 2:
                tric[(tl[i - 2], tl[i - 1], c)] += 1
    tric = {k: v for k, v in tric.items() if v >= 2}
    bic = {k: v for k, v in bic.items() if v >= 2}
    T, V = sum(unic.values()), len(unic)
    A = 0.4
    for did, t in shard_rows:
        tl = t.lower().split()
        nll = 0.0
        for i, c in enumerate(tl):
            a = tl[i - 2] if i >= 2 else None
            b = tl[i - 1] if i >= 1 else None
            if a is not None and (a, b, c) in tric and (a, b) in bic:
                s = tric[(a, b, c)] / bic[(a, b)]
            elif b is not None and (b, c) in bic and b in unic:
                s = (A if a is not None else 1.0) * bic[(b, c)] / unic[b]
            else:
                pen = A * A if a is not None else (A if b is not None else 1.0)
                s = pen * ((unic.get(c, 0) + 1) / (T + V))
            nll += -math.log(s)
        assert got[did] == (len(tl), round(nll / len(tl), 6)), did


def test_backoff_score_stateless_matches_join_form_and_stream(spark, tmp_path):
    """backoff_score_stateless (literal-map LM, per-row expression) ==
    the DataFrame-join form on rounded scores, and it runs unchanged on
    a readStream frame in append mode (stream == batch)."""
    from ezdata_spark.operators.corpus import (
        backoff_score,
        backoff_score_stateless,
        collect_ngram_lm,
        ngram_lm_build,
    )

    lm_docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat the cat sat again"),
            (2, "the dog ran in the park the dog ran far"),
            (3, "the cat sat on the mat once more"),
        ],
        ["doc_id", "text"],
    )
    shard = spark.createDataFrame(
        [
            (10, "the cat sat on the mat"),
            (11, "zebras quantum xylophone"),
            (12, "the cat leaps over unknown words"),
            (13, "single"),
            (14, ""),
        ],
        "doc_id long, text string",
    )
    tri, bi, uni = ngram_lm_build(lm_docs, min_count=2)
    want = {r.doc_id: (r.n_tok, r.avg_nll)
            for r in backoff_score(shard, tri, bi, uni).collect()}
    td, bd, ud = collect_ngram_lm(tri, bi, uni)
    got = {r.doc_id: (r.n_tok, r.avg_nll)
           for r in backoff_score_stateless(shard, td, bd, ud).collect()}
    assert got == want and 14 not in got  # empty doc dropped in both

    path = str(tmp_path / "shard")
    shard.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(shard.schema).parquet(path)
    scored = backoff_score_stateless(stream, td, bd, ud)
    assert scored.isStreaming
    q = (
        scored.writeStream.format("memory").queryName("ez_backoff_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got_s = {r.doc_id: (r.n_tok, r.avg_nll)
             for r in spark.sql("SELECT * FROM ez_backoff_stream").collect()}
    assert got_s == want


def test_collect_ngram_lm_entry_cap(spark):
    from ezdata_spark.operators.corpus import collect_ngram_lm, ngram_lm_build

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(30))) for i in range(10)],
        ["doc_id", "text"],
    )
    tri, bi, uni = ngram_lm_build(docs, min_count=1)
    with pytest.raises(ValueError, match="exceeds 50 entries"):
        collect_ngram_lm(tri, bi, uni, max_entries=50)


# ------------------------------ feature-hashed logistic regression
def test_logreg_train_hashed_matches_numpy(spark):
    """Hashed-feature GD == numpy replay on the same bucket assignments
    (extracted once via Spark — xxhash64 has no stdlib twin), including
    L2; the fixed-size model trains with no data-sized driver collect."""
    from ezdata_spark.operators.textstats import (
        linear_score_hashed,
        logreg_train_hashed,
    )

    rng = np.random.default_rng(3)
    good = ["science", "theory", "proof", "study", "result"]
    bad = ["click", "buy", "cheap", "offer", "win"]
    common = ["the", "a", "of"]
    rows = []
    for i in range(100):
        label = i % 2
        pool = (good if label else bad) + common
        rows.append((i, " ".join(rng.choice(pool, size=rng.integers(6, 15))), label))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    D = 64
    w, b = logreg_train_hashed(docs, n_buckets=D, epochs=4, lr=2.0, l2=0.01)
    assert len(w) == D

    # bucket map for every distinct token, via Spark (the only xxhash64)
    terms = sorted({t for _, txt, _ in rows for t in txt.lower().split()})
    tdf = spark.createDataFrame([(t,) for t in terms], ["term"])
    bmap = {
        r.term: r.bucket
        for r in tdf.select(
            "term", F.pmod(F.xxhash64("term"), F.lit(D)).cast("int").alias("bucket")
        ).collect()
    }
    X = np.zeros((len(rows), D))
    y = np.array([float(l) for _, _, l in rows])
    for r, (_, txt, _) in enumerate(rows):
        tl = txt.lower().split()
        for t in tl:
            X[r, bmap[t]] += 1.0 / max(len(tl), 1)
    wr = np.zeros(D)
    br = 0.0
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(X @ wr + br)))
        g = p - y
        wr = wr - 2.0 * ((X.T @ g) / len(rows) + 0.01 * wr)
        br -= 2.0 * g.sum() / len(rows)
    assert abs(b - br) < 1e-10
    assert np.max(np.abs(np.array(w) - wr)) < 1e-10

    scored = {r.doc_id: r.prob for r in linear_score_hashed(docs, w, b).collect()}
    p_np = 1.0 / (1.0 + np.exp(-(X @ wr + br)))
    for r, (i, _, _) in enumerate(rows):
        assert abs(scored[i] - p_np[r]) < 1e-9


def test_linear_score_hashed_streams(spark, tmp_path):
    from ezdata_spark.operators.textstats import linear_score_hashed

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")], "doc_id long, text string"
    )
    w = [0.5, -0.25, 0.1, 0.0] * 4  # 16 buckets
    want = {r.doc_id: (r.n_tokens, r.prob)
            for r in linear_score_hashed(docs, w, 0.2).collect()}
    path = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    scored = linear_score_hashed(stream, w, 0.2)
    assert scored.isStreaming
    q = (
        scored.writeStream.format("memory").queryName("ez_hashed_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: (r.n_tokens, r.prob)
           for r in spark.sql("SELECT * FROM ez_hashed_stream").collect()}
    assert got == want


# ------------------------ bucketed IVF-PQ artifact: exchange-free cogroup
def test_bucketed_ivfpq_artifact_shuffle_free_corpus_side(spark, pq10_fixture):
    """The bucketed-table artifact must (a) return results identical to
    the path artifact / in-session frames and (b) feed the ADC cogroup
    with NO corpus-side Exchange — the bucketed scan satisfies the
    cogroup's distribution requirement."""
    from ezdata_spark.operators.ann_index import (
        load_ivf_pq_index_bucketed,
        save_ivf_pq_index_bucketed,
    )
    from ezdata_spark.operators.similarity import knn_join

    emb, left, enc, cents, cb, _ = pq10_fixture
    save_ivf_pq_index_bucketed("r10_bkt_idx", enc, cents, cb, n_buckets=8)
    bframe, bcents, bcb, _rot = load_ivf_pq_index_bucketed(spark, "r10_bkt_idx")
    kw = dict(k=5, nprobe=3, pq_oversample=4)
    want = sorted(
        (r.doc_id, r.vec_id, r.cosine, r.rank)
        for r in knn_join(left, enc, cents, pq_codebooks=cb, **kw).collect()
    )
    res = knn_join(left, bframe, bcents, pq_codebooks=bcb, **kw)
    got = sorted((r.doc_id, r.vec_id, r.cosine, r.rank) for r in res.collect())
    assert len(got) > 0 and got == want
    # plan: every Exchange below the cogroup must be on the probes side
    # (qv present) — the corpus/codes side reads bucketed, no shuffle
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    import re
    exch_lines = [l for l in plan.splitlines() if re.search(r"\bExchange hashpartitioning", l)]
    codes_exchanges = [l for l in exch_lines if "codes" in l]
    assert codes_exchanges == [], codes_exchanges


def test_bucketed_artifact_qualified_name_cross_session_overwrite(spark, pq10_fixture):
    """The stale-location cleanup must map a QUALIFIED table name to the
    directory saveAsTable will actually claim (<wh>/<db>.db/<tbl>), so a
    re-save after a catalog-forgetting restart still means overwrite.
    Simulated here by dropping the table from the catalog while leaving
    the warehouse directory behind, then re-saving."""
    from ezdata_spark.operators.ann_index import (
        load_ivf_pq_index_bucketed,
        save_ivf_pq_index_bucketed,
    )

    _, _, enc, cents, cb, _ = pq10_fixture
    spark.sql("CREATE DATABASE IF NOT EXISTS r10ns")
    try:
        save_ivf_pq_index_bucketed("r10ns.bkt_idx", enc, cents, cb, n_buckets=4)
        # forget the table but keep its managed directory — the
        # in-memory-catalog restart hazard the cleanup exists for
        spark.sql("ALTER TABLE r10ns.bkt_idx SET TBLPROPERTIES ('x'='y')")
        import os, shutil

        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        wh = wh[len("file:"):] if wh.startswith("file:") else wh
        loc = os.path.join(wh, "r10ns.db", "bkt_idx")
        assert os.path.isdir(loc), loc
        spark.sql("DROP TABLE r10ns.bkt_idx")
        os.makedirs(loc, exist_ok=True)  # leftover dir, catalog empty
        with open(os.path.join(loc, "stray.parquet"), "w") as fh:
            fh.write("junk")
        save_ivf_pq_index_bucketed("r10ns.bkt_idx", enc, cents, cb, n_buckets=4)
        frame, c2, _cb2, _ = load_ivf_pq_index_bucketed(spark, "r10ns.bkt_idx")
        assert frame.count() == enc.count() and c2 == cents
    finally:
        spark.sql("DROP TABLE IF EXISTS r10ns.bkt_idx")
        spark.sql("DROP DATABASE IF EXISTS r10ns")


def test_logreg_train_empty_input_raises(spark):
    """Both trainers reject an empty training frame with a clear error
    instead of a ZeroDivisionError from inside the epoch loop."""
    from ezdata_spark.operators.textstats import logreg_train, logreg_train_hashed

    empty = spark.createDataFrame([], "doc_id long, text string, label double")
    with pytest.raises(ValueError, match="empty training input"):
        logreg_train_hashed(empty, n_buckets=16, epochs=1)
    with pytest.raises(ValueError, match="empty training input"):
        logreg_train(empty, vocab=["a", "b"], epochs=1)


# ------------------------------------------------ round-10b: evaluation tier
def test_binary_auc_matches_pairwise_reference(spark):
    """binary_auc (distributed rank-sum) must equal the O(n^2) pairwise
    definition P(s_pos > s_neg) + 0.5 P(s_pos = s_neg) EXACTLY — the
    integer-score fixture has heavy ties, exercising the average-rank
    correction."""
    from ezdata_spark.operators.evaluate import binary_auc

    rng = np.random.RandomState(7)
    scores = rng.randint(0, 12, size=400)
    labels = (rng.rand(400) < 1 / (1 + np.exp(-(scores - 6) / 3.0))).astype(int)
    df = spark.createDataFrame(
        [(int(s), int(l)) for s, l in zip(scores, labels)], "score int, label int"
    )
    row = binary_auc(df).first()
    pos = scores[labels == 1]
    neg = scores[labels == 0]
    gt = (pos[:, None] > neg[None, :]).sum()
    eq = (pos[:, None] == neg[None, :]).sum()
    want = (gt + 0.5 * eq) / (len(pos) * len(neg))
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert row["auc"] == pytest.approx(want, abs=0, rel=0), (row["auc"], want)


def test_binary_auc_extremes_and_single_class(spark):
    from ezdata_spark.operators.evaluate import binary_auc

    # perfectly separated -> 1.0; inverted -> 0.0
    sep = spark.createDataFrame(
        [(10, 1)] * 5 + [(1, 0)] * 7, "score int, label int"
    )
    assert binary_auc(sep).first()["auc"] == 1.0
    inv = spark.createDataFrame(
        [(1, 1)] * 5 + [(10, 0)] * 7, "score int, label int"
    )
    assert binary_auc(inv).first()["auc"] == 0.0
    # one class only -> undefined, NULL (not 0)
    mono = spark.createDataFrame([(3, 1), (5, 1)], "score int, label int")
    r = binary_auc(mono).first()
    assert r["auc"] is None and r["n_neg"] == 0


def test_classification_report_matches_hand_counts(spark):
    from ezdata_spark.operators.evaluate import classification_report

    rows = [(9, 1), (8, 1), (7, 0), (5, 1), (4, 0), (2, 0), (1, 1), (0, 0)]
    df = spark.createDataFrame(rows, "score int, label int")
    r = classification_report(df, threshold=5).first()
    # pred=1 for score>=5: (9,1)TP (8,1)TP (7,0)FP (5,1)TP; rest pred=0
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (3, 1, 1, 3)
    assert r["accuracy"] == pytest.approx(6 / 8)
    assert r["precision"] == pytest.approx(3 / 4)
    assert r["recall"] == pytest.approx(3 / 4)
    assert r["f1"] == pytest.approx(0.75)


def test_classification_report_degenerate_null_not_zero(spark):
    from ezdata_spark.operators.evaluate import classification_report

    df = spark.createDataFrame([(1, 0), (2, 0)], "score int, label int")
    r = classification_report(df, threshold=10).first()
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (0, 0, 0, 2)
    assert r["precision"] is None and r["recall"] is None and r["f1"] is None
    assert r["accuracy"] == 1.0


# ------------------------------------------------ round-10b: distributed PCA
def test_pca_train_matches_numpy_reference(spark, sf_dir):
    """One-pass distributed (count, sum, X^T X) covariance + driver eigh
    must reproduce numpy PCA on the collected matrix: same covariance,
    same axes (up to the pinned sign convention), same variance ratios,
    and orthonormal components."""
    from ezdata_spark.operators.decomp import pca_project, pca_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    X = np.stack([r["embedding"] for r in emb.select("embedding").collect()]).astype(
        np.float64
    )
    mean, comps, ratio = pca_train(emb, k=5)
    mu = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:5]
    want = evecs[:, order].T
    flip = np.sign(want[np.arange(5), np.abs(want).argmax(axis=1)])
    want = want * flip[:, None]
    C = np.asarray(comps)
    assert np.allclose(np.asarray(mean), mu, atol=1e-10)
    assert np.allclose(C, want, atol=1e-8)
    assert np.allclose(C @ C.T, np.eye(5), atol=1e-10)  # orthonormal
    assert np.allclose(np.asarray(ratio), evals[order] / evals.sum(), atol=1e-10)
    assert all(ratio[i] >= ratio[i + 1] for i in range(4))  # descending
    # projection: (X - mean) @ C.T, computed on-cluster
    out = pca_project(emb, mean, comps).orderBy("vec_id")
    Y = np.stack([r["pca"] for r in out.select("pca").collect()])
    ids = [r["vec_id"] for r in out.select("vec_id").collect()]
    Xo = np.stack(
        [r["embedding"] for r in emb.orderBy("vec_id").select("embedding").collect()]
    ).astype(np.float64)
    assert Y.shape == (len(ids), 5)
    assert np.allclose(Y, (Xo - mu) @ C.T, atol=1e-8)


def test_pca_null_vectors_and_guards(spark):
    from ezdata_spark.operators.decomp import pca_project, pca_train

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, None), (2, [4.0, 0.0, 1.0]), (3, [2.0, 2.0, 2.0])],
        "id long, embedding array<double>",
    )
    mean, comps, _ = pca_train(df, k=2)  # nulls skipped in the fit
    out = {r["id"]: r["pca"] for r in pca_project(df, mean, comps).collect()}
    assert out[1] is None and out[0] is not None  # nulls pass through
    with pytest.raises(ValueError, match="k=9 exceeds dimensionality"):
        pca_train(df, k=9)
    empty = spark.createDataFrame([], "id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-null vectors"):
        pca_train(empty, k=1)
    with pytest.raises(ValueError, match="do not match mean"):
        pca_project(df, mean, [[1.0, 0.0]])


def test_average_precision_matches_sklearn_definition(spark):
    """average_precision must equal the step-interpolated sklearn
    definition computed per distinct DESCENDING threshold (ties
    collapsed) — checked against a pure-numpy replay on a heavy-ties
    fixture."""
    from ezdata_spark.operators.evaluate import average_precision

    rng = np.random.RandomState(11)
    scores = rng.randint(0, 15, size=300)
    labels = (rng.rand(300) < (scores + 1) / 20.0).astype(int)
    df = spark.createDataFrame(
        [(int(s), int(l)) for s, l in zip(scores, labels)], "score int, label int"
    )
    row = average_precision(df).first()
    P = labels.sum()
    ap = 0.0
    for s in np.unique(scores)[::-1]:
        p_s = labels[scores == s].sum()
        cum_p = labels[scores >= s].sum()
        cum_t = (scores >= s).sum()
        ap += (p_s * cum_p) / cum_t / P
    assert row["n_pos"] == P and row["n_neg"] == 300 - P
    assert row["ap"] == pytest.approx(ap, rel=1e-12)
    # perfect ranking -> 1.0; no positives -> NULL
    sep = spark.createDataFrame([(9, 1)] * 4 + [(1, 0)] * 6, "score int, label int")
    assert average_precision(sep).first()["ap"] == 1.0
    nopos = spark.createDataFrame([(1, 0), (2, 0)], "score int, label int")
    assert average_precision(nopos).first()["ap"] is None


def test_pca_artifact_roundtrip_bit_exact(spark, sf_dir, tmp_path):
    """save_pca/load_pca: parameter-only sidecar; a reloaded fit
    projects BIT-identically (JSON shortest-repr double round-trip)."""
    from ezdata_spark.operators.ann_index import load_pca, save_pca
    from ezdata_spark.operators.decomp import pca_project, pca_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mean, comps, ratio = pca_train(emb, k=3)
    path = str(tmp_path / "pca_art")
    save_pca(path, mean, comps, ratio)
    m2, c2, r2 = load_pca(spark, path)
    assert m2 == mean and c2 == comps and r2 == ratio  # bit-exact lists
    a = pca_project(emb, mean, comps).orderBy("vec_id").select("pca").collect()
    b = pca_project(emb, m2, c2).orderBy("vec_id").select("pca").collect()
    assert [r["pca"] for r in a] == [r["pca"] for r in b]
    with pytest.raises(ValueError, match="not a pca artifact"):
        load_pca(spark, str(tmp_path / "nope"))


def test_pca_then_ivf_composition(spark, sf_dir):
    """The pipeline composition PCA reduce -> IVF ANN must run end-to-end
    on the reduced vectors and keep useful recall vs brute force in the
    REDUCED space (the reduction is the approximation under test
    upstream; here we pin that the operators compose)."""
    from ezdata_spark.operators.decomp import pca_project, pca_train
    from ezdata_spark.operators.similarity import cosine_topk, ivf_index, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    mean, comps, _ = pca_train(emb, k=16)
    red = pca_project(emb, mean, comps).select(
        "vec_id", F.col("pca").alias("embedding")
    )
    indexed, centroids = ivf_index(red, n_cells=8)
    qs = red.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    approx = ivf_topk(indexed, centroids, qs, k=5, nprobe=8)  # full probe
    exact = cosine_topk(red, qs, k=5)
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) == 1.0  # full probe == exact in reduced space


def test_decontaminate_bloom_prefilter_bit_identical(spark, sf_dir):
    """Both the unscreened and the Bloom-screened path must return
    EXACTLY a pure-Python string-gram reference (the Bloom is built and
    probed on the gram ids the join matches: no false negatives by
    construction, false positives die in the equi-join), and the screen
    must actually drop the overwhelming share of non-matching grams
    before the distinct's shuffle."""
    import re
    from ezdata_spark.operators.corpus import (
        _bloom_build,
        _bloom_test,
        decontaminate,
        word_ngrams,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    cols = ("doc_id", "n_hit", "contaminated")

    def grams3(text):
        ts = [t for t in re.split(r"\s+", (text or "").lower(), flags=re.ASCII) if t]
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    bench_set = set().union(*(grams3(t) for i, t in texts.items() if i % 97 == 0))
    want = []
    for i, t in sorted(texts.items()):
        if i % 97 != 0:
            hit = len(grams3(t) & bench_set)
            want.append((i, hit, hit > 0))
    assert any(c for _, _, c in want)
    for prefilter in (None, "bloom"):
        got = sorted(
            map(
                tuple,
                decontaminate(train, bench, n=3, prefilter=prefilter)
                .select(*cols)
                .collect(),
            )
        )
        assert got == want, prefilter
    # screen selectivity: with a DISJOINT benchmark, almost everything
    # must be dropped map-side (fp rate ~1e-3 at 16 bits/gram)
    fake_bench = spark.createDataFrame(
        [(f"zz{i} qq{i} kk{i} vv{i}",) for i in range(50)], "text string"
    )
    grams = train.select(F.explode(word_ngrams("text", 3)).alias("ng"))
    raw = grams.count()
    bench_grams = fake_bench.select(F.explode(word_ngrams("text", 3)).alias("ng")).distinct()
    screened = grams.where(_bloom_test("ng", *_bloom_build(bench_grams, "ng", 16))).count()
    assert screened <= raw * 0.01
    with pytest.raises(ValueError, match="unknown prefilter"):
        decontaminate(train, bench, prefilter="cuckoo")


def test_topk_recall_hand_fixture(spark):
    """topk_recall on a hand-computed overlap, including a query the
    approximate side missed entirely (left join -> recall 0.0) and
    duplicate result rows (distinct first)."""
    from ezdata_spark.operators.evaluate import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "qid int, vec_id int",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 99), (2, 21), (2, 20)], "qid int, vec_id int"
    )
    out = {r["qid"]: r for r in topk_recall(approx, exact).collect()}
    assert out[1]["n_exact"] == 3 and out[1]["n_hit"] == 1
    assert out[1]["recall"] == pytest.approx(1 / 3)
    assert out[2]["recall"] == 1.0
    assert out[3]["n_hit"] == 0 and out[3]["recall"] == 0.0


def test_auc_and_ap_drop_null_scores(spark):
    """NULL scores are unrankable and must be DROPPED, not ranked as the
    lowest tie group: adding null-score rows leaves both statistics
    unchanged."""
    from ezdata_spark.operators.evaluate import average_precision, binary_auc

    base = [(3, 1), (2, 0), (5, 1), (1, 0), (2, 1)]
    with_nulls = base + [(None, 1), (None, 0), (None, 0)]
    clean = spark.createDataFrame(base, "score int, label int")
    noisy = spark.createDataFrame(with_nulls, "score int, label int")
    a1, a2 = binary_auc(clean).first(), binary_auc(noisy).first()
    assert (a1["auc"], a1["n_pos"], a1["n_neg"]) == (a2["auc"], a2["n_pos"], a2["n_neg"])
    p1, p2 = average_precision(clean).first(), average_precision(noisy).first()
    assert (p1["ap"], p1["n_pos"], p1["n_neg"]) == (p2["ap"], p2["n_pos"], p2["n_neg"])


def test_random_projection_deterministic_and_jl(spark, sf_dir):
    """Same seed -> bit-identical projection (the cross-shard/stream
    contract); distances in the reduced space track originals within a
    loose JL distortion band; different seed -> different matrix."""
    from ezdata_spark.operators.decomp import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    a = [r["rp"] for r in random_projection(emb, 64, 32).orderBy("vec_id").collect()]
    b = [r["rp"] for r in random_projection(emb, 64, 32).orderBy("vec_id").collect()]
    assert a == b  # bit-identical across invocations
    c = [r["rp"] for r in random_projection(emb, 64, 32, seed=7).orderBy("vec_id").collect()]
    assert a != c
    X = np.stack(
        [r["embedding"] for r in emb.orderBy("vec_id").select("embedding").collect()]
    ).astype(np.float64)
    Y = np.asarray(a)
    # JL property: median pairwise-distance ratio ~1, spread bounded
    rng = np.random.RandomState(0)
    i, j = rng.randint(0, len(X), 200), rng.randint(0, len(X), 200)
    keep = i != j
    dx = np.linalg.norm(X[i[keep]] - X[j[keep]], axis=1)
    dy = np.linalg.norm(Y[i[keep]] - Y[j[keep]], axis=1)
    ratio = dy / dx
    assert 0.8 < np.median(ratio) < 1.2
    assert (np.abs(ratio - 1) < 0.6).mean() > 0.95
    with pytest.raises(ValueError, match="need k,dim >= 1"):
        random_projection(emb, 64, 0)


def test_bloom_prefilter_oversized_benchmark_raises(spark):
    """A corpus-shaped 'benchmark' must be rejected before embedding a
    multi-MB bit array into the plan (the exact hashed-key join is the
    right tool there)."""
    from ezdata_spark.operators.corpus import _bloom_build

    big = spark.range(600_000).select(F.concat(F.lit("g"), "id").alias("ng"))
    with pytest.raises(ValueError, match="too large for a plan-literal Bloom"):
        _bloom_build(big, "ng", 16)


def test_decontaminate_stateless_bloom_superset_and_stream(spark, sf_dir, tmp_path):
    """The stateless Bloom screen must (a) flag a SUPERSET of the exact
    stateless flags (no false negatives), (b) stay selective on a
    disjoint benchmark (~0.1% fp at 16 bits/gram), and (c) run under
    Structured Streaming append mode with values identical to batch."""
    import pandas as pd

    from ezdata_spark.operators.corpus import (
        decontaminate_stateless,
        decontaminate_stateless_bloom,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench_rows = docs.filter(F.col("doc_id") % 97 == 0).select("text").collect()
    from ezdata_spark.operators.corpus import word_ngrams

    bench_grams = [
        g
        for r in spark.createDataFrame(bench_rows)
        .select(F.explode(word_ngrams("text", 3)).alias("ng"))
        .distinct()
        .collect()
        for g in [r["ng"]]
    ]
    train = docs.filter(F.col("doc_id") % 97 != 0)
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_stateless(train, bench_grams, n=3).collect()
    }
    screen = {
        r["doc_id"]: r["maybe_contaminated"]
        for r in decontaminate_stateless_bloom(train, bench_grams, n=3).collect()
    }
    assert all(screen[k] for k, v in exact.items() if v)  # superset
    assert sum(exact.values()) > 0
    # disjoint benchmark: screen flags almost nothing
    fake = [f"zz{i} qq{i} kk{i}" for i in range(500)]
    flags = decontaminate_stateless_bloom(train, fake, n=3)
    n_flag = flags.where("maybe_contaminated").count()
    assert n_flag <= flags.count() * 0.02
    # stream == batch
    src = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["alpha beta gamma delta", "omega psi chi phi"]}
    ).to_parquet(src)
    batch_df = spark.read.parquet(src)
    bench = ["alpha beta gamma"]
    stream = (
        spark.readStream.schema(batch_df.schema)
        .format("parquet")
        .load(str(tmp_path) + "/*.parquet")
    )
    q = (
        decontaminate_stateless_bloom(stream, bench, n=3)
        .writeStream.format("memory")
        .queryName("bloom_screen_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        r.doc_id: r.maybe_contaminated
        for r in spark.sql("select * from bloom_screen_stream").collect()
    }
    want = {
        r.doc_id: r.maybe_contaminated
        for r in decontaminate_stateless_bloom(batch_df, bench, n=3).collect()
    }
    assert got == want == {1: True, 2: False}


def test_auc_algebraic_properties(spark):
    """Rank-statistic algebra: AUC is invariant under any strictly
    increasing score transform (it only reads the ordering), and
    flipping the labels reflects it around 1/2 (AUC + AUC' = 1).
    AP stays within [0, 1] and equals the positive prevalence for a
    constant score."""
    from ezdata_spark.operators.evaluate import average_precision, binary_auc

    rng = np.random.RandomState(3)
    scores = rng.randint(0, 9, size=150)
    labels = (rng.rand(150) < 0.4).astype(int)
    df = spark.createDataFrame(
        [(int(s), int(l)) for s, l in zip(scores, labels)], "score int, label int"
    )
    base = binary_auc(df).first()["auc"]
    # strictly increasing transform: s -> 3*s^2 + 7 (s >= 0)
    mono = df.select((3 * F.col("score") * F.col("score") + 7).alias("score"), "label")
    assert binary_auc(mono).first()["auc"] == base
    flipped = df.select("score", (1 - F.col("label")).alias("label"))
    assert binary_auc(flipped).first()["auc"] == pytest.approx(1.0 - base, abs=1e-12)
    const = df.select(F.lit(5).alias("score"), "label")
    prev = labels.sum() / len(labels)
    assert average_precision(const).first()["ap"] == pytest.approx(prev, abs=1e-12)
    ap = average_precision(df).first()["ap"]
    assert 0.0 <= ap <= 1.0


def test_pca_moments_merge_equals_full_fit(spark, sf_dir, tmp_path):
    """Incremental PCA: moments are mergeable sufficient statistics —
    fold shard B's one-pass moments into persisted shard-A moments and
    the re-derived axes match the full-corpus fit (no historical
    re-scan), same contract as the incremental MinHash/LM artifacts."""
    from ezdata_spark.operators.ann_index import load_ann_index, save_ann_index
    from ezdata_spark.operators.decomp import (
        merge_moments,
        pca_from_moments,
        pca_moments,
        pca_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    ma = pca_moments(a)
    path = str(tmp_path / "pca_moments")
    save_ann_index(path, None, {"kind": "pca_moments", **ma})
    _, loaded = load_ann_index(spark, path)
    assert loaded["n"] == ma["n"] and loaded["sum"] == ma["sum"]  # JSON exact
    merged = merge_moments(
        {k: loaded[k] for k in ("n", "sum", "xtx")}, pca_moments(b)
    )
    mean_i, comps_i, ratio_i = pca_from_moments(merged, k=4)
    mean_f, comps_f, ratio_f = pca_train(emb, k=4)
    assert np.allclose(mean_i, mean_f, atol=1e-12)
    assert np.allclose(comps_i, comps_f, atol=1e-8)
    assert np.allclose(ratio_i, ratio_f, atol=1e-10)
    with pytest.raises(ValueError, match="dimensionality mismatch"):
        merge_moments(merged, {"n": 1, "sum": [0.0], "xtx": [0.0]})
    with pytest.raises(ValueError, match="need 1 <= k"):
        pca_from_moments(merged, k=99)
