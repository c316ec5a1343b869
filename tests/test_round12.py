"""Round-12 regression tests.

Covers the round-11 ADVICE findings (all low):
- plans/audit.py physical_plan non-ASPE fallback leaving the
  '== Final Plan ==' header line in the returned text,
- LabelledGrid.sel raising a bare KeyError on unknown dims instead of
  isel's friendly message (and the reserved 'method' keyword),
- grid_from_binned misreporting a missing value column as non-numeric.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------- ADVICE #1: audit.py
def test_strip_section_headers_drops_final_plan_header():
    from ezdata_spark.plans.audit import _strip_section_headers

    txt = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "== Final Plan ==\n"
        "*(1) HashAggregate(keys=[k], functions=[count(1)])\n"
        "+- ShuffleQueryStage 0\n"
    )
    out = _strip_section_headers(txt)
    assert "== Final Plan ==" not in out
    assert "HashAggregate" in out and "ShuffleQueryStage" in out
    # a node line that merely contains '==' in an expression is kept
    keep = "+- Filter (isnotnull(x) AND (x == 3))"
    assert _strip_section_headers(keep) == keep


# --------------------------------------------- ADVICE #2: LabelledGrid.sel
def _grid(spark):
    from ezdata_spark.operators.labelled import histogram_grid

    df = spark.createDataFrame(
        [(0.5, 1.5), (2.5, 0.5), (2.7, 3.5)], "x double, y double"
    )
    return histogram_grid(
        df, ["x", "y"], nbins=[4, 4], range=[(0.0, 4.0), (0.0, 4.0)]
    )


def test_sel_unknown_dim_friendly_error(spark):
    g = _grid(spark)
    with pytest.raises(KeyError, match=r"unknown dims \['z'\]"):
        g.sel(z=1.0)
    # the valid-dims hint names the real dims
    with pytest.raises(KeyError, match="x"):
        g.sel(nope=0.5)


def test_sel_valid_after_validation(spark):
    g = _grid(spark)
    s = g.sel(x=2.5)  # bin center of [2,3)
    assert s.dims == ("y",)
    assert np.array_equal(s.values, g.values[2, :])


# ------------------------------- fivethirtyeight theme (r11 missing #1)
def test_fivethirtyeight_plotly_template_golden():
    """Golden values from the reference template
    (/root/reference/ezdata/plotly/fivethirtyeight_theme.py:1-75)."""
    from ezdata_spark.functions.themes import plotly_template

    t = plotly_template("fivethirtyeight")
    assert t["data"]["scatter"] == [{"line": {"width": 4}}]
    lay = t["layout"]
    assert lay["legend"] == {
        "bgcolor": "rgba(255, 255, 255, 0.8)",
        "bordercolor": "rgba(0, 0, 0, 0.5)",
        "borderwidth": 0,
    }
    for ax in ("xaxis", "yaxis"):
        assert lay[ax]["gridcolor"] == "#cbcbcb"
        assert lay[ax]["zeroline"] is False
        assert lay[ax]["ticklen"] == 0
        assert lay[ax]["title"]["font"]["size"] == 18
        assert lay[ax]["tickfont"] == {"size": 14, "color": "#808080"}
    assert lay["colorway"] == [
        "#008fd5", "#fc4f30", "#e5ae38", "#6d904f", "#8b8b8b", "#810f7c",
    ]
    # the reference sets f0f0f0 then overrides both canvases to white
    assert lay["paper_bgcolor"] == lay["plot_bgcolor"] == "#ffffff"
    assert lay["font"] == {"size": 14}
    assert lay["margin"] == {"l": 80, "r": 95, "b": 70, "t": 100, "pad": 5}
    assert lay["title"]["font"]["size"] == 20
    assert (lay["width"], lay["height"], lay["autosize"]) == (800, 600, False)
    # axis dicts are independent copies (mutating one must not leak)
    t["layout"]["xaxis"]["ticklen"] = 9
    assert plotly_template("fivethirtyeight")["layout"]["xaxis"]["ticklen"] == 0


def test_fivethirtyeight_in_theme_table_and_mpl_applies():
    from ezdata_spark.functions.themes import THEMES, plotly_template

    assert "fivethirtyeight" in THEMES
    assert THEMES["fivethirtyeight"]["lines.linewidth"] == 4
    # light_minimal path still produces a template wrapper
    lm = plotly_template("light_minimal")
    assert lm["layout"]["paper_bgcolor"] == "white"
    # the rcParams dict must be installable when matplotlib exists
    mpl = pytest.importorskip("matplotlib")
    mpl.use("Agg")
    import matplotlib.pyplot as plt

    from ezdata_spark.functions.themes import apply_theme

    with mpl.rc_context():
        apply_theme("fivethirtyeight")
        assert plt.rcParams["lines.linewidth"] == 4
        assert [c["color"] for c in plt.rcParams["axes.prop_cycle"]] == [
            "#008fd5", "#fc4f30", "#e5ae38", "#6d904f", "#8b8b8b", "#810f7c",
        ]


def test_register_plotly_template_env_gate():
    from ezdata_spark.functions.themes import register_plotly_template

    try:
        import plotly  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="requires plotly"):
            register_plotly_template()
    else:  # pragma: no cover - env with plotly
        import plotly.io as pio

        register_plotly_template()
        assert "fivethirtyeight" in pio.templates


# ------------------------- self-normalizing bench (r11 directive #2)
def test_baseline_map_covers_every_headline_query():
    """Every HEADLINE query must have a checked-in baseline row (a new
    headline query without one silently escapes the normalized
    judgment); gate values sane."""
    import bench

    m = bench.load_baseline_map()
    assert m, "BASELINE_QUERIES.json missing or unparseable"
    rows = m["queries"]
    missing = [n for n in bench.HEADLINE if n not in rows]
    assert not missing, f"headline queries without baseline rows: {missing}"
    for n, r in rows.items():
        assert r["sec"] > 0 and r["basket"] > 0, n
    assert 1.0 <= m["gate_ratio"] <= 2.0
    assert 0.5 <= m["gate_basket"] <= 5.0
    # the four basket queries are in the map at the era basket itself
    for n in bench.REF_QUERIES:
        assert n in rows


def test_normalize_vs_baseline_math():
    from bench import normalize_vs_baseline

    baseline = {
        "gate_basket": 1.0,
        "gate_ratio": 1.25,
        "queries": {
            "qa": {"sec": 1.0, "basket": 1.0},
            "qb": {"sec": 2.0, "basket": 1.0},
        },
    }
    # run twice as slow ambient (basket 2.0): raw 2x reads normalized 1x
    norm, basket_ratio, ok = normalize_vs_baseline(
        {"qa": 2.0, "qb": 4.0, "qz": 9.9}, 2.0, baseline
    )
    assert norm == {"qa": 1.0, "qb": 1.0}  # qz has no row -> omitted
    assert basket_ratio == 2.0
    assert ok is False  # 2.0 > 1.25 * 1.0 -> not canonical
    # idle-era run passes the gate
    norm2, ratio2, ok2 = normalize_vs_baseline({"qa": 1.2}, 1.1, baseline)
    assert norm2 == {"qa": round((1.2 / 1.1) / 1.0, 2)}
    assert ok2 is True
    # no basket -> no judgment
    assert normalize_vs_baseline({"qa": 1.0}, None, baseline) == (None, None, None)
    assert normalize_vs_baseline({"qa": 1.0}, 1.0, {}) == (None, None, None)


def test_normalize_era_gate():
    """With an era anchor, canonicality compares against the
    currently-achievable idle basket (era_basket * era_ratio), while
    basket_vs_baseline still reports baseline-era drift as context."""
    from bench import normalize_vs_baseline

    m = {
        "gate_basket": 1.0,
        "gate_ratio": 1.25,
        "era_basket": 1.7,
        "era_ratio": 1.15,
        "queries": {"qa": {"sec": 1.0, "basket": 1.0}},
    }
    # idle-era run: basket 1.7 = 1.7x BASELINE era, but within era bound
    norm, ratio, ok = normalize_vs_baseline({"qa": 1.7}, 1.7, m)
    assert ok is True and ratio == 1.7
    assert norm == {"qa": 1.0}
    # recently-busy host: 1.7 * 1.15 = 1.955 bound
    _, _, busy = normalize_vs_baseline({"qa": 2.0}, 2.0, m)
    assert busy is False


# ------------- q116 touched-doc gate A/B settle (r11 directive #1)
def test_dup_span_removal_gate_off_equivalent(spark):
    """The touched-doc gate (untouched docs skip the rebuild) must
    return exactly the rows the rebuild-everything form would: hand-
    derived below. The perf question was settled by idle fresh-JVM A/B
    at sf0.1 (ABBA, 7 reps/JVM, 2026-08-16): gate on medians
    2.696/3.002 s vs off 2.797 s — the r11 bench's 2.03x raw reading
    was host drift (that run's basket read 1.35x baseline-era), not
    gate overhead; only 8.3% of sf0.1 docs are span-touched, so the
    gate skips the rebuild for 92% of them."""
    from ezdata_spark.operators.corpus import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x a b c d e y z"),
            (3, "p q r s t u v w"),
            (4, "a b c d e f g h"),
        ],
        "doc_id int, text string",
    )
    kw = dict(window=5, min_count=2)
    on = {tuple(r) for r in remove_duplicate_spans(docs, **kw).collect()}
    # doc 3 is untouched; docs 1/4 share an 8-token span, doc 2 the
    # 5-token windows of 'a b c d e'
    assert on == {
        (1, "", 8, 0),
        (2, "x y z", 8, 3),
        (3, "p q r s t u v w", 8, 8),
        (4, "", 8, 0),
    }


# ---------------- z156 production ANN probe row (r11 directive #7)
def test_z156_probe_recall_and_bucketed_equality(spark):
    """The production probe path (persisted bucketed IVF-PQ index,
    nprobe << n_cells) must (a) reach a usable recall@10 against
    brute-force cosine and (b) return exactly what probing the
    in-session (un-bucketed) frames returns — the artifact layout is a
    physical choice, never a semantic one."""
    from ezdata_spark.operators.evaluate import topk_recall
    from ezdata_spark.operators.similarity import (
        cosine_topk, ivf_index, ivf_pq_encode, knn_join, pq_train,
    )
    from ezdata_spark.queries import QUERIES, load

    sf_dir = "/root/testdata/sf0.01"
    probe = QUERIES["z156_ann_probe_bucketed"](spark, sf_dir)
    got = sorted((r.doc_id, r.vec_id, r.cosine, r.rank) for r in probe.collect())
    assert got, "probe returned no rows"

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    # (b) same probe against the in-session frames — identical output
    # (trainer='driver' matches the query's r14 coarse trainer)
    indexed, cents = ivf_index(emb, n_cells=16, trainer="driver")
    cb = pq_train(emb, m=16, k=256)
    want = sorted(
        (r.doc_id, r.vec_id, r.cosine, r.rank)
        for r in knn_join(
            left, ivf_pq_encode(indexed, cb), cents, k=10, nprobe=8,
            round_ndigits=6, pq_codebooks=cb, pq_oversample=8,
            rescore="cogroup",
        ).collect()
    )
    assert got == want
    # (a) recall@10 vs brute force at the chosen operating point
    # (nprobe=8/16): driver-trained centroids (r14) measure 0.864 at
    # sf0.01 / 0.825 at sf0.1 (mllib r13: 0.792/0.765); floor 0.75
    # guards the point with a noise margin
    qs = left.select(F.col("doc_id").alias("qid"), "embedding")
    exact = cosine_topk(emb, qs, k=10)
    approx = probe.select(F.col("doc_id").alias("qid"), "vec_id")
    rec = topk_recall(approx, exact).agg(F.avg("recall")).first()[0]
    assert rec >= 0.75, f"mean recall@10 {rec:.3f} below floor"


def test_z156_reuses_persisted_index(spark):
    """Second call must NOT rebuild: the bucketed table persists and
    the query reloads it (the amortized production path the bench
    medians time)."""
    from ezdata_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.01"
    QUERIES["z156_ann_probe_bucketed"](spark, sf_dir).count()
    tag = "sf0_01"
    assert spark.catalog.tableExists(f"ez_z156_ivfpq_d_{tag}")
    import ezdata_spark.operators.similarity as sim

    calls = {"n": 0}
    orig = sim.ivf_index

    def spy(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    sim.ivf_index = spy
    try:
        QUERIES["z156_ann_probe_bucketed"](spark, sf_dir).count()
    finally:
        sim.ivf_index = orig
    assert calls["n"] == 0, "second call rebuilt the index"


# --------------------- corpus-scale BPE encode (new r12 capability)
def _py_segment(word, merges):
    syms = [*word, "</w>"]
    for a, b in merges:
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
        syms = out
    return syms


@pytest.mark.parametrize("method", ["dict", "join"])
def test_encode_corpus_matches_python_reference(spark, method):
    from ezdata_spark.operators.bpe import encode_corpus, learn_bpe

    corpus = [
        (0, "low low low lower lower newest newest newest newest widest"),
        (1, "widest widest newest low"),
        (2, "   "),  # whitespace-only: zero tokens
        (3, "unseen lowest"),
    ]
    train = spark.createDataFrame(corpus[:2], "doc_id long, text string")
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    merges, _ = learn_bpe(train, n_merges=10)

    got = {r.doc_id: (list(r.token_ids), r.n_tokens)
           for r in encode_corpus(docs, merges, method=method).collect()}

    # python reference: segment every distinct word, ids by sorted
    # symbol inventory over the ENCODED corpus's segmented vocabulary
    words = sorted({w for _, t in corpus for w in t.lower().split() if w})
    seg = {w: _py_segment(w, merges) for w in words}
    inv = sorted({s for syms in seg.values() for s in syms})
    sid = {s: i for i, s in enumerate(inv)}
    want = {}
    for did, t in corpus:
        ids = [sid[s] for w in t.lower().split() if w for s in seg[w]]
        want[did] = (ids, len(ids))
    assert got == want
    assert got[2] == ([], 0)  # empty doc survives with an empty array


def test_encode_corpus_unseen_symbol_maps_to_unk(spark):
    """With a FROZEN id inventory, a shard word producing symbols the
    inventory never saw must encode as unk_id — not silently drop from
    the middle of the document."""
    from ezdata_spark.operators.bpe import (
        bpe_vocab_ids, encode_corpus, learn_bpe, segment_words,
    )

    train = spark.createDataFrame([(0, "aa aa ab")], "doc_id long, text string")
    merges, _ = learn_bpe(train, n_merges=2)
    train_words = spark.createDataFrame([("aa",), ("ab",)], "word string")
    frozen = bpe_vocab_ids(segment_words(train_words, merges))
    known = {r.symbol for r in frozen.select("symbol").collect()}
    assert "z" not in known
    shard = spark.createDataFrame([(9, "aa zz")], "doc_id long, text string")
    (row,) = encode_corpus(
        shard, merges, token_ids=frozen, unk_id=-7
    ).collect()
    ids = list(row.token_ids)
    assert -7 in ids, ids  # the novel 'z' symbols surfaced as unk
    assert row.n_tokens == len(ids)
    # the known prefix ('aa' </w> segmentation) carries real ids
    assert ids[0] >= 0


def test_encode_corpus_frozen_ids_across_shards(spark):
    """Encoding a NEW shard against a saved (symbol, token_id) frame
    must reuse the frozen ids — the cross-job tokenizer-artifact
    path — even for symbols the new shard alone wouldn't produce."""
    from ezdata_spark.operators.bpe import (
        bpe_vocab_ids, encode_corpus, learn_bpe, segment_words,
    )

    train = spark.createDataFrame(
        [(0, "banana bandana banana band")], "doc_id long, text string"
    )
    merges, vocab = learn_bpe(train, n_merges=6)
    frozen = bpe_vocab_ids(segment_words(train.selectExpr(
        "explode(filter(split(lower(text), '\\\\s+'), x -> x != '')) as word"
    ).distinct(), merges))
    shard = spark.createDataFrame([(7, "banana band")], "doc_id long, text string")
    with_frozen = {r.doc_id: list(r.token_ids)
                   for r in encode_corpus(shard, merges, token_ids=frozen).collect()}
    sid = {r.symbol: r.token_id for r in frozen.collect()}
    want = [sid[s] for w in ("banana", "band") for s in _py_segment(w, merges)]
    assert with_frozen[7] == want
    # the shard's own inventory would number ids differently than the
    # frozen full-vocabulary one unless some symbol sorts identically;
    # the point is the FROZEN ids were honored, verified above by value
def test_encode_corpus_property_random_corpora(spark):
    """Hypothesis-style randomized agreement with the pure-Python BPE
    reference across corpus shapes (collected examples, one Spark
    session pass: per-example sessions would dominate the runtime)."""
    import random

    from ezdata_spark.operators.bpe import encode_corpus, learn_bpe

    rng = random.Random(1207)
    alpha = "abcd"
    cases = []
    for _ in range(6):
        n_docs = rng.randint(1, 5)
        docs = [
            (i, " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(0, 8))
            ))
            for i in range(n_docs)
        ]
        cases.append((docs, rng.randint(1, 8)))

    for docs_py, n_merges in cases:
        df = spark.createDataFrame(docs_py, "doc_id long, text string")
        merges, _ = learn_bpe(df, n_merges=n_merges)
        got = {r.doc_id: (list(r.token_ids), r.n_tokens)
               for r in encode_corpus(df, merges).collect()}
        words = sorted({w for _, t in docs_py for w in t.lower().split() if w})
        seg = {w: _py_segment(w, merges) for w in words}
        inv = sorted({s for ss in seg.values() for s in ss})
        sid = {s: i for i, s in enumerate(inv)}
        want = {
            did: ([sid[s] for w in t.lower().split() if w for s in seg[w]],
                  sum(len(seg[w]) for w in t.lower().split() if w))
            for did, t in docs_py
        }
        assert got == want, (docs_py, n_merges)


def test_py_apply_merges_matches_jvm_fold(spark):
    """The streaming kernel's pure-Python greedy merge fold must equal
    apply_bpe_merge's JVM fold word-for-word (randomized words, merges
    learned from a corpus that shares their alphabet)."""
    import random

    from ezdata_spark.operators.bpe import (
        _py_apply_merges, learn_bpe, segment_words,
    )

    rng = random.Random(1212)
    train_words = [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 7)))
        for _ in range(60)
    ]
    train = spark.createDataFrame(
        [(0, " ".join(train_words))], "doc_id long, text string"
    )
    merges, _ = learn_bpe(train, n_merges=9)
    probe = list({
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 9)))
        for _ in range(40)
    })
    wdf = spark.createDataFrame([(w,) for w in probe], "word string")
    jvm = {r.word: list(r.symbols) for r in segment_words(wdf, merges).collect()}
    for w in probe:
        assert jvm[w] == _py_apply_merges(w, merges), w


def test_encode_stream_batch_mode_equals_encode_corpus(spark):
    """encode_stream on a batch frame == encode_corpus against the same
    frozen tokenizer, unk handling included — one pipeline definition,
    both modes."""
    from ezdata_spark.operators.bpe import (
        bpe_vocab_ids, encode_corpus, encode_stream, learn_bpe,
    )

    train = spark.createDataFrame(
        [(0, "low low lower newest newest widest")], "doc_id long, text string"
    )
    merges, vocab = learn_bpe(train, n_merges=8)
    frozen = bpe_vocab_ids(vocab)
    shard = spark.createDataFrame(
        [(1, "lowest newest unseen"), (2, "   "), (3, "low widest")],
        "doc_id long, text string",
    )
    want = {r.doc_id: (list(r.token_ids), r.n_tokens) for r in encode_corpus(
        shard, merges, token_ids=frozen, unk_id=-5).collect()}
    got = {r.doc_id: (list(r.token_ids), r.n_tokens) for r in encode_stream(
        shard, merges, frozen, unk_id=-5).collect()}
    assert got == want
    assert got[2] == ([], 0)


def test_encode_stream_true_streaming_equals_batch(spark, tmp_path):
    from ezdata_spark.operators.bpe import (
        bpe_vocab_ids, encode_stream, learn_bpe,
    )

    train = spark.createDataFrame(
        [(0, "banana bandana banana band")], "doc_id long, text string"
    )
    merges, vocab = learn_bpe(train, n_merges=6)
    frozen = bpe_vocab_ids(vocab)
    shard = spark.createDataFrame(
        [(10, "banana band"), (11, "bandanas")], "doc_id long, text string"
    )
    src = str(tmp_path / "docs_in")
    shard.write.parquet(src)
    stream = spark.readStream.schema(shard.schema).parquet(src)
    out = encode_stream(stream, merges, frozen, unk_id=-1)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("ez_bpe_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = {r.doc_id: (list(r.token_ids), r.n_tokens)
           for r in spark.sql("SELECT * FROM ez_bpe_stream").collect()}
    want = {r.doc_id: (list(r.token_ids), r.n_tokens)
            for r in encode_stream(shard, merges, frozen, unk_id=-1).collect()}
    assert got == want and len(got) == 2


def test_bpe_tokenizer_artifact_roundtrip(spark, tmp_path):
    """save_bpe_tokenizer -> load_bpe_tokenizer -> encode a NEW shard:
    identical merges, identical frozen ids, identical encodes to the
    in-session path — the cross-job tokenizer story."""
    from ezdata_spark.operators.ann_index import (
        load_bpe_tokenizer, save_bpe_tokenizer,
    )
    from ezdata_spark.operators.bpe import (
        bpe_vocab_ids, encode_corpus, learn_bpe,
    )

    train = spark.createDataFrame(
        [(0, "low low lower newest newest widest")], "doc_id long, text string"
    )
    merges, vocab = learn_bpe(train, n_merges=8)
    frozen = bpe_vocab_ids(vocab)
    path = str(tmp_path / "bpe_tok")
    save_bpe_tokenizer(path, merges, frozen, unk_id=-3)

    lmerges, lids, params = load_bpe_tokenizer(spark, path)
    assert lmerges == merges and params["unk_id"] == -3
    assert sorted((r.symbol, r.token_id) for r in lids.collect()) == sorted(
        (r.symbol, r.token_id) for r in frozen.collect()
    )
    shard = spark.createDataFrame(
        [(5, "lowest newest unseen")], "doc_id long, text string"
    )
    want = {r.doc_id: list(r.token_ids) for r in encode_corpus(
        shard, merges, token_ids=frozen, unk_id=-3).collect()}
    got = {r.doc_id: list(r.token_ids) for r in encode_corpus(
        shard, lmerges, token_ids=lids, unk_id=params["unk_id"]).collect()}
    assert got == want and got[5]


def test_grid_from_binned_missing_value_col_message(spark):
    from ezdata_spark.operators.binned import BinSpec, binned_agg
    from ezdata_spark.operators.labelled import grid_from_binned

    df = spark.createDataFrame([(0.5,), (2.5,)], "x double")
    specs = [BinSpec("x", 0.0, 4.0, 4)]
    out = binned_agg(df, specs, {"count": F.count(F.lit(1))}, densify=True)
    with pytest.raises(ValueError, match="value columns not in frame"):
        grid_from_binned(out, specs, value_cols=["cnt_typo"])
