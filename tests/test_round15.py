"""Round-15 optimization pins: distributed exact percentiles (q16's
kernel) and the decimal-scale-preserving prefix-sum total literal."""

import math
import os

import pytest
from pyspark.sql import functions as F


def test_percentiles_exact_distributed_matches_aggregate(spark):
    """r15: percentiles_exact_distributed must be bit-identical to the
    ``percentile`` aggregate (same interpolation formula on the same
    order statistics) across interior, endpoint, tied and single-value
    cases, and return a null array on empty/all-null input like the
    aggregate does."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.stats import percentiles_exact_distributed

    rows = [(float((i * 37) % 101) + 0.25,) for i in range(997)]
    rows += [(42.25,)] * 13 + [(None,)] * 7  # ties + nulls
    df = spark.createDataFrame(rows, "v double").repartition(9)
    ps = [0.0, 0.16, 0.5, 0.84, 0.99, 1.0]

    agg = df.agg(
        F.percentile("v", F.array(*[F.lit(p) for p in ps])).alias("_ps")
    ).collect()[0]["_ps"]
    got = percentiles_exact_distributed(df, "v", ps).collect()[0]["_ps"]
    release_caches()
    assert len(got) == len(agg)
    for g, a in zip(got, agg):
        assert g == a or math.isclose(g, a, rel_tol=0, abs_tol=0), (g, a)

    # single value
    one = spark.createDataFrame([(3.5,)], "v double")
    got1 = percentiles_exact_distributed(one, "v", [0.0, 0.5, 1.0]).collect()[0]["_ps"]
    release_caches()
    assert got1 == [3.5, 3.5, 3.5]

    # empty / all-null -> null array, matching the aggregate's null
    empty = spark.createDataFrame([(None,)], "v double")
    gote = percentiles_exact_distributed(empty, "v", [0.5]).collect()[0]["_ps"]
    release_caches()
    assert gote is None


def test_global_cumsum_total_keeps_decimal_scale(spark):
    """r15 (advice item): a decimal value column with scale > 6 must
    get its grand total UNQUANTIZED — the literal carries the column's
    own scale widened to the sum precision, so the total equals
    ``df.agg(sum(col))`` exactly instead of being rounded at 1e-6."""
    from decimal import Decimal

    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.window import global_cumsum

    rows = [(i, Decimal(f"0.{i % 10}234567{i % 3}")) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, v decimal(20,8)").repartition(4)
    out = global_cumsum(
        df, "v", [F.col("v").desc(), F.col("k")], name="cv", total_name="tv"
    )
    got = out.select("tv").distinct().collect()
    exp = df.agg(F.sum("v")).collect()[0][0]
    release_caches()
    assert len(got) == 1
    assert got[0]["tv"] == exp  # exact Decimal equality, scale preserved
    assert got[0]["tv"].as_tuple().exponent == -8


def test_train_sample_arrow_reshape_matches_tolist(spark):
    """r15: _train_sample converts the collected Arrow list column via
    one values-buffer flatten + reshape; must be bit-identical to the
    row-by-row toPandas().tolist() form (same hash order, same IEEE
    doubles), including the ragged-input fallback, a vector holding a
    null element (row-list fallback: the null reads as NaN) and the
    empty frame."""
    import numpy as np

    import ezdata_spark.operators.similarity as sim

    rows = [(i, [float(i) / 7.0 + j * 0.013 for j in range(6)]) for i in range(257)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(5)
    inner_null = spark.createDataFrame(
        rows[:40] + [(999, [1.0, None, 2.0, 3.0, 4.0, 5.0])],
        "vec_id long, embedding array<double>",
    )

    def old(df_, vec, seed, frac, cap):
        n = sim.normalize(df_, vec, "v").select("v")
        if frac is not None:
            n = n.sample(frac, seed=seed)
        return np.asarray(
            n.orderBy(F.xxhash64("v")).limit(cap).toPandas()["v"].tolist(),
            dtype=np.float64,
        )

    for cap in (50, 10_000):  # limit binding and not binding
        Xo = old(df, "embedding", 42, None, cap)
        Xn = sim._train_sample(df, "embedding", 42, None, cap)
        assert Xo.shape == Xn.shape
        assert np.array_equal(Xo, Xn)

    Xo = old(inner_null, "embedding", 42, None, 100)
    Xn = sim._train_sample(inner_null, "embedding", 42, None, 100)
    assert Xn.shape == (41, 6)
    assert np.isnan(Xn).any()
    assert np.array_equal(Xo, Xn, equal_nan=True)

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    Xe = sim._train_sample(empty, "embedding", 42, None, 10)
    assert Xe.size == 0


def test_trigram_gram_df_broadcast_matches_window(spark):
    """Both gram-frequency plans — the broadcast df table (``char3``,
    bounded vocabulary) and the ``partitionBy(g)`` window (open
    vocabularies: word units) — must return exactly the pairs of a
    pure-Python brute-force Jaccard over the string grams."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dot"),
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "completely different text with no overlap at all"),
        (5, "completely different text with no overlap at ALL"),
        (6, "xyz"),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)

    def char3(s):
        s = s.lower()
        return {s[i : i + 3] for i in range(len(s) - 2)}

    def words(s):
        return set(s.lower().split())

    for unit, grams in (("char3", char3), ("word", words)):
        want = {}
        for i, (ia, ta) in enumerate(rows):
            for ib, tb in rows[i + 1 :]:
                ga, gb = grams(ta), grams(tb)
                if not ga or not gb:
                    continue
                inter = len(ga & gb)
                j = round(inter / (len(ga) + len(gb) - inter), 6)
                if j >= 0.5:
                    want[(ia, ib)] = (inter, len(ga), len(gb), j)
        got = {
            (r.id_a, r.id_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
            for r in trigram_similarity_pairs(
                df, threshold=0.5, unit=unit, max_gram_df=None
            ).collect()
        }
        release_caches()
        assert got == want, unit
        assert len(got) >= 2  # the near-dup pairs actually exist


def test_gram_id_forms_collision_free_on_documents(spark, sf_dir):
    """The 64-bit gram-id contract q132 (similarity join), q86
    (decontamination) and q116 (span removal) rely on: on the sf0.01
    documents, each id form yields exactly as many distinct ids as
    there are distinct string grams (built here in pure Python) — no
    two grams collide."""
    import os
    import re

    from ezdata_spark.operators.corpus import _span_keys, word_ngram_hashes
    from ezdata_spark.operators.dedup import _gram_hash_set

    path = os.path.join(os.path.dirname(sf_dir), "sf0.01", "documents.parquet")
    docs = spark.read.parquet(path)
    char3, word3, span20 = set(), set(), set()
    for r in docs.select("text").collect():
        s = (r.text or "").lower()
        char3.update(s[i : i + 3] for i in range(len(s) - 2))
        ts = [t for t in re.split(r"\s+", s, flags=re.ASCII) if t]
        word3.update(" ".join(ts[i : i + 3]) for i in range(len(ts) - 2))
        span20.update(" ".join(ts[i : i + 20]) for i in range(len(ts) - 19))
    assert min(len(char3), len(word3), len(span20)) > 300

    def n_ids(arr):
        return docs.select(F.explode(arr).alias("k")).distinct().count()

    assert n_ids(_gram_hash_set("text", "char3")) == len(char3)
    assert n_ids(word_ngram_hashes("text", 3)) == len(word3)
    assert n_ids(_span_keys("text", 20)) == len(span20)


def test_query_defs_have_unique_names():
    """``@query`` keys the registry by its string name, so a repeated
    top-level ``def`` name in queries.py silently shadows the earlier
    function at module scope (pyflakes/ruff F811). Names must be unique."""
    import ast
    from collections import Counter
    from pathlib import Path

    import ezdata_spark.queries as queries

    tree = ast.parse(Path(queries.__file__).read_text())
    names = Counter(
        n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    )
    assert sorted(k for k, c in names.items() if c > 1) == []


def _engine_boundary_cases():
    """name -> (build(emb, size), size below the rule, size at/above it).
    Each size rule (see the operator docstrings) keeps the plan in JVM
    expressions below its boundary and switches to a mapInPandas kernel
    at or above it: m*k*dsub >= 512 (pq_encode), >= 4096
    (ivf_pq_encode), tables*planes*dim >= 2048 (lsh_index), d^2 >= 2048
    (rotate_vectors), cells*dim >= 2048 (ivf_index) and > 48 merges
    (segment_words)."""
    import numpy as np

    from ezdata_spark.operators import similarity as S
    from ezdata_spark.operators.bpe import segment_words

    def books(k):  # m=8 subspaces of the 64-d vectors
        return np.random.RandomState(k).randn(8, k, 8).tolist()

    def rotate(emb, dim):
        sliced = emb.select("vec_id", F.slice("embedding", 1, dim).alias("embedding"))
        return S.rotate_vectors(sliced, np.eye(dim).tolist())

    def segment(emb, n):
        words = emb.select(F.col("vec_id").cast("string").alias("word"))
        return segment_words(words, [(chr(0x100 + i),) * 2 for i in range(n)])

    return {
        "pq_encode": (lambda emb, k: S.pq_encode(emb, books(k)), 4, 8),
        "ivf_pq_encode": (
            lambda emb, k: S.ivf_pq_encode(
                emb.select("vec_id", F.col("embedding").alias("v")), books(k)
            ),
            32,
            64,
        ),
        "lsh_index": (
            lambda emb, n: S.lsh_index(emb, dim=64, n_planes=n, n_tables=4), 4, 8
        ),
        "rotate_vectors": (rotate, 45, 46),
        "ivf_index": (
            lambda emb, n: S.ivf_index(emb, n_cells=n, trainer="driver")[0], 16, 32
        ),
        "segment_words": (segment, 48, 49),
    }


@pytest.mark.parametrize("name", list(_engine_boundary_cases()))
def test_engine_size_rules_switch_at_documented_boundary(spark, sf_dir, name):
    """The input size alone picks each operator's engine: the Python
    kernel (MapInPandas) is in the physical plan exactly on the
    documented side of the boundary, at dim 64 on the sf0.01
    embeddings."""
    build, below, above = _engine_boundary_cases()[name]
    path = os.path.join(os.path.dirname(sf_dir), "sf0.01", "embeddings.parquet")
    emb = spark.read.parquet(path).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )

    def plan(size):
        return build(emb, size)._jdf.queryExecution().executedPlan().toString()

    assert "MapInPandas" not in plan(below)
    assert "MapInPandas" in plan(above)


# ------------------------------------------------ atomic file writes
def _assert_failed_rewrite_keeps_old_file(path, rewrite, exc):
    """``rewrite`` fails part-way: the previous file must survive byte
    for byte and no temp sibling may be left behind."""
    with open(path, "rb") as fh:
        before = fh.read()
    with pytest.raises(exc):
        rewrite()
    with open(path, "rb") as fh:
        assert fh.read() == before
    leftovers = [f for f in os.listdir(os.path.dirname(path)) if ".tmp-" in f]
    assert leftovers == []


def test_failed_ecsv_rewrite_keeps_old_file(spark, tmp_path, monkeypatch):
    import pandas as pd

    from ezdata_spark.sources.ecsv import write_ecsv
    from ezdata_spark.table import EzTable

    t = EzTable(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    path = str(tmp_path / "t.ecsv")
    write_ecsv(t, path)

    def torn_to_csv(self, path_or_buf=None, *args, **kwargs):
        if path_or_buf is not None:
            path_or_buf.write('"k","s"\n1,')  # part of the body, then fail
        raise RuntimeError("injected")

    monkeypatch.setattr(pd.DataFrame, "to_csv", torn_to_csv)
    _assert_failed_rewrite_keeps_old_file(
        path, lambda: write_ecsv(t, path), RuntimeError
    )


def test_failed_sidecar_rewrite_keeps_old_sidecar(spark, tmp_path):
    from ezdata_spark.operators.ann_index import load_ann_index, save_ann_index

    path = str(tmp_path / "idx")
    save_ann_index(path, meta={"kind": "pq", "codebooks": [[[0.5, 1.5]]]})
    _assert_failed_rewrite_keeps_old_file(
        os.path.join(path, "_ann_meta.json"),
        lambda: save_ann_index(path, meta={"kind": "pq", "bad": object()}),
        TypeError,
    )
    assert load_ann_index(spark, path)[1]["codebooks"] == [[[0.5, 1.5]]]


def test_failed_fits_rename_removes_temp_file(spark, tmp_path, monkeypatch):
    from ezdata_spark.sources.fits_native import write_fits

    path = str(tmp_path / "t.fits")
    write_fits(spark.createDataFrame([(1, 2.5)], "k long, x double"), path)
    new = spark.createDataFrame([(2, 3.5), (3, 4.5)], "k long, x double")

    def no_rename(src, dst):
        raise OSError("injected")

    monkeypatch.setattr(os, "replace", no_rename)
    _assert_failed_rewrite_keeps_old_file(
        path, lambda: write_fits(new, path), OSError
    )
