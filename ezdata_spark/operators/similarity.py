"""Embedding similarity search over array<float> columns.

Extension operators (SURVEY.md §7 phase 9); the reference has no vector
search. Two tiers:

- brute-force cosine top-k: query set broadcast against the corpus; dot
  products via built-in higher-order functions (zip_with + aggregate) —
  JVM-side, no Python. Exact; the baseline.
- LSH-bucketed (random hyperplane signs) approximate variant: corpus and
  queries bucketed by sign-pattern prefix; only same-bucket candidates
  scored. The 100 TB path: candidate generation is an equi-join on the
  bucket key, so per-query work is corpus_size / 2^planes on average.

Embeddings are L2-normalized once up front so cosine = dot.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import _fan_out


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(v):
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


def _normalize_sql(vec_name: str) -> str:
    """L2-normalize expression with the norm evaluated ONCE per row.

    Catalyst does not CSE inside HOF lambdas, so the naive
    ``transform(v, x -> x / norm(v))`` recomputes the O(dim) norm for
    every element (O(dim^2) per row, measured ~10x slower). Binding the
    norm through a 1-element array's lambda variable forces single
    evaluation: the outer transform runs its lambda exactly once, with
    ``nrm`` bound to the computed scalar."""
    return (
        f"element_at(transform(array(sqrt({_dot_sql(vec_name, vec_name)})),"
        f" nrm -> transform({vec_name}, x -> x / nrm)), 1)"
    )


def normalize(df: DataFrame, vec: str = "embedding", out: str = "vec_n") -> DataFrame:
    return df.withColumn(out, F.expr(_normalize_sql(vec)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries is assumed small (it is broadcast); the corpus is scanned
    once. Per-query ranking is a window top-k (TakeOrdered under AQE).
    Output: (qid, vec_id, cosine) with rank <= k, ties broken by id for
    determinism.
    """
    c = normalize(_fan_out(corpus), vec, "cv").select(id_col, "cv")
    q = normalize(queries, vec, "qv").select(qid_col, "qv")
    scored = c.join(F.broadcast(q)).withColumn("cosine", _dot(F.col("cv"), F.col("qv")))
    w = Window.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "cosine", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    # 6 significant digits: hyperplane directions need no more precision
    # (sign buckets are stable far from the plane), and short literals
    # cut the driver-side parse/analysis cost of the inlined plane
    # matrices ~3x (they are the bulk of the query's SQL text)
    rng = np.random.RandomState(seed)
    return [[float(f"{x:.6g}") for x in row] for row in rng.randn(n_planes, dim)]


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def _matrix_sql(rows: list[list[float]]) -> str:
    return (
        "array("
        + ",".join("array(" + ",".join(repr(float(x)) for x in r) + ")" for r in rows)
        + ")"
    )


def _sign_bucket_sql(vec_name: str, planes: list[list[float]]) -> str:
    """Sign-pattern bucket id: bit i = (v . plane_i) > 0. One SQL string
    with the planes as a literal 2-D array — building this
    Column-by-Column costs thousands of py4j round-trips per table.

    IMPORTANT: pass a RAW (or physically materialized) vector column
    name. The dot is evaluated once per plane, and Catalyst does not CSE
    inside HOF lambdas — an inlined normalize() expression would be
    recomputed ``n_planes`` times per row (measured 6x slowdown). Sign
    buckets are invariant under positive scaling, so raw vectors give
    identical buckets."""
    return (
        f"aggregate(transform({_matrix_sql(planes)},"
        f" (p, i) -> IF({_dot_sql(vec_name, 'p')} > 0, shiftleft(1L, i), 0L)),"
        " 0L, (a, x) -> a + x)"
    )


def _sign_bucket(vec_name: str, planes: list[list[float]]):
    return F.expr(_sign_bucket_sql(vec_name, planes))


def _multi_buckets(vec_name: str, planes_per_table: list[list[list[float]]]):
    """Array of (tbl, bucket) structs — ALL hash tables' bucket ids
    computed in one projection over one scan, ready to ``explode``.
    Replaces the union-of-``n_tables``-scans shape (each union branch
    re-read the corpus). One F.expr parse total."""
    entries = ",".join(
        f"struct({t} AS tbl, {_sign_bucket_sql(vec_name, planes)} AS bucket)"
        for t, planes in enumerate(planes_per_table)
    )
    return F.expr(f"array({entries})")


def _multi_probe_buckets(
    vec_name: str, planes_per_table: list[list[list[float]]], n_probes: int
):
    """Query-side MULTIPROBE bucket expansion (Lv et al., VLDB'07): per
    table, the base sign bucket plus the ``n_probes - 1`` buckets
    reached by flipping the sign bits with the smallest |dot| margin —
    the neighbouring buckets a near-duplicate most plausibly fell into.
    Flattened array of (tbl, bucket) structs, ``n_tables * n_probes``
    entries (fewer if ``n_probes > n_planes + 1``).

    The dots are bound once through a 1-element-array lambda (Catalyst
    does not CSE inside HOFs — same trick as ``_normalize_sql``); the
    flip order comes from ``array_sort`` over (|dot|, plane) structs.
    Corpus-side buckets are untouched, so one :func:`lsh_index` build
    serves every probe width."""
    per_table = []
    for t, planes in enumerate(planes_per_table):
        dots = f"transform({_matrix_sql(planes)}, p -> {_dot_sql(vec_name, 'p')})"
        base = (
            "aggregate(transform(ds, (d, i) -> IF(d > 0, shiftleft(1L, i), 0L)),"
            " 0L, (a, x) -> a + x)"
        )
        flips = (
            "slice(array_sort(transform(ds, (d, i) ->"
            f" struct(abs(d) AS m, i AS i))), 1, {n_probes - 1})"
        )
        per_table.append(
            f"element_at(transform(array({dots}), ds ->"
            f" element_at(transform(array({base}), bkt ->"
            f"  concat(array(struct({t} AS tbl, bkt AS bucket)),"
            f"   transform({flips}, f ->"
            f"    struct({t} AS tbl, bkt ^ shiftleft(1L, f.i) AS bucket)))"
            f" ), 1)), 1)"
        )
    return F.expr("concat(" + ",".join(per_table) + ")")


def _bucket_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes_list: list[list[list[float]]],
) -> DataFrame:
    """(id, tbl, bucket) rows: every hash table's sign bucket for every
    row — the corpus-sized stage shared by :func:`lsh_index` and the
    inline path of :func:`cosine_topk_lsh`.

    The per-row multiply count ``n_tables * n_planes * dim`` picks the
    engine. Under 2048 the sign dots run as SQL higher-order functions
    (dependency-free, no Python workers); from 2048 on ALL
    ``n_tables * n_planes`` dots run as one Arrow-batched BLAS matmul
    that packs the sign bits per table. The interpreted evaluator
    prices HOF dots at ~1.3M mult/s/core, so at the standard 4x8x64
    configuration (2048 mults/row) the matmul path is ~10x faster on a
    corpus-sized scan. Sign rule is strictly ``dot > 0`` in both paths;
    a dot within one ulp of zero may bucket differently between them
    (measure-zero for real data, and only moves a vector to a
    neighbouring bucket of an already approximate index)."""
    n_tables = len(planes_list)
    n_planes = len(planes_list[0])
    dim = len(planes_list[0][0])
    src = df.select(id_col, F.col(vec_col).alias("bv"))
    if n_tables * n_planes * dim < 2048:
        return src.select(
            id_col, F.explode(_multi_buckets("bv", planes_list)).alias("tb")
        ).select(id_col, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    import pandas as pd

    P = np.concatenate([np.asarray(p, dtype=np.float64) for p in planes_list])
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    tbls = np.arange(n_tables, dtype=np.int32)

    def _buck(batches):
        for b in batches:
            if not len(b):
                continue
            V = np.stack(b["bv"].to_numpy()).astype(np.float64)
            D = (V @ P.T) > 0  # (n, n_tables * n_planes) sign bits
            buckets = np.empty((len(b), n_tables), dtype=np.int64)
            for t in range(n_tables):
                buckets[:, t] = D[:, t * n_planes:(t + 1) * n_planes] @ weights
            yield pd.DataFrame(
                {
                    id_col: np.repeat(b[id_col].to_numpy(), n_tables),
                    "tbl": np.tile(tbls, len(b)),
                    "bucket": buckets.ravel(),
                }
            )

    id_t = dict(src.dtypes)[id_col]
    return src.mapInPandas(_buck, f"{id_col} {id_t}, tbl int, bucket bigint")


def lsh_index(
    corpus: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    dim: int | None = None,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """One-time LSH indexing pass: the (id, tbl, bucket) table.

    This is the ANALOG OF ``pq_encode`` for the hyperplane index — the
    corpus-sized cost paid once, not per query batch. At 100 TB the
    result is written back to parquet (bucket is a great sort/cluster
    key: probes then prune row groups by min/max), or persisted for a
    query session. ``cosine_topk_lsh(..., index=...)`` consumes it; the
    recurring probe then touches only the narrow index + the candidate
    rows of the corpus.

    The bucket ids are computed from RAW vectors (sign buckets are
    invariant under positive scaling — see ``_sign_bucket_sql``), with
    all ``n_tables`` bucketings in one projection over one scan. The
    planes are derived from ``seed``; pass the same (seed, n_planes,
    n_tables, dim) to the probe. The table size picks the bucketing
    engine (see :func:`_bucket_frame`).
    """
    if dim is None:
        dim = len(corpus.select(vec).first()[0])
    planes_list = [
        random_hyperplanes(dim, n_planes, seed=seed + t) for t in range(n_tables)
    ]
    return _bucket_frame(_fan_out(corpus), id_col, vec, planes_list)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    n_planes: int = 8,
    dim: int | None = None,
    n_tables: int = 4,
    broadcast_candidates: bool = True,
    index: DataFrame | None = None,
    seed: int = 42,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH with ``n_tables``
    independent bucketings (union of candidates), exact rescoring.

    ``n_probes``: multiprobe width (Lv et al., VLDB'07). Each query
    additionally probes, per table, the ``n_probes - 1`` buckets whose
    sign differs only in the lowest-|margin| planes. Probe expansion is
    QUERY-side only — the corpus index (inline or prebuilt) is
    identical for every probe width — so at 100 TB it trades a little
    candidate volume for recall without touching the index, the
    standard way to shrink ``n_tables`` (and the index) at equal
    recall.

    Scale shape: the explode/probe stage carries ONLY (id, tbl, bucket)
    — the vector arrays never enter the candidate pipeline. Candidate
    (qid, id) pairs are deduplicated while still 16 bytes wide, then the
    corpus is probed once per UNIQUE candidate to compute the cosine.
    Racing the alternatives at 3M x 64-d: scoring inside the bucket join
    (interpreted-HOF dot per table-collision, arrays riding the explode)
    took 99 s; this slim shape takes 64 s, tied with a numpy mapInPandas
    probe but entirely JVM-side.

    ``index``: a prebuilt :func:`lsh_index` frame (persisted or read
    back from parquet). With it, the corpus-sized bucket computation —
    the dominant cost, ``n_tables * n_planes`` interpreted dots per
    corpus row — drops out of the query path entirely; only the query
    vectors are bucketed at probe time. Must have been built with the
    same (seed, n_planes, n_tables) and the same corpus ids.

    ``broadcast_candidates``: the candidate set is (n_queries x expected
    bucket collisions) rows of two longs — broadcast it so the corpus is
    rescored in place with zero vector shuffle (default). For huge query
    batches set False: the rescore becomes an equi-join on ``id_col``
    (AQE still converts it back to broadcast when the runtime size
    allows).
    """
    if dim is None:
        dim = len((corpus if index is None else queries).select(vec).first()[0])
    # buckets from RAW vectors (scale-invariant; see _sign_bucket note)
    c = _fan_out(corpus).select(id_col, F.col(vec).alias("cv"))
    q = queries.select(qid_col, F.col(vec).alias("qv"))

    planes_list = [random_hyperplanes(dim, n_planes, seed=seed + t) for t in range(n_tables)]
    # one scan per side: all n_tables bucket ids in a single projection,
    # exploded NARROW — (id, tbl, bucket) only, no vector payload
    if index is not None:
        c_b = index.select(id_col, "tbl", "bucket")
    else:
        # corpus-sized bucket pass: numpy matmul path at the standard
        # table sizes (see _bucket_frame) — the dominant one-shot cost
        c_b = _bucket_frame(c, id_col, "cv", planes_list)
    q_buckets = (
        _multi_buckets("qv", planes_list)
        if n_probes <= 1
        else _multi_probe_buckets("qv", planes_list, n_probes)
    )
    q_b = q.select(qid_col, F.explode(q_buckets).alias("tb")).select(
        qid_col, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )

    cand = (
        c_b.join(F.broadcast(q_b), on=["tbl", "bucket"], how="inner")
        .select(qid_col, id_col)
        .distinct()
    )
    if broadcast_candidates:
        cand = F.broadcast(cand)
    # exactly one interpreted dot per unique candidate
    scored = (
        c.join(cand, id_col)
        .join(F.broadcast(q), qid_col)
        .withColumn(
            "cosine",
            _dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv"))),
        )
        .select(qid_col, id_col, "cosine")
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "cosine", "rank")
    )


def ivf_index(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
    trainer: str = "mllib",
    sample_rows: int = 100_000,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantization: KMeans centroids (trained on a sample),
    each corpus vector assigned to its nearest cell.

    Scale shape: training touches a driver-bounded sample; assignment is
    one scan with the centroid table folded into the plan (broadcast by
    construction); the index is just an extra int column, so it can be
    written back to parquet partitioned by cell for pruned reads.

    The assignment costs n_cells x dim multiplies PER ROW, and that
    count picks its engine: under 2048 it stays in SQL higher-order
    functions (dependency-free, fine for small cell counts); from 2048
    on it runs as one Arrow-batched matmul + argmax per batch —
    interpreted HOFs price the dots at ~1.3M mult/s/core, so at 256
    cells x 64 dims the matmul is ~50x faster (measured 315 s -> 7 s
    for 3M rows).

    ``trainer`` picks where the centroid FIT runs (assignment is
    always distributed):

    - ``'mllib'`` (default): distributed KMeans on the (sampled)
      frame. Tens of driver-scheduled jobs per fit — fine amortized,
      but per-call latency is scheduler-bound, and it is overkill for
      a coarse quantizer that FAISS-style designs train on a bounded
      sample anyway.
    - ``'driver'``: :func:`_lloyd` on the :func:`_train_sample`
      hash-ordered deterministic sample (``sample_rows`` cap) — the
      exact machinery pq_train already uses; zero Spark jobs beyond
      the one sample collect (measured: q50b's per-call build drops
      ~4x). Centroids differ from mllib's (different algorithm, both
      deterministic); under FULL probing downstream results are
      provably cell-independent, and approximate-probe recall is a
      property to re-measure per deployment, same as any retrain.

    Returns (indexed_corpus, centroids).
    """
    if trainer not in ("mllib", "driver"):
        raise ValueError(
            f"ivf_index: unknown trainer {trainer!r} "
            "(expected 'mllib' or 'driver')"
        )
    if trainer == "driver":
        X = _train_sample(df, vec, seed, sample_fraction, sample_rows)
        if X.size == 0:
            raise ValueError("ivf_index: empty training sample")
        centroids = _lloyd(X, n_cells, 20, seed)
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # sample BEFORE the normalize projection: Catalyst does not
        # commute Sample below Project, so sampling the normalized
        # frame evaluates the per-row dot + divides for EVERY corpus
        # row just to keep 1/N of them — sampling the raw frame first
        # normalizes only kept rows
        src = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
        train = normalize(src, vec, "v").select("v")
        km = KMeans(k=n_cells, seed=seed, featuresCol="features")
        model = km.fit(train.select(array_to_vector(F.col("v")).alias("features")))
        centroids = [np.asarray(c).tolist() for c in model.clusterCenters()]
    raw = _fan_out(df).select(id_col, F.col(vec).alias("rawv"))
    dim = len(centroids[0])
    if n_cells * dim >= 2048:
        import pandas as pd

        C = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)

        def _assign(batches):
            for b in batches:
                if not len(b):
                    continue
                V = np.stack(b["rawv"].to_numpy()).astype(np.float64)
                nrm = np.linalg.norm(V, axis=1, keepdims=True)
                nrm[nrm == 0] = 1.0
                Vn = V / nrm
                # argmax dot(v_n, c): same rule as the JVM path
                cell = np.argmax(Vn @ C.T, axis=1).astype(np.int32)
                yield pd.DataFrame(
                    {id_col: b[id_col], "cell": cell, "v": list(Vn)}
                )

        id_type = dict(raw.dtypes)[id_col]
        indexed = raw.mapInPandas(
            _assign, f"{id_col} {id_type}, cell int, v array<double>"
        )
    else:
        # cell assignment from the RAW vector: argmax dot(v/|v|, c) ==
        # argmax dot(v, c), and the inlined normalize would otherwise be
        # re-evaluated once per centroid inside the HOF (no lambda CSE);
        # the normalized "v" itself is evaluated once (single array expr)
        indexed = raw.select(
            id_col,
            F.element_at(_nearest_cells("rawv", centroids, 1), 1).alias("cell"),
            F.expr(_normalize_sql("rawv")).alias("v"),
        )
    return indexed, centroids


def _nearest_cells(vec_name: str, centroids: list[list[float]], nprobe: int):
    """Array of the ``nprobe`` nearest centroid indices (by dot product
    on normalized vectors); one F.expr parse, centroids folded in as a
    literal 2-D array."""
    ranked = (
        f"reverse(array_sort(transform({_matrix_sql(centroids)},"
        f" (c, i) -> struct({_dot_sql(vec_name, 'c')} AS s, i AS i))))"
    )
    return F.expr(f"transform(slice({ranked}, 1, {nprobe}), x -> x.i)")


def ivf_topk(
    indexed_corpus: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
) -> DataFrame:
    """IVF search: each query probes its ``nprobe`` nearest cells; only
    vectors in those cells are scored (corpus_size * nprobe / n_cells
    candidates on average). Equi-join on cell id — broadcastable query
    side, partition-prunable corpus side when written partitioned by
    cell."""
    # probes from RAW query vectors (dot ranking is scale-invariant; an
    # inlined normalize would be recomputed per centroid in the HOF)
    q = queries.select(qid_col, F.col(vec).alias("qv"))
    probes = q.select(
        qid_col, "qv", F.explode(_nearest_cells("qv", centroids, nprobe)).alias("cell")
    )
    cand = indexed_corpus.join(F.broadcast(probes), "cell").withColumn(
        "cosine", _dot(F.col("v"), F.col("qv")) / _norm(F.col("qv"))
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "cosine", "rank")
    )


def _select_topk_desc(cos: np.ndarray, kb: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact per-row top-``kb`` of a score matrix under (value desc,
    column asc), WITHOUT a full-width sort.

    ``np.argsort(kind='stable')`` over the whole block is ~14
    cache-hostile passes and measured 2/3 of knn_join's entire runtime
    at 3M corpus rows (206 s of 313 s). ``argpartition`` is O(width)
    but UNSTABLE: at the k-th-value boundary it keeps an arbitrary
    subset of the tied columns, which would break the deterministic
    ascending-rid tiebreak the oracle contract ranks on. So: partition
    for the k-th VALUE only, then rebuild the kept set exactly — every
    column strictly above the boundary value, plus the FIRST (lowest
    column = lowest rid) tied columns up to ``kb`` — with vectorized
    masks (~5 linear passes). Columns must be in ascending-rid order.
    """
    n = cos.shape[1]
    if kb >= n:
        top = np.argsort(-cos, axis=1, kind="stable")
        return np.take_along_axis(cos, top, axis=1), top
    # partition VALUES, not indices: argpartition's indirect introselect
    # drags a full int64 index matrix through cache and measured 5x the
    # direct value partition; only the k-th value itself is needed
    vk = np.partition(cos, n - kb, axis=1)[:, n - kb, None]
    gt = cos > vk
    need = kb - gt.sum(axis=1)  # ties at vk still needed per row
    eq = cos == vk
    keep = gt | (eq & (np.cumsum(eq, axis=1, dtype=np.int32) <= need[:, None]))
    # np.nonzero is row-major and each row keeps exactly kb columns
    cols = np.nonzero(keep)[1].reshape(-1, kb)
    vals = np.take_along_axis(cos, cols, axis=1)
    o = np.argsort(-vals, axis=1, kind="stable")  # kb-wide: cheap
    return np.take_along_axis(vals, o, axis=1), np.take_along_axis(cols, o, axis=1)


def ivf_pq_encode(
    indexed_corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "v",
) -> DataFrame:
    """Add PQ ``codes`` to an :func:`ivf_index`-ed corpus — the combined
    IVF-PQ layout (Jegou et al., TPAMI 2011 §IV): coarse cell for
    pruning + m-byte code for in-cell approximate scoring. One scan;
    at 100 TB this frame is what you persist (partitioned by ``cell``,
    with ``codes`` as the hot column — the raw ``v`` column is read
    only by the exact-rescore join). ``codebooks`` come from
    :func:`pq_train` on the same corpus; the codes quantize the
    NORMALIZED vector (``v``), matching the normalized-query LUTs
    built at probe time.

    Encoding costs m*k*dsub = k*dim multiplies PER ROW, and that count
    picks the engine: under 4096 the codebooks inline as SQL literals
    (dependency-free, fine for small m*k); from 4096 on the assignment
    runs as one Arrow-batched matmul+argmin per subspace — at
    m=16/k=256/dim=64 (16k multiplies) the interpreted HOF evaluator
    manages ~80 rows/s/core, and the inlined literal matrices alone
    are ~300 KB of SQL text to parse. Both paths break argmin ties to
    the first minimal index; near-tie codes may differ between them by
    last-ulp rounding (immaterial for an approximate code — the exact
    rescore ranks).

    Code layout: the numpy path with ``n_codes <= 256`` emits
    ``codes`` as BINARY (one byte per subspace — m=16 really is 16
    bytes on the wire; an array<int> serializes ~4.5x bigger through
    the exchange). Larger codebooks, and the JVM path, use array<int>.
    ``knn_join``'s PQ kernel accepts either layout."""
    m = len(codebooks)
    n_codes = len(codebooks[0])
    dsub = len(codebooks[0][0])
    if m * n_codes * dsub < 4096:
        return indexed_corpus.withColumn(
            "codes", F.expr(_pq_codes_sql(vec_col, codebooks))
        )
    import pandas as pd

    CB = np.asarray(codebooks, dtype=np.float64)  # (m, n_codes, dsub)
    kernel = _pq_block_assign(CB)
    as_bytes = n_codes <= 256
    # re-encoding after a codebook retrain: an existing 'codes' column is
    # REPLACED (same semantics as the JVM path's withColumn), so the
    # output schema carries exactly one 'codes' field, appended last
    in_fields = [f for f in indexed_corpus.schema.fields if f.name != "codes"]
    in_names = [f.name for f in in_fields]

    def _enc(batches):
        for b in batches:
            if not len(b):
                continue
            V = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            n = V.shape[0]
            codes = kernel(V)
            out = b[in_names].copy()
            if as_bytes:
                flat = codes.astype(np.uint8).tobytes()
                out["codes"] = [flat[i * m:(i + 1) * m] for i in range(n)]
            else:
                out["codes"] = list(codes)
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in in_fields)
    code_t = "binary" if as_bytes else "array<int>"
    return indexed_corpus.select(*in_names).mapInPandas(
        _enc, f"{schema}, codes {code_t}"
    )


def _auto_shard(
    indexed_corpus: DataFrame,
    min_rows: int = 25_000,
    skew_ratio: float = 2.0,
    task_rows: int = 250_000,
    max_shards: int = 32,
) -> int:
    """Pick :func:`knn_join`'s ``shard_corpus`` from the MEASURED
    per-cell corpus-row distribution (r13 verdict directive #7):

    - max cell < ``min_rows``: 1 — at small inputs the probe fan-out
      overhead exceeds any balance win (measured at the 60k fixture:
      shard=4 join 4.3 s vs 3.0 s unsharded, r13).
    - max cell >= ``skew_ratio`` x median: a hot cell would serialize
      the cogroup on one task — ``s ~ sqrt(max/median)`` (the
      square-root skew-join rule) balances the hot cell's per-task
      rows against the probe-side fan-out, which costs s x |L| x
      nprobe replicated rows across EVERY cell. Measured at the 3M
      tier (max/median = 81, SCALE.md r14): s=8 joins in 10.0 s vs
      26.3 s unsharded, while s=32 (a linear max/median rule) pays
      31.4 s — over-sharding loses everything the balance won, which
      is why the rule is the square root, capped at ``max_shards``.
    - max cell >= ``task_rows`` even if balanced: bound each task's
      corpus block at ~``task_rows`` rows (the working-set guidance
      in knn_join's docstring).

    The measurement is one n_cells-row aggregate over the index —
    negligible next to the join it sizes, and free when the index is
    already cached/bucketed."""
    import math
    import statistics

    counts = [
        r["cnt"]
        for r in indexed_corpus.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ]
    if not counts:
        return 1
    mx = max(counts)
    med = statistics.median(counts)
    if mx < min_rows:
        return 1
    s = 1
    if med > 0 and mx >= skew_ratio * med:
        s = round(math.sqrt(mx / med))  # square-root skew-join rule
    s = max(s, math.ceil(mx / task_rows))  # and bound per-task rows
    return min(s, max_shards) if s > 1 else 1


def knn_join(
    left: DataFrame,
    indexed_corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    vec: str = "embedding",
    left_id: str = "doc_id",
    right_id: str = "vec_id",
    round_ndigits: int | None = None,
    shard_corpus: int = 1,
    score_dtype: str = "float64",
    pq_codebooks: list[list[list[float]]] | None = None,
    pq_oversample: int = 4,
    rescore: str = "broadcast",
) -> DataFrame:
    """Embedding k-NN JOIN: for EVERY left row, its top-``k`` cosine
    neighbours in an :func:`ivf_index`-ed corpus. The table-scale
    sibling of :func:`ivf_topk` (which broadcasts a small query batch):
    here BOTH sides are large — semantic retrieval joins, per-document
    nearest-neighbour decontamination, embedding-join enrichment.

    Scale shape: the left side explodes to its ``nprobe`` nearest cells
    and COGROUPS with the corpus on ``cell`` — never a cross join; the
    candidate volume is sum(|L_c| * |R_c|) over probed cells
    (~|L||R| * nprobe / n_cells balanced), and each corpus row lives in
    exactly ONE cell so (left, right) candidates are unique without a
    dedup shuffle even at nprobe > 1.

    Scoring runs as ONE BLAS matmul per cell inside a cogrouped
    applyInPandas, emitting only each left row's per-cell top-``k``
    (so at most k * nprobe narrow rows per left reach the final global
    window). A join + interpreted-HOF-dot variant prices the same
    arithmetic at ~1.3M mult/s/core — 35 min for 30k x 3M x 4/256
    probes vs under a minute vectorized; this is the one similarity
    stage where arithmetic intensity genuinely demands the Arrow
    boundary. Per-cell working set is |L_c| x |R_c| doubles — bound it
    with ``n_cells`` ~ sqrt(corpus) at real scale; AQE splits skewed
    cells before the cogroup exchange.

    ``round_ndigits``: when set, cosines are rounded HALF-AWAY (SQL
    ROUND semantics, matching Spark's own ``F.round``) before any
    ranking, and ties break by ascending ``right_id`` — the same
    cross-engine-stable ranking contract as ``knn_cone``'s rounded
    separation, so full-probe results hash-match a SQL oracle exactly.

    ``shard_corpus``: split every cell's corpus rows into this many
    hash sub-shards (left probes fan out to all of them). KMeans cells
    over weakly clustered data SKEW — a cogroup cannot split a hot
    group, so one popular cell serializes the whole join on a single
    task. Sharding bounds each task at |R_c|/s corpus rows; per-shard
    top-k rows are merged exactly by the final global window (union of
    shards == the cell), at the cost of shipping each probe row ``s``
    times. Set ``s`` ~ max-cell-rows / 250k at scale; 1 (default)
    keeps the narrow single-task-per-cell shape for balanced indexes.
    ``'auto'`` (r14) measures the per-cell corpus-row distribution
    (one n_cells-row aggregate over the index — negligible next to
    the join it sizes) and applies :func:`_auto_shard`'s gate: off
    for small/balanced indexes (sharding measured HARMFUL at the 60k
    fixture — fan-out overhead dominates, r13 q50b note), on with
    ``s ~ max/median`` when a hot cell dominates, on with
    ``s ~ max/250k`` when even balanced cells exceed a single task's
    budget; the A/B calibration rows are in SCALE.md (r14).

    ``score_dtype``: ``'float32'`` halves the matmul's memory traffic
    and doubles its SIMD width (measured ~2x on the scoring stage) at
    ~1e-7 relative cosine error — ranking can flip only between
    near-exact ties, noise far below IVF's own nprobe approximation.
    Ignored (kept float64) when ``round_ndigits`` is set: the rounded
    path is the bit-exact oracle contract.

    ``pq_codebooks``: when set (an :func:`ivf_pq_encode`-ed corpus with
    a ``codes`` column is required), the cogroup ships the m-byte PQ
    code per corpus vector INSTEAD of the raw float array — the 100 TB
    memory story for the join: at m=8 subspaces the exchange carries
    8-16 bytes/vector instead of 8*dim. In-cell scoring becomes an ADC
    LUT gather (each left row's m x n_codes dot table built once per
    cogroup batch), each cell emits its per-left ADC top-(k *
    ``pq_oversample``), a global window keeps the best k*oversample
    candidates per left row, and those few survivors are EXACTLY
    rescored with the raw vectors joined back (narrow id-pair join;
    the corpus float column is touched only for survivor rows). With
    full probing and sufficient oversample the result equals the raw
    path (the true top-k survive the ADC cut) — the oracle-checked
    form; recall under small oversample is pinned by pytest.

    ``rescore`` (PQ path only) picks how the exact rescore of the ADC
    survivors reaches the raw vectors:

    - ``'broadcast'`` (default): the candidate id pairs and the LEFT
      vectors broadcast; the corpus raw column is probed in place.
      Lowest latency, but BOTH broadcasts scale with the left table —
      this mode requires a BOUNDED left side (batch queries, a day's
      shard). At billion-row left tables the broadcasts stop fitting
      in executor/driver memory: use ``'cogroup'``.
    - ``'cogroup'``: nothing broadcasts (except the tiny probed-cell
      id list used to prune untouched corpus cells). The global ADC
      cut keeps each survivor's IVF cell; survivors regroup into ONE
      row per (left, cell) carrying the candidate-id array (so the
      left vector transits the rescore exchange at most ``nprobe``
      times, not k*oversample times), and a second cell-keyed cogroup
      against the raw corpus column computes the exact cosines with
      the same blocked-numpy kernel. Memory is flat in BOTH table
      sizes; the corpus raw column transits one exchange (free when
      the persisted index is already bucketed by ``cell``).
      ``shard_corpus`` splits hot cells for the rescore cogroup too.
      The cosine is evaluated with the exact JVM fold order, so both
      modes return bit-identical results (pinned by pytest and the
      same brute-force SQL oracle).

    Output: (left_id, right_id, cosine, rank<=k).
    """
    import pandas as pd

    if shard_corpus == "auto":
        shard_corpus = _auto_shard(indexed_corpus)
    elif not (isinstance(shard_corpus, int) and shard_corpus >= 1):
        raise ValueError(
            f"knn_join: shard_corpus must be 'auto' or an int >= 1, "
            f"got {shard_corpus!r}"
        )
    lf = _fan_out(left).select(left_id, F.col(vec).alias("qv"))
    probes = lf.select(
        left_id, "qv", F.explode(_nearest_cells("qv", centroids, nprobe)).alias("cell")
    )
    if pq_codebooks is not None:
        return _knn_join_pq(
            lf, probes, indexed_corpus, pq_codebooks, k, left_id, right_id,
            round_ndigits, shard_corpus, pq_oversample, rescore,
            prune_cells=nprobe < len(centroids),
        )
    right = indexed_corpus.select("cell", right_id, "v")
    if nprobe < len(centroids):
        # same probed-cell prune as the PQ path (see _knn_join_pq): at
        # nprobe << n_cells the cogroup would otherwise shuffle every
        # unprobed cell's RAW vectors into empty-left groups — on the
        # raw path the waste is 8*dim bytes per corpus row, not m codes
        right = right.join(
            F.broadcast(probes.select("cell").distinct()), "cell", "left_semi"
        )
    keys = ["cell"]
    if shard_corpus > 1:
        right = right.withColumn(
            "shard", F.pmod(F.xxhash64(right_id), F.lit(shard_corpus)).cast("int")
        )
        probes = probes.withColumn(
            "shard", F.explode(F.sequence(F.lit(0), F.lit(shard_corpus - 1)))
        )
        keys = ["cell", "shard"]
    lid_t = dict(probes.dtypes)[left_id]
    rid_t = dict(right.dtypes)[right_id]
    out_schema = f"{left_id} {lid_t}, {right_id} {rid_t}, cosine double"

    dt = np.float64 if round_ndigits is not None or score_dtype == "float64" else np.float32

    def _score(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame(
                {
                    left_id: pd.Series(dtype="object"),
                    right_id: pd.Series(dtype="object"),
                    "cosine": pd.Series(dtype="float64"),
                }
            )
        # sort the cell's corpus rows by id so the boundary-exact
        # selection below breaks exact-cosine ties by ascending
        # right_id — deterministic across shuffle arrival orders
        rpdf = rpdf.sort_values(right_id)
        L = np.stack(lpdf["qv"].to_numpy()).astype(dt)
        nrm = np.linalg.norm(L, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        L = L / nrm
        R = np.stack(rpdf["v"].to_numpy()).astype(dt)  # pre-normalized
        rids = rpdf[right_id].to_numpy()
        k_eff = min(k, R.shape[0])
        # BLOCKED matmul + running top-k. Block geometry is CACHE-SIZED
        # on purpose: the selection passes over the cos block are pure
        # memory streaming, and with 32 concurrent Python workers a
        # 2048x16384 block (134 MB) runs each pass through DRAM — the
        # measured in-worker cost was 10x the single-thread microbench
        # (bandwidth saturation, not CPU). At 256x4096 (4 MB f32) the
        # block stays cache-resident across passes; the same kernel
        # measured 6x faster single-thread and scales with cores.
        LB, RB = 256, 4096
        out_l, out_r, out_c = [], [], []
        for ls in range(0, L.shape[0], LB):
            Lb = L[ls:ls + LB]
            best_c = None  # (nb, <=k_eff) running top-k across R blocks
            best_r = None
            for rs in range(0, R.shape[0], RB):
                cos = Lb @ R[rs:rs + RB].T
                if round_ndigits is not None:
                    # half-away (SQL ROUND), not numpy's half-even: the
                    # rounded value is what the global window ranks on,
                    # so it must equal the oracle's ROUND() bit-for-bit
                    p = 10.0 ** round_ndigits
                    cos = np.sign(cos) * np.floor(np.abs(cos) * p + 0.5) / p
                kb = min(k_eff, cos.shape[1])
                if best_c is not None and best_c.shape[1] == k_eff:
                    # RUNNING THRESHOLD: once k candidates are held, a
                    # later-block entry matters only if STRICTLY above
                    # the current k-th value — equal-valued later rids
                    # can never displace kept entries under the
                    # (value desc, rid asc) order, so the strict filter
                    # is exact, and the whole block costs one compare +
                    # one nonzero pass instead of a full selection
                    ri, ci = np.nonzero(cos > best_c[:, -1][:, None])
                    if len(ri) * 4 > cos.size:
                        # dense improvements (ascending-quality corpus
                        # order): per-row merging would degenerate —
                        # take the vectorized full-selection path
                        bc, top = _select_topk_desc(cos, kb)
                        br = rids[rs:rs + RB][top]
                        bc = np.concatenate([best_c, bc], axis=1)
                        br = np.concatenate([best_r, br], axis=1)
                        mtop = np.argsort(-bc, axis=1, kind="stable")[:, :k_eff]
                        best_c = np.take_along_axis(bc, mtop, axis=1)
                        best_r = np.take_along_axis(br, mtop, axis=1)
                    elif len(ri):
                        rblk = rids[rs:rs + RB]
                        rows, first = np.unique(ri, return_index=True)
                        bounds = np.append(first, len(ri))
                        for j, r in enumerate(rows):
                            sel = ci[first[j]:bounds[j + 1]]
                            bc = np.concatenate([best_c[r], cos[r, sel]])
                            br = np.concatenate([best_r[r], rblk[sel]])
                            m = np.argsort(-bc, kind="stable")[:k_eff]
                            best_c[r] = bc[m]
                            best_r[r] = br[m]
                    continue
                bc, top = _select_topk_desc(cos, kb)
                br = rids[rs:rs + RB][top]
                if best_c is not None:
                    bc = np.concatenate([best_c, bc], axis=1)
                    br = np.concatenate([best_r, br], axis=1)
                # merge: re-rank the <=2k kept candidates; stable sort +
                # ascending-rid blocks keeps the deterministic tiebreak
                mtop = np.argsort(-bc, axis=1, kind="stable")[:, :k_eff]
                best_c = np.take_along_axis(bc, mtop, axis=1)
                best_r = np.take_along_axis(br, mtop, axis=1)
            nk = best_c.shape[1]
            out_l.append(np.repeat(lpdf[left_id].to_numpy()[ls:ls + LB], nk))
            out_r.append(best_r.ravel())
            out_c.append(best_c.ravel())
        return pd.DataFrame(
            {
                left_id: np.concatenate(out_l),
                right_id: np.concatenate(out_r),
                "cosine": np.concatenate(out_c),
            }
        )

    part = (
        probes.groupBy(*keys)
        .cogroup(right.groupBy(*keys))
        .applyInPandas(_score, out_schema)
    )
    w = Window.partitionBy(left_id).orderBy(F.col("cosine").desc(), F.col(right_id).asc())
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(left_id, right_id, "cosine", "rank")
    )


def _knn_join_pq(
    lf: DataFrame,
    probes: DataFrame,
    indexed_corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    left_id: str,
    right_id: str,
    round_ndigits: int | None,
    shard_corpus: int,
    oversample: int,
    rescore: str = "broadcast",
    prune_cells: bool = True,
) -> DataFrame:
    """PQ-compressed scoring path of :func:`knn_join` (see its
    ``pq_codebooks`` and ``rescore`` docs): ADC LUT-gather inside the
    cogroup over (cell, id, codes) only, global ADC candidate cut,
    exact rescore of the survivors against the raw vectors — via
    broadcast joins (bounded left) or a second cell-keyed cogroup
    (unbounded left, nothing broadcasts)."""
    import pandas as pd

    if rescore not in ("broadcast", "cogroup"):
        raise ValueError(f"rescore must be 'broadcast' or 'cogroup', got {rescore!r}")

    CB = np.asarray(codebooks, dtype=np.float64)  # (m, n_codes, dsub)
    m, dsub = CB.shape[0], CB.shape[2]
    K = max(k * oversample, k)
    # the probe side's replicated query vectors (nprobe * shard copies
    # per left) ship as float32: the ADC kernel scores in f32
    # regardless, so double payload is pure serializer/deserializer and
    # kernel-copy overhead — measured 522 -> 450 s at 300k x 3M on a
    # double corpus (the post-lz4 wire drop is modest, random mantissas
    # don't compress; the win is the narrower row work). Candidate
    # selection shifts only at f32-ulp score margins (ADC is the
    # approximate stage by contract); the exact rescore reads the
    # FULL-precision vectors from ``lf``/the corpus, so final results
    # keep the oracle contract.
    probes = probes.withColumn("qv", F.col("qv").cast("array<float>"))
    right = indexed_corpus.select("cell", right_id, "codes")
    if prune_cells:
        # the production shape is nprobe << n_cells with small/clustered
        # left batches: without this prune the ADC cogroup shuffles
        # EVERY cell's codes only to hand most of them to empty-left
        # groups. Same broadcast semi-join on the distinct probe-cell
        # ids as the rescore cogroup (<= n_cells ints, bounded by index
        # geometry); the identical sub-plan lets ReuseExchange share the
        # broadcast between the two prunes. On a cell-partitioned
        # artifact (ann_index.save_ivf_pq_index) this becomes dynamic
        # PARTITION pruning — unprobed cells never leave the scan
        # (pinned by tests/test_round10.py's PartitionFilters assert).
        right = right.join(
            F.broadcast(probes.select("cell").distinct()), "cell", "left_semi"
        )
    keys = ["cell"]
    if shard_corpus > 1:
        right = right.withColumn(
            "shard", F.pmod(F.xxhash64(right_id), F.lit(shard_corpus)).cast("int")
        )
        probes = probes.withColumn(
            "shard", F.explode(F.sequence(F.lit(0), F.lit(shard_corpus - 1)))
        )
        keys = ["cell", "shard"]
    lid_t = dict(probes.dtypes)[left_id]
    rid_t = dict(right.dtypes)[right_id]
    # ONE ROW PER (left, cell[, shard]) carrying the K survivors as an
    # array — not K narrow rows. The global candidate cut then merges
    # nprobe * shard_corpus arrays per left with a hash AGGREGATE
    # (flatten -> array_sort -> slice), never a row_number window: at
    # 30k lefts x 4 probes x 8 shards x K=40 the window form sorts
    # 38M shuffled rows, measured as the dominant cost of the whole
    # join. negadc = -adc makes one ascending struct sort give the
    # (adc desc, rid asc) order the contract ranks on; it travels as
    # FLOAT, not double — the top-array merge is the join's dominant
    # exchange and the score's only job is ordering the candidate cut
    # (the kernel computes it in f32 anyway; the exact rescore re-ranks
    # the survivors from the raw vectors). Measured 450 -> 396 s at
    # 300k x 3M — mostly narrower sort/merge work, the post-compression
    # wire delta is small. f32 score ties fall to the rid-asc struct
    # order — deterministic. Cogroup rescore needs each survivor's cell for
    # the second cogroup's key; cell is functionally determined by rid
    # (one cell per corpus row), so appending it after rid leaves the
    # struct sort order unchanged.
    with_cell = rescore == "cogroup"
    cell_f = ", cell: int" if with_cell else ""
    out_schema = (
        f"{left_id} {lid_t}, top array<struct<negadc: float, rid: {rid_t}{cell_f}>>"
    )

    CB32 = CB.astype(np.float32)
    dim = m * dsub

    def _adc_score(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            # dtype=object on purpose: a bare [] column defaults to
            # float64 and Arrow cannot convert an empty FLOAT column to
            # the list<struct> output type (NumPyConverter error) — hit
            # only by cogroups with corpus rows but no probes, i.e.
            # small unpruned left batches
            return pd.DataFrame(
                {
                    left_id: pd.Series(dtype="object"),
                    "top": pd.Series(dtype="object"),
                }
            )
        # the cogroup key — constant across the call's rows
        cell_val = int(lpdf["cell"].iloc[0]) if with_cell else None
        # rid-ascending corpus order: _select_topk_desc breaks exact
        # ADC ties by column index == ascending right_id, so the
        # candidate set is deterministic across shuffle arrival orders
        rpdf = rpdf.sort_values(right_id)
        L = np.stack(lpdf["qv"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(L, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        L = (L / nrm).astype(np.float32)
        c0 = rpdf["codes"].iloc[0]
        if isinstance(c0, (bytes, bytearray)):
            # packed byte layout (ivf_pq_encode, n_codes <= 256)
            codes = np.frombuffer(
                b"".join(rpdf["codes"]), dtype=np.uint8
            ).reshape(-1, m).astype(np.intp)
        else:
            codes = np.stack(rpdf["codes"].to_numpy()).astype(np.intp)  # (nr, m)
        rids = rpdf[right_id].to_numpy()
        nr = codes.shape[0]
        k_eff = min(K, nr)
        # ADC BY RECONSTRUCTION: ADC(q, code) = sum_j <q_j, cb_j[c_j]>
        # = <q, x_hat> for the PQ reconstruction x_hat — mathematically
        # the same score as the per-query LUT gather-sum, but the
        # decode (m contiguous row-gathers) runs ONCE PER CELL, shared
        # by every left row, and scoring reuses the cache-blocked BLAS
        # matmul. The LUT-gather kernel measured 26x slower per block
        # (strided fancy-indexing traffic vs sgemm) AND rebuilt each
        # left's LUT once per probed (cell, shard). f32: candidate
        # selection only — the survivors are exactly rescored.
        Rhat = np.empty((nr, dim), dtype=np.float32)
        for j in range(m):
            Rhat[:, j * dsub:(j + 1) * dsub] = CB32[j][codes[:, j]]
        LB, RB = 256, 8192
        out_l, out_s = [], []
        lids = lpdf[left_id].to_numpy()
        for ls in range(0, L.shape[0], LB):
            Lb = L[ls:ls + LB]
            best_s = best_r = None
            for rs in range(0, nr, RB):
                S = Lb @ Rhat[rs:rs + RB].T
                kb = min(k_eff, S.shape[1])
                bs, top = _select_topk_desc(S, kb)
                br = rids[rs:rs + RB][top]
                if best_s is not None:
                    bs = np.concatenate([best_s, bs], axis=1)
                    br = np.concatenate([best_r, br], axis=1)
                # stable sort + rid-ascending blocks keep the tiebreak
                mtop = np.argsort(-bs, axis=1, kind="stable")[:, :k_eff]
                best_s = np.take_along_axis(bs, mtop, axis=1)
                best_r = np.take_along_axis(br, mtop, axis=1)
            for r in range(best_s.shape[0]):
                out_l.append(lids[ls + r])
                out_s.append(
                    [
                        # .item() only for numpy scalars: string ids come
                        # through as plain Python str in the object array
                        (-float(s), rid.item() if hasattr(rid, "item") else rid)
                        + ((cell_val,) if with_cell else ())
                        for s, rid in zip(best_s[r], best_r[r])
                    ]
                )
        return pd.DataFrame({left_id: out_l, "top": out_s})

    part = (
        probes.groupBy(*keys)
        .cogroup(right.groupBy(*keys))
        .applyInPandas(_adc_score, out_schema)
    )
    # global candidate cut: each corpus row lives in ONE cell so pairs
    # are unique; merging the nprobe * shard arrays per left is a hash
    # aggregate with no global sort
    merged = part.groupBy(left_id).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("top"))), 1, K).alias("top")
    )
    if rescore == "cogroup":
        resc = _rescore_cogroup(
            merged, lf, probes, indexed_corpus, left_id, right_id,
            shard_corpus, lid_t, rid_t, prune_cells,
        )
    else:
        cand = merged.select(left_id, F.explode("top.rid").alias(right_id))
        # exact rescore, broadcast mode: survivors only — the raw float
        # column is read IN PLACE for K rows per left (candidate ids and
        # the left vectors broadcast; neither corpus vectors nor
        # candidates reshuffle). Both broadcasts scale with the LEFT
        # table — bounded-left only; rescore='cogroup' is the
        # unbounded-left form (see knn_join's docstring).
        # zero-norm guard matches the raw kernel's nrm[nrm==0]=1.0: an
        # all-zero query must score 0.0, not 0/0=NaN (NaN sorts above
        # every double in the descending window and would diverge from
        # raw/oracle)
        qn = _norm(F.col("qv"))
        resc = (
            indexed_corpus.select(right_id, "v")
            .join(F.broadcast(cand), right_id)
            .join(F.broadcast(lf), left_id)
            .withColumn(
                "cosine",
                _dot(F.col("v"), F.col("qv"))
                / F.when(qn == 0, F.lit(1.0)).otherwise(qn),
            )
        )
    if round_ndigits is not None:
        # SQL ROUND (half-away) — same cross-engine ranking contract as
        # the raw kernel's explicit rounding
        resc = resc.withColumn("cosine", F.round(F.col("cosine"), round_ndigits))
    w = Window.partitionBy(left_id).orderBy(
        F.col("cosine").desc(), F.col(right_id).asc()
    )
    return (
        resc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(left_id, right_id, "cosine", "rank")
    )


def _rescore_cogroup(
    merged: DataFrame,
    lf: DataFrame,
    probes: DataFrame,
    indexed_corpus: DataFrame,
    left_id: str,
    right_id: str,
    shard_corpus: int,
    lid_t: str,
    rid_t: str,
    prune_cells: bool = True,
) -> DataFrame:
    """Exact rescore of the ADC survivors with NOTHING broadcast — the
    unbounded-left form of :func:`knn_join`'s PQ path (its ``rescore``
    doc). Returns (left_id, right_id, cosine) for every survivor pair.

    Shape: ``merged`` holds one row per left with its K survivors as an
    array of (negadc, rid, cell) structs. The left vector attaches ONCE
    per left via a plain equi-join with ``lf`` (Catalyst picks the
    physical join — sort-merge at scale, memory flat in |L|); a
    higher-order-function regroup then emits one row per (left, cell)
    carrying the candidate-id ARRAY, so qv transits the rescore
    exchange at most nprobe times per left, not K times. The second
    cogroup keys on cell (+ the same xxhash64 shard split as the ADC
    stage when ``shard_corpus`` > 1 — a KMeans-hot cell would otherwise
    serialize the rescore on one task); the corpus raw column transits
    that exchange once, pruned to probed cells by a broadcast semi-join
    on the distinct probe-cell ids (bounded by index geometry
    ~sqrt(corpus), never by data volume). When the persisted IVF-PQ
    corpus is already bucketed by cell, the corpus side of this
    exchange is co-located and free.

    The kernel replays Spark's own evaluation order bit-for-bit —
    dot = sequential fold of v[d]*qv[d] (qv widened first, matching
    double*float promotion), |qv| = sequential fold of float-precision
    squares, zero-norm divisor 1.0 — so cogroup mode returns cosines
    BIT-IDENTICAL to broadcast mode's JVM HOF expressions (pinned by
    pytest equality and the shared brute-force SQL oracle)."""
    import pandas as pd

    s = shard_corpus
    withq = merged.join(lf, left_id)
    # regroup survivors per probed cell: array_distinct over <=K cells,
    # then per-cell rid arrays — all inside the row, no extra shuffle
    per_cell = (
        withq.select(
            left_id,
            "qv",
            F.explode(
                F.expr(
                    "transform(array_distinct(transform(top, x -> x.cell)),"
                    " c -> struct(c AS cell,"
                    " transform(filter(top, x -> x.cell = c), x -> x.rid) AS rids))"
                )
            ).alias("pc"),
        )
        .select(
            left_id,
            "qv",
            F.col("pc.cell").alias("cell"),
            F.col("pc.rids").alias("rids"),
        )
    )
    corpus_r = indexed_corpus.select("cell", right_id, "v")
    if prune_cells:
        # prune corpus cells no left row probed (candidate cells are a
        # subset of probe cells): broadcast of <=n_cells ints — bounded
        # by the index, not the data. The distinct re-derives the
        # probe-cell HOF over the left table (one extra narrow pass) —
        # only worth it under PARTIAL probing, so knn_join disables the
        # prune when nprobe == n_cells (every cell is probed; the
        # semi-join would filter nothing and still pay the pass)
        corpus_r = corpus_r.join(
            F.broadcast(probes.select("cell").distinct()), "cell", "left_semi"
        )
    rkeys = ["cell"]
    if s > 1:
        # same rid-hash shard split as the ADC cogroup: both sides
        # derive the shard from xxhash64(rid), so each candidate pair
        # lands on exactly one (cell, shard) task
        per_cell = (
            per_cell.select(
                left_id,
                "qv",
                "cell",
                F.explode(
                    F.expr(
                        f"filter(transform(sequence(0, {s - 1}),"
                        f" sh -> struct(sh AS shard,"
                        f" filter(rids, r -> pmod(xxhash64(r), {s}) = sh) AS rids)),"
                        " x -> size(x.rids) > 0)"
                    )
                ).alias("ps"),
            )
            .select(
                left_id,
                "qv",
                "cell",
                F.col("ps.shard").cast("int").alias("shard"),
                F.col("ps.rids").alias("rids"),
            )
        )
        corpus_r = corpus_r.withColumn(
            "shard", F.pmod(F.xxhash64(right_id), F.lit(s)).cast("int")
        )
        rkeys = ["cell", "shard"]

    out_schema = f"{left_id} {lid_t}, {right_id} {rid_t}, cosine double"

    def _exact(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf):
            return pd.DataFrame(
                {
                    left_id: pd.Series(dtype="object"),
                    right_id: pd.Series(dtype="object"),
                    "cosine": pd.Series(dtype="float64"),
                }
            )
        idx_map = pd.Index(rpdf[right_id].to_numpy() if len(rpdf) else [])
        V = (
            np.stack(rpdf["v"].to_numpy())
            if len(rpdf)
            else np.empty((0, 1), dtype=np.float64)
        )
        Q = np.stack(lpdf["qv"].to_numpy())  # float32 or float64 column
        dim = Q.shape[1]
        rid_lists = lpdf["rids"].to_numpy()
        counts = np.fromiter(
            (len(r) for r in rid_lists), dtype=np.int64, count=len(lpdf)
        )
        lids = lpdf[left_id].to_numpy()
        q_is_f32 = Q.dtype == np.float32
        # chunk over left rows so Qrep/Vp stay cache-sized even when a
        # hot cell holds many lefts
        ch = max(1, 65536 // max(int(counts.max(initial=1)), 1))
        frames = []
        for st in range(0, len(lpdf), ch):
            en = min(st + ch, len(lpdf))
            cnt = counts[st:en]
            flat = np.concatenate([np.asarray(r) for r in rid_lists[st:en]])
            pos = idx_map.get_indexer(flat)
            if (pos < 0).any():
                raise ValueError(
                    "knn_join cogroup rescore: candidate id missing from "
                    "its corpus cell/shard group"
                )
            Vp = V[pos]  # (npairs, dim) float64 (normalized corpus)
            Qc = Q[st:en]
            Qrep64 = np.repeat(Qc, cnt, axis=0).astype(np.float64)
            # sequential fold == the JVM aggregate(zip_with(v, qv,
            # (x,y) -> x*y), 0D, (a,x) -> a+x): multiply-then-add per
            # element, left to right, all in double (float qv widens
            # BEFORE the multiply under Spark's type promotion)
            acc = np.zeros(len(flat), dtype=np.float64)
            for d in range(dim):
                acc += Vp[:, d] * Qrep64[:, d]
            # |qv|: transform(qv, x -> x*x) squares in the COLUMN's
            # precision (float32 for array<float>), the aggregate then
            # widens each square to double — replay exactly
            nq = np.zeros(len(Qc), dtype=np.float64)
            for d in range(dim):
                sq = Qc[:, d] * Qc[:, d]
                nq += sq.astype(np.float64) if q_is_f32 else sq
            qn = np.sqrt(nq)
            div = np.where(qn == 0.0, 1.0, qn)
            frames.append(
                pd.DataFrame(
                    {
                        left_id: np.repeat(lids[st:en], cnt),
                        right_id: flat,
                        "cosine": acc / np.repeat(div, cnt),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return (
        per_cell.groupBy(*rkeys)
        .cogroup(corpus_r.groupBy(*rkeys))
        .applyInPandas(_exact, out_schema)
    )


def pairwise_near_dup(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 10,
    dim: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH
    self-join + exact rescore. Returns (id_a, id_b, cosine >=
    threshold), id_a < id_b.

    This is the 100 TB path for embedding near-dedup: candidate
    generation is an equi-join on (tbl, bucket) — never a theta/cross
    join — so the plan is a shuffled hash join whose cost is the sum of
    squared bucket sizes, ~n^2 * n_tables / 2^n_planes for balanced
    buckets. Per-pair recall for a pair at angle theta is
    1 - (1 - (1-theta/pi)^n_planes)^n_tables: at production near-dup
    thresholds (cosine >= 0.9, theta <= 26 deg) 10 planes x 4 tables
    gives >0.99 recall with ~1000x candidate pruning. At looser
    thresholds (<=0.5) the collision probability forces more tables /
    fewer planes and pruning fades — that regime is fundamental to
    hyperplane LSH, not an implementation limit.

    Candidate pairs are scored IN the join projection and
    threshold-filtered before any shuffle: a dedup-first plan would
    carry both vector arrays (~2 x dim doubles per pair) through the
    duplicate-elimination exchange, which measures as the dominant
    probe cost at corpus scale. Cross-table duplicates collapse in a
    cheap (id_a, id_b, cosine) aggregate with map-side combine; the
    duplicate cosines are identical, max() just picks the one value.
    """
    if dim is None:
        dim = len(df.select(vec).first()[0])
    planes_list = [random_hyperplanes(dim, n_planes, seed=7 + t) for t in range(n_tables)]
    # buckets from RAW vectors (scale-invariant); all tables' bucket ids
    # in one projection over one scan (see _multi_buckets)
    b = _fan_out(df).select(id_col, F.col(vec).alias("v")).select(
        id_col, "v", F.explode(_multi_buckets("v", planes_list)).alias("tb")
    ).select(id_col, "v", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    a_side = b.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), "tbl", "bucket")
    b_side = b.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "tbl", "bucket")
    return (
        a_side.join(b_side, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))),
        )
        .filter(F.col("cosine") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
        .select("id_a", "id_b", "cosine")
    )


def quantize_int8(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    out_vec: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) in [-127, 127]. 4x smaller vectors for
    ANN candidate stages (dot products on ints, exact rescore on the
    float originals); reconstruction error <= scale/2 per dimension.

    floor(x + 0.5) instead of round(): identical semantics in every
    engine (round() half-way tie-breaking differs), so results are
    oracle-checkable bit-for-bit. The scale is bound through a HOF
    lambda variable so the max-abs aggregate runs ONCE per row —
    CollapseProject would otherwise inline it into the quantize lambda
    and re-evaluate it per element (no CSE inside HOF lambdas)."""
    v = df.select(id_col, F.col(vec).alias("__v"))
    quantized = F.expr(
        "element_at(transform("
        " array(greatest(aggregate(__v, 0D, (a, x) -> greatest(a, abs(x))) / 127.0, 1e-30d)),"
        " s -> struct(s AS scale, transform(__v, x -> cast(floor(x / s + 0.5d) AS INT)) AS q)"
        "), 1)"
    )
    return v.select(id_col, quantized.alias("__qz")).select(
        id_col,
        F.col("__qz.scale").alias(scale_col),
        F.col("__qz.q").alias(out_vec),
    )


def dequantize_int8(
    df: DataFrame,
    q_vec: str = "q",
    scale_col: str = "q_scale",
    out: str = "embedding",
) -> DataFrame:
    """Inverse of quantize_int8: x_i ~ q_i * scale (stored attribute, no
    recomputation risk)."""
    return df.withColumn(
        out, F.zip_with(F.col(q_vec), F.array_repeat(F.col(scale_col), F.size(q_vec)), lambda a, s: a * s)
    )


# --------------------------------------------------------------------- PQ
def _lloyd(X: np.ndarray, k: int, iters: int, seed: int) -> list[list[float]]:
    """Plain Lloyd's k-means on a driver-side sample (numpy). PQ
    codebooks are tiny (k x dsub) and trained on bounded samples, so a
    local solver beats m separate distributed KMeans fits (whose per-fit
    overhead dominates at this size). Deterministic under ``seed``;
    empty clusters are reseeded from the farthest points."""
    rng = np.random.RandomState(seed)
    k_eff = min(k, len(X))
    cent = X[rng.choice(len(X), size=k_eff, replace=False)].astype(np.float64)
    if k_eff < k:  # degenerate tiny sample: pad with duplicates
        cent = np.vstack([cent, cent[rng.randint(0, k_eff, size=k - k_eff)]])
    x2 = (X * X).sum(axis=1)[:, None]
    prev_assign = None
    d2 = np.empty((len(X), k))
    for _ in range(iters):
        # ||x||^2 - 2 x.C^T + ||c||^2 via matmul: the N x k result only,
        # never the N x k x dsub broadcast temporary (~dsub x the memory
        # and measured ~10x slower at sample scale). r14: computed
        # IN-PLACE into one reused buffer (matmul out= then two
        # broadcast adds) — float addition is commutative, so the
        # values are bit-identical to the allocating expression
        # (asserted), and the three N x k temporaries per iteration
        # disappear: measured 4.9 -> 1.3 ms/iter at (2000 x 4, k=256),
        # 218 -> 58 ms at (60000 x 8).
        np.matmul(X, cent.T, out=d2)
        d2 *= -2.0
        d2 += x2
        d2 += (cent * cent).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        if prev_assign is not None and np.array_equal(assign, prev_assign):
            break  # converged: the update below would be a no-op
        prev_assign = assign
        # centroid update via per-dimension bincount scatter (r14):
        # same sequential accumulation order as the previous
        # np.add.at, bit-identical sums (asserted), ~4x faster — the
        # buffered ufunc.at path was the remaining per-iter cost after
        # the r12 boolean-mask-loop fix
        sums = np.empty_like(cent)
        for c in range(X.shape[1]):
            sums[:, c] = np.bincount(assign, weights=X[:, c], minlength=k)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        nonempty = counts > 0
        cent[nonempty] = sums[nonempty] / counts[nonempty, None]
        # reseed empty clusters from DISTINCT farthest points — one
        # shared reseed point would leave duplicate dead codewords
        empties = np.nonzero(~nonempty)[0]
        if len(empties):
            far = np.argsort(-d2.min(axis=1))
            for far_i, c in enumerate(empties):
                cent[c] = X[far[min(far_i, len(far) - 1)]]
    return cent.tolist()


def _lloyd_subspaces(
    X: np.ndarray, m: int, k: int, iters: int, seed: int
) -> list[list[list[float]]]:
    """The ``m`` independent per-subspace Lloyd fits of PQ/OPQ training,
    fanned over a driver-side thread pool (r14). Each fit is a pure
    function of (its column slice, k, iters, seed + j) and numpy
    releases the GIL inside the matmul/argmin hot loops, so threads
    give near-linear wall-clock speedup with BIT-IDENTICAL codebooks
    (measured 187 s -> 18.5 s at m=16/k=256 on a 60k x 128
    non-converging synthetic sample; results list-equal). Pool sized
    cores/4 (8 threads on the 32-core host measured faster than 16 —
    the argmin passes are memory-bound), LOAD-AWARE since r15: the
    fixed cores/4 pool fought whatever else the host was running (the
    r14 driver bench landed on a non-idle host — load 2.0/6.25 at
    start — and q50b/z101 regressed there while staying flat on idle
    ABBA), so the budget subtracts the 1-min load average first.
    Worker count never changes the RESULT (each fit is a pure function
    of its column slice and seed + j), only the wall-clock.
    ``SPARK_GRAFT_PQ_TRAIN_THREADS`` pins the pool explicitly (0/1
    disables threading)."""
    env = os.environ.get("SPARK_GRAFT_PQ_TRAIN_THREADS")
    if env is not None:
        workers = min(m, max(1, int(env)))
    else:
        try:
            busy = os.getloadavg()[0]
        except OSError:  # platform without getloadavg
            busy = 0.0
        cpus = os.cpu_count() or 8
        workers = min(m, max(1, int(cpus - busy) // 4))
    if workers <= 1:
        return [
            _lloyd(X[:, j * (X.shape[1] // m):(j + 1) * (X.shape[1] // m)], k, iters, seed + j)
            for j in range(m)
        ]
    dsub = X.shape[1] // m
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(workers) as ex:
        return list(
            ex.map(
                lambda j: _lloyd(X[:, j * dsub:(j + 1) * dsub], k, iters, seed + j),
                range(m),
            )
        )


def _train_sample(
    df: DataFrame,
    vec: str,
    seed: int,
    sample_fraction: float | None,
    sample_rows: int,
) -> np.ndarray:
    """Driver-bounded, DETERMINISTIC training sample of normalized
    vectors (shared by ivf_index(trainer='driver') / pq_train /
    opq_train). Hash-ordered limit: a bare limit() takes whatever rows
    arrive first, so the training set (hence the codebooks) would
    depend on partition layout; ordering by a content hash makes the
    sample a pure function of the data. At corpus scale pass
    ``sample_fraction`` so the sort runs on the sample, not the full
    table.

    The collected batch converts to the (n, dim) float64 matrix through
    the Arrow list column's contiguous values buffer — ONE flatten +
    reshape (r15, guide §4.2: Arrow list data is a flat buffer plus
    offsets) instead of toPandas().tolist(), which materializes a
    Python list per row before numpy re-packs them; bit-identical
    doubles either way (same IEEE buffer, no Python float round-trip).
    Ragged samples, null vectors and vectors holding null elements
    (never produced by normalize, but the contract is defensive) fall
    back to the row-list path, where a null element reads as NaN."""
    n = normalize(df, vec, "v").select("v")
    if sample_fraction is not None:
        n = n.sample(sample_fraction, seed=seed)
    col = (
        n.orderBy(F.xxhash64("v"))
        .limit(sample_rows)
        .toArrow()
        .column("v")
        .combine_chunks()
    )
    if len(col) == 0:
        return np.asarray([], dtype=np.float64)
    try:
        widths = np.diff(col.offsets.to_numpy(zero_copy_only=False).astype(np.int64))
        if (
            col.null_count == 0
            and col.values.null_count == 0
            and widths.size
            and (widths == widths[0]).all()
        ):
            flat = col.flatten().to_numpy(zero_copy_only=False)
            return flat.astype(np.float64, copy=True).reshape(len(col), int(widths[0]))
    except (AttributeError, NotImplementedError):
        pass
    return np.asarray(col.to_pylist(), dtype=np.float64)


def pq_train(
    df: DataFrame,
    vec: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
    sample_rows: int = 100_000,
    iters: int = 20,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", IEEE TPAMI 2011): split
    the L2-normalized vector into ``m`` subspaces and fit ``k`` Lloyd's
    k-means centroids per subspace on a driver-bounded sample
    (``sample_fraction`` for a random sample at scale, then capped at
    ``sample_rows``).

    Returns codebooks[m][k][dim/m]. Scale shape: training reads a
    bounded sample once; everything downstream folds the codebooks into
    plans as literals — m*k*(dim/m) = k*dim floats, KBs.
    """
    X = _train_sample(df, vec, seed, sample_fraction, sample_rows)
    if X.size == 0:
        raise ValueError("pq_train: empty training sample")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    return _lloyd_subspaces(X, m, k, iters, seed)


def _pq_block_assign(CB: np.ndarray):
    """Vectorized PQ code assignment: ALL ``m`` subspaces of a row block
    in ONE dgemm. The codebooks are laid out block-diagonally in a
    (m*k, dim) matrix — row (j, c) holds codebook j's centroid c in
    columns [j*dsub, (j+1)*dsub) and exact zeros elsewhere — so
    ``V @ CBD.T`` yields every per-subspace dot at once; the zero
    columns contribute exact +0.0 terms (no rounding effect on finite
    data). One large BLAS call replaces m tiny (n x dsub)@(dsub x k)
    matmuls, which are memory-bound at dsub ~ 8 (measured ~3x slower
    end-to-end at m=16/k=256). argmin of -2 x.c + |c|^2 over each
    k-slice, first-minimal-index ties — same rule as the JVM
    array_position path. Row blocks stay cache-sized (LB x m*k doubles,
    2 MB at m*k=1024) so the reshape+argmin passes never stream DRAM.

    Returns ``assign(V) -> (n, m) int32`` for (n, dim) float64 rows."""
    m, k, dsub = CB.shape
    dim = m * dsub
    CBD = np.zeros((m * k, dim), dtype=np.float64)
    for j in range(m):
        CBD[j * k:(j + 1) * k, j * dsub:(j + 1) * dsub] = CB[j]
    CBDT = np.ascontiguousarray(CBD.T)
    c2 = (CB * CB).sum(axis=2)[None, :, :]  # (1, m, k)

    def assign(V: np.ndarray) -> np.ndarray:
        n = V.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        LB = 256
        for s in range(0, n, LB):
            d = V[s:s + LB] @ CBDT  # (LB, m*k): every subspace dot
            codes[s:s + LB] = (
                -2.0 * d.reshape(-1, m, k) + c2
            ).argmin(axis=2)
        return codes

    return assign


def _pq_codes_sql(vec_name: str, codebooks: list[list[list[float]]]) -> str:
    """SQL for the m-element code array: per subspace, the 0-based index
    of the L2-nearest centroid. One expression per subspace (codebooks
    folded in as literal matrices), combined with array() — a single
    parse, no per-centroid py4j traffic."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    parts = []
    for j in range(m):
        sub = f"slice({vec_name}, {j * dsub + 1}, {dsub})"
        # bind the subvector once (HOFs do not CSE the slice)
        dists = (
            f"element_at(transform(array({sub}), sv ->"
            f" transform({_matrix_sql(codebooks[j])}, c ->"
            f" aggregate(zip_with(sv, c, (a, b) -> (a-b)*(a-b)), 0D, (acc, x) -> acc + x))"
            f"), 1)"
        )
        parts.append(
            f"element_at(transform(array({dists}), d ->"
            f" int(array_position(d, array_min(d)) - 1)), 1)"
        )
    return "array(" + ",".join(parts) + ")"


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode the corpus: (id, codes array<int>, v normalized). One scan;
    the code column is m bytes of information per vector (vs 4*dim for
    the raw floats) — the column you persist for a 100 TB ANN corpus.

    The per-row multiply count m*k*dsub picks the engine. Under 512 the
    per-subspace argmin runs as inlined SQL higher-order functions
    (dependency-free, no Python workers) — there the Arrow round-trip
    of the vector column costs more than the HOF saves. From 512 on
    it runs through :func:`_pq_block_assign` — all m subspaces of an
    Arrow batch in one block-diagonal BLAS matmul (measured 5x faster
    at 3M vectors x m=8/k=16 where the interpreted HOF pays ~1k lambda
    evals per row; the one-time corpus encode is the slowest ANN
    tier). Codes are layout- and value-compatible between the paths
    (array<int>, first-minimal-index ties; near-ties can differ by
    last-ulp rounding of the two distance forms, immaterial for an
    approximate code — each path is pinned to a reference by pytest).
    """
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    n = normalize(_fan_out(df), vec, "v").select(id_col, "v")
    if m * k * dsub < 512:
        return n.withColumn("codes", F.expr(_pq_codes_sql("v", codebooks)))
    import pandas as pd

    kernel = _pq_block_assign(np.asarray(codebooks, dtype=np.float64))
    id_t = dict(n.dtypes)[id_col]

    def _enc(batches):
        for b in batches:
            if not len(b):
                continue
            V = np.stack(b["v"].to_numpy())  # already normalized float64
            out = b.copy()
            out["codes"] = list(kernel(V))
            yield out

    return n.mapInPandas(_enc, f"{id_col} {id_t}, v array<double>, codes array<int>")


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    oversample: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    rescore: bool = True,
) -> DataFrame:
    """ADC (asymmetric distance) top-k: per query, build the m x k
    lookup table of subspace dot products ONCE, score every code word
    with m table lookups (not dim multiplies), keep the top
    k*oversample, then exactly rescore those few with the true cosine.

    Scale shape: queries are collected driver-side — they are
    broadcast-sized by the operator's contract — and their LUTs ride
    the mapInPandas closure; the corpus scan reads only (id, codes) —
    the compressed column — and the exact rescore joins back just
    k*oversample rows per query.

    The ADC scan is an Arrow-batched LUT gather emitting only each
    batch's per-query top-K — per-batch selection under the same total
    order (adc desc, id asc) is a monotone filter, so the global
    candidate set is IDENTICAL to a full scan's; the global window then
    ranks ~batches*K narrow rows instead of |corpus| * n_queries (an
    interpreted-HOF scan priced ~1.3M lookups/s/core, and its all-pairs
    window sort dominated the rest).
    """
    import pandas as pd

    qn = normalize(_fan_out(queries), vec, "qv").select(qid_col, "qv")
    qrows = qn.collect()
    if not qrows:
        from pyspark.sql import types as T

        fields = [
            T.StructField(qid_col, qn.schema[qid_col].dataType),
            T.StructField(id_col, encoded.schema[id_col].dataType),
            T.StructField("cosine" if rescore else "score", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
        return encoded.sparkSession.createDataFrame([], T.StructType(fields))
    qids = [r[0] for r in qrows]
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    CB = np.asarray(codebooks, dtype=np.float64)  # (m, n_codes, dsub)
    m, dsub = CB.shape[0], CB.shape[2]
    LUT = np.einsum("qjd,jcd->qjc", Q.reshape(len(qids), m, dsub), CB)
    K = k * (oversample if rescore else 1)
    nq = len(qids)
    qid_arr = np.asarray(qids)
    id_t = dict(encoded.dtypes)[id_col]
    qid_t = dict(qn.dtypes)[qid_col]

    def _adc(batches):
        for b in batches:
            n = len(b)
            if not n:
                continue
            codes = np.stack(b["codes"].to_numpy()).astype(np.intp)  # (n, m)
            ids = b[id_col].to_numpy()
            s = LUT[:, 0, codes[:, 0]]
            for j in range(1, m):
                s = s + LUT[:, j, codes[:, j]]  # (nq, n) gather-sum
            kb = min(K, n)
            out_q, out_i, out_s = [], [], []
            for qi in range(nq):
                idx = np.lexsort((ids, -s[qi]))[:kb]
                out_q.append(np.full(kb, qi))
                out_i.append(ids[idx])
                out_s.append(s[qi][idx])
            yield pd.DataFrame(
                {
                    qid_col: qid_arr[np.concatenate(out_q)],
                    id_col: np.concatenate(out_i),
                    "adc": np.concatenate(out_s),
                }
            )

    cand0 = encoded.select(id_col, "codes").mapInPandas(
        _adc, f"{qid_col} {qid_t}, {id_col} {id_t}, adc double"
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("adc").desc(), F.col(id_col).asc())
    cand = cand0.withColumn("arank", F.row_number().over(w)).filter(F.col("arank") <= K)
    if not rescore:
        return cand.select(
            qid_col, id_col, F.col("adc").alias("score"), F.col("arank").alias("rank")
        )
    exact = (
        encoded.select(id_col, "v")
        .join(F.broadcast(cand.select(qid_col, id_col)), id_col)
        .join(F.broadcast(qn), qid_col)
        .withColumn("cosine", _dot(F.col("v"), F.col("qv")))
    )
    w2 = Window.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "cosine", "rank")
    )


# --------------------------------------------------------------------- OPQ
def _encode_np(X: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Driver-side PQ encode of a sample: per subspace, argmin L2 to
    the codebook (same rule as _pq_codes_sql / ivf_pq_encode)."""
    m, _, dsub = codebooks.shape
    codes = np.empty((len(X), m), dtype=np.intp)
    for j in range(m):
        Xs = X[:, j * dsub:(j + 1) * dsub]
        C = codebooks[j]
        d2 = (Xs * Xs).sum(1)[:, None] - 2.0 * (Xs @ C.T) + (C * C).sum(1)[None, :]
        codes[:, j] = d2.argmin(1)
    return codes


def _reconstruct_np(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    m, _, dsub = codebooks.shape
    out = np.empty((len(codes), m * dsub))
    for j in range(m):
        out[:, j * dsub:(j + 1) * dsub] = codebooks[j][codes[:, j]]
    return out


def opq_train(
    df: DataFrame,
    vec: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
    sample_rows: int = 100_000,
    opq_iters: int = 10,
    lloyd_iters: int = 10,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """OPTIMIZED product quantization (Ge, He, Ke & Sun, "Optimized
    Product Quantization", CVPR 2013 — the non-parametric alternating
    solution): learn an orthogonal rotation R that aligns the data
    with the PQ subspace grid before coding, minimizing quantization
    error. Alternates (a) Lloyd codebooks on the rotated sample with
    (b) the orthogonal Procrustes solve R = U V^T from
    SVD(X^T X_hat). Returns ``(R, codebooks)``; R is d x d
    (row-major: rotated = x @ R).

    On anisotropic embeddings (real encoder outputs: correlated dims,
    uneven variance — the common case) OPQ cuts reconstruction MSE vs
    plain PQ at identical bytes/vector; on isotropic data it converges
    to ~identity and costs nothing. Rotation is ORTHOGONAL, so norms,
    dots and cosines are preserved: rotate corpus and queries with the
    same R (:func:`rotate_vectors`), then every downstream PQ op
    (pq_encode / pq_topk / ivf_pq_encode / knn_join(pq_codebooks=...))
    works unchanged on the rotated frames.

    Scale shape: training reads one driver-bounded deterministic
    sample; R and the codebooks fold into later plans as literals /
    closure constants (d*d + k*d floats, KBs).
    """
    X = _train_sample(df, vec, seed, sample_fraction, sample_rows)
    if X.size == 0:
        raise ValueError("opq_train: empty training sample")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"opq_train: dim {dim} not divisible by m={m}")
    dsub = dim // m
    R = np.eye(dim)
    cbs = None
    for _ in range(max(1, opq_iters)):
        XR = X @ R
        cbs = np.asarray(_lloyd_subspaces(XR, m, k, lloyd_iters, seed))
        Xhat = _reconstruct_np(_encode_np(XR, cbs), cbs)
        # orthogonal Procrustes: argmin_R ||X R - Xhat||_F
        U, _, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    # final codebooks consistent with the final R
    XR = X @ R
    cbs = _lloyd_subspaces(XR, m, k, lloyd_iters, seed)
    return R.tolist(), cbs


def rotate_vectors(
    df: DataFrame,
    R: list[list[float]],
    vec: str = "embedding",
    out: str | None = None,
) -> DataFrame:
    """Apply the OPQ rotation: ``out = x @ R`` per row (orthogonal, so
    cosines/norms are unchanged). Like the other ANN stages, the
    per-row multiply count d^2 picks the engine: from 2048 on one
    Arrow-batched matmul per batch — d^2 = 4096 multiplies per row at
    d=64 prices the interpreted HOF path at ~300 rows/s/core; under it
    the dependency-free transform-of-dots form."""
    out = out or vec
    Rm = np.asarray(R, dtype=np.float64)
    dim = Rm.shape[0]
    if dim * dim < 2048:
        # rotated_i = dot(x, R[:, i]): iterate rows of R^T as literals
        rt = Rm.T.tolist()
        return df.withColumn(
            out,
            F.expr(
                f"element_at(transform(array({vec}), xv ->"
                f" transform({_matrix_sql(rt)}, r -> {_dot_sql('xv', 'r')})), 1)"
            ),
        )
    import pandas as pd

    cols = df.columns

    def _rot(batches):
        for b in batches:
            if not len(b):
                continue
            V = np.stack(b[vec].to_numpy()).astype(np.float64)
            o = b.copy()
            o[out] = list(V @ Rm)
            yield o

    schema_parts = []
    for f in df.schema.fields:
        if f.name == out:
            schema_parts.append(f"{out} array<double>")
        else:
            schema_parts.append(f"{f.name} {f.dataType.simpleString()}")
    if out not in cols:
        schema_parts.append(f"{out} array<double>")
    return df.mapInPandas(_rot, ", ".join(schema_parts))
