"""Scale smoke: run the flagship operator shapes against a ~30M-row
table generated in-memory (spark.range + codegen'd exprs — no disk, no
fixtures touched), i.e. 50x the sf0.1 bench rows, and verify:

- each op completes with the same plan shape that benches at sf0.1
  (pushdown / partial agg / broadcast / bin-id groupBy), and
- throughput (rows/s) stays in the same order of magnitude — evidence
  that nothing in the operator set is secretly driver-bound or
  quadratic.

Usage: python scale_check.py [n_rows_millions]    (default 30)
Writes SCALE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def _shuffle_write_bytes(spark) -> int | None:
    """Total shuffle-write bytes across completed stages, from the UI
    REST API (best-effort: None when the UI is off). Snapshot deltas
    around adjacent runs attribute shuffle volume to one operator —
    the evidence for 'the PQ join ships 16 bytes/vector, not 520'."""
    import json as _json
    import urllib.request

    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages?status=complete", timeout=10
        ) as r:
            stages = _json.loads(r.read())
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:  # noqa: BLE001 - metrics are advisory
        return None


def _fork_rows(n: int, results: dict, names: tuple, tag: str) -> None:
    """Measure a row subset in a FRESH right-sized JVM (this script,
    re-entered with an ``only`` filter) and splice its rows into
    ``results``. Two uses: the interpreted-HOF tier is heap-context
    sensitive (old-gen pollution from preceding ops inflates it up to
    ~2x vs dedicated-JVM numbers), and conversely the allocation-heavy
    knn_join_pq_cg row POLLUTES the heap for every HOF row after it
    (lsh_probe rows measured 2.4-4x slower downstream of it) — both
    sides of the problem isolate the same way."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), str(n / 1e6), ",".join(names)]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    child = None
    for ln in reversed(proc.stdout.splitlines()):
        if ln.startswith("{"):
            try:
                child = json.loads(ln)
            except ValueError:
                continue
            break
    if child and child.get("ops"):
        for name in names:
            if name in child["ops"]:
                r = results[name] = child["ops"][name]
                print(
                    f"{name:24s} {r['sec']:7.2f}s  out={r['rows_out']:>10}  "
                    f"{r['mrows_in_per_s']:8.1f} Mrows/s  (dedicated JVM)"
                )
    else:
        print(
            f"WARNING: {tag} child JVM produced no result "
            f"(rc={proc.returncode}); stderr tail:\n"
            + "\n".join(proc.stderr.splitlines()[-5:])
        )


def make_fact(spark, n: int):
    """Deterministic fact table: ~lineitem-shaped, generated executor-side."""
    return (
        spark.range(n)
        .select(
            (F.col("id") % 1_500_000).alias("orderkey"),
            (F.col("id") % 200_000).alias("partkey"),
            (F.pmod(F.xxhash64("id"), F.lit(50)) + 1).cast("double").alias("quantity"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100_000)) / F.lit(1000.0) + 900).alias("price"),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(11)) / F.lit(100.0)).alias("discount"),
            F.concat(F.lit("F"), (F.col("id") % 3).cast("string")).alias("flag"),
        )
    )


def main() -> None:
    # the 30M sweep runs real shuffles over ~100M-row exploded frames;
    # the 8g bench default starves 32 concurrent tasks of execution
    # memory (observed UNABLE_TO_ACQUIRE_MEMORY in the similarity join).
    # 16g, NOT bigger: at 48g the interpreted-HOF scan tier (pq_topk
    # 12.7->52s, lsh_probe 67->120s) pays a measured 3-4x GC penalty —
    # G1 at large heaps handles the allocation-heavy ADC/dot loops far
    # worse. The similarity joins' one oversized broadcast is disabled
    # at runtime instead (see the sim_join rows below).
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    from ezdata_spark.session import get_spark
    from ezdata_spark.table import EzTable

    n = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 else 30_000_000
    # optional argv[2]: comma-separated op names — re-measure a subset
    # without paying for the whole sweep (setup still runs; timers and
    # materialization are skipped for filtered-out ops)
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = get_spark("ezdata-scale")
    spark.sparkContext.setLogLevel("ERROR")

    fact = make_fact(spark, n)
    dim = spark.range(1_500_000).select(
        F.col("id").alias("orderkey"),
        (F.pmod(F.xxhash64("id", F.lit(9)), F.lit(5))).cast("string").alias("segment"),
    )

    results: dict[str, dict] = {}

    from ezdata_spark.cache import release_caches

    def run(name: str, df, rows_in: int | None = None):
        if only is not None and name not in only:
            return
        rin = rows_in if rows_in is not None else n
        t0 = time.perf_counter()
        d = df() if callable(df) else df  # callables run build-time jobs
        # noop sink: FULL column evaluation. A count() here would let the
        # optimizer eliminate outer joins against unique-key aggregates
        # (repetition_stats / segment_dedup would time only their cheap
        # branch).
        d.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        cnt = d.count()  # untimed, reporting only
        release_caches()  # drop tracked operator persists between ops
        spark.catalog.clearCache()  # and any untracked cached frames
        results[name] = {
            "sec": round(dt, 2),
            "rows_out": cnt,
            "mrows_in_per_s": round(rin / dt / 1e6, 3),
        }
        print(f"{name:24s} {dt:7.2f}s  out={cnt:>10}  {rin/dt/1e6:8.1f} Mrows/s")

    t = EzTable(fact)

    run("selectwhere", t.selectWhere("orderkey price", "(discount > 0.05) & (quantity < 10)").df)
    run(
        "groupby_agg",
        fact.groupBy("flag").agg(
            F.sum("quantity"), F.avg(F.col("price") * (1 - F.col("discount"))), F.count(F.lit(1))
        ),
    )
    run("join_dim_agg", fact.join(dim, "orderkey").groupBy("segment").agg(F.sum("price")))
    from ezdata_spark.operators.binned import BinSpec, binned_agg

    run(
        "histogram_2d",
        binned_agg(
            fact,
            [BinSpec("quantity", 0.0, 51.0, 64), BinSpec("discount", 0.0, 0.11, 16)],
            {"n": F.count(F.lit(1)), "m": F.avg("price")},
            densify=False,
            with_centers=False,
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("orderkey").orderBy(F.col("price").desc())
    run("topk_per_group", fact.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 2))

    # PARQUET-BACKED envelope tier (round-11 directive #6): the rows
    # above time the COMPUTE ceiling (spark.range input, no disk);
    # these re-run the three §2.2-2.5 core shapes against a parquet
    # artifact of the SAME fact table, so the envelope includes the
    # scan/decode/pushdown term a 100 TB deployment actually pays.
    # The write is timed as its own row (the one-time layout cost);
    # each scan shape gets one UNTIMED warm pass first — the r11
    # protocol: rows timed adjacent to a multi-GB artifact write
    # otherwise absorb page-cache/writeback cold costs as a phantom
    # regression. Selected-subset only by default (the full sweep's
    # SCALE.md table stays generated-input; these rows are appended
    # by hand with their run context).
    _PQ_TIER = (
        "pq_write_fact",
        "pq_scan_selectwhere",
        "pq_scan_groupby_agg",
        "pq_scan_histogram_2d",
    )
    if only is not None and set(_PQ_TIER) & only:
        import tempfile

        pq_path = os.path.join(
            tempfile.gettempdir(), f"ez_scale_{os.getuid()}", f"fact_{n}.parquet"
        )
        if "pq_write_fact" in only or not os.path.isdir(pq_path):
            t0 = time.perf_counter()
            make_fact(spark, n).write.mode("overwrite").parquet(pq_path)
            dt = time.perf_counter() - t0
            results["pq_write_fact"] = {
                "sec": round(dt, 2),
                "rows_out": n,
                "mrows_in_per_s": round(n / dt / 1e6, 3),
            }
            print(f"{'pq_write_fact':24s} {dt:7.2f}s  out={n:>10}  "
                  f"{n / dt / 1e6:8.1f} Mrows/s")
        pfact = spark.read.parquet(pq_path)
        pt = EzTable(pfact)
        pq_shapes = {
            "pq_scan_selectwhere": lambda: pt.selectWhere(
                "orderkey price", "(discount > 0.05) & (quantity < 10)"
            ).df,
            "pq_scan_groupby_agg": lambda: pfact.groupBy("flag").agg(
                F.sum("quantity"),
                F.avg(F.col("price") * (1 - F.col("discount"))),
                F.count(F.lit(1)),
            ),
            "pq_scan_histogram_2d": lambda: binned_agg(
                pfact,
                [
                    BinSpec("quantity", 0.0, 51.0, 64),
                    BinSpec("discount", 0.0, 0.11, 16),
                ],
                {"n": F.count(F.lit(1)), "m": F.avg("price")},
                densify=False,
                with_centers=False,
            ),
        }
        for name, shape in pq_shapes.items():
            if name in only:
                # untimed warm pass: page-cache + JIT, then the timed rep
                shape().write.format("noop").mode("overwrite").save()
                run(name, shape)

    # event-time tier (round-5 addition): gap sessionization (two window
    # passes over one (user, ts) shuffle) and the windowed-agg shapes the
    # streaming path shares with batch
    from ezdata_spark.operators.window import sessionize
    from ezdata_spark.streaming.stateful import session_agg
    from ezdata_spark.streaming.windows import tumbling_agg

    events = spark.range(n).select(
        (F.col("id") % 100_000).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + F.pmod(F.xxhash64("id"), F.lit(30 * 86_400_000_000))
        ).alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(5)).cast("string").alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(8)), F.lit(1000)) / 10.0).alias("value"),
    )
    run("sessionize", sessionize(events, "ts", "user_id", tiebreak="value"))
    run("tumbling_agg", tumbling_agg(events))
    # session merge parallelism = grouping-key cardinality: group by the
    # 100k-user key (the realistic per-owner shape), not a 5-value category
    run("session_window_agg", session_agg(events, gap="3 hours", keys=["user_id"]))

    # point-in-time + interval joins (round-5): asof is one (user, ts)
    # window over the union; range join is bucket equi-join + refine
    from ezdata_spark.operators.asof import asof_join, range_join

    quotes = spark.range(n // 10).select(
        (F.col("id") % 100_000).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + F.pmod(F.xxhash64("id", F.lit(11)), F.lit(30 * 86_400_000_000))
        ).alias("ts"),
        (F.pmod(F.xxhash64("id", F.lit(12)), F.lit(10_000)) / 100.0).alias("px"),
    )
    run(
        "asof_join",
        asof_join(
            events.select("user_id", "ts", "value"), quotes, on="ts", by="user_id"
        ),
        rows_in=n + n // 10,
    )
    bands = spark.range(2_000).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 50.0).alias("lo"),
        (F.col("id") * 50.0 + 75.0).alias("hi"),
    )
    run(
        "range_join",
        range_join(
            fact.select((F.col("price")).alias("pv"), "orderkey"),
            bands, "pv", "lo", "hi", bucket_width=50.0,
        ),
    )

    from ezdata_spark.functions.astro import crossmatch_cone

    # sky density tuned so expected candidate pairs stay O(sky_n):
    # ~n/15 sources x sky_n/100 catalog over 360x170 deg at 0.01 deg
    sky_n = max(n // 15, 1_000_000)
    sky = spark.range(sky_n).select(
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(360_000)) / 1000.0).alias("ra"),
        (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(170_000)) / 1000.0 - 85.0).alias("dec"),
        F.col("id").alias("sid"),
    )
    cat = spark.range(max(sky_n // 100, 10_000)).select(
        (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(360_000)) / 1000.0).alias("ra"),
        (F.pmod(F.xxhash64("id", F.lit(6)), F.lit(170_000)) / 1000.0 - 85.0).alias("dec"),
        F.col("id").alias("cid"),
    )
    cat_n = max(sky_n // 100, 10_000)
    run("crossmatch_cone", crossmatch_cone(sky, cat, radius_deg=0.01),
        rows_in=sky_n + cat_n)

    # round-3 additions: positional ids / global lag without a
    # single-partition stage, and the training-pipeline tier
    from ezdata_spark.operators.window import global_row_id, lag_column

    # callables: these ops run a driver-visible job (per-partition
    # counts) at build time, which must land inside the timer
    run("row_id_global", lambda: global_row_id(fact, ["orderkey", "partkey", "quantity"], "rid"))
    seq = spark.range(n).select(F.col("id"), (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("v"))
    run("lag_global", lambda: lag_column(seq, "v", "id", t=1))

    from ezdata_spark.operators.sampling import pack_sequences, stratified_sample

    strat = fact.withColumn("src", F.pmod(F.xxhash64("orderkey"), F.lit(1000)))
    run("stratified_sample", lambda: stratified_sample(strat, "src", 0.1, "partkey"))

    doc_n = max(n // 10, 1_000_000)
    words = "array(" + ",".join(f"'w{i}'" for i in range(50)) + ")"
    docs = spark.range(doc_n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"array_join(transform(sequence(1, 20),"
            f" i -> element_at({words}, cast(pmod(xxhash64(id, i), 50) + 1 AS INT))), ' ')"
        ).alias("text"),
    )
    from ezdata_spark.operators.dedup import segment_dedup
    from ezdata_spark.operators.textstats import repetition_stats, token_count

    run("repetition_stats", repetition_stats(docs), rows_in=doc_n)
    run("segment_dedup", segment_dedup(docs, seg_words=10), rows_in=doc_n)
    toks = docs.select("doc_id", token_count("text").alias("n_tokens"))
    run("pack_sequences", pack_sequences(toks, max_len=512), rows_in=doc_n)

    # corpus curation tier (operators/corpus.py): decontamination on
    # 64-bit gram ids, LM scoring (persisted term
    # aggregate), caps/split/curate window + projection shapes
    from ezdata_spark.operators.corpus import (
        cap_per_key,
        curate,
        decontaminate,
        split_by_hash,
        unigram_logprob,
    )

    bench_docs = docs.filter(F.col("doc_id") % 1000 == 0)
    run("decontaminate", decontaminate(docs, bench_docs, n=5), rows_in=doc_n)
    # r10: same join, Bloom screen ahead of the doc-side distinct —
    # bit-identical output, the data-sized gram shuffle reduced to
    # probable hits (build-side position collect is part of the timing)
    run(
        "decontaminate_bloom",
        lambda: decontaminate(docs, bench_docs, n=5, prefilter="bloom"),
        rows_in=doc_n,
    )
    run("unigram_logprob", unigram_logprob(docs), rows_in=doc_n)
    srcdocs = docs.select(
        "doc_id",
        "text",
        F.pmod(F.xxhash64("doc_id"), F.lit(1000)).cast("string").alias("source"),
        F.lit("en").alias("lang"),
    )
    run("cap_per_key", cap_per_key(srcdocs, "source", cap=200), rows_in=doc_n)
    run("split_by_hash", split_by_hash(docs), rows_in=doc_n)
    run("curate",
        curate(srcdocs, min_chars=10, max_chars=10**6, langs=["en"], cap=500),
        rows_in=doc_n)

    # round-6 additions: fuzzy string self-join (deletion-neighborhood
    # blocking — keys linear in string length, hash equi-join, exact
    # refine), ordered conversion funnel (per-stage equi-joins), the
    # sliding-window chunker (zero shuffle), and the broadcast-
    # vocabulary linear classifier
    from ezdata_spark.operators.corpus import chunk_text
    from ezdata_spark.operators.dedup import fuzzy_pairs
    from ezdata_spark.operators.textstats import linear_score
    from ezdata_spark.operators.window import funnel

    name_n = max(n // 60, 500_000)
    names = spark.range(name_n).select(
        F.format_string("User#%09d", F.col("id")).alias("name")
    )
    run("fuzzy_name_pairs", fuzzy_pairs(names, "name"), rows_in=name_n)
    run(
        "event_funnel",
        funnel(events, "user_id", "ts", "event_type", ["0", "1", "2"],
               within_seconds=7 * 86_400),
    )
    run("chunk_text", chunk_text(docs, chunk_tokens=8, overlap=2), rows_in=doc_n)
    vocab = spark.range(50).select(
        F.concat(F.lit("w"), F.col("id")).alias("term"),
        ((F.col("id") % 7) - 3.0).alias("weight"),
    )
    run("linear_classifier", linear_score(docs, vocab), rows_in=doc_n)
    from ezdata_spark.operators.corpus import remove_duplicate_spans

    run("dup_span_removal",
        remove_duplicate_spans(docs, window=10), rows_in=doc_n)

    # r12: corpus-scale BPE encode — merges learned UNTIMED on a
    # bounded sample (training is vocabulary-sized, the persisted-
    # artifact shape like ivf_index); the timed row is the recurring
    # tokenize-the-corpus cost: distinct-word segmentation for the id
    # inventory + one Arrow-batched encode pass over the corpus
    if only is None or "bpe_encode" in only:
        from ezdata_spark.operators.bpe import encode_corpus, learn_bpe

        bpe_merges, _ = learn_bpe(docs.limit(50_000), n_merges=12)
        run("bpe_encode", lambda: encode_corpus(docs, bpe_merges),
            rows_in=doc_n)

    # r13: realistic-merge-count BPE TRAINING (verdict r12 directive
    # #3) — the driver incremental fold at n_merges=1024. The corpus
    # pass (build_word_vocab) stays corpus-sized and distributed; the
    # merge loop runs over the collected (word,count) vocabulary
    # (driver-budget, the same class as PQ codebooks). Uses a
    # wide-vocab fixture (~200k types, ~8-char words over a 36-symbol
    # alphabet) because the 50-word encode fixture runs dry after
    # O(100) merges; the timed row materializes the final segmented
    # vocabulary frame.
    _BPE_DEEP = {"bpe_train_1024", "bpe_train_32768", "bpe_encode_deep",
                 "bpe_encode_deep_ctl"}
    if only is None or _BPE_DEEP & only:
        from ezdata_spark.operators.bpe import learn_bpe

        word = (
            "concat(conv(pmod(xxhash64(id, i), 200000), 10, 36), "
            "conv(pmod(pmod(xxhash64(id, i), 200000) * 7919, 200000), 10, 36))"
        )
        bpe_docs = spark.range(doc_n).select(
            F.col("id").alias("doc_id"),
            F.expr(
                f"array_join(transform(sequence(1, 20), i -> {word}), ' ')"
            ).alias("text"),
        )

        if only is None or "bpe_train_1024" in only:

            def _train_1024():
                merges, vocab = learn_bpe(bpe_docs, n_merges=1024)
                assert len(merges) == 1024, len(merges)
                return vocab

            run("bpe_train_1024", _train_1024, rows_in=doc_n)

        # r14 (verdict r13 directive #3): one REAL 32k-merge training
        # run — explicit-selection-only (a multi-minute row; its
        # SCALE.md section is appended by hand with run context). The
        # wide-vocab fixture (~200k types) is inside the 2M driver
        # budget, so overflow='prune' is not demanded here — the prune
        # path has its own pinned fixture (tests/test_round13.py).
        if only is not None and "bpe_train_32768" in only:

            def _train_32k():
                merges, vocab = learn_bpe(bpe_docs, n_merges=32_768)
                assert len(merges) == 32_768, len(merges)
                return vocab

            run("bpe_train_32768", _train_32k, rows_in=doc_n)

        # r14 (verdict r13 directive #2 done-criterion): corpus encode
        # against a REALISTIC-depth (8192-merge) tokenizer vs the
        # 1024-merge control on the SAME wide-vocab 3M-doc fixture.
        # With merge-rank priority encoding the per-distinct-word cost
        # is independent of merge-list length, so the two rows should
        # read comparably; under the old apply-every-merge fold the
        # deep row would pay 8x the symbol compares. Tokenizers train
        # untimed (persisted-artifact shape); encode is the timed
        # recurring cost.
        if only is not None and {"bpe_encode_deep", "bpe_encode_deep_ctl"} & only:
            from ezdata_spark.operators.bpe import encode_corpus

            deep_merges, _ = learn_bpe(bpe_docs, n_merges=8192)
            ctl_merges = deep_merges[:1024]
            run("bpe_encode_deep_ctl",
                lambda: encode_corpus(bpe_docs, ctl_merges), rows_in=doc_n)
            run("bpe_encode_deep",
                lambda: encode_corpus(bpe_docs, deep_merges), rows_in=doc_n)

    # round-8: incremental MinHash dedup — the daily-shard shape: the
    # history SIGNATURE index is a persisted artifact (built untimed,
    # like ivf_index/lsh_index); the timed row is the recurring cost of
    # near-dup-deduplicating a new shard against it (band recompute
    # from signatures + (band,bucket) equi-join + signature verify —
    # historical TEXT is never touched)
    from ezdata_spark.operators.dedup import (
        _minhash_band_frame,
        minhash_dedup_incremental,
        minhash_signatures,
    )

    if only is None or "minhash_incremental" in only:
        # range split (not even/odd): the operator's batch-equivalence
        # contract requires history ids < batch ids, now guarded
        hist_docs = docs.filter(F.col("doc_id") < doc_n // 2)
        batch_docs = docs.filter(F.col("doc_id") >= doc_n // 2)
        mh_t0 = time.perf_counter()
        mh_idx = minhash_signatures(hist_docs, "text", "doc_id").persist()
        mh_idx.write.format("noop").mode("overwrite").save()
        # the PERSISTED BAND INDEX: built once from the stored
        # signatures (untimed, like the signature index itself), read
        # as-is by every later increment — the round-9 fix that stops
        # re-banding the whole history each snapshot
        mh_bands = _minhash_band_frame(mh_idx, "doc_id", 16, 4).persist()
        mh_bands.write.format("noop").mode("overwrite").save()
        print(f"{'(minhash index build)':24s} {time.perf_counter() - mh_t0:7.2f}s")
        run(
            "minhash_incremental",
            lambda: minhash_dedup_incremental(
                batch_docs, history_signatures=mh_idx, threshold=0.8,
                history_bands=mh_bands, check_id_order=False,
            )[0],
            rows_in=doc_n // 2,
        )
        mh_idx.unpersist()
        mh_bands.unpersist()
    from ezdata_spark.operators.layout import zorder_layout

    run(
        "zorder_values",
        zorder_layout(
            fact, {"quantity": (0.0, 51.0), "price": (900.0, 1001.0)}, bits=12
        ),
    )

    # ANN tier (round-6): PQ encode + ADC top-k and the LSH probe at
    # vector-corpus scale. Codebooks are trained ONCE on a bounded
    # sample (the persisted-artifact shape at 100 TB) — training time
    # reported separately; encode/scan are the recurring per-corpus
    # costs whose throughput must stay flat.
    from ezdata_spark.operators.similarity import (
        cosine_topk_lsh,
        lsh_index,
        pq_encode,
        pq_topk,
        pq_train,
    )

    vec_n = max(n // 10, 1_000_000)
    emb = spark.range(vec_n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64),"
            " i -> pmod(xxhash64(id, i), 2000) / 1000.0D - 1.0D)"
        ).alias("embedding"),
    )
    qvecs = spark.range(16).select(
        F.col("id").alias("qid"),
        F.expr(
            "transform(sequence(1, 64),"
            " i -> pmod(xxhash64(id + 777, i), 2000) / 1000.0D - 1.0D)"
        ).alias("embedding"),
    )
    pq_sel = only is None or {"pq_train_sampled", "pq_encode", "pq_topk_adc"} & only
    if pq_sel:
        t0 = time.perf_counter()
        cbs = pq_train(emb, m=8, k=16, sample_fraction=50_000 / vec_n, sample_rows=20_000)
        train_s = round(time.perf_counter() - t0, 2)
        if only is None or "pq_train_sampled" in only:
            results["pq_train_sampled"] = {
                "sec": train_s, "rows_out": 8 * 16,
                "mrows_in_per_s": round(vec_n / train_s / 1e6, 3),
            }
            print(f"{'pq_train_sampled':24s} {train_s:7.2f}s  out={8 * 16:>10}  "
                  f"{vec_n / train_s / 1e6:8.1f} Mrows/s")
        run("pq_encode", pq_encode(emb, cbs), rows_in=vec_n)
    if only is None or "pq_topk_adc" in only:
        # the ADC scan's 100 TB shape reads a PERSISTED codes column —
        # materialize the encoded corpus outside the timer (run() clears
        # the cache after each op, so persist locally here)
        enc_p = pq_encode(emb, cbs).persist()
        enc_p.write.format("noop").mode("overwrite").save()
        run("pq_topk_adc", pq_topk(enc_p, cbs, qvecs, k=10), rows_in=vec_n)
        enc_p.unpersist()
    if only is None or {"knn_join_ivf", "knn_join_pq", "knn_join_pq_cg",
                        "knn_join_pq_probe", "knn_join_pq_probe_ctl",
                        "ann_nprobe_curve", "knn_shard_ab"} & only:
        # embedding kNN JOIN: large left x large right through the IVF
        # cell equi-join (never a cross join). Balanced candidate
        # volume would be |L| * |R| * nprobe / n_cells (~1.4G dots at
        # 30k x 3M, 4/256); KMeans cells over this corpus skew to a
        # MEASURED 9.8e9 dots (7x) — the row prices that reality
        # through the cache-blocked BLAS + running-threshold kernel
        from ezdata_spark.operators.similarity import ivf_index, knn_join

        knn_left = spark.range(vec_n // 100).select(
            F.col("id").alias("doc_id"),
            F.expr(
                "transform(sequence(1, 64),"
                " i -> pmod(xxhash64(id + 555, i), 2000) / 1000.0D - 1.0D)"
            ).alias("embedding"),
        )
        idx_t0 = time.perf_counter()
        ivf_corpus, cents = ivf_index(emb, n_cells=256, sample_fraction=50_000 / vec_n)
        ivf_p = ivf_corpus.persist()
        ivf_p.write.format("noop").mode("overwrite").save()  # build untimed
        print(f"{'(ivf_index build)':24s} {time.perf_counter() - idx_t0:7.2f}s")
        # shard_corpus=8: KMeans cells over uniform-random vectors skew
        # hard, and a cogroup cannot split a hot group — unsharded, one
        # popular cell serializes the join on a single task (measured
        # 341 s; sharded below). Per-shard top-k merges exactly in the
        # global window.
        # score_dtype f32: the approximate-path production default —
        # ~1e-7 cosine error vs nprobe's own approximation; the f64
        # path is reserved for the rounded-oracle contract (q134)
        sb0 = _shuffle_write_bytes(spark)
        run("knn_join_ivf",
            knn_join(knn_left, ivf_p, cents, k=10, nprobe=4, shard_corpus=8,
                     score_dtype="float32"),
            rows_in=vec_n // 100)
        sb1 = _shuffle_write_bytes(spark)
        if sb0 is not None and sb1 is not None and "knn_join_ivf" in results:
            results["knn_join_ivf"]["shuffle_mb"] = round((sb1 - sb0) / 1e6, 1)
        # PQ-compressed variant: the cogroup ships 16 BYTES of code per
        # corpus vector instead of the 520-byte serialized float array
        # (the 100 TB memory story for the join); the ADC top-K
        # survivors are exactly rescored against the raw vectors via a
        # narrow id join. Encode is untimed build (the persisted-
        # artifact shape, like ivf_index); shuffle_mb deltas pin the
        # exchange-volume drop vs the raw row above. The eager
        # train/encode builds only run when this row is selected.
        if only is None or {"knn_join_pq", "knn_join_pq_cg", "knn_join_pq_probe",
                            "knn_join_pq_probe_ctl", "ann_nprobe_curve",
                            "knn_shard_ab"} & only:
            from ezdata_spark.operators.similarity import ivf_pq_encode, pq_train

            pq_cbs = pq_train(emb, m=16, k=256,
                              sample_fraction=50_000 / vec_n, sample_rows=20_000)
            enc_t0 = time.perf_counter()
            pq_corpus = ivf_pq_encode(ivf_p, pq_cbs).persist()
            pq_corpus.write.format("noop").mode("overwrite").save()
            print(f"{'(ivf_pq_encode build)':24s} {time.perf_counter() - enc_t0:7.2f}s")
            sb0 = _shuffle_write_bytes(spark)
            run("knn_join_pq",
                knn_join(knn_left, pq_corpus, cents, k=10, nprobe=4, shard_corpus=8,
                         pq_codebooks=pq_cbs, pq_oversample=4),
                rows_in=vec_n // 100)
            sb1 = _shuffle_write_bytes(spark)
            if sb0 is not None and sb1 is not None and "knn_join_pq" in results:
                results["knn_join_pq"]["shuffle_mb"] = round((sb1 - sb0) / 1e6, 1)
            # r14 (verdict r13 directive #7): shard_corpus A/B at the
            # 30k x 3M tier — the data the 'auto' heuristic rests on.
            # Explicit-selection-only; both shapes get one FULL untimed
            # warm pass first (r11 protocol: whichever shape runs first
            # otherwise absorbs artifact/page-cache cold cost). Cell
            # stats print so the heuristic's skew gate is calibrated to
            # measured numbers, not guesses.
            if only is not None and "knn_shard_ab" in only:
                import statistics

                from ezdata_spark.operators.similarity import _auto_shard

                cc = sorted(
                    r["cnt"]
                    for r in ivf_p.groupBy("cell")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .collect()
                )
                print(
                    f"{'(cell stats)':24s} n_cells={len(cc)} max={cc[-1]} "
                    f"median={int(statistics.median(cc))} "
                    f"mean={sum(cc) // len(cc)}"
                )
                s_auto = _auto_shard(pq_corpus)
                print(f"{'(auto resolves to)':24s} {s_auto}")

                def _shape(s):
                    return knn_join(
                        knn_left, pq_corpus, cents, k=10, nprobe=4,
                        shard_corpus=s, pq_codebooks=pq_cbs, pq_oversample=4,
                    )

                # NOT run(): its release_caches/clearCache between rows
                # unpersists the IVF-PQ corpus, so every arm after the
                # first re-derives the whole index inside its own plan
                # (the first pass of this A/B measured 26-31 s for ALL
                # later arms regardless of shard count — rebuild, not
                # join shape). Manual ABBA timing keeps the corpus
                # persisted; one full untimed warm per arm first.
                arms = {
                    "knn_join_pq_shard8": 8,
                    "knn_join_pq_shard1": 1,
                    "knn_join_pq_shardauto": "auto",
                }
                for s in arms.values():
                    _shape(s).write.format("noop").mode("overwrite").save()
                times = {k: [] for k in arms}
                for order in (list(arms), list(arms)[::-1]):
                    for name in order:
                        t0 = time.perf_counter()
                        _shape(arms[name]).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        times[name].append(
                            round(time.perf_counter() - t0, 2)
                        )
                for name, ts in times.items():
                    sec = round(statistics.median(ts), 2)
                    results[name] = {"sec": sec, "samples": ts}
                    if name.endswith("shardauto"):
                        results[name]["resolved_shards"] = s_auto
                    print(f"{name:24s} {sec:7.2f}s  samples={ts}")
                # RAW-path arm: this is where the skew penalty is
                # dramatic (shard1 measured 341 s at r8 vs 16 s
                # sharded — 520-byte vectors and BLAS-scale per-pair
                # cost, unlike the 16-byte ADC rows above). shard1 is
                # NOT re-run (the 341 s datapoint stands in SCALE.md);
                # this times auto vs the hand-tuned 8 to show the
                # heuristic lands on the rescued shape.
                def _raw_shape(s):
                    return knn_join(
                        knn_left, ivf_p, cents, k=10, nprobe=4,
                        shard_corpus=s, score_dtype="float32",
                    )

                raw_auto = _auto_shard(ivf_p)
                print(f"{'(raw auto resolves to)':24s} {raw_auto}")
                for s in (8, "auto"):
                    _raw_shape(s).write.format("noop").mode("overwrite").save()
                raw_times = {"knn_join_ivf_shard8": 8, "knn_join_ivf_shardauto": "auto"}
                rt = {k: [] for k in raw_times}
                for order in (list(raw_times), list(raw_times)[::-1]):
                    for name in order:
                        t0 = time.perf_counter()
                        _raw_shape(raw_times[name]).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        rt[name].append(round(time.perf_counter() - t0, 2))
                for name, ts in rt.items():
                    sec = round(statistics.median(ts), 2)
                    results[name] = {"sec": sec, "samples": ts}
                    if name.endswith("shardauto"):
                        results[name]["resolved_shards"] = raw_auto
                    print(f"{name:24s} {sec:7.2f}s  samples={ts}")
            # UNBOUNDED-LEFT form: rescore='cogroup' at 10x the left rows
            # (300k x 3M). Broadcast mode at this left size would build a
            # ~160 MB left-vector broadcast plus a 12M-pair candidate
            # broadcast PER EXECUTOR — the declared round-8 ceiling; the
            # cogroup form keeps memory flat (nothing scales with |L|
            # beyond the shuffle, which is disk-backed) and is the shape
            # a billion-row left table runs. Inline only when explicitly
            # selected: in the full sweep this row runs in its own child
            # JVM (see the _fork_rows call after this block) because its
            # allocation volume pollutes the old gen for every
            # interpreted-HOF row after it (lsh_probe measured 2.4-4x
            # slower downstream).
            if only is not None and "knn_join_pq_cg" in only:
                knn_left_big = spark.range(vec_n // 10).select(
                    F.col("id").alias("doc_id"),
                    F.expr(
                        "transform(sequence(1, 64),"
                        " i -> pmod(xxhash64(id + 555, i), 2000) / 1000.0D - 1.0D)"
                    ).alias("embedding"),
                )
                sb0 = _shuffle_write_bytes(spark)
                run("knn_join_pq_cg",
                    knn_join(knn_left_big, pq_corpus, cents, k=10, nprobe=4,
                             shard_corpus=8, pq_codebooks=pq_cbs,
                             pq_oversample=4, rescore="cogroup"),
                    rows_in=vec_n // 10)
                sb1 = _shuffle_write_bytes(spark)
                if sb0 is not None and sb1 is not None and "knn_join_pq_cg" in results:
                    results["knn_join_pq_cg"]["shuffle_mb"] = round((sb1 - sb0) / 1e6, 1)
            # round-10: the production PROBE shape — a small left batch
            # (100 queries, nprobe=4 over 256 cells) against the
            # PERSISTED cell-partitioned artifact. The probed-cell
            # semi-join prune reaches the parquet scan as dynamic
            # partition pruning, so unprobed cells' codes never leave
            # disk; shuffle_mb vs the unpruned control pins the
            # corpus-side exchange drop (~union-of-probed-cells /
            # n_cells). Artifact write is untimed build (like
            # ivf_index / pq_encode).
            # Inline only when explicitly selected — in the full sweep
            # this pair runs in its own child JVM (_fork_rows below):
            # the ADC probe kernels' allocation volume pollutes the old
            # gen exactly like the cg row does, and with the pair inline
            # the downstream lsh_probe_topk measured 25.2 s vs its 8.3 s
            # clean-heap number (the round-9 documented G1 effect).
            if only is not None and {"knn_join_pq_probe", "knn_join_pq_probe_ctl",
                                     "ann_nprobe_curve"} & only:
                import tempfile

                from ezdata_spark.operators.ann_index import (
                    load_ivf_pq_index,
                    save_ivf_pq_index,
                )

                art = os.path.join(tempfile.gettempdir(), "scale_ivfpq_art")
                save_ivf_pq_index(art, pq_corpus, cents, pq_cbs)
                lframe, lcents, lcbs, _ = load_ivf_pq_index(spark, art)
                # warm the artifact read AND the ADC-kernel Python
                # workers untimed (page cache, parquet footers, worker
                # spin-up + numpy import): whichever row ran first
                # measured +5-15 s of one-time costs, swamping the
                # pruned-vs-control delta this pair exists to isolate
                # CLUSTERED batch (the production probe shape): 100
                # queries = jittered copies of 4 seed vectors, so the
                # union of probed cells is ~4 * nprobe of 256 — this is
                # what makes cell pruning bite; a uniform-random batch
                # probes most of the index (measured: only ~12% shuffle
                # drop) and full scoring is then the honest cost
                probe_left = spark.range(100).select(
                    F.col("id").alias("doc_id"),
                    F.expr(
                        "transform(sequence(1, 64),"
                        " i -> pmod(xxhash64(pmod(id, 4) + 777, i), 2000) / 1000.0D - 1.0D"
                        "      + pmod(xxhash64(id, i + 100), 100) / 10000.0D)"
                    ).alias("embedding"),
                )
                from ezdata_spark.operators.similarity import (
                    _knn_join_pq,
                    _nearest_cells,
                )
                from ezdata_spark.operators.util import _fan_out

                # unpruned CONTROL plan: same probes, prune_cells=False
                # — the round-9 plan that cogrouped every cell's codes
                plf = _fan_out(probe_left).select(
                    "doc_id", F.col("embedding").alias("qv")
                )
                pprobes = plf.select(
                    "doc_id", "qv",
                    F.explode(_nearest_cells("qv", lcents, 4)).alias("cell"),
                )
                lframe.write.format("noop").mode("overwrite").save()
                # FULL untimed warm pass of BOTH shapes, not just a
                # 4-query spin-up: the artifact was written moments ago,
                # and whichever shape ran first absorbed its writeback/
                # page-cache cold cost — at 10M vectors the first-timed
                # pruned row read 24.1 s vs its 13.4-14.1 s clean-JVM
                # truth, a phantom 2x "pruning regression" (r11
                # SCALE.md finding). After one full pass each, the
                # timed pair below isolates the plan delta only.
                knn_join(
                    probe_left, lframe, lcents, k=10, nprobe=4,
                    pq_codebooks=lcbs, pq_oversample=4,
                ).write.format("noop").mode("overwrite").save()
                if {"knn_join_pq_probe", "knn_join_pq_probe_ctl"} & only:
                    _knn_join_pq(plf, pprobes, lframe, lcbs, 10, "doc_id",
                                 "vec_id", None, 1, 4, "broadcast",
                                 prune_cells=False
                                 ).write.format("noop").mode("overwrite").save()
                sb0 = _shuffle_write_bytes(spark)
                run("knn_join_pq_probe",
                    knn_join(probe_left, lframe, lcents, k=10, nprobe=4,
                             pq_codebooks=lcbs, pq_oversample=4),
                    rows_in=100)
                sb1 = _shuffle_write_bytes(spark)
                if sb0 is not None and sb1 is not None and "knn_join_pq_probe" in results:
                    results["knn_join_pq_probe"]["shuffle_mb"] = round((sb1 - sb0) / 1e6, 1)
                sb0 = _shuffle_write_bytes(spark)
                run("knn_join_pq_probe_ctl",
                    _knn_join_pq(plf, pprobes, lframe, lcbs, 10, "doc_id",
                                 "vec_id", None, 1, 4, "broadcast",
                                 prune_cells=False),
                    rows_in=100)
                sb1 = _shuffle_write_bytes(spark)
                if sb0 is not None and sb1 is not None and "knn_join_pq_probe_ctl" in results:
                    results["knn_join_pq_probe_ctl"]["shuffle_mb"] = round((sb1 - sb0) / 1e6, 1)
                # r14 (verdict r13 directive #6): the recall/nprobe
                # curve AT SCALE (3M vectors, 256 cells), where scanned
                # codes ∝ nprobe/n_cells makes nprobe a real cost
                # lever (at the 60k bench fixture probe cost measured
                # FLAT across nprobe — SCALE.md r13 curve). Same
                # clustered 100-query production batch, z156's
                # oversample=8; exact top-10 via brute-force cosine
                # built untimed. Run names: ann_probe_np{4,8,16} —
                # select them alongside ann_nprobe_curve.
                if "ann_nprobe_curve" in only:
                    from ezdata_spark.operators.evaluate import topk_recall
                    from ezdata_spark.operators.similarity import cosine_topk

                    def _probe(np__):
                        return knn_join(
                            probe_left, lframe, lcents, k=10,
                            nprobe=np__, pq_codebooks=lcbs,
                            pq_oversample=8,
                        )

                    # recall pass first, UNTIMED (it also fully warms
                    # each probe shape); run() clears every cache, so
                    # the exact frame must be consumed before the
                    # timed loop
                    exact = cosine_topk(
                        emb,
                        probe_left.select(
                            F.col("doc_id").alias("qid"), "embedding"
                        ),
                        k=10,
                    ).persist()
                    exact.count()
                    recs = {}
                    for np_ in (4, 8, 16):
                        rec = (
                            topk_recall(
                                _probe(np_).select(
                                    F.col("doc_id").alias("qid"), "vec_id"
                                ),
                                exact,
                            )
                            .agg(F.avg("recall"))
                            .first()[0]
                        )
                        recs[np_] = round(float(rec), 3)
                    exact.unpersist()
                    for np_ in (4, 8, 16):
                        name = f"ann_probe_np{np_}"
                        run(name, _probe(np_), rows_in=100)
                        if name in results:
                            results[name]["recall_at_10"] = recs[np_]
            pq_corpus.unpersist()
        ivf_p.unpersist()
    if only is None:
        _fork_rows(n, results, ("knn_join_pq_cg",), "knn-pq-cg")
        _fork_rows(n, results, ("knn_join_pq_probe", "knn_join_pq_probe_ctl"),
                   "knn-pq-probe")
    run("lsh_probe_topk", cosine_topk_lsh(emb, qvecs, k=10, dim=64), rows_in=vec_n)
    if only is None or "lsh_probe_indexed" in only:
        # the recurring 100 TB shape: the (id, tbl, bucket) index is a
        # one-time build (lsh_index ~ pq_encode) persisted/written back;
        # the per-query-batch cost is candidate join + rescore only
        idx_p = lsh_index(emb, dim=64).persist()
        idx_p.write.format("noop").mode("overwrite").save()
        run("lsh_probe_indexed",
            cosine_topk_lsh(emb, qvecs, k=10, dim=64, index=idx_p),
            rows_in=vec_n)
        idx_p.unpersist()

    # Multimodal tier: REAL codec decode throughput (media_codecs.py) at
    # payload-corpus scale. Payload fabrication (the encoders) runs
    # outside the timers into a persisted frame; the timed ops are the
    # decode+feature mapInPandas stages a 100 TB media pipeline reruns.
    from ezdata_spark.operators.multimodal import (
        IMAGE_SCHEMA,
        audio_features,
        image_features,
    )

    media_n = max(n // 150, 10_000)

    def _gen_media(batches):
        import numpy as np
        import pandas as pd

        from ezdata_spark.functions.media_codecs import (
            encode_bmp,
            encode_gif,
            encode_wav_adpcm,
            encode_wav_g711,
        )

        for b in batches:
            rows = []
            for mid in b["id"]:
                mid = int(mid)
                rng = np.random.RandomState(mid % (2**31))
                kind = mid % 5
                if kind == 0:
                    px = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
                    rows.append({"media_id": mid, "data": encode_bmp(px),
                                 "meta": {"format": "bmp", "width": 16, "height": 16, "channels": 3}})
                elif kind == 1:
                    pal = rng.randint(0, 256, (8, 3), dtype=np.uint8)
                    px = pal[rng.randint(0, 8, (16, 16))]
                    rows.append({"media_id": mid, "data": encode_gif(px),
                                 "meta": {"format": "gif", "width": 16, "height": 16, "channels": 3}})
                elif kind == 2:
                    t = np.arange(1600) / 8000.0
                    tone = (0.5 * np.sin(2 * np.pi * (100 + mid % 300) * t)).astype("float32")
                    rows.append({"media_id": mid, "data": encode_wav_adpcm(tone, 8000),
                                 "meta": {"format": "adpcm", "width": 0, "height": 0, "channels": 1}})
                elif kind == 3:
                    t = np.arange(1600) / 8000.0
                    tone = (0.5 * np.sin(2 * np.pi * (100 + mid % 300) * t)).astype("float32")
                    law = "ulaw" if mid % 2 == 0 else "alaw"
                    rows.append({"media_id": mid, "data": encode_wav_g711(tone, 8000, law=law),
                                 "meta": {"format": "g711", "width": 0, "height": 0, "channels": 1}})
                else:
                    from ezdata_spark.functions.flac_codec import encode_flac

                    t = np.arange(1600) / 8000.0
                    tone = (0.5 * np.sin(2 * np.pi * (100 + mid % 300) * t)).astype("float32")
                    rows.append({"media_id": mid, "data": encode_flac(tone, 8000),
                                 "meta": {"format": "flac", "width": 0, "height": 0, "channels": 1}})
            yield pd.DataFrame(rows)

    if only is None or {"image_decode_features", "audio_decode_features"} & only:
        media = (
            spark.range(media_n)
            .repartition(64)
            .mapInPandas(_gen_media, IMAGE_SCHEMA)
            .persist()
        )
        media.write.format("noop").mode("overwrite").save()  # materialize untimed
        img_n = media_n * 2 // 5
        run("image_decode_features",
            image_features(media.filter(F.col("meta.format").isin("bmp", "gif"))),
            rows_in=img_n)
        # run() clears the cache; re-materialize for the audio pass
        media.persist()
        media.write.format("noop").mode("overwrite").save()
        run("audio_decode_features",
            audio_features(media.filter(F.col("meta.format").isin("adpcm", "g711", "flac"))),
            rows_in=media_n - img_n)
        media.unpersist()

    if only is None or "audio_metadata_scan" in only:
        # header-only MPEG profiling (no PCM decode): the walk cost is
        # per-frame, so the row measures clips x frames header steps
        from ezdata_spark.operators.multimodal import audio_metadata

        meta_n = max(n // 100, 100_000)

        def _gen_mpeg(batches):
            import struct

            import numpy as np
            import pandas as pd

            brs = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
            for b in batches:
                rows = []
                for mid in b["id"]:
                    mid = int(mid)
                    rng = np.random.RandomState(mid % (2**31))
                    rate_idx = mid % 3
                    rate = (44100, 48000, 32000)[rate_idx]
                    frames = []
                    for _ in range(20):
                        br_idx = int(rng.randint(1, 15))
                        kbps, pad = brs[br_idx - 1], int(rng.randint(0, 2))
                        h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
                        h |= (br_idx << 12) | (rate_idx << 10) | (pad << 9)
                        nb = 144 * kbps * 1000 // rate + pad
                        frames.append(struct.pack(">I", h) + b"\x00" * (nb - 4))
                    rows.append({"media_id": mid, "data": b"".join(frames)})
                yield pd.DataFrame(rows)

        clips_meta = (
            spark.range(meta_n).repartition(64)
            .mapInPandas(_gen_mpeg, "media_id long, data binary")
            .persist()
        )
        clips_meta.write.format("noop").mode("overwrite").save()
        run("audio_metadata_scan", audio_metadata(clips_meta), rows_in=meta_n * 20)
        clips_meta.unpersist()

    # Compressed-video frame sampling (MJPEG intra + CRAM inter
    # alternating): header-true sample_frames + per-frame codec decode.
    # Clip count is smaller (each clip fabricates 3 encoded frames) but
    # rows_in counts FRAMES decoded, the unit the pipeline scales in.
    from ezdata_spark.functions.media_codecs import encode_avi
    from ezdata_spark.operators.multimodal import frame_features, sample_frames

    clip_n = max(media_n // 8, 2_000)

    def _gen_clips(batches):
        import numpy as np
        import pandas as pd

        for b in batches:
            rows = []
            for mid in b["id"]:
                mid = int(mid)
                rng = np.random.RandomState(mid % (2**31))
                frames = rng.randint(0, 256, (3, 16, 16, 3), dtype=np.uint8)
                codec = "MJPG" if mid % 2 == 0 else "CRAM"
                rows.append({"media_id": mid,
                             "data": encode_avi(frames, fps=10, codec=codec),
                             "meta": {"format": "avi", "width": 16, "height": 16, "channels": 3}})
            yield pd.DataFrame(rows)

    if only is None or "video_frame_features" in only:
        clips = (
            spark.range(clip_n).repartition(64).mapInPandas(_gen_clips, IMAGE_SCHEMA).persist()
        )
        clips.write.format("noop").mode("overwrite").save()
        run("video_frame_features",
            frame_features(sample_frames(clips, every_n=1, max_frames=3)),
            rows_in=clip_n * 3)
        clips.unpersist()

    # round-6 analytic tier: graph census, association/entropy profile,
    # time-series grid + interpolation, skyline, transition matrix
    from ezdata_spark.operators.graph import triangle_count
    from ezdata_spark.operators.profile import association_stats, entropy_profile
    from ezdata_spark.operators.skyline import skyline
    from ezdata_spark.operators.timeseries import interpolate_linear, resample
    from ezdata_spark.operators.window import transition_matrix

    # n random edges over n/10 nodes: avg degree ~20, oriented fan-out
    # ~10, so the wedge join stays ~45 pairs/node — the degree-ordered
    # bound under test
    graph_nodes = max(n // 10, 1000)
    edges = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(graph_nodes)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(graph_nodes)).alias("dst"),
    )
    run("triangle_census", triangle_count(edges))
    run("association_stats", association_stats(fact, "flag", "quantity"))
    run("entropy_profile", entropy_profile(fact, ["flag", "quantity"]))
    run(
        "resample_interpolate",
        interpolate_linear(
            resample(
                events, "ts", 300, keys=["event_type"],
                aggs={"n": F.count(F.lit(1)), "v": F.avg("value")},
            ),
            "v", ts_col="bucket", keys=["event_type"],
        ),
    )
    run("skyline", skyline(fact, {"price": "max", "discount": "min"}))
    run(
        "markov_transitions",
        transition_matrix(events, "user_id", "ts", "event_type", tiebreak="value"),
    )
    from ezdata_spark.operators.window import cohort_retention, global_cumsum

    run(
        "global_cumsum",
        lambda: global_cumsum(
            fact.select("orderkey", F.col("price").cast("decimal(18,2)").alias("v")),
            "v",
            [F.col("v").desc(), F.col("orderkey")],
        ),
    )
    run("cohort_retention", cohort_retention(events, "user_id", "ts"))

    # round-7 additions: similarity-join scale evidence (the one heavy
    # bench query with no prior 50x row) + the analytics that were
    # missing SCALE.md rows (scd2 merge, pivot, rank windows, weighted
    # sample, melt, knn cone)
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    _SIM_TIER = ("sim_join_word", "sim_join_char3_auto")
    if only is None:
        # Round-9: the interpreted-HOF similarity joins are HEAP-CONTEXT
        # sensitive — in-sweep they measured up to ~2x their
        # dedicated-idle-JVM numbers (old-gen pollution from the 50
        # preceding ops; sim_join_char3_auto 126 s in-sweep vs 75 s
        # dedicated). Fork them into their OWN fresh right-sized JVM
        # (same 16 g sizing — the child re-enters this script with an
        # `only` filter, so nothing else runs there) and splice the
        # child's rows back, so SCALE.md publishes numbers within the
        # documented ~1.2x of dedicated measurements.
        _fork_rows(n, results, _SIM_TIER, "sim-join")
    # AQE would pick a broadcast build for the ~3M-row (id, ng) sizes
    # frame (48 MB compressed, under the 64 MB threshold, but the
    # DESERIALIZED driver-side build blows a right-sized local heap).
    # On a real cluster the driver is provisioned for its broadcasts;
    # here force the scale-safe sort-merge shape instead of paying a
    # 48g heap (which costs the scan tier 3-4x in GC — header note).
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))

    def run_sim(name, df_fn, rows_in):
        # inline only when explicitly selected (i.e. in the dedicated
        # child JVM or a hand-run subset); the full sweep takes the
        # forked rows spliced in above. df_fn defers plan construction
        # (the auto-cap profile scan is an eager job) out of the parent
        # AND out of the timer, matching the previous argument-eval
        # timing semantics.
        if only is not None and name in only:
            run(name, df_fn(), rows_in=rows_in)

    try:

        # (a) word-unit similarity self-join at corpus scale. Docs = 10
        # template words shared by ALL docs + 19 hash-words shared within a
        # 3-doc group + 1 doc-unique hash-word. The rarest-first prefix
        # (|G| - ceil(0.8|G|) + 1 = 7 grams/doc) lands on the group/unique
        # hash-words, so candidates are exactly the near-dup cliques; the
        # 3M-df template words never reach the join. Output ~ 3 true pairs
        # per group (J = 29/31).
        wtri_n = max(n // 10, 1_000_000)
        wdocs = spark.range(wtri_n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("common header words shared by all documents in corpus "),
                F.expr(
                    "array_join(transform(sequence(1, 19),"
                    " i -> hex(xxhash64(id - pmod(id, 3), i))), ' ')"
                ),
                F.lit(" "),
                F.expr("hex(xxhash64(id, 99))"),
            ).alias("text"),
        )
        run_sim(
            "sim_join_word",
            lambda: trigram_similarity_pairs(wdocs, threshold=0.8, unit="word"),
            rows_in=wtri_n,
        )

        # (b) char-trigram similarity with the AUTO gram-frequency cap
        # on an ADVERSARIAL corpus: 10% of docs are pure boilerplate
        # (every gram df ~ corpus size). Uncapped, those docs' identical
        # prefixes alone join C(30k, 2) ~ 4.5e8 candidate pairs — the
        # known AllPairs failure mode on template-heavy corpora. The
        # default max_gram_df='auto' must DETECT the boilerplate spike
        # from the df profile (p99 cap, enabled because max df is
        # >>10x the tail) and bound the join to the rare-suffix docs
        # out of the box (recall contract: all-boilerplate pairs are
        # exact duplicates anyway — exact_dedup territory). char3 takes
        # the broadcast gram-df plan (vocabulary bounded by 62^3 here).
        ctri_n = max(n // 100, 300_000)
        alpha62 = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        suf = (
            "array_join(transform(sequence(1, 27), i -> substr('"
            + alpha62
            + "', cast(pmod(xxhash64(id - pmod(id, 3), i), 62) + 1 as int), 1)), '')"
        )
        tail = (
            "array_join(transform(sequence(1, 3), i -> substr('"
            + alpha62
            + "', cast(pmod(xxhash64(id, 100 + i), 62) + 1 as int), 1)), '')"
        )
        cdocs = spark.range(ctri_n).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 10 == 0,
                F.lit("standard boilerplate disclaimer appended to every document"),
            )
            .otherwise(
                F.concat(
                    F.lit("standard boilerplate disclaimer appended to "),
                    F.expr(suf),
                    F.expr(tail),
                )
            )
            .alias("text"),
        )
        run_sim(
            "sim_join_char3_auto",
            lambda: trigram_similarity_pairs(cdocs, threshold=0.8),
            rows_in=ctri_n,
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)

    from ezdata_spark.operators.sampling import weighted_sample
    from ezdata_spark.operators.scd import scd2_apply
    from ezdata_spark.table import EzTable as _ET

    dim0 = spark.range(1_500_000).select(
        F.col("id").alias("cust"),
        F.pmod(F.xxhash64("id", F.lit(21)), F.lit(5)).cast("string").alias("tier"),
        F.pmod(F.xxhash64("id", F.lit(22)), F.lit(100)).alias("region"),
        F.timestamp_seconds(F.lit(1_600_000_000)).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    ups = spark.range(n // 30).select(
        F.pmod(F.xxhash64("id", F.lit(23)), F.lit(1_500_000)).alias("cust"),
        F.pmod(F.xxhash64("id", F.lit(24)), F.lit(5)).cast("string").alias("tier"),
        F.pmod(F.xxhash64("id", F.lit(25)), F.lit(100)).alias("region"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.xxhash64("id", F.lit(26)), F.lit(86_400))
        ).alias("ts"),
    )
    run(
        "scd2_merge",
        scd2_apply(dim0, ups, "cust", ["tier", "region"]),
        rows_in=1_500_000 + n // 30,
    )
    run(
        "pivot_wide",
        fact.groupBy("orderkey").pivot("flag", ["F0", "F1", "F2"]).agg(
            F.sum("quantity")
        ),
    )
    w_rank = Window.partitionBy("orderkey").orderBy(F.col("price").desc())
    run(
        "rank_windows",
        fact.select(
            "orderkey",
            "price",
            F.row_number().over(w_rank).alias("rn"),
            F.percent_rank().over(w_rank).alias("pr"),
            F.ntile(4).over(w_rank).alias("quartile"),
        ),
    )
    run("weighted_sample", weighted_sample(seq, "id", "v", k=100_000))
    run(
        "melt_long",
        _ET(fact).melt(
            ["orderkey", "partkey"], ["quantity", "price", "discount"]
        ).df,
    )
    from ezdata_spark.functions.astro import knn_cone

    run(
        "knn_cone",
        knn_cone(
            sky, cat, k=3, radius_deg=0.05, id_left="sid", tiebreak="cid"
        ),
        rows_in=sky_n + cat_n,
    )

    if only is None or "heavy_hitters" in only:
        from ezdata_spark.operators.frequent import heavy_hitters

        # zipf(1.5)-tailed values (P[v >= t] ~ t^-0.5): realistic
        # token-frequency shape — a handful of ultra-frequent values
        # over a ~sqrt(n)-sized distinct tail, the regime where the
        # MG candidate filter beats a full groupBy
        hh = spark.range(n).select(
            F.floor(
                F.pow(
                    (F.pmod(F.xxhash64("id", F.lit(77)), F.lit(1_000_000)) + 1)
                    / 1_000_001.0,
                    F.lit(-2.0),
                )
            ).cast("bigint").alias("value")
        )
        # callable: heavy_hitters runs its two passes eagerly (the
        # guarantee check is an action), so the timed region is the call
        run("heavy_hitters", lambda: heavy_hitters(hh, "value", k=20))

    # round-10 rows: evaluation + decomposition tiers
    from ezdata_spark.operators.evaluate import binary_auc
    from ezdata_spark.operators.decomp import pca_project, pca_train

    auc_in = fact.select(
        F.col("quantity").cast("int").alias("score"),
        (F.col("flag") == "F0").cast("int").alias("label"),
    )
    # 30M scored rows -> 50 distinct scores -> prefix-sum -> 1 row.
    # callable: binary_auc runs jobs at CONSTRUCTION (global_cumsum
    # collects the partition offsets), so building it eagerly would
    # cache the heavy aggregate before the timer starts
    run("binary_auc", lambda: binary_auc(auc_in))
    # ONE-PASS fit (count/sum/XtX partials, no shuffle) + projection
    # dgemm over the same 3M x 64 vectors the ANN tier uses
    run(
        "pca_train_project",
        lambda: pca_project(emb, *pca_train(emb, k=16)[:2]),
        rows_in=vec_n,
    )

    total = round(sum(r["sec"] for r in results.values()), 2)
    line = {"metric": "scale_smoke_total", "value": total, "unit": "sec",
            "n_rows": n, "ops": results}
    print(json.dumps(line))

    if only is not None:
        # subset re-measure: report JSON only, keep SCALE.md (the full
        # sweep's table) intact — splice updated rows in by hand
        spark.stop()
        return

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALE.md"), "w") as fh:
        fh.write("# SCALE — flagship ops at {}M generated rows (local[32])\n\n".format(n // 1_000_000))
        fh.write("Generated by `scale_check.py` (spark.range fact table, no disk).\n")
        fh.write("Same operator code paths as the sf0.1 bench, 50x the rows —\n")
        fh.write("throughput staying flat is the evidence the plans scale.\n\n")
        fh.write("| op | sec | rows out | Mrows-in/s |\n|---|---|---|---|\n")
        for k, r in results.items():
            fh.write(f"| {k} | {r['sec']} | {r['rows_out']} | {r['mrows_in_per_s']} |\n")
        fh.write(f"| **total** | **{total}** | | |\n")
        fh.write(
            "\nANN tier notes (3M 64-d vectors = 600x the sf0.1 embeddings):\n"
            "- `pq_encode` is the ONE-TIME corpus compression,\n"
            "  embarrassingly parallel and linear (verified 1M->3M). Round\n"
            "  9: at these codebook sizes it takes the block-diagonal matmul\n"
            "  numpy path (_pq_block_assign — every subspace of an Arrow\n"
            "  batch in ONE dgemm), 84 -> 9.2 s at 3M (9.2x; the earlier\n"
            "  'Arrow transfer dominates' 1.6x note measured the\n"
            "  per-subspace-loop kernel, m tiny memory-bound gemms).\n"
            "  Codes bit-match the JVM path (pytest). Recurring query cost\n"
            "  is `pq_topk_adc`: 16 queries scan 3M codes + exact rescore.\n"
            "- `lsh_probe_topk` buckets the corpus through 4x8 hyperplane\n"
            "  signatures (one scan, candidates equi-joined per bucket) —\n"
            "  the ONE-SHOT cost, dominated by the corpus bucket pass\n"
            "  (n_tables x n_planes interpreted-HOF dots per row).\n"
            "- `lsh_probe_indexed` is the recurring 100 TB shape: the\n"
            "  (id, tbl, bucket) table from `lsh_index()` is built once\n"
            "  (analog of pq_encode) and persisted/written back; each\n"
            "  query batch pays only the candidate equi-join + exact\n"
            "  rescore of unique candidates (~17x less than inline).\n"
            "- JVM sizing: the sweep runs at 16g ON PURPOSE. At 48g the\n"
            "  interpreted-HOF scan tier pays a measured 3-4x G1 penalty\n"
            "  (pq_topk_adc 12.7->52s, lsh_probe 67->120s in dedicated\n"
            "  JVMs, idle machine); the similarity joins' one oversized\n"
            "  broadcast is disabled at runtime instead, forcing the\n"
            "  scale-safe sort-merge shape a real cluster would also\n"
            "  accept (char3 row measured FASTER under SMJ: 76->55s).\n"
            "\nRound-6 rows:\n"
            "- `fuzzy_name_pairs` is OUTPUT-dominated (500k dense numeric IDs\n"
            "  -> 12.25M true distance-1 pairs); the Mrows-in/s metric\n"
            "  understates it — pair emission is the work, and it is linear\n"
            "  in true pairs by construction (complete FastSS blocking).\n"
            "- `video_frame_features` decodes MJPEG (pure-numpy\n"
            "  Huffman+IDCT) and CRAM (inter-frame MS Video 1) clips;\n"
            "  rows_in counts FRAMES decoded.\n"
            "- media decode rows measure the mapInPandas decode+feature\n"
            "  stage over persisted payloads; fabrication is untimed.\n"
            "- `audio_metadata_scan` (round 7) profiles 300k MPEG streams\n"
            "  (20 frames each) header-only — rows_in counts the 6M frame\n"
            "  headers walked; no PCM is decoded.\n"
            "\nRound-6 analytic tier:\n"
            "- `triangle_census` counts 30M edges over 3M nodes; the\n"
            "  degree-ordered orientation bounds the wedge join (~45\n"
            "  pairs/node), and the cost IS the wedge volume (135M).\n"
            "- `skyline` ships only grid-pruned criteria tuples into\n"
            "  Python (33.4s -> 7.7s after the prune + narrow Arrow\n"
            "  projection); `resample_interpolate` dropped 17.8s ->\n"
            "  1.7s when the backward fill became a running frame\n"
            "  (Spark's unbounded-following frames re-aggregate per\n"
            "  row, O(n^2) per series).\n"
            "\nRound-7 similarity-join rows:\n"
            "- `sim_join_word` runs the AllPairs+PPJoin join at 3M docs\n"
            "  on WORD units (t=0.8). Rarest-first prefixes land on\n"
            "  per-group hash words, so the candidate join touches only\n"
            "  true near-dup cliques; cost is linear in candidates (~3\n"
            "  true pairs per 3-doc group). Word/shingle units are the\n"
            "  corpus-scale configuration — the token-set setting of the\n"
            "  AllPairs papers.\n"
            "- `sim_join_char3_auto` is the adversarial char-trigram\n"
            "  case: 10% pure-boilerplate docs whose identical prefixes\n"
            "  would alone join ~4.5e8 candidates. The DEFAULT\n"
            "  max_gram_df='auto' detects the spike from the df profile\n"
            "  (p99 cap ~310 here, enabled because max df = 300k >> 10x\n"
            "  the tail) and drops corpus-frequent grams from candidate\n"
            "  generation, bounding the join out of the box — same\n"
            "  output as the previous hand-picked 20k cap. The\n"
            "  documented recall trade: pairs among docs with NO\n"
            "  sub-cap gram (exact boilerplate copies) are left to\n"
            "  exact_dedup. Char trigrams stay the right unit only for\n"
            "  SHORT strings (alphabet^3 universe saturates on long\n"
            "  docs at corpus scale). Timing spread: 59 s (pinned cap)\n"
            "  / 75 s (auto: +1 profile scan) in dedicated idle JVMs;\n"
            "  in-sweep values run up to ~2x higher — the same\n"
            "  HOF-tier heap-context sensitivity the JVM-sizing note\n"
            "  documents. The auto profile deliberately runs on an\n"
            "  UNPERSISTED plan: materializing the operator's tracked\n"
            "  gram cache before the join compiles fed exact\n"
            "  InMemoryRelation stats to the planner and flipped a\n"
            "  verify join into a multi-hundred-MB broadcast build\n"
            "  (58 s -> 207 s; round-8 fix).\n"
            "\nRound-8 rows:\n"
            "- `knn_join_pq` is the PQ-COMPRESSED form of\n"
            "  `knn_join_ivf` (same 30k x 3M join, nprobe 4/256,\n"
            "  shard 8): the scoring cogroup ships 16-byte packed PQ\n"
            "  codes instead of 520-byte serialized float arrays —\n"
            "  measured shuffle-write 1460 MB vs 3662 MB (2.5x less;\n"
            "  the residual volume is the probe side's replicated\n"
            "  query vectors, shared by both paths — at production\n"
            "  corpus:probe ratios the corpus side dominates and the\n"
            "  drop approaches the 32x payload ratio). ADC scores are\n"
            "  computed as dots against the per-cell PQ reconstruction\n"
            "  through the same cache-blocked BLAS (a per-query LUT\n"
            "  gather kernel measured 26x slower per block); the\n"
            "  k*oversample survivors are exactly rescored against the\n"
            "  raw vectors via broadcast joins. Extra time vs raw\n"
            "  (27 s vs 16 s) = candidate-cut aggregate + rescore —\n"
            "  the memory-for-time trade the 100 TB join wants.\n"
            "- `minhash_incremental` near-dup-dedups a 1.5M-doc shard\n"
            "  against a PERSISTED index: round 9 reads the stored\n"
            "  (band,bucket) artifact AS-IS (history_bands), so only\n"
            "  the new shard is shingled/banded — historical text AND\n"
            "  signatures untouched on the candidate path; signature-\n"
            "  only verify (b-side joins batch sigs only — id_b is\n"
            "  always a batch doc, one full-index shuffle saved); both\n"
            "  index artifacts built untimed (the persisted-artifact\n"
            "  shape). Measured honestly: the history re-banding the\n"
            "  round-8 verdict suspected was ~9 s of ~50 s and hides\n"
            "  under join-stage parallelism (A/B 56.3 vs 56.5 s) — the\n"
            "  real costs are the new shard's shingle+sign pass (~14 s,\n"
            "  irreducible) and the candidate equi-join (~18 s; a\n"
            "  bucket-by-join-key parquet layout removes the history\n"
            "  shuffle at true index scale, but at this in-memory size\n"
            "  the bucketed scan measured SLOWER than the persisted\n"
            "  frame, 54 s vs 48 s — disk vs memory dominates).\n"
            "\nRound-9 rows:\n"
            "- `knn_join_pq_cg` is the UNBOUNDED-LEFT form\n"
            "  (rescore='cogroup') at 300k x 3M — 10x the left rows of\n"
            "  `knn_join_pq`. Nothing broadcasts: the ADC survivors\n"
            "  regroup per (left, cell) id-ARRAYS (qv transits <=\n"
            "  nprobe x, not K x) and a second cell+rid-hash-sharded\n"
            "  cogroup computes exact cosines with a sequential-fold\n"
            "  numpy kernel replaying the JVM HOF bit-for-bit (pytest:\n"
            "  cogroup == broadcast, unrounded doubles included).\n"
            "  Memory stays flat in |L| and |R|; the corpus raw column\n"
            "  transits one exchange (free when the persisted index is\n"
            "  bucketed by cell — ann_index.py writes that layout).\n"
            "  Precision-sized exchanges (522 -> 396 s): probe qv\n"
            "  ships float32 and the candidate-cut score field is\n"
            "  float — the ADC kernel is f32 and the exact rescore\n"
            "  re-ranks from full precision, so results are\n"
            "  contract-identical; the win is narrower serializer/\n"
            "  sort/kernel row work (post-lz4 wire delta is small).\n"
            "- the sim_join rows AND knn_join_pq_cg now run in their\n"
            "  own fresh 16g JVMs inside the sweep (subprocess with an\n"
            "  `only` filter). Two directions of the same G1 effect:\n"
            "  in-sweep heap context inflated the interpreted-HOF tier\n"
            "  up to ~2x vs dedicated-JVM measurements (char3 126 s\n"
            "  in-sweep vs 75 s dedicated, round 8 — the fork brought\n"
            "  it to 56 s), and the allocation-heavy cg row polluted\n"
            "  the old gen for every HOF row AFTER it (lsh_probe_topk\n"
            "  4.9 -> 11.6 s, lsh_probe_indexed 3.6 -> 14.6 s when cg\n"
            "  ran inline, round-9 measurement). Published rows are\n"
            "  the isolated-JVM numbers on both counts.\n"
            "\nRound-10 rows:\n"
            "- `knn_join_pq_probe` vs `knn_join_pq_probe_ctl`: the\n"
            "  production PROBE shape — a 100-query CLUSTERED batch\n"
            "  (4 jittered seeds, so the probed-cell union is ~4*nprobe\n"
            "  of 256) against the PERSISTED cell-partitioned IVF-PQ\n"
            "  artifact (save_ivf_pq_index -> load_ivf_pq_index). The\n"
            "  probed-cell semi-join prune reaches the parquet scan as\n"
            "  dynamic partition pruning (PartitionFilters on cell,\n"
            "  pytest-pinned), so unprobed cells' codes never leave\n"
            "  disk: shuffle-write measured 66.6 vs 151.2 MB, 2.3x\n"
            "  less (the delta is the unprobed cells' codes; the\n"
            "  residual is the probe side + candidate/rescore\n"
            "  exchanges, shared by both paths).\n"
            "  Wall-clock is parity at 3M vectors — the DPP subquery's\n"
            "  fixed cost cancels the saved shuffle here; the saved\n"
            "  bytes grow with the corpus while the overhead does not,\n"
            "  which is the 100 TB argument. Results are bit-identical\n"
            "  with the prune on/off (pytest, both rescore modes).\n"
            "- `dup_span_removal` gained the touched-doc rebuild gate:\n"
            "  docs with no covered position skip the collect_list\n"
            "  rebuild entirely (per-row token rejoin instead). Stage\n"
            "  A/B at this fixture attributed ~half the operator to\n"
            "  that rebuild; 31.4 -> ~17-21 s dedicated-JVM (the\n"
            "  fixture has zero touched docs — the common shape); an\n"
            "  every-doc-touched adversarial fixture pays ~10% for the\n"
            "  post-anti-join semi pass (measured 70-77 vs 76-89 s).\n"
            "- `decontaminate_bloom` is `decontaminate` with the\n"
            "  benchmark folded into a codegen Bloom bit-array tested\n"
            "  BEFORE the doc-side distinct (bit-identical output —\n"
            "  no false negatives; the exact join eats the ~0.1% fps).\n"
            "  Measured honestly at this fixture: the screen cuts the\n"
            "  distinct's input 48M -> 89k rows (540x — candidate\n"
            "  rows, per-partition hash state, and exchange payload\n"
            "  all shrink with it) but WALL parity (22.3 vs 22.6 s\n"
            "  idle A/B), because the stage is gram-GENERATION-bound\n"
            "  (the 48M-string explode dominates either way) and a\n"
            "  local[32] exchange is memory-speed. The saving lands\n"
            "  where it matters at cluster scale: network shuffle\n"
            "  bytes and the distinct's hash-aggregate memory.\n"
            "- `binary_auc` (30M scored rows -> 50 distinct scores ->\n"
            "  descending prefix-sum -> 1 row) and `pca_train_project`\n"
            "  (3M x 64 fit: one (count, sum, XtX)-partials pass, no\n"
            "  shuffle; + the full projection dgemm pass) pin the\n"
            "  evaluation/decomposition tier: nothing in either plan\n"
            "  is proportional to the row count past the first\n"
            "  hash aggregate / Arrow batch scan.\n"
        )
    spark.stop()


if __name__ == "__main__":
    main()
