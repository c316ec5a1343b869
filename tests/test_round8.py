"""Round-8 regression tests: the round-7 ADVICE findings.

1. audio_metadata WAV duration must come from the fmt chunk's byte_rate
   (exact for compressed payloads: IMA-ADPCM bits=4 would otherwise
   report ~half the true duration), with the bits-derived arithmetic
   only as a byte_rate==0 fallback.
2. VOTable BINARY/BINARY2 unicodeChar cells must count UTF-16 CODE
   UNITS, not Python code points — a non-BMP char (two units) would
   desync the reader for every subsequent cell in the stream.
3. mpeg_audio_meta must not count a Xing/Info/VBRI tag frame as audio,
   and must prefer the tag's declared frame count for duration.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest


# ---------------------------------------------------------------- ADVICE 1
def test_wav_adpcm_duration_uses_byte_rate(spark):
    from ezdata_spark.functions.media_codecs import encode_wav_adpcm
    from ezdata_spark.operators.multimodal import audio_metadata

    sr = 8000
    wave = np.sin(np.linspace(0, 440 * 2 * np.pi, sr)).astype("float64")  # 1 s
    payload = encode_wav_adpcm(wave, sample_rate=sr)
    df = spark.createDataFrame(
        [(0, bytearray(payload))], "media_id long, data binary"
    )
    row = audio_metadata(df).collect()[0]
    assert row.meta_status == "parsed" and row.container == "wav"
    # byte_rate path: exact up to the final partial-block padding (spb
    # rounding), ~1%; the old bits-derived path reported ~0.5 s
    assert row.duration_s == pytest.approx(1.0, rel=0.05)
    # bitrate comes from byte_rate too (ADPCM is ~4:1 vs 16-bit PCM)
    assert row.bitrate_kbps < sr * 16 / 1000.0 / 2


def test_wav_pcm_duration_unchanged(spark):
    from ezdata_spark.functions.media_codecs import encode_wav
    from ezdata_spark.operators.multimodal import audio_metadata

    sr = 8000
    wave = (np.sin(np.linspace(0, 440 * 2 * np.pi, 2 * sr)) * 2**14).astype("int16")
    df = spark.createDataFrame(
        [(0, bytearray(encode_wav(wave, sample_rate=sr)))],
        "media_id long, data binary",
    )
    row = audio_metadata(df).collect()[0]
    assert row.duration_s == pytest.approx(2.0)
    assert row.bitrate_kbps == pytest.approx(sr * 16 / 1000.0)


def test_wav_zero_byte_rate_falls_back_to_bits(spark):
    # hand-built PCM WAV whose fmt chunk declares byte_rate=0 (malformed
    # writer): duration must fall back to the bits-per-sample arithmetic
    from ezdata_spark.operators.multimodal import audio_metadata

    sr, n = 8000, 8000
    data_bytes = b"\x00\x00" * n  # 1 s of 16-bit mono silence
    fmt = struct.pack("<HHIIHH", 1, 1, sr, 0, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data_bytes)) + data_bytes
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame([(0, bytearray(payload))], "media_id long, data binary")
    row = audio_metadata(df).collect()[0]
    assert row.meta_status == "parsed"
    assert row.duration_s == pytest.approx(1.0)


# ---------------------------------------------------------------- ADVICE 2
@pytest.mark.parametrize("serialization", ["binary", "binary2"])
def test_votable_unicode_non_bmp_stream_sync(spark, tmp_path, serialization):
    """Non-BMP chars (2 UTF-16 code units) in a variable-length
    unicodeChar cell must not desync later cells: every subsequent
    column and row round-trips intact."""
    from ezdata_spark.sources.votable_native import (
        read_votable_native,
        write_votable,
    )

    rows = [
        (1, "emoji \U0001f600 pair \U0001f680", 1.5, "after-a"),
        (2, "plain", 2.5, "after-b"),
        (3, "mixed é\U0001f9ea end", 3.5, "after-c"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, x double, tail string")
    path = str(tmp_path / f"u16_{serialization}.xml")
    write_votable(df, path, serialization=serialization)
    back = read_votable_native(spark, path).df.orderBy("id").collect()
    for got, want in zip(back, rows):
        assert got.id == want[0]
        assert got.name == want[1]  # non-BMP chars survive exactly
        assert got.x == pytest.approx(want[2])
        assert got.tail == want[3]  # the cell AFTER the emoji cell


def test_votable_unicode_binary_roundtrip_bmp(spark, tmp_path):
    # BMP-only sanity: the unit-count fix must not change 1-unit chars
    from ezdata_spark.sources.votable_native import (
        read_votable_native,
        write_votable,
    )

    df = spark.createDataFrame(
        [(1, "héllo"), (2, "wörld")], "id long, s string"
    )
    path = str(tmp_path / "u16_bmp.xml")
    write_votable(df, path, serialization="binary")
    back = {r.id: r.s for r in read_votable_native(spark, path).df.collect()}
    assert back == {1: "héllo", 2: "wörld"}


# ---------------------------------------------------------------- ADVICE 3
def _mpeg1_l3_frame(kbps=128, rate_idx=0, padding=0, mode=0, payload=None):
    bitrates = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    br_idx = bitrates.index(kbps) + 1
    rate = (44100, 48000, 32000)[rate_idx]
    h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
    h |= (br_idx << 12) | (rate_idx << 10) | (padding << 9) | (mode << 6)
    n = 144 * kbps * 1000 // rate + padding
    body = payload if payload is not None else b"\x00" * (n - 4)
    return struct.pack(">I", h) + body[: n - 4]


def test_xing_tag_frame_excluded_from_audio_accounting():
    from ezdata_spark.functions.media_codecs import mpeg_audio_meta

    # Xing tag (frames flag, declaring the true count 3) + 3 audio frames
    payload = b"\x00" * 32 + b"Xing" + struct.pack(">I", 1) + struct.pack(">I", 3)
    data = _mpeg1_l3_frame(payload=payload + b"\x00" * 400) + b"".join(
        _mpeg1_l3_frame() for _ in range(3)
    )
    m = mpeg_audio_meta(data)
    assert m["frames"] == 3  # tag frame NOT counted
    assert m["duration_s"] == pytest.approx(3 * 1152 / 44100)
    assert m["mean_kbps"] == 128.0


def test_xing_declared_frames_preferred_for_duration():
    from ezdata_spark.functions.media_codecs import mpeg_audio_meta

    # tag declares 100 frames but the payload is truncated to 4: a
    # standard decoder reports the declared duration
    payload = b"\x00" * 32 + b"Xing" + struct.pack(">I", 1) + struct.pack(">I", 100)
    data = _mpeg1_l3_frame(payload=payload + b"\x00" * 400) + b"".join(
        _mpeg1_l3_frame() for _ in range(4)
    )
    m = mpeg_audio_meta(data)
    assert m["frames"] == 4  # walked audio frames
    assert m["duration_s"] == pytest.approx(100 * 1152 / 44100)


def test_max_frames_cap_ignores_xing_duration():
    from ezdata_spark.functions.media_codecs import mpeg_audio_meta

    payload = b"\x00" * 32 + b"Xing" + struct.pack(">I", 1) + struct.pack(">I", 100)
    data = _mpeg1_l3_frame(payload=payload + b"\x00" * 400) + b"".join(
        _mpeg1_l3_frame() for _ in range(10)
    )
    m = mpeg_audio_meta(data, max_frames=2)
    # deliberately capped walk: duration reflects the walked frames
    assert m["frames"] == 2
    assert m["duration_s"] == pytest.approx(2 * 1152 / 44100)


def test_plain_cbr_no_xing_unchanged():
    from ezdata_spark.functions.media_codecs import mpeg_audio_meta

    data = b"".join(_mpeg1_l3_frame() for _ in range(7))
    m = mpeg_audio_meta(data)
    assert m["frames"] == 7 and m["xing"] is None
    assert m["duration_s"] == pytest.approx(7 * 1152 / 44100)


# ---------------------------------------------------- line raster verb
def _line_truth(points_by_series, nx, ny, xr, yr):
    """Driver-side replica of the line_raster contract (floor-clamped
    pixels, DDA with SQL half-away rounding, skip-start vertex rule,
    NaN breaks) — independent numpy implementation."""
    import math

    grid = np.zeros((nx, ny))
    wx = (xr[1] - xr[0]) / nx
    wy = (yr[1] - yr[0]) / ny

    def pixel(xv, yv):
        if xv is None or yv is None or math.isnan(xv) or math.isnan(yv):
            return None
        px = min(max(math.floor((xv - xr[0]) / wx), 0), nx - 1)
        py = min(max(math.floor((yv - yr[0]) / wy), 0), ny - 1)
        return px, py

    def rnd(v):  # SQL ROUND: half away from zero
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    for pts in points_by_series:
        prev = None
        for xv, yv in pts:
            cur = pixel(xv, yv)
            if cur is None:
                prev = None
                continue
            if prev is None:
                grid[cur[0], cur[1]] += 1
            else:
                n = max(abs(cur[0] - prev[0]), abs(cur[1] - prev[1]))
                for i in range(1, n + 1):
                    grid[
                        prev[0] + rnd(i * (cur[0] - prev[0]) / n),
                        prev[1] + rnd(i * (cur[1] - prev[1]) / n),
                    ] += 1
            prev = cur
    return grid


def test_line_raster_matches_driver_truth(spark):
    """Plotter.line vs the independent driver-side rasterizer: shallow,
    steep and negative slopes, a NaN polyline break, out-of-range
    clamping, shared-vertex single counting, two series."""
    from ezdata_spark.plotting import Plotter

    s0 = [(0.5, 0.5), (9.1, 3.2), (2.0, 8.0), (2.0, 8.0), (float("nan"), 5.0),
          (6.0, 6.0), (14.0, -3.0)]  # last point out of range -> clamped
    s1 = [(1.0, 9.0), (8.5, 0.4), (8.5, 9.6)]
    rows = [("a", i, xv, yv) for i, (xv, yv) in enumerate(s0)]
    rows += [("b", i, xv, yv) for i, (xv, yv) in enumerate(s1)]
    df = spark.createDataFrame(rows, "s string, ord int, x double, y double")
    nx, ny, xr, yr = 16, 12, (0.0, 10.0), (0.0, 10.0)
    res = Plotter(df).line(
        "x", "y", bins=(nx, ny), range=(xr, yr), order_by="ord", series_by="s"
    )
    want = _line_truth([s0, s1], nx, ny, xr, yr)
    assert res.counts.shape == (nx, ny)
    np.testing.assert_array_equal(res.counts, want)
    # a line raster fills pixels BETWEEN sparse points (the gap a point
    # raster leaves): strictly more coverage than the 13 vertices
    assert (res.counts > 0).sum() > 13


def test_line_raster_is_lazy_and_connected(spark):
    """line_raster returns a lazy frame (no driver action inside) and a
    single diagonal covers a connected max(|dx|,|dy|)+1-pixel path."""
    from pyspark.sql import DataFrame as SDF

    from ezdata_spark.plotting import line_raster

    df = spark.createDataFrame(
        [(0, 0.05, 0.05), (1, 9.95, 6.95)], "ord int, x double, y double"
    )
    out = line_raster(df, "x", "y", 100, 70, (0.0, 10.0), (0.0, 7.0), "ord")
    assert isinstance(out, SDF)  # lazy: collect is the caller's action
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan and "HashAggregate" in plan
    rows = {(r.xb, r.yb): r.v for r in out.collect()}
    assert len(rows) == 100  # major axis steps once per pixel column
    assert all(v == 1 for v in rows.values())
    xs = sorted(px for px, _ in rows)
    assert xs == list(range(100))  # connected: every column exactly once
def test_similarity_auto_cap_triggers_on_boilerplate_spike(spark):
    """max_gram_df='auto' (the default) must DETECT a boilerplate spike
    from the df profile and bound the candidate join out of the box:
    rare-token near-dup pairs are all found, all-boilerplate pairs are
    excluded (the documented recall contract), nothing else appears."""
    from pyspark.sql import functions as F

    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    n = 1500
    # ids % 15 == 0 -> pure boilerplate (5 template words, df ~ n);
    # others -> 5 template words + 18 per-3-doc-group hash words (df=3)
    # + 1 unique word (df=1). Distinct grams ~10k, spikes = 5 << 1%.
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 15 == 0, F.lit("tpl1 tpl2 tpl3 tpl4 tpl5")
        )
        .otherwise(
            F.concat(
                F.lit("tpl1 tpl2 tpl3 tpl4 tpl5 "),
                F.expr(
                    "array_join(transform(sequence(1, 18),"
                    " i -> hex(xxhash64(id - pmod(id, 3), i))), ' ')"
                ),
                F.lit(" "),
                F.expr("hex(xxhash64(id, 99))"),
            )
        )
        .alias("text"),
    )
    got = {
        (r.id_a, r.id_b)
        for r in trigram_similarity_pairs(docs, threshold=0.8, unit="word").collect()
    }
    release_caches()
    # expected: within-group pairs among NON-boilerplate docs (J =
    # 23/25 = 0.92 >= 0.8); boilerplate-only pairs (J = 1.0) have no
    # sub-cap gram and are excluded by the auto cap
    want = set()
    for g in range(0, n, 3):
        members = [i for i in range(g, min(g + 3, n)) if i % 15 != 0]
        want |= {(a, b) for a in members for b in members if a < b}
    assert got == want
    assert not any(a % 15 == 0 or b % 15 == 0 for a, b in got)


def test_similarity_auto_resolves_exact_on_flat_profile(spark):
    """On a flat df profile (no spike towering over p99) auto must
    resolve to None: the join equals the exact (max_gram_df=None)
    result, including the all-frequent pairs a cap would drop."""
    from pyspark.sql import Row

    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    rows = [Row(doc_id=i, text="the quick brown fox jumps") for i in range(40)]
    rows.append(Row(doc_id=100, text="the quick brown rareword1 rareword2"))
    rows.append(Row(doc_id=101, text="the quick brown rareword1 rareword3"))
    df = spark.createDataFrame(rows)
    auto = {
        (r.id_a, r.id_b)
        for r in trigram_similarity_pairs(df, threshold=0.6, unit="word").collect()
    }
    release_caches()
    exact = {
        (r.id_a, r.id_b)
        for r in trigram_similarity_pairs(
            df, threshold=0.6, unit="word", max_gram_df=None
        ).collect()
    }
    release_caches()
    assert auto == exact
    assert len(auto) == 40 * 39 // 2 + 1  # boilerplate pairs retained


# ------------------------------------------ perceptual image near-dup
def test_hamming_near_dup_matches_brute_force(spark):
    """Pigeonhole-banded Hamming self-join == brute-force pairs, on
    hashes with planted near-dups and boundary distances; plan stays a
    bucketed equi-join (no cartesian/BNLJ)."""
    import itertools
    import random

    from ezdata_spark.operators.dedup import hamming_near_dup

    rng = random.Random(7)
    hashes = []
    for i in range(60):
        hashes.append((i, rng.getrandbits(64) - (1 << 63)))
    # planted: copies of hash 0 at distances exactly 0, 3, 4 (boundary),
    # 5 (just beyond max_distance=4)
    base = hashes[0][1]
    for j, d in [(100, 0), (101, 3), (102, 4), (103, 5)]:
        v = base
        for b in rng.sample(range(64), d):
            v ^= 1 << b
            if v >= 1 << 63:
                v -= 1 << 64
            elif v < -(1 << 63):
                v += 1 << 64
        hashes.append((j, ((v + (1 << 63)) % (1 << 64)) - (1 << 63)))
    df = spark.createDataFrame(hashes, "id long, h long")
    got = {
        (r.id_a, r.id_b, r.distance)
        for r in hamming_near_dup(df, "h", "id", max_distance=4).collect()
    }
    uh = {i: v & ((1 << 64) - 1) for i, v in hashes}
    want = {
        (a, b, bin(uh[a] ^ uh[b]).count("1"))
        for a, b in itertools.combinations(sorted(uh), 2)
        if bin(uh[a] ^ uh[b]).count("1") <= 4
    }
    assert got == want
    assert any(d == 4 for _, _, d in got)  # boundary distance survives
    plan = hamming_near_dup(df, "h", "id", max_distance=4)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _bmp_media(spark, imgs):
    """rows of (media_id, pixels) -> media frame with real BMP bytes."""
    from ezdata_spark.functions.media_codecs import encode_bmp
    from ezdata_spark.operators.multimodal import IMAGE_SCHEMA

    rows = []
    for mid, px in imgs:
        rows.append(
            {
                "media_id": mid,
                "data": encode_bmp(px),
                "meta": {
                    "format": "bmp",
                    "width": px.shape[1],
                    "height": px.shape[0],
                    "channels": 3,
                },
            }
        )
    return spark.createDataFrame(rows, IMAGE_SCHEMA)


def test_dhash_brightness_invariant_and_discriminative(spark):
    from ezdata_spark.operators.multimodal import image_phash

    rng = np.random.RandomState(3)
    base = rng.randint(40, 200, size=(16, 16, 3), dtype=np.uint8)
    bright = np.clip(base.astype(int) + 20, 0, 255).astype(np.uint8)  # no clip in range
    other = rng.randint(40, 200, size=(16, 16, 3), dtype=np.uint8)
    media = _bmp_media(spark, [(0, base), (1, bright), (2, other)])
    got = {r.media_id: r.phash for r in image_phash(media, "dhash").collect()}
    assert all(v is not None for v in got.values())
    d01 = bin((got[0] ^ got[1]) & ((1 << 64) - 1)).count("1")
    d02 = bin((got[0] ^ got[2]) & ((1 << 64) - 1)).count("1")
    assert d01 == 0  # gradient signs are invariant to a uniform shift
    assert d02 > 15  # unrelated content is far


def test_phash_noise_robust(spark):
    from ezdata_spark.operators.multimodal import image_phash

    rng = np.random.RandomState(11)
    # natural-image-like content (pHash needs real low-frequency
    # energy: near-zero DCT coefficients flip under any noise): a 2-D
    # random walk has the ~1/f^2 spectrum of photographs
    s = np.cumsum(np.cumsum(rng.randn(24, 24), axis=0), axis=1)
    s = (s - s.min()) / (s.max() - s.min())
    base = np.stack([np.round(s * 180 + 30)] * 3, axis=2).astype(np.uint8)
    noisy = np.clip(
        base.astype(int) + rng.randint(-8, 9, size=base.shape), 0, 255
    ).astype(np.uint8)
    other = rng.randint(0, 256, size=(24, 24, 3), dtype=np.uint8)
    media = _bmp_media(spark, [(0, base), (1, noisy), (2, other)])
    got = {r.media_id: r.phash for r in image_phash(media, "phash").collect()}
    d01 = bin((got[0] ^ got[1]) & ((1 << 64) - 1)).count("1")
    d02 = bin((got[0] ^ got[2]) & ((1 << 64) - 1)).count("1")
    assert d01 <= 10 and d02 > d01 + 8


def test_image_near_dup_finds_planted_pairs(spark):
    from ezdata_spark.operators.multimodal import image_near_dup

    rng = np.random.RandomState(5)
    imgs = []
    for i in range(12):
        px = rng.randint(40, 200, size=(12, 12, 3), dtype=np.uint8)
        imgs.append((i, px))
        imgs.append((i + 100, np.clip(px.astype(int) + 15, 0, 255).astype(np.uint8)))
    media = _bmp_media(spark, imgs)
    pairs = {
        (r.id_a, r.id_b)
        for r in image_near_dup(media, method="dhash", max_distance=6).collect()
    }
    want = {(i, i + 100) for i in range(12)}
    assert want <= pairs  # every planted near-dup found
    # no pair between unrelated random images
    assert all(b - a == 100 for a, b in pairs)


def test_image_phash_decode_contract(spark):
    from ezdata_spark.operators.multimodal import image_phash

    rows = [
        {"media_id": 0, "data": b"not an image", "meta":
            {"format": "???", "width": 4, "height": 4, "channels": 3}},
    ]
    from ezdata_spark.operators.multimodal import IMAGE_SCHEMA

    media = spark.createDataFrame(rows, IMAGE_SCHEMA)
    r = image_phash(media, "phash").collect()[0]
    assert r.phash is None and r.decode_status == "unsupported"


# -------------------------------------------- incremental MinHash dedup
def test_minhash_incremental_equals_batch_rerun(spark):
    """Chaining minhash_dedup_incremental over three snapshots must
    equal ONE batch dedup over the union under the same rule (drop iff
    near-dup of any smaller-id doc) — including the transitive-chain
    case that requires dropped docs to stay indexed."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_jaccard,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    d0 = "the quick brown fox jumps over the lazy dog today again and again"
    d1 = "completely different content about distributed query engines at scale"
    d2 = d0.replace("lazy", "sleepy")  # near-dup of d0
    snaps = [
        [(0, d0), (1, d1), (2, d2)],
        [(10, d0), (11, "fresh topic entirely new words appear here only once"),
         (12, d1.replace("engines", "systems"))],
        # 20 copies d2 exactly: d2 may itself have been dropped in
        # snapshot 1, but its signature stays indexed, so 20 must drop
        [(20, d2), (21, "another brand new document with unseen vocabulary")],
    ]
    kw = dict(threshold=0.7, num_hashes=32, bands=16, shingle_n=3)
    frames = [
        spark.createDataFrame(rows, "doc_id long, text string") for rows in snaps
    ]
    idx = None
    inc_kept: set[int] = set()
    for f in frames:
        surv, idx = minhash_dedup_incremental(f, history_signatures=idx, **kw)
        inc_kept |= {r.doc_id for r in surv.collect()}
        idx = spark.createDataFrame(idx.collect(), idx.schema)  # "persisted"
        release_caches()

    union = frames[0].unionByName(frames[1]).unionByName(frames[2])
    sigs = minhash_signatures(union, "text", "doc_id", 32, 3)
    pairs = minhash_lsh_candidates(sigs, "doc_id", 16, 2)
    est = minhash_jaccard(sigs, pairs, "doc_id")
    dropped = {r.id_b for r in est.where("jaccard_est >= 0.7").collect()}
    batch_kept = {r.doc_id for r in union.collect()} - dropped
    release_caches()

    assert inc_kept == batch_kept
    assert 0 in inc_kept and 10 not in inc_kept  # exact copy drops
    assert 20 not in inc_kept  # matched a DROPPED doc's indexed signature
    assert {r.doc_id for r in idx.collect()} == {0, 1, 2, 10, 11, 12, 20, 21}


def test_minhash_incremental_first_snapshot_no_history(spark):
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import minhash_dedup_incremental

    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta epsilon zeta"),
         (2, "unrelated words describing something else entirely")],
        "doc_id long, text string",
    )
    surv, idx = minhash_dedup_incremental(df, threshold=0.9, shingle_n=2)
    assert {r.doc_id for r in surv.collect()} == {0, 2}
    assert idx.count() == 3  # dropped doc 1 stays indexed
    release_caches()


def test_minhash_match_stream_equals_batch(spark, tmp_path):
    """minhash_match_stream under Structured Streaming append mode must
    emit the same DISTINCT (doc, match) events as the batch form, and
    those must equal minhash_dedup_incremental's batch-vs-index dup
    pairs (one pipeline definition, both modes)."""
    import pandas as pd

    from ezdata_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_match_stream,
        minhash_signatures,
    )

    hist = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today again"),
         (1, "completely different content about distributed query engines")],
        "doc_id long, text string",
    )
    idx = minhash_signatures(hist, "text", "doc_id", 32, 3)
    idx = spark.createDataFrame(idx.collect(), idx.schema)  # "persisted"

    batch_rows = pd.DataFrame(
        {
            "doc_id": [10, 11, 12],
            "text": [
                "the quick brown fox jumps over the lazy dog today again",  # dup of 0
                "fresh topic entirely new words appear here only once",
                "completely different content about distributed query systems",  # near 1
            ],
        }
    )
    src = str(tmp_path / "shard.parquet")
    batch_rows.to_parquet(src)
    batch_df = spark.read.parquet(src)
    kw = dict(threshold=0.7, num_hashes=32, bands=16, shingle_n=3)

    stream = (
        spark.readStream.schema(batch_df.schema)
        .format("parquet")
        .load(str(tmp_path) + "/*.parquet")
    )
    q = (
        minhash_match_stream(stream, idx, **kw)
        .writeStream.format("memory")
        .queryName("mh_match_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = {
        (r.doc_id, r.match_id)
        for r in spark.sql("select * from mh_match_stream").collect()
    }
    got_batch = {
        (r.doc_id, r.match_id)
        for r in minhash_match_stream(batch_df, idx, **kw).collect()
    }
    assert got_stream == got_batch
    assert (10, 0) in got_stream  # the exact copy always matches

    # parity with the snapshot operator: its dropped-vs-index pairs are
    # exactly the match events (batch side of the incremental op)
    from ezdata_spark.cache import release_caches

    surv, _ = minhash_dedup_incremental(batch_df, history_signatures=idx, **kw)
    surv_ids = {r.doc_id for r in surv.collect()}
    release_caches()
    assert surv_ids == {10, 11, 12} - {d for d, _ in got_stream}


# ------------------------------------------------------ IVF-PQ kNN join
@pytest.fixture(scope="module")
def pq_fixture(spark, sf_dir):
    from pyspark.sql import functions as F

    from ezdata_spark.operators.similarity import ivf_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    indexed, cents = ivf_index(emb, n_cells=8)
    indexed = indexed.persist()
    yield emb, left, indexed, cents
    indexed.unpersist()


def test_knn_join_pq_exact_with_oversample(pq_fixture):
    """Full probe + generous codebook/oversample: the PQ-compressed
    join must be IDENTICAL (ids, rounded cosines, ranks) to the raw
    float path — the oracle contract of q50b."""
    from ezdata_spark.operators.similarity import ivf_pq_encode, knn_join, pq_train

    emb, left, indexed, cents = pq_fixture
    raw = {(r.doc_id, r.vec_id, r.cosine, r.rank) for r in
           knn_join(left, indexed, cents, k=5, nprobe=8,
                    round_ndigits=6).collect()}
    cb = pq_train(emb, m=16, k=256)
    enc = ivf_pq_encode(indexed, cb)
    pq = {(r.doc_id, r.vec_id, r.cosine, r.rank) for r in
          knn_join(left, enc, cents, k=5, nprobe=8, round_ndigits=6,
                   pq_codebooks=cb, pq_oversample=10).collect()}
    assert pq == raw


def test_knn_join_pq_recall_small_oversample(pq_fixture):
    """Tight candidate cut (oversample=4, coarser codebook): the exact
    rescore keeps pair recall high — the production operating point."""
    from ezdata_spark.operators.similarity import ivf_pq_encode, knn_join, pq_train

    emb, left, indexed, cents = pq_fixture
    raw = {(r.doc_id, r.vec_id) for r in
           knn_join(left, indexed, cents, k=5, nprobe=8).collect()}
    cb = pq_train(emb, m=16, k=64)
    enc = ivf_pq_encode(indexed, cb)
    pq = {(r.doc_id, r.vec_id) for r in
          knn_join(left, enc, cents, k=5, nprobe=8,
                   pq_codebooks=cb, pq_oversample=4).collect()}
    recall = len(raw & pq) / len(raw)
    assert recall >= 0.85, f"PQ candidate recall too low: {recall}"


def test_knn_join_pq_shard_equivalence(pq_fixture):
    """shard_corpus is a pure execution-shape knob on the PQ path too:
    per-shard ADC top-Ks merged by the global window + rescore must
    equal the unsharded join."""
    from ezdata_spark.operators.similarity import ivf_pq_encode, knn_join, pq_train

    emb, left, indexed, cents = pq_fixture
    cb = pq_train(emb, m=16, k=256)
    enc = ivf_pq_encode(indexed, cb)
    kw = dict(k=5, nprobe=8, round_ndigits=6, pq_codebooks=cb, pq_oversample=10)
    base = {(r.doc_id, r.vec_id, r.cosine, r.rank) for r in
            knn_join(left, enc, cents, **kw).collect()}
    sharded = {(r.doc_id, r.vec_id, r.cosine, r.rank) for r in
               knn_join(left, enc, cents, shard_corpus=3, **kw).collect()}
    assert sharded == base


def test_knn_join_pq_string_ids_and_zero_norm(spark):
    """Review regressions: (a) string id columns must survive the PQ
    kernel's struct emission; (b) an all-zero query vector must score
    0.0 (not 0/0 = NaN) in the exact rescore, matching the raw path."""
    from pyspark.sql import functions as F

    from ezdata_spark.operators.similarity import (
        ivf_index,
        ivf_pq_encode,
        knn_join,
        pq_train,
    )

    rng = np.random.RandomState(2)
    rows = [(f"v{i:03d}", rng.randn(16).tolist()) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    left_rows = [("qzero", [0.0] * 16)] + [
        (f"q{i}", rng.randn(16).tolist()) for i in range(3)
    ]
    left = spark.createDataFrame(left_rows, "doc_id string, embedding array<double>")
    indexed, cents = ivf_index(emb, n_cells=2)
    cb = pq_train(emb, m=4, k=16)
    enc = ivf_pq_encode(indexed, cb)
    got = knn_join(
        left, enc, cents, k=3, nprobe=2, left_id="doc_id", right_id="vec_id",
        pq_codebooks=cb, pq_oversample=4,
    ).collect()
    assert {r.doc_id for r in got} == {"qzero", "q0", "q1", "q2"}
    zero_rows = [r for r in got if r.doc_id == "qzero"]
    assert zero_rows and all(r.cosine == 0.0 for r in zero_rows)  # never NaN


def test_hamming_near_dup_distance_zero(spark):
    """max_distance=0 (exact fingerprint duplicates) must work with the
    default single band — the full-width mask is -1L, not a 2^64
    literal."""
    from ezdata_spark.operators.dedup import hamming_near_dup

    df = spark.createDataFrame(
        [(0, 5), (1, 5), (2, -7), (3, -7), (4, 9)], "id long, h long"
    )
    got = {(r.id_a, r.id_b, r.distance)
           for r in hamming_near_dup(df, "h", "id", max_distance=0).collect()}
    assert got == {(0, 1, 0), (2, 3, 0)}


# ----------------------------------------------------------------- OPQ
def _aniso_frame(spark, n=1200, dim=32, seed=9):
    """Anisotropic embeddings (decaying spectrum + random rotation) —
    the realistic encoder-output shape where OPQ beats plain PQ."""
    rng = np.random.RandomState(seed)
    scales = np.exp(-np.arange(dim) / 6.0)
    q, _ = np.linalg.qr(rng.randn(dim, dim))
    X = (rng.randn(n, dim) * scales) @ q
    rows = [(i, X[i].tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), X


def test_opq_rotation_orthogonal_and_better_mse(spark):
    from ezdata_spark.operators.similarity import (
        _encode_np,
        _reconstruct_np,
        opq_train,
        pq_train,
    )

    df, _ = _aniso_frame(spark)
    m, k = 8, 16
    R, ocbs = opq_train(df, m=m, k=k, opq_iters=8, lloyd_iters=10)
    Rm = np.asarray(R)
    np.testing.assert_allclose(Rm @ Rm.T, np.eye(Rm.shape[0]), atol=1e-8)

    pcbs = pq_train(df, m=m, k=k, iters=10)
    # quantization MSE on the (normalized) sample, same bytes/vector
    from ezdata_spark.operators.similarity import _train_sample

    X = _train_sample(df, "embedding", 42, None, 100_000)
    P = np.asarray(pcbs)
    mse_pq = ((X - _reconstruct_np(_encode_np(X, P), P)) ** 2).mean()
    O = np.asarray(ocbs)
    XR = X @ Rm
    mse_opq = ((XR - _reconstruct_np(_encode_np(XR, O), O)) ** 2).mean()
    assert mse_opq < mse_pq * 0.9, (mse_opq, mse_pq)


def test_rotate_vectors_paths_agree_and_preserve_cosine(spark):
    """Both engines return ``V @ R``: dim 45 (d^2 < 2048) takes the
    transform-of-dots SQL form, dim 64 the Arrow matmul."""
    from ezdata_spark.operators.similarity import rotate_vectors

    rng = np.random.RandomState(4)
    for dim in (45, 64):
        q, _ = np.linalg.qr(rng.randn(dim, dim))
        V = rng.randn(20, dim)
        df = spark.createDataFrame(
            [(i, V[i].tolist()) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        got = {r.vec_id: r.rv for r in
               rotate_vectors(df, q.tolist(), out="rv").collect()}
        want = V @ q
        for i in got:
            np.testing.assert_allclose(got[i], want[i], rtol=1e-12)
            # orthogonal rotation preserves norms
            assert np.linalg.norm(got[i]) == pytest.approx(np.linalg.norm(V[i]))


def test_opq_end_to_end_recall_not_worse(spark):
    """IVF-free ADC search with OPQ codebooks on the anisotropic
    fixture: recall@10 vs exact must be >= plain PQ's recall (modulo a
    small tolerance for tie noise)."""
    from ezdata_spark.operators.similarity import (
        cosine_topk,
        opq_train,
        pq_encode,
        pq_topk,
        pq_train,
        rotate_vectors,
    )

    df, _ = _aniso_frame(spark, n=800, dim=32)
    queries = df.filter(F_col_mod(df, 80)).selectExpr(
        "vec_id as qid", "embedding"
    )
    exact = {(r.qid, r.vec_id) for r in
             cosine_topk(df, queries, k=10).collect()}

    m, k = 8, 16
    pcbs = pq_train(df, m=m, k=k, iters=10)
    got_pq = {(r.qid, r.vec_id) for r in
              pq_topk(pq_encode(df, pcbs), pcbs, queries,
                      k=10, oversample=4).collect()}

    R, ocbs = opq_train(df, m=m, k=k, opq_iters=6, lloyd_iters=10)
    rdf = rotate_vectors(df, R)
    rq = rotate_vectors(queries, R)
    got_opq = {(r.qid, r.vec_id) for r in
               pq_topk(pq_encode(rdf, ocbs), ocbs, rq,
                       k=10, oversample=4).collect()}
    r_pq = len(exact & got_pq) / len(exact)
    r_opq = len(exact & got_opq) / len(exact)
    assert r_opq >= r_pq - 0.02, (r_opq, r_pq)
    assert r_opq >= 0.7


def F_col_mod(df, mod):
    from pyspark.sql import functions as F

    return F.col("vec_id") % mod == 0


def test_opq_composes_with_pq_knn_join(spark):
    """IVF-OPQ-PQ end to end: rotate corpus and left side with the same
    R, ivf_index + ivf_pq_encode + knn_join(pq_codebooks=...) on the
    rotated frames — results must equal the UNROTATED raw join's
    neighbour sets (rotation is orthogonal; full probe + generous
    oversample makes the PQ cut lossless on this fixture)."""
    from pyspark.sql import functions as F

    from ezdata_spark.operators.similarity import (
        ivf_index,
        ivf_pq_encode,
        knn_join,
        opq_train,
        rotate_vectors,
    )

    df, _ = _aniso_frame(spark, n=400, dim=32, seed=13)
    left = df.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    raw_idx, raw_cents = ivf_index(df, n_cells=4)
    raw = {(r.doc_id, r.vec_id) for r in
           knn_join(left, raw_idx, raw_cents, k=5, nprobe=4).collect()}

    R, cbs = opq_train(df, m=8, k=64, opq_iters=5, lloyd_iters=10)
    rdf = rotate_vectors(df, R)
    rleft = rotate_vectors(left, R)
    idx, cents = ivf_index(rdf, n_cells=4)
    enc = ivf_pq_encode(idx, cbs)
    got = {(r.doc_id, r.vec_id) for r in
           knn_join(rleft, enc, cents, k=5, nprobe=4,
                    pq_codebooks=cbs, pq_oversample=20).collect()}
    recall = len(raw & got) / len(raw)
    assert recall >= 0.95, recall
