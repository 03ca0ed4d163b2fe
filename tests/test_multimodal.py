"""Multimodal binary-column plumbing: schema, Arrow batch shape, fake
decoder determinism, frame fan-out."""

from __future__ import annotations

import pytest

from catalog_pii_scanner_spark.operators.multimodal import (
    N_FEATURES, extract_features, frame_sample, media_assets)


@pytest.fixture(scope="module")
def assets(spark, sf_dir):
    return media_assets(spark, sf_dir)


def test_assets_schema(assets):
    schema = {f.name: f.dataType.simpleString() for f in assets.schema}
    assert schema["media"] == "binary"
    assert schema["meta"].startswith("map<string,string")
    assert assets.count() > 0


def test_fake_feature_extraction_deterministic(assets):
    f1 = {r.asset_id: r.features
          for r in extract_features(assets).collect()}
    f2 = {r.asset_id: r.features
          for r in extract_features(assets).collect()}
    assert f1 == f2
    any_vec = next(iter(f1.values()))
    assert len(any_vec) == N_FEATURES
    assert all(0.0 <= v <= 1.0 for v in any_vec)


def test_frame_sample_fanout(assets):
    frames = frame_sample(assets, every=100, frame_bytes=32)
    rows = frames.collect()
    assert rows
    by_asset: dict[int, list] = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    one = next(iter(by_asset.values()))
    assert [r.frame_no for r in sorted(one, key=lambda r: r.frame_no)] == \
        list(range(len(one)))
    assert all(r.frame_size <= 32 for r in rows)


def test_resize_media_byte_exact(assets):
    """The stride-subsample fake codec is byte-exact: resized ==
    media[::ceil(n/target)] whenever n > target, identity otherwise, and
    never exceeds the target size."""
    from catalog_pii_scanner_spark.operators.multimodal import resize_media
    target = 16
    rows = resize_media(assets, target_bytes=target).collect()
    originals = {r.asset_id: bytes(r.media) for r in assets.collect()}
    assert rows
    for r in rows:
        b = originals[r.asset_id]
        if len(b) <= target:
            expect = b
        else:
            stride = -(-len(b) // target)
            expect = b[::stride]
        assert bytes(r.resized) == expect, r.asset_id
        assert r.resized_bytes == len(expect) <= target or len(b) <= target


def test_audio_window_energy_hand_check(spark):
    """Framing and energy match a hand computation on a crafted payload;
    only audio assets are framed."""
    from catalog_pii_scanner_spark.operators.multimodal import (
        audio_window_energy)
    # asset 1 -> audio (id % 3 == 1): 10 bytes, window 4 -> lens 4,4,2
    payload = bytes([0, 255, 10, 20, 30, 40, 50, 60, 70, 80])
    assets = spark.createDataFrame(
        [(1, payload, "audio/wav", len(payload)),
         (2, payload, "video/mp4", len(payload))],
        "asset_id bigint, media binary, media_type string, n_bytes bigint")
    rows = sorted(audio_window_energy(assets, window=4).collect(),
                  key=lambda r: r.window_no)
    assert [r.asset_id for r in rows] == [1, 1, 1]   # video not framed
    assert [r.win_len for r in rows] == [4, 4, 2]
    assert [r.byte_sum for r in rows] == [285, 180, 150]
    import math
    for r, (s, n) in zip(rows, [(285, 4), (180, 4), (150, 2)]):
        assert r.energy == math.floor(s / (n * 255.0) * 1e6 + 0.5) / 1e6


# --- REAL decode paths (dependency-free formats) -----------------------------

def _gradient_pgm(h=6, w=4):
    import numpy as np
    img = (np.arange(h * w, dtype=np.uint8).reshape(h, w) * 7) % 256
    from catalog_pii_scanner_spark.operators.multimodal import encode_pgm
    return img.astype("uint8"), encode_pgm(img.astype("uint8"))


def _sine_wav(n=200, rate=8000):
    import numpy as np
    t = np.arange(n)
    s = (np.sin(2 * np.pi * t / 25) * 12000).astype("<i2")
    from catalog_pii_scanner_spark.operators.multimodal import (
        encode_wav_pcm16)
    return s, encode_wav_pcm16(s, rate)


def test_pgm_roundtrip_and_ascii_variant():
    import numpy as np
    from catalog_pii_scanner_spark.operators.multimodal import decode_pgm
    img, p5 = _gradient_pgm()
    assert np.array_equal(decode_pgm(p5), img)
    # P2 (ascii) with a comment line decodes to the same pixels
    p2 = (b"P2\n# a comment\n4 6\n255\n"
          + " ".join(str(int(v)) for v in img.flatten()).encode())
    assert np.array_equal(decode_pgm(p2), img)


def test_wav_roundtrip():
    import numpy as np
    from catalog_pii_scanner_spark.operators.multimodal import (
        decode_wav_pcm16)
    s, wav = _sine_wav()
    got, rate = decode_wav_pcm16(wav)
    assert rate == 8000 and np.array_equal(got, s)


def test_real_features_through_spark(spark):
    """extract_features(fake=False) REALLY decodes PGM and WAV payloads
    inside the mapInPandas stage; values match a direct numpy
    derivation."""
    import numpy as np
    from catalog_pii_scanner_spark.operators.multimodal import (
        extract_features)
    img, p5 = _gradient_pgm()
    s, wav = _sine_wav()
    assets = spark.createDataFrame(
        [(1, bytearray(p5), "image/x-portable-graymap", len(p5)),
         (2, bytearray(wav), "audio/wav", len(wav))],
        "asset_id bigint, media binary, media_type string, n_bytes bigint")
    rows = {r.asset_id: list(r.features)
            for r in extract_features(assets, fake=False).collect()}
    imgf = img.astype(float)
    assert rows[1][:2] == [6.0, 4.0]
    assert rows[1][4] == pytest.approx(imgf.mean() / 255.0)
    assert rows[1][5] == pytest.approx(imgf.std() / 255.0)
    a = s.astype(float) / 32768.0
    assert rows[2][0] == float(len(s)) and rows[2][1] == 8000.0
    assert rows[2][6] == pytest.approx(float(np.sqrt(np.mean(a * a))))


def test_real_resize_pgm_is_true_nearest_neighbor(spark):
    import numpy as np
    from catalog_pii_scanner_spark.operators.multimodal import (
        decode_pgm, resize_media)
    img, p5 = _gradient_pgm(h=16, w=16)
    assets = spark.createDataFrame(
        [(1, bytearray(p5), "image/x-portable-graymap", len(p5))],
        "asset_id bigint, media binary, media_type string, n_bytes bigint")
    row = resize_media(assets, target_bytes=80, fake=False).collect()[0]
    assert row.resized_bytes <= 80
    out = decode_pgm(bytes(row.resized))
    oh, ow = out.shape
    ri = (np.arange(oh) * 16 // oh)
    ci = (np.arange(ow) * 16 // ow)
    assert np.array_equal(out, img[np.ix_(ri, ci)])


def test_real_decode_raises_loudly_for_codec_formats():
    from catalog_pii_scanner_spark.operators.multimodal import (
        real_features, resize_real)
    with pytest.raises(NotImplementedError):
        real_features(b"\x89PNG\r\n\x1a\nfakepng")
    with pytest.raises(NotImplementedError):
        resize_real(b"\x00\x00\x00 ftypmp42", 32)


def test_truncated_pgm_header_raises_descriptively():
    from catalog_pii_scanner_spark.operators.multimodal import (
        decode_pgm_full)
    with pytest.raises(ValueError, match="truncated PGM header"):
        decode_pgm_full(b"P5 12 8")          # maxval missing
    with pytest.raises(ValueError, match="truncated PGM header"):
        decode_pgm_full(b"P2\n# only a comment\n")


# --- property tests for the dependency-free decoders -------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1))
def test_pgm_roundtrip_property(h, w, seed):
    import numpy as np
    from catalog_pii_scanner_spark.operators.multimodal import (
        decode_pgm, encode_pgm)
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    assert np.array_equal(decode_pgm(encode_pgm(img)), img)


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 500), st.sampled_from([8000, 16000, 44100]),
       st.integers(0, 2**32 - 1))
def test_wav_roundtrip_property(n, rate, seed):
    import numpy as np
    from catalog_pii_scanner_spark.operators.multimodal import (
        decode_wav_pcm16, encode_wav_pcm16)
    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, size=n).astype("<i2")
    got, grate = decode_wav_pcm16(encode_wav_pcm16(s, rate))
    assert grate == rate and np.array_equal(got, s)


@settings(max_examples=25, deadline=None)
@given(st.integers(2, 48), st.integers(2, 48), st.integers(16, 200),
       st.integers(0, 2**32 - 1))
def test_resize_real_pgm_invariants(h, w, budget, seed):
    """resize_real output always fits the byte budget (or is the 1x1
    floor), stays decodable, and every output pixel is an input pixel
    from the nearest-neighbor index map."""
    import numpy as np
    from catalog_pii_scanner_spark.operators.multimodal import (
        decode_pgm, encode_pgm, resize_real)
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    out_bytes = resize_real(encode_pgm(img), budget)
    out = decode_pgm(out_bytes)
    oh, ow = out.shape
    assert oh >= 1 and ow >= 1 and oh <= h and ow <= w
    if oh * ow > 1:                    # 1x1 floor may exceed tiny budgets
        assert len(out_bytes) <= budget   # the HARD contract
    ri = (np.arange(oh) * h // oh)
    ci = (np.arange(ow) * w // ow)
    assert np.array_equal(out, img[np.ix_(ri, ci)])


def test_resize_real_thin_image_respects_budget():
    """Review regression: a 2x1000 image must not blow the byte budget
    when the isotropic scale clamps one dimension at 1."""
    import numpy as np
    from catalog_pii_scanner_spark.operators.multimodal import (
        decode_pgm, encode_pgm, resize_real)
    img = np.arange(2000, dtype=np.uint16).reshape(2, 1000) % 256
    out = resize_real(encode_pgm(img.astype("uint8")), 40)
    assert len(out) <= 40
    assert decode_pgm(out).size >= 1


def test_real_features_normalize_by_header_maxval():
    """Review regression: maxval=15 full-intensity pixel is 1.0, not
    15/255."""
    from catalog_pii_scanner_spark.operators.multimodal import (
        real_features)
    p2 = b"P2\n2 1\n15\n0 15\n"
    f = real_features(p2)
    assert f[:2] == [1.0, 2.0]
    assert f[2] == 0.0 and f[3] == 1.0      # min, max


def test_stereo_wav_rejected_loudly():
    import io
    import wave

    import numpy as np
    import pytest as _pytest
    from catalog_pii_scanner_spark.operators.multimodal import (
        decode_wav_pcm16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(2)
        f.setsampwidth(2)
        f.setframerate(8000)
        f.writeframes(np.zeros(20, dtype="<i2").tobytes())
    with _pytest.raises(ValueError, match="mono"):
        decode_wav_pcm16(buf.getvalue())


def test_p2_raster_comments_decode():
    """Review regression: the plain spec allows '#' comments between
    raster samples too."""
    import numpy as np
    from catalog_pii_scanner_spark.operators.multimodal import decode_pgm
    p2 = b"P2\n2 2\n255\n1 2 # note\n3 4\n"
    assert np.array_equal(decode_pgm(p2),
                          np.array([[1, 2], [3, 4]], dtype=np.uint8))


def test_phash_same_class_docs_hash_identically(spark):
    """Docs with equal (base, tweak) decode to identical images, so
    their aHash bands must be equal and their pair distance 0; a
    different tweak on the same base shifts every pixel and must stay
    within PHASH_HAM_MAX (the near-dup claim of the synthetic corpus)."""
    from catalog_pii_scanner_spark.operators.multimodal import (
        PHASH_BASES, ahash_bands, phash_dedup_query,
        synthetic_pgm_neardup_assets)
    sf = "/root/testdata/sf0.001"
    hashes = {r.asset_id: (r.b0, r.b1, r.b2, r.b3)
              for r in ahash_bands(
                  synthetic_pgm_neardup_assets(spark, sf)).collect()}
    # same class: doc_id and doc_id + 3*PHASH_BASES share base AND tweak
    step = 3 * PHASH_BASES
    same = [(a, a + step) for a in range(0, 40) if a + step in hashes]
    assert same
    for a, b in same:
        assert hashes[a] == hashes[b], (a, b)
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in phash_dedup_query(spark, sf).collect()}
    for a, b in same:
        assert pairs.get((a, b)) == 0, (a, b)
    # cross-tweak same-base neighbours are near (<= PHASH_HAM_MAX)
    cross = [(a, a + PHASH_BASES) for a in range(0, 40)
             if a + PHASH_BASES in hashes]
    assert cross
    near = sum(1 for a, b in cross if (a, b) in pairs)
    assert near >= len(cross) * 0.8, (near, len(cross))


def test_ahash_vectorized_matches_loop(spark):
    """The r13 vectorized batch path of ahash_bands must reproduce the
    per-row decode exactly — including on payloads that FAIL the
    fixed-header validation (multi-digit dims, maxval comments route the
    whole batch through the fallback)."""
    import pandas as pd
    from catalog_pii_scanner_spark.operators.multimodal import (
        _ahash_rows_loop, ahash_bands, synthetic_pgm_neardup_assets)
    sf = "/root/testdata/sf0.001"
    assets = synthetic_pgm_neardup_assets(spark, sf)
    pdf = assets.toPandas()
    want = _ahash_rows_loop(pdf)
    got = (ahash_bands(assets).toPandas()
           .sort_values("asset_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got, want.sort_values("asset_id").reset_index(drop=True),
        check_dtype=False)
    # a payload the fast path must refuse: 2-digit width header
    big = b"P5\n12 3\n255\n" + bytes(range(36))
    sdf = spark.createDataFrame(
        pd.DataFrame({"asset_id": [7], "media": [bytearray(big)]}))
    got1 = ahash_bands(sdf).toPandas()
    want1 = _ahash_rows_loop(
        pd.DataFrame({"asset_id": [7], "media": [big]}))
    assert got1.iloc[0].tolist() == want1.iloc[0].tolist()


def test_phash_no_buckets_excluded_at_gate_scale(spark):
    from catalog_pii_scanner_spark.operators.multimodal import (
        phash_excluded_buckets)
    assert phash_excluded_buckets(
        spark, "/root/testdata/sf0.001").count() == 0


def test_phash_keep_list_verdict_shape(spark):
    """Every corpus doc gets exactly one verdict row; cluster
    representatives are their cluster's MIN doc_id and are kept; every
    non-representative clustered doc is dropped; reps are closed under
    membership (a rep's own row points at itself)."""
    from catalog_pii_scanner_spark.operators.multimodal import (
        phash_keep_list_query)
    sf = "/root/testdata/sf0.001"
    rows = {r.doc_id: (r.cluster_rep, r.keep)
            for r in phash_keep_list_query(spark, sf).collect()}
    import duckdb
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{sf}/documents.parquet'").fetchone()[0]
    assert len(rows) == n_docs
    for doc, (rep, keep) in rows.items():
        assert keep == (rep == doc)
        assert rep <= doc
        assert rows[rep][0] == rep      # rep maps to itself
    # the synthetic corpus HAS clusters: some docs are dropped
    assert any(not keep for _, keep in rows.values())


# --- audio fingerprint dedup (r9) ---------------------------------------------

def _fp_assets(spark, payloads):
    return spark.createDataFrame(
        [(i, p, "audio/wav", len(p)) for i, p in payloads],
        "asset_id bigint, media binary, media_type string,"
        " n_bytes bigint")


def test_audio_fingerprint_bits_hand_check(spark):
    """Delta-sign bits on a crafted envelope: means 10, 30, 20 with
    window=4 -> deltas up, down -> bits 1, 0 -> fingerprint 1."""
    from catalog_pii_scanner_spark.operators.multimodal import (
        audio_fingerprints)
    payload = bytes([10] * 4 + [30] * 4 + [20] * 4)
    rows = audio_fingerprints(_fp_assets(spark, [(1, payload)]),
                              window=4).collect()
    assert len(rows) == 1
    assert rows[0].fingerprint == 1 and rows[0].n_windows == 3


def test_audio_fingerprint_groups_and_keep(spark):
    """Identical envelopes (even with different absolute bytes) share
    a fingerprint; the MIN asset id is the keeper."""
    from catalog_pii_scanner_spark.operators.multimodal import (
        audio_fingerprints)
    up_down = bytes([10] * 4 + [30] * 4 + [20] * 4)
    up_down_scaled = bytes([20] * 4 + [60] * 4 + [40] * 4)
    down_up = bytes([30] * 4 + [10] * 4 + [20] * 4)
    fps = {r.asset_id: r.fingerprint for r in audio_fingerprints(
        _fp_assets(spark, [(7, up_down), (3, up_down_scaled),
                           (5, down_up)]), window=4).collect()}
    assert fps[7] == fps[3] != fps[5]


def test_audio_fingerprint_single_window_is_zero(spark):
    from catalog_pii_scanner_spark.operators.multimodal import (
        audio_fingerprints)
    rows = audio_fingerprints(_fp_assets(spark, [(1, bytes([5] * 3))]),
                              window=4).collect()
    assert rows[0].fingerprint == 0 and rows[0].n_windows == 1


def test_audio_fingerprint_bit_cap(spark):
    """Windows past FP_BITS+1 cannot contribute bits: an all-rising
    staircase saturates at 2^bits - 1."""
    from catalog_pii_scanner_spark.operators.multimodal import (
        audio_fingerprints)
    staircase = bytes(bytearray(min(i, 255) for i in range(0, 160, 2)))
    rows = audio_fingerprints(_fp_assets(spark, [(1, staircase)]),
                              window=4, bits=8).collect()
    # 20 windows -> 19 rising deltas, capped at 8 bits
    assert rows[0].fingerprint == 2 ** 8 - 1
    assert rows[0].n_windows == 20
