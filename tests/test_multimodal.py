"""Multimodal operator tests: real PNG decode through the Spark stage,
nearest-neighbor resize, grid feature embedding, frame-sampling fan-out."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from training_catalog.operators import multimodal as mm
from test_terrain import encode_png


@pytest.fixture()
def images(spark):
    # 4x4 gradient + 2x2 flat + one poisoned (non-PNG) payload
    grad = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    flat = np.full((2, 2, 3), 200, dtype=np.uint8)
    rows = [(1, bytearray(encode_png(grad))),
            (2, bytearray(encode_png(flat))),
            (3, bytearray(b"not a png"))]
    return spark.createDataFrame(rows, "id long, payload binary"), grad, flat


def test_encode_png_rgb_roundtrip():
    """The package's own encoder (the one the oracle-checked catalog query
    uses to synthesize payloads) must round-trip through the real decoder
    pixel-exact, and reject non-RGB input."""
    from openskidata_processor_spark.sources.terrain import decode_png_rgb
    rng = np.random.RandomState(3)
    for h, w in [(1, 1), (2, 7), (13, 5), (32, 32)]:
        arr = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        back = decode_png_rgb(mm.encode_png_rgb(arr))
        assert np.array_equal(back, arr)
    with pytest.raises(ValueError):
        mm.encode_png_rgb(np.zeros((2, 2, 4), dtype=np.uint8))
    with pytest.raises(ValueError):
        mm.encode_png_rgb(np.zeros((2, 2, 3), dtype=np.int16))


def test_pixel_stats(spark, images):
    df, grad, flat = images
    out = {r.id: r for r in mm.pixel_stats(mm.decode_images(df)).collect()}
    assert set(out) == {1, 2}  # poisoned asset dropped, not fatal
    assert out[1].n_px == 48 and out[1].pixel_sum == int(grad.sum())
    assert (out[1].px_min, out[1].px_max) == (0, 47)
    assert out[2].n_px == 12 and out[2].pixel_sum == 200 * 12
    assert (out[2].px_min, out[2].px_max) == (200, 200)


def test_decode_images_real_png(spark, images):
    df, grad, flat = images
    out = {r.id: r for r in mm.decode_images(df).collect()}
    assert out[1].decoded and (out[1].width, out[1].height) == (4, 4)
    assert np.array_equal(
        np.frombuffer(out[1].pixels, np.uint8).reshape(4, 4, 3), grad)
    assert out[2].decoded and (out[2].width, out[2].height) == (2, 2)
    # poisoned asset: flagged, not fatal
    assert out[3].decoded is False and out[3].pixels is None


def test_resize_nearest_neighbor(spark, images):
    df, grad, _ = images
    out = {r.id: r for r in
           mm.resize_images(mm.decode_images(df), 2, 2).collect()}
    got = np.frombuffer(out[1].pixels, np.uint8).reshape(2, 2, 3)
    # nearest-neighbor with index floor: rows/cols 0 and 2 of the 4x4
    assert np.array_equal(got, grad[[0, 2]][:, [0, 2]])
    assert out[3].decoded is False  # undecoded passes through


def test_image_features_embedding(spark, images):
    df, _, flat = images
    out = {r.id: r.embedding
           for r in mm.image_features(mm.decode_images(df), grid=2).collect()}
    assert set(out) == {1, 2}            # poisoned asset dropped
    assert len(out[1]) == 2 * 2 * 3
    # the flat image pools to its constant value everywhere (float32 col)
    assert all(abs(v - 200.0 / 255.0) < 1e-6 for v in out[2])


def test_sample_frames_stride(spark):
    payload = bytes(range(100))          # 12 full 8-byte frames + tail
    df = spark.createDataFrame([(7, bytearray(payload))],
                               "id long, payload binary")
    rows = mm.sample_frames(df, frame_bytes=8, every_n=3).collect()
    assert [r.frame_idx for r in rows] == [0, 3, 6, 9]
    for r in rows:
        assert bytes(r.frame) == payload[r.frame_idx * 8:(r.frame_idx + 1) * 8]


def test_sample_frames_y4m_real_demux(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, size=(7, 3, 4, 6), dtype=np.uint8)
    good = mm.encode_y4m(frames)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a video"))],
        "id long, payload binary")
    rows = mm.sample_frames_y4m(df, every_n=3).collect()
    # undecodable payload absent; 1-in-3 of 7 frames kept
    assert sorted((r.id, r.frame_idx) for r in rows) == [(1, 0), (1, 3),
                                                         (1, 6)]
    for r in rows:
        assert (r.width, r.height) == (6, 4)
        assert bytes(r.frame) == frames[r.frame_idx].tobytes()
        assert r.frame_sum == int(frames[r.frame_idx].sum(dtype=np.int64))


def test_wav_codec_identity():
    import numpy as np

    from training_catalog.operators.multimodal import (
        decode_wav_pcm16, encode_wav_pcm16)
    s = (np.arange(257, dtype=np.int64) * 997 % 65536 - 32768).astype(
        np.int16)
    rate, out = decode_wav_pcm16(encode_wav_pcm16(s, 44100))
    assert rate == 44100
    assert np.array_equal(out, s)


def test_wav_decode_skips_unknown_chunks():
    import struct

    import numpy as np

    from training_catalog.operators.multimodal import (
        decode_wav_pcm16, encode_wav_pcm16)
    s = np.array([1, -2, 3], dtype=np.int16)
    b = encode_wav_pcm16(s, 8000)
    extra = b"LIST" + struct.pack("<I", 5) + b"abcde" + b"\x00"  # odd len pad
    b2 = b[:12] + extra + b[12:]
    b2 = b"RIFF" + struct.pack("<I", len(b2) - 8) + b2[8:]
    rate, out = decode_wav_pcm16(b2)
    assert rate == 8000 and np.array_equal(out, s)


def test_wav_decode_rejects_garbage():
    import pytest

    from training_catalog.operators.multimodal import (
        decode_wav_pcm16)
    with pytest.raises(ValueError):
        decode_wav_pcm16(b"not audio at all")
    with pytest.raises(ValueError):
        decode_wav_pcm16(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data


def test_audio_features_bad_payload_surfaces_as_row(spark):
    from training_catalog.operators.multimodal import (
        audio_features)
    df = spark.createDataFrame([(1, bytearray(b"garbage"))],
                               "id long, payload binary")
    row = audio_features(df).first()
    assert row.decoded is False and row.n_samples is None


def test_y4m_codec_identity():
    import numpy as np

    from training_catalog.operators.multimodal import (
        decode_y4m, encode_y4m)
    fr = (np.arange(3 * 3 * 4 * 6) * 13 % 256).astype(np.uint8).reshape(
        3, 3, 4, 6)
    w, h, out = decode_y4m(encode_y4m(fr))
    assert (w, h) == (6, 4)
    assert np.array_equal(out, fr)


def test_y4m_decode_rejects_malformed():
    import numpy as np
    import pytest

    from training_catalog.operators.multimodal import (
        decode_y4m, encode_y4m)
    with pytest.raises(ValueError):
        decode_y4m(b"AVI nope")
    with pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 F25:1\n")  # missing W/H
    # truncated last frame
    fr = np.zeros((1, 3, 2, 2), dtype=np.uint8)
    b = encode_y4m(fr)
    with pytest.raises(ValueError):
        decode_y4m(b[:-3])
    # unsupported subsampled colorspace is refused, not mis-parsed
    with pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W2 H2 C420jpeg\nFRAME\n" + b"\x00" * 6)


def test_y4m_decode_skips_unknown_header_params():
    import numpy as np

    from training_catalog.operators.multimodal import decode_y4m
    fr = bytes(range(12))
    payload = (b"YUV4MPEG2 W2 H2 F30000:1001 Ip A128:117 C444 Xcustom\n"
               b"FRAME\n" + fr)
    w, h, out = decode_y4m(payload)
    assert (w, h) == (2, 2)
    assert out.tobytes() == fr


def test_video_frame_stats_sampling(spark):
    import numpy as np

    from training_catalog.operators.multimodal import (
        encode_y4m, video_frame_stats)
    fr = np.stack([np.full((3, 2, 2), v, dtype=np.uint8)
                   for v in (10, 20, 30, 40, 50)])
    df = spark.createDataFrame([(7, bytearray(encode_y4m(fr)))],
                               "id long, payload binary")
    rows = {r.frame_idx: r for r in video_frame_stats(df, every_n=2).collect()}
    assert set(rows) == {0, 2, 4}
    assert rows[2].y_sum == 30 * 4 and rows[2].width == 2


# ---------------------------------------------------------------------------
# Perceptual hashing (aHash) + Hamming-blocked pair join
# ---------------------------------------------------------------------------


def _png_df(spark, imgs):
    from training_catalog.operators.multimodal import \
        encode_png_rgb
    rows = [(i, bytearray(encode_png_rgb(arr))) for i, arr in imgs]
    return spark.createDataFrame(rows, "id long, payload binary")


def test_perceptual_hash_invariant_to_tiny_noise(spark):
    """A structured image and a lightly-perturbed copy hash identically;
    a structurally different image lands far away."""
    import numpy as np

    from training_catalog.operators.multimodal import (
        decode_images, perceptual_hash, phash_pairs)
    base = np.zeros((32, 32, 3), dtype=np.uint8)
    base[:, 16:] = 200          # left dark / right bright
    near = base.copy()
    near[5, 5] += 3             # tiny perturbation, far from the mean
    other = np.zeros((32, 32, 3), dtype=np.uint8)
    other[16:, :] = 200         # top/bottom split instead
    hashes = perceptual_hash(decode_images(
        _png_df(spark, [(1, base), (2, near), (3, other)])))
    got = {r.id: (r.ph_hi, r.ph_lo) for r in hashes.collect()}
    assert got[1] == got[2]
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in phash_pairs(hashes, max_hamming=3).collect()}
    assert pairs == {(1, 2): 0}     # the split image is ≫ 3 bits away


def test_phash_pairs_pigeonhole_across_blocks(spark):
    """Flips spread across 3 DIFFERENT 16-bit blocks (so no single-block
    shortcut): the pair still surfaces because one block stays equal."""
    lo_a, hi_a = 0b1010 << 4, 0b1100 << 8
    # flip one bit in block 0 (lo bits 0-15), block 1 (lo 16-31),
    # block 2 (hi 0-15); block 3 untouched
    lo_b = lo_a ^ (1 << 2) ^ (1 << 20)
    hi_b = hi_a ^ (1 << 3)
    from training_catalog.operators.multimodal import \
        phash_pairs
    hashes = spark.createDataFrame(
        [(1, hi_a, lo_a), (2, hi_b, lo_b), (3, ~0 & 0x7FFFFFFF, 0)],
        "id long, ph_hi long, ph_lo long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in phash_pairs(hashes, max_hamming=3).collect()}
    assert got == {(1, 2): 3}


def test_phash_undecodable_assets_drop(spark):
    from training_catalog.operators.multimodal import (
        decode_images, perceptual_hash)
    df = spark.createDataFrame([(1, bytearray(b"not a png"))],
                               "id long, payload binary")
    assert perceptual_hash(decode_images(df)).count() == 0


def test_audio_fingerprint_noise_invariance_and_dropout(spark):
    """A tone-burst signal and a lightly-perturbed copy fingerprint
    identically; a reshaped burst lands elsewhere; garbage drops."""
    import numpy as np

    from training_catalog.operators.multimodal import (
        audio_fingerprint, encode_wav_pcm16)
    n = 160
    base = np.zeros(n, dtype=np.int16)
    base[40:80] = 20000                  # one loud burst
    near = base.copy()
    near[10] = 50                        # tiny off-burst perturbation
    other = np.zeros(n, dtype=np.int16)
    other[120:160] = 20000               # burst elsewhere
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav_pcm16(base))),
         (2, bytearray(encode_wav_pcm16(near))),
         (3, bytearray(encode_wav_pcm16(other))),
         (4, bytearray(b"junk"))],
        "id long, payload binary")
    got = {r.id: r.afp for r in audio_fingerprint(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_energy_bits_exact_past_int64():
    """The window compare sa·n > st·nw must not wrap int64: st ≈
    32768·n means st·nw overflows past ~7e7 samples (~70 min @ 16 kHz).
    Pin the helper on magnitudes where the naive numpy product wraps
    (and flips the verdict) while exact Python-int math stays right."""
    import numpy as np

    from training_catalog.operators.multimodal import \
        _energy_bits

    n = 2**32
    nw = np.full(2, 2**31, dtype=np.int64)
    st = 2**32 + 2
    # st·nw = 2^63 + 2^32: wraps NEGATIVE in int64.  Window 0's sa·n =
    # 2^63 − 2^32 stays positive → naive int64 says above-mean for a
    # window that is truly below; window 1 (2^63 + 2^33) is truly above.
    sa = np.array([2**31 - 1, 2**31 + 2], dtype=np.int64)
    assert _energy_bits(sa, nw, st, n) == 0b10
    # the naive int64 product genuinely flips window 0 — the guard bites
    with np.errstate(over="ignore"):
        naive = sa * np.int64(n) > np.int64(st) * nw
    assert int((naive << np.arange(2)).sum()) == 0b11


def test_multimodal_near_dup_groups_cross_modality_closure(spark, tmp_path):
    """The composed multimodal dedup groups emerge only from the
    CROSS-modality transitive closure: within a 4-doc block, image links
    {0,1} and {2,3} (Hamming 1), audio links {1,2} (Hamming 1), video
    links {0,3} (exact) — no single modality connects the block, but the
    union does.  A partial 2-doc block groups on its image edge alone."""
    from training_catalog.plans import QUERIES

    spark.createDataFrame([(i,) for i in range(6)], "doc_id long") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: (r.group_id, r.keep)
           for r in QUERIES["multimodal_near_dup_groups"](
               spark, str(tmp_path)).collect()}
    assert got == {0: (0, True), 1: (0, False), 2: (0, False),
                   3: (0, False), 4: (4, True), 5: (4, False)}


def test_video_fingerprint_temporal_pooling(spark):
    """Reordering frames leaves the temporally-pooled hash unchanged; a
    different spatial layout changes it; junk drops."""
    import numpy as np

    from training_catalog.operators.multimodal import (
        encode_y4m, video_fingerprint)
    rng = np.random.default_rng(3)
    f1 = rng.integers(0, 255, (3, 3, 8, 16), dtype=np.uint8)
    reordered = f1[::-1].copy()            # same frames, reversed order
    other = np.transpose(f1, (0, 1, 3, 2))[:, :, :8, :16].copy()
    df = spark.createDataFrame(
        [(1, bytearray(encode_y4m(f1))),
         (2, bytearray(encode_y4m(reordered))),
         (3, bytearray(encode_y4m(np.ascontiguousarray(other)))),
         (4, bytearray(b"junk"))],
        "id long, payload binary")
    got = {r.id: (r.n_frames, r.vfp)
           for r in video_fingerprint(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == got[2]
    assert got[1][1] != got[3][1]
