"""Real media decode: the dependency-free PNG/WAV codecs
(``pipeline/media_codecs.py``) and the multimodal operators' real-decoder
paths built on them."""

from __future__ import annotations

import os
import numpy as np
import pytest
from pyspark.sql import functions as F

from kiji_mapreduce_spark.pipeline import media_codecs as mc
from kiji_mapreduce_spark.pipeline import multimodal

#: Fuzz budget multiplier: CI runs at 1 (the committed budgets);
#: a soak campaign sets KIJI_FUZZ_MULT=20/60 to widen every
#: hypothesis search in this file without touching the tests.
_FUZZ_MULT = int(os.environ.get("KIJI_FUZZ_MULT", "1"))



def _gradient(h, w, c):
    base = np.arange(h * w * c, dtype=np.uint32).reshape(h, w, c)
    return (base * 7 % 256).astype(np.uint8)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip(channels):
    px = _gradient(13, 9, channels)
    back, w, h, c = mc.decode_png(mc.encode_png(px))
    assert (w, h, c) == (9, 13, channels)
    assert np.array_equal(back, px)


def test_png_decode_all_filters():
    """Decode a PNG whose scanlines use every filter type (build the
    filtered stream by hand: filter byte f on line f%5)."""
    import struct
    import zlib

    h, w, c = 6, 8, 3
    px = _gradient(h, w, c)
    stride = w * c
    lines = []
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        line = px[y].reshape(stride).astype(np.int32)
        f = y % 5
        if f == 0:
            filt = line
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(c, np.int32), line[:-c]])
            filt = (line - left) & 0xFF
        elif f == 2:  # Up
            filt = (line - prev) & 0xFF
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(c, np.int32), line[:-c]])
            filt = (line - (left + prev.astype(np.int32)) // 2) & 0xFF
        else:  # Paeth
            left = np.concatenate([np.zeros(c, np.int32), line[:-c]])
            up = prev.astype(np.int32)
            ul = np.concatenate([np.zeros(c, np.int32), up[:-c]])
            p = left + up - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, up, ul))
            filt = (line - pred) & 0xFF
        lines.append(bytes([f]) + filt.astype(np.uint8).tobytes())
        prev = line.astype(np.uint8)
    raw = b"".join(lines)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    buf = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    back, gw, gh, gc = mc.decode_png(buf)
    assert (gw, gh, gc) == (w, h, c)
    assert np.array_equal(back, px)


def test_png_rejects_unsupported_variants():
    px = _gradient(4, 4, 3)
    buf = bytearray(mc.encode_png(px))
    with pytest.raises(mc.UnsupportedMedia, match="signature"):
        mc.decode_png(b"JFIF" + bytes(buf))
    # corrupt IHDR bit depth -> 7 (not a PNG depth; 16 decodes now)
    assert buf[8 + 4:8 + 8] == b"IHDR"
    buf[8 + 8 + 8] = 7
    with pytest.raises(mc.UnsupportedMedia, match="bit depth"):
        mc.decode_png(bytes(buf))


def test_resize_nearest_shapes():
    px = _gradient(10, 20, 3)
    out = mc.resize_nearest(px, 5, 4)
    assert out.shape == (4, 5, 3)
    assert np.array_equal(out[0, 0], px[0, 0])  # corner preserved


def test_wav_roundtrip():
    t = np.arange(800)
    samples = (np.sin(t / 10.0) * 2000).astype(np.int16).reshape(-1, 2)
    buf = mc.encode_wav(samples, 16000)
    back, rate, width = mc.decode_wav(buf)
    assert rate == 16000 and width == 2
    assert np.array_equal(back, samples)


def test_extract_features_real_png(spark):
    """extract_features over real PNG bytes: the luminance histogram
    sums to 1 and shifts with image content."""
    dark = mc.encode_png(np.zeros((8, 8, 3), dtype=np.uint8))
    light = mc.encode_png(np.full((8, 8, 3), 250, dtype=np.uint8))
    media = spark.createDataFrame(
        [(1, dark), (2, light)], "media_id long, content binary")
    out = multimodal.extract_features(media, dim=4)
    rows = {r.media_id: r.feature for r in out.collect()}
    assert rows[1][0] == 1.0 and rows[1][3] == 0.0   # all-dark -> bin 0
    assert rows[2][3] == 1.0 and rows[2][0] == 0.0   # all-light -> bin 3
    assert abs(sum(rows[1]) - 1.0) < 1e-9


def test_resize_images_real_png(spark):
    px = _gradient(16, 12, 3)
    media = spark.createDataFrame(
        [(1, mc.encode_png(px))], "media_id long, content binary")
    out = multimodal.resize_images(
        media, width=6, height=4)
    row = out.first()
    assert (row.width, row.height) == (6, 4)
    back, w, h, c = mc.decode_png(bytes(row.content))
    assert (w, h, c) == (6, 4, 3)
    assert np.array_equal(back, mc.resize_nearest(px, 6, 4))


def test_extract_audio_features(spark):
    loud = (np.sin(np.arange(1600) / 5.0) * 20000).astype(np.int16)
    quiet = (np.sin(np.arange(800) / 5.0) * 100).astype(np.int16)
    media = spark.createDataFrame(
        [(1, mc.encode_wav(loud, 16000)), (2, mc.encode_wav(quiet, 8000)),
         (3, mc.encode_flac(loud, 16000))],
        "media_id long, content binary")
    rows = {r.media_id: r
            for r in multimodal.extract_audio_features(media).collect()}
    assert rows[1].sample_rate == 16000 and rows[1].n_frames == 1600
    assert rows[2].sample_rate == 8000 and rows[2].n_channels == 1
    assert rows[1].rms > 100 * rows[2].rms
    assert rows[1].peak <= 20000
    # FLAC decodes losslessly through the same stats path: identical
    # samples -> identical rms/peak as the WAV twin
    assert rows[3].rms == rows[1].rms and rows[3].peak == rows[1].peak
    assert rows[3].n_frames == 1600


def _png_and_one_pixel_corruption():
    """(base, corrupt, distinct) PNG bytes: ``corrupt`` is ``base`` with
    one pixel flipped AT a nearest-neighbor sample point (row 4, col 5
    is dHash grid cell (1, 1) for 32x48 -> 8x9) hard enough to invert
    its luminance ordering vs both horizontal neighbors (verified:
    flips exactly 2 of the 64 comparison bits); ``distinct`` is a
    structurally different image."""
    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(32, 48, 3)).astype(np.uint8)
    corrupt = base.copy()
    corrupt[4, 5] = 0 if base[4, 5].mean() >= 128 else 255
    return (mc.encode_png(base), mc.encode_png(corrupt),
            mc.encode_png(_gradient(32, 48, 3)))


def test_phash64_dedup_fixture_images(spark):
    """Identical images pair at hamming 0, a one-pixel corruption stays
    within the banding guarantee (hamming <= max_hamming < bands), and a
    structurally distinct image pairs with nothing."""
    base, corrupt, distinct = _png_and_one_pixel_corruption()
    media = spark.createDataFrame(
        [(1, base), (2, base), (3, corrupt), (4, distinct)],
        "media_id long, content binary")
    codes = {r.media_id: r.phash for r in multimodal.phash64(
        media).collect()}
    assert codes[1] == codes[2]
    assert codes[3] != codes[4]
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in multimodal.image_near_duplicates(
                 media, max_hamming=3, bands=4).collect()}
    assert pairs[(1, 2)] == 0
    # one corrupted pixel moves at most a couple of dHash comparisons
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)


def test_phash64_decodes_by_default(spark):
    """Called with nothing but the DataFrame, ``phash64`` and
    ``image_near_duplicates`` hash decoded pixels: a PNG pairs with its
    one-pixel-corrupted copy, whose bytes differ throughout (a hash of
    the raw bytes would pair only byte-identical blobs)."""
    base, corrupt, _ = _png_and_one_pixel_corruption()
    media = spark.createDataFrame(
        [(1, base), (2, corrupt)], "media_id long, content binary")
    codes = {r.media_id: r.phash
             for r in multimodal.phash64(media).collect()}
    assert 0 < bin((codes[1] ^ codes[2]) & ((1 << 64) - 1)).count("1") \
        <= 3
    pairs = multimodal.image_near_duplicates(media).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_audio_fingerprint_dedup(spark):
    """Identical clips share a fingerprint, a gain change is invariant
    (all frame energies scale equally), light noise stays within the
    banding guarantee, and a different signal pairs with nothing."""
    rng = np.random.RandomState(3)
    t = np.arange(6500)
    base = (np.sin(t / 7.0) * 12000
            + np.sin(t / 31.0) * 6000).astype(np.int16)
    gained = (base * 0.5).astype(np.int16)
    noised = (base + rng.randint(-40, 41, size=base.size)).astype(np.int16)
    other = (np.sign(np.sin(t / 3.0)) * 15000).astype(np.int16)
    media = spark.createDataFrame(
        [(1, mc.encode_wav(base, 16000)), (2, mc.encode_wav(base, 16000)),
         (3, mc.encode_wav(gained, 16000)),
         (4, mc.encode_wav(noised, 16000)),
         (5, mc.encode_wav(other, 16000))],
        "media_id long, content binary")
    codes = {r.media_id: r.afp for r in multimodal.audio_fingerprint64(
        media).collect()}
    assert codes[1] == codes[2] == codes[3]  # identity + gain invariance
    assert codes[5] != codes[1]
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in multimodal.audio_near_duplicates(
                 media, max_hamming=3, bands=4).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0
    assert (1, 4) in pairs and pairs[(1, 4)] <= 3
    assert not any(5 in p for p in pairs)


def test_phash64_skip_undecodable_and_band_guard(spark):
    """skip_undecodable maps NULL/corrupt content to a NULL hash and
    drops it before banding (one bad blob must not abort a corpus-scale
    job); without it the real decoder raises; banded_hamming_pairs
    rejects max_hamming >= bands (pigeonhole contract)."""
    from kiji_mapreduce_spark.pipeline import dedup

    good = mc.encode_png(_gradient(8, 9, 1))
    media = spark.createDataFrame(
        [(1, good), (2, good), (3, b"not a png"), (4, None)],
        "media_id long, content binary")
    codes = {r.media_id: r.phash for r in multimodal.phash64(
        media, skip_undecodable=True).collect()}
    assert codes[1] == codes[2] is not None
    assert codes[3] is None and codes[4] is None
    pairs = multimodal.image_near_duplicates(
        media, skip_undecodable=True).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    with pytest.raises(Exception):
        multimodal.phash64(media).collect()
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.banded_hamming_pairs(
            spark.range(1).select(F.col("id"), F.lit(0).alias("code")),
            code_col="code", id_col="id", max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide"):
        dedup.banded_hamming_pairs(
            spark.range(1).select(F.col("id"), F.lit(0).alias("code")),
            code_col="code", id_col="id", max_hamming=2, bands=5)


def test_video_container_roundtrip():
    """Motion-PNG container: frames round-trip losslessly (every frame
    a real PNG), frame timing survives, and non-container / truncated /
    future-version bytes raise UnsupportedMedia."""
    rng = np.random.RandomState(11)
    frames = [rng.randint(0, 256, size=(8, 9)).astype(np.uint8)
              for _ in range(3)]
    blob = mc.encode_video(frames, micros_per_frame=33333)
    out, micros = mc.decode_video(blob)
    assert micros == 33333 and len(out) == 3
    for got, want in zip(out, frames):
        assert (got.squeeze() == want).all()
    with pytest.raises(mc.UnsupportedMedia, match="magic"):
        mc.decode_video(b"RIFFnope")
    with pytest.raises(mc.UnsupportedMedia, match="truncated"):
        mc.decode_video(blob[:-5])
    with pytest.raises(mc.UnsupportedMedia, match="truncated"):
        mc.decode_video(b"MPNG\x01\x00")  # header itself cut short
    with pytest.raises(mc.UnsupportedMedia, match="u32"):
        mc.encode_video(frames, micros_per_frame=1 << 33)
    with pytest.raises(mc.UnsupportedMedia, match="version"):
        mc.decode_video(b"MPNG" + bytes([9]) + blob[5:])


def test_video_near_duplicates_frame_aligned(spark):
    """Identical clips match on every sampled frame; corrupting one
    frame still matches on the rest (min_frames tolerance); a clip with
    the SAME frames rotated one position pairs with nothing — the band
    join keys on frame_no, so set-overlap without positional alignment
    is not a match; and a distinct clip pairs with nothing."""
    rng = np.random.RandomState(23)
    fr = [rng.randint(0, 256, size=(8, 9)).astype(np.uint8)
          for _ in range(4)]
    corrupt = [f.copy() for f in fr]
    # invert pixel (1,1) of frame 2 hard enough to flip its luminance
    # ordering vs both horizontal neighbors (<= 2 dHash bits)
    corrupt[2][1, 1] = 0 if fr[2][1, 1] >= 128 else 255
    rotated = fr[1:] + fr[:1]
    distinct = [rng.randint(0, 256, size=(8, 9)).astype(np.uint8)
                for _ in range(4)]
    media = spark.createDataFrame(
        [(1, mc.encode_video(fr)), (2, mc.encode_video(fr)),
         (3, mc.encode_video(corrupt)), (4, mc.encode_video(rotated)),
         (5, mc.encode_video(distinct))],
        "media_id long, content binary")
    hashes = {(r.media_id, r.frame_no): r.phash
              for r in multimodal.video_frame_phash64(
                  media).collect()}
    assert all(hashes[(1, f)] == hashes[(2, f)] for f in range(4))
    assert hashes[(4, 0)] == hashes[(1, 1)]  # rotation, not re-hash
    pairs = {(r.id_a, r.id_b): r.n_matching
             for r in multimodal.video_near_duplicates(
                 media, every_n=1, max_hamming=2, bands=4,
                 min_frames=3).collect()}
    assert pairs[(1, 2)] == 4
    assert (1, 3) in pairs and pairs[(1, 3)] >= 3
    assert not any(4 in p or 5 in p for p in pairs)
    # every_n sampling: only frames 0 and 2 are hashed
    sampled = multimodal.video_frame_phash64(
        media, every_n=2).collect()
    assert {r.frame_no for r in sampled} == {0, 2}


def test_video_fake_path_and_skip_undecodable(spark):
    """skip_undecodable drops undecodable clips entirely instead of
    failing; without it the decoder raises loudly for
    non-Motion-PNG formats; bad sampling parameters are usage errors."""
    good = mc.encode_video([_gradient(8, 9, 1).squeeze()])
    mixed = spark.createDataFrame(
        [(1, good), (2, good), (3, b"mp4?" * 100), (4, None)],
        "media_id long, content binary")
    rows = multimodal.video_frame_phash64(
        mixed, skip_undecodable=True).collect()
    assert {r.media_id for r in rows} == {1, 2}
    pairs = multimodal.video_near_duplicates(
        mixed, min_frames=1,
        skip_undecodable=True).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    with pytest.raises(Exception, match="ffmpeg|Motion-PNG"):
        multimodal.video_frame_phash64(
            mixed).collect()
    with pytest.raises(ValueError, match="every_n"):
        multimodal.video_frame_phash64(mixed, every_n=0)
    with pytest.raises(ValueError, match="min_frames"):
        multimodal.video_near_duplicates(mixed, min_frames=0)


def test_banded_hamming_pairs_key_cols(spark):
    """key_cols adds equi-join keys: identical codes in DIFFERENT key
    values never pair, and the keys come back in the result."""
    from kiji_mapreduce_spark.pipeline import dedup

    rows = [(1, 0, 77), (2, 0, 77),   # same frame, same code -> pair
            (3, 1, 77),               # same code, other frame -> no pair
            (4, 1, -1)]               # far code (hamming 60) -> no pair
    codes = spark.createDataFrame(
        rows, "doc_id long, frame_no int, code long")
    got = dedup.banded_hamming_pairs(
        codes, "code", "doc_id", max_hamming=2, bands=4,
        key_cols=("frame_no",)).collect()
    assert [(r.id_a, r.id_b, r.frame_no, r.hamming) for r in got] == \
        [(1, 2, 0, 0)]


def test_banded_hamming_pairs_incremental(spark):
    """Batch-vs-index pairing: pairs need at least one NEW side (the
    old-vs-old dup never re-surfaces), None index degrades to the plain
    within-batch join, and key_cols keeps frame positions separate."""
    from kiji_mapreduce_spark.pipeline import dedup

    index = spark.createDataFrame(
        [(1, 0, 77), (2, 0, 77), (3, 1, 500)],
        "doc_id long, frame_no int, code long")
    batch = spark.createDataFrame(
        [(10, 0, 77),    # matches index ids 1,2 at frame 0
         (11, 1, 77),    # code 77 but frame 1 -> only vs in-frame codes
         (12, 1, 501)],  # 1 bit off index id 3 at frame 1
        "doc_id long, frame_no int, code long")
    got = sorted(
        (r.id_a, r.id_b, r.frame_no, r.hamming)
        for r in dedup.banded_hamming_pairs_incremental(
            batch, index, "code", "doc_id", max_hamming=2, bands=4,
            key_cols=("frame_no",)).collect())
    # no (1, 2): both old; no (1/2, 11): frame mismatch
    assert got == [(1, 10, 0, 0), (2, 10, 0, 0), (3, 12, 1, 1)]
    alone = sorted(
        (r.id_a, r.id_b)
        for r in dedup.banded_hamming_pairs_incremental(
            batch, None, "code", "doc_id", max_hamming=2, bands=4,
            key_cols=("frame_no",)).collect())
    assert alone == []  # within batch: distinct frames / far codes


def test_read_code_index_loud_on_corrupt(spark, tmp_path):
    """read_code_index returns None ONLY for a missing path; a present
    but unreadable index re-raises instead of silently degrading to
    within-batch-only dedup."""
    assert multimodal.read_code_index(
        spark, str(tmp_path / "never_written")) is None
    bad = tmp_path / "bad_idx"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        df = multimodal.read_code_index(spark, str(bad))
        assert df is None  # unreachable: the read must raise


def test_video_codec_roundtrip_property():
    """Property: ANY uint8 frame stack round-trips the Motion-PNG
    container losslessly, for every supported channel count and
    non-square shape (hypothesis over shapes/values/frame counts)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25 * _FUZZ_MULT, deadline=None)
    @given(
        h=st.integers(1, 12), w=st.integers(1, 12),
        c=st.sampled_from([1, 2, 3, 4]),
        n=st.integers(1, 4), seed=st.integers(0, 2**31 - 1),
        micros=st.integers(0, 0xFFFFFFFF),
    )
    def _roundtrip(h, w, c, n, seed, micros):
        rng = np.random.RandomState(seed)
        frames = [rng.randint(0, 256, size=(h, w, c)).astype(np.uint8)
                  for _ in range(n)]
        out, got_micros = mc.decode_video(mc.encode_video(frames, micros))
        assert got_micros == micros and len(out) == n
        for got, want in zip(out, frames):
            assert got.shape == (h, w, c)
            assert np.array_equal(got, want)

    _roundtrip()


def test_image_and_video_frame_hash_identically(spark):
    """The _dhash64 contract: a still image and the same bitmap as a
    video frame produce the SAME 64-bit code, so image and video dedup
    indexes are mutually comparable."""
    rng = np.random.RandomState(99)
    px = rng.randint(0, 256, size=(8, 9, 3)).astype(np.uint8)
    media_img = spark.createDataFrame(
        [(1, mc.encode_png(px))], "media_id long, content binary")
    media_vid = spark.createDataFrame(
        [(1, mc.encode_video([px]))], "media_id long, content binary")
    img_code = multimodal.phash64(
        media_img).first().phash
    vid_code = multimodal.video_frame_phash64(
        media_vid).first().phash
    assert img_code == vid_code


def test_pigeonhole_banding_property():
    """The band-join guarantee, property-tested on the arithmetic the
    Spark expression and the DuckDB oracle both use ((code >> b*w) &
    mask — mask AFTER shift): any two codes within max_hamming <
    bands share at least one exact band chunk, for random codes,
    random flipped-bit subsets, and both signs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def chunks(code, bands):
        width = 64 // bands
        u = code & 0xFFFFFFFFFFFFFFFF  # logical shift semantics
        return [(u >> (b * width)) & ((1 << width) - 1)
                for b in range(bands)]

    @settings(max_examples=200 * _FUZZ_MULT, deadline=None)
    @given(
        code=st.integers(-(1 << 63), (1 << 63) - 1),
        bands=st.sampled_from([2, 4, 8, 16]),
        flips=st.lists(st.integers(0, 63), max_size=15, unique=True),
    )
    def _shares_chunk(code, bands, flips):
        max_hamming = bands - 1
        flips = flips[:max_hamming]
        other = code
        for b in flips:
            other ^= 1 << b
        if other >= 1 << 63:
            other -= 1 << 64
        a, b = chunks(code, bands), chunks(other, bands)
        assert any(x == y for x, y in zip(a, b))

    _shares_chunk()


def test_video_near_duplicates_mixed_lengths(spark):
    """Clips of different lengths still pair on their COMMON sampled
    frame positions (a truncated re-upload is the classic case)."""
    rng = np.random.RandomState(53)
    fr = [rng.randint(0, 256, size=(8, 9)).astype(np.uint8)
          for _ in range(4)]
    media = spark.createDataFrame(
        [(1, mc.encode_video(fr)), (2, mc.encode_video(fr[:2]))],
        "media_id long, content binary")
    pairs = multimodal.video_near_duplicates(
        media, every_n=1, max_hamming=2, bands=4, min_frames=2).collect()
    assert [(r.id_a, r.id_b, r.n_matching) for r in pairs] == [(1, 2, 2)]


def test_sample_frames_real_decoder_feeds_image_ops(spark):
    """sample_frames with the real decoder re-emits sampled frames as
    standalone PNGs that image operators consume directly: the frame's
    phash equals the whole-image phash of the same bitmap."""
    rng = np.random.RandomState(61)
    fr = [rng.randint(0, 256, size=(8, 9)).astype(np.uint8)
          for _ in range(5)]
    media = spark.createDataFrame(
        [(1, mc.encode_video(fr)), (2, b"mp4?" * 100)],
        "media_id long, content binary")
    rows = multimodal.sample_frames(
        media, every_n=2,
        skip_undecodable=True).collect()
    assert [(r.media_id, r.frame_no) for r in rows] == \
        [(1, 0), (1, 2), (1, 4)]
    frame_imgs = spark.createDataFrame(
        [(r.frame_no, bytes(r.frame_bytes)) for r in rows],
        "media_id long, content binary")
    frame_codes = {r.media_id: r.phash for r in multimodal.phash64(
        frame_imgs).collect()}
    still = spark.createDataFrame(
        [(0, mc.encode_png(fr[0]))], "media_id long, content binary")
    still_code = multimodal.phash64(
        still).first().phash
    assert frame_codes[0] == still_code
    with pytest.raises(Exception, match="ffmpeg"):
        multimodal.sample_frames(
            media, every_n=2).collect()


# ---- JPEG (r7 verdict ask #4: real-format image decode) ----

def test_jpeg_roundtrip_rgb_near_lossless():
    """Flat-1 quantization: reconstruction error is DCT rounding only
    (a couple of levels), on arbitrary noise images."""
    rng = np.random.RandomState(11)
    for shape in [(23, 31, 3), (8, 8, 3), (64, 48, 3), (9, 40, 3)]:
        img = rng.randint(0, 256, size=shape).astype(np.uint8)
        px, w, h, c = mc.decode_jpeg(mc.encode_jpeg(img))
        assert (h, w, c) == shape
        assert int(np.max(np.abs(px.astype(int) - img.astype(int)))) <= 3


def test_jpeg_roundtrip_gray_and_restart_intervals():
    rng = np.random.RandomState(12)
    gray = rng.randint(0, 256, size=(17, 19)).astype(np.uint8)
    px, w, h, c = mc.decode_jpeg(mc.encode_jpeg(gray))
    assert c == 1 and (h, w) == gray.shape
    assert int(np.max(np.abs(px[:, :, 0].astype(int)
                             - gray.astype(int)))) <= 2
    img = rng.randint(0, 256, size=(24, 40, 3)).astype(np.uint8)
    # DRI/RSTn handling: 2-MCU restart interval on a 3x5-MCU image
    px2, _, _, _ = mc.decode_jpeg(mc.encode_jpeg(img, restart_interval=2))
    assert int(np.max(np.abs(px2.astype(int) - img.astype(int)))) <= 3


def test_jpeg_420_subsampling_decodes():
    """4:2:0 chroma subsampling — the layout real crawls ship — decodes
    with low error on smooth content (chroma is halved by design)."""
    yy, xx = np.mgrid[0:32, 0:40]
    smooth = np.stack([(xx * 3) % 256, (yy * 2) % 256,
                       (xx + yy) % 256], -1).astype(np.uint8)
    px, w, h, c = mc.decode_jpeg(mc.encode_jpeg(smooth, subsample="420"))
    assert (h, w, c) == smooth.shape
    assert float(np.mean(np.abs(px.astype(int)
                                - smooth.astype(int)))) < 2.0


def test_jpeg_rejects_arithmetic_and_lossless():
    """Arithmetic-coded (SOF9) and lossless (SOF3) processes stay
    UnsupportedMedia — PIL fall-through territory, never a silent
    wrong decode. (Progressive SOF2 decodes natively since r10.)"""
    blob = bytearray(mc.encode_jpeg(
        np.zeros((8, 8, 3), dtype=np.uint8)))
    sof = blob.index(b"\xff\xc0")
    for marker in (0xC9, 0xC3, 0xCB):
        bad = bytearray(blob)
        bad[sof + 1] = marker
        with pytest.raises(mc.UnsupportedMedia, match="non-baseline"):
            mc.decode_jpeg(bytes(bad))
    with pytest.raises(mc.UnsupportedMedia, match="SOI"):
        mc.decode_jpeg(b"not a jpeg at all")


def test_jpeg_progressive_matches_baseline_exactly():
    """r9 verdict #5 'Done' criterion: progressive fixtures decode to
    the SAME pixels as an equivalent baseline encode. Both encoders
    share the forward DCT/quantize path, so the decode must be
    bit-for-bit identical — any deviation is a decoder bug, not
    rounding. Shapes cover 4:4:4, 4:2:0 (including a width where the
    luma non-interleaved grid is smaller than the MCU-padded grid),
    grayscale (single-component non-interleaved DC scan), smooth
    gradients (EOB-run heavy), sparse spikes (ZRL paths), and coarse
    quantization (long zero runs)."""
    rng = np.random.RandomState(7)
    cases = [
        (rng.randint(0, 256, (16, 16, 3)).astype(np.uint8), "444", 1),
        (rng.randint(0, 256, (24, 17, 3)).astype(np.uint8), "420", 1),
        (rng.randint(0, 256, (9, 13)).astype(np.uint8), "444", 1),
        (rng.randint(0, 256, (120, 77, 3)).astype(np.uint8), "420", 16),
        (np.full((40, 40), 128, np.uint8), "444", 4),
    ]
    sp = np.zeros((48, 48, 3), np.uint8)
    sp[10, 10] = 255
    sp[40, 20] = 200
    cases.append((sp, "444", 2))
    for px, sub, qs in cases:
        base = mc.decode_jpeg(mc.encode_jpeg(
            px, subsample=sub, quant_scale=qs))
        prog = mc.decode_jpeg(mc.encode_jpeg_progressive(
            px, subsample=sub, quant_scale=qs))
        assert base[1:] == prog[1:]
        assert np.array_equal(base[0], prog[0]), (px.shape, sub, qs)


def test_jpeg_progressive_pil_parity_when_installed():
    """Skip-if-no-PIL: an independent decoder must agree with ours on
    our progressive output (validates the scan script + bit order, not
    just self-consistency)."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    rng = np.random.RandomState(23)
    img = rng.randint(0, 256, size=(24, 33, 3)).astype(np.uint8)
    blob = mc.encode_jpeg_progressive(img)
    ours, _, _, _ = mc.decode_jpeg(blob)
    theirs = np.asarray(PIL.open(io.BytesIO(blob)).convert("RGB"))
    assert int(np.max(np.abs(ours.astype(int)
                             - theirs.astype(int)))) <= 2


def test_jpeg_progressive_truncated_and_bomb():
    """The progressive path shares the baseline error surface: a
    truncated multi-scan stream raises UnsupportedMedia, and the SOF2
    dimension gate fires before any coefficient allocation."""
    blob = bytearray(mc.encode_jpeg_progressive(
        _gradient(16, 16, 3)))
    # cut mid-scan (well past the first SOS)
    first_sos = bytes(blob).index(b"\xff\xda")
    with pytest.raises(mc.UnsupportedMedia):
        mc.decode_jpeg(bytes(blob[:first_sos + 20]))
    sof = bytes(blob).index(b"\xff\xc2")
    blob[sof + 5:sof + 9] = b"\xff\xff\xff\xff"
    with pytest.raises(mc.UnsupportedMedia, match="ceiling"):
        mc.decode_jpeg(bytes(blob))


def test_jpeg_progressive_pairs_with_baseline_twin(spark):
    """The media-dedup surface treats a progressive re-encode like any
    other twin: it pairs with its baseline sibling at hamming 0 through
    image_near_duplicates' real decoder path."""
    grad = _gradient(32, 48, 3)
    other = 255 - _gradient(32, 48, 3)[:, ::-1]
    media = spark.createDataFrame(
        [(1, mc.encode_jpeg(grad)), (2, mc.encode_jpeg_progressive(grad)),
         (3, mc.encode_jpeg_progressive(other))],
        "media_id long, content binary")
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in multimodal.image_near_duplicates(
                 media, max_hamming=3, bands=4).collect()}
    assert pairs == {(1, 2): 0}


def test_jpeg_phash_parity_with_png():
    """The ask-#4 'Done' criterion: the same pixels encoded as PNG and
    as (near-lossless) JPEG produce the SAME dHash64 — dHash compares
    neighboring 9x8-grid luminances, and gradient images keep those
    comparisons far from the +-2-level JPEG rounding noise."""
    grad = _gradient(32, 48, 3)
    png_px, _, _ = multimodal._decode_image_real(mc.encode_png(grad))
    jpg_px, _, _ = multimodal._decode_image_real(mc.encode_jpeg(grad))
    lum_png = png_px.astype(np.float64).mean(axis=2)
    lum_jpg = jpg_px.astype(np.float64).mean(axis=2)
    assert multimodal._dhash64(lum_png) == multimodal._dhash64(lum_jpg)


def test_jpeg_image_near_duplicates_mixed_formats(spark):
    """image_near_duplicates over a MIXED PNG/JPEG corpus: the JPEG
    re-encode of a PNG image pairs with it at hamming 0; a distinct
    image pairs with nothing."""
    grad = _gradient(32, 48, 3)
    other = 255 - _gradient(32, 48, 3)[:, ::-1]
    media = spark.createDataFrame(
        [(1, mc.encode_png(grad)), (2, mc.encode_jpeg(grad)),
         (3, mc.encode_jpeg(other))],
        "media_id long, content binary")
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in multimodal.image_near_duplicates(
                 media, max_hamming=3, bands=4).collect()}
    assert pairs == {(1, 2): 0}


def test_jpeg_pil_parity_when_installed():
    """Skip-if-no-PIL: PIL must agree with the native decoder on an
    encode_jpeg fixture (spec-valid file, custom Huffman tables)."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, size=(16, 24, 3)).astype(np.uint8)
    blob = mc.encode_jpeg(img)
    ours, _, _, _ = mc.decode_jpeg(blob)
    theirs = np.asarray(PIL.open(io.BytesIO(blob)).convert("RGB"))
    # both implement the same T.81 math; small IDCT rounding slack
    assert int(np.max(np.abs(ours.astype(int)
                             - theirs.astype(int)))) <= 2


def test_jpeg_structural_errors_surface_as_unsupported():
    """r8 review finding: malformed JPEG structure must raise
    UnsupportedMedia (the documented error surface that lets
    _decode_image_real fall through to PIL), never a raw
    KeyError/ValueError."""
    good = bytearray(mc.encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    # truncated inside SOF
    sof = bytes(good).index(b"\xff\xc0")
    with pytest.raises(mc.UnsupportedMedia):
        mc.decode_jpeg(bytes(good[:sof + 6]))
    # SOF references a quant table id that no DQT defined
    bad_tq = bytearray(good)
    # component spec starts 2(marker)+2(len)+6(prec,h,w,nc) into SOF;
    # third byte of each 3-byte component entry is the quant selector
    bad_tq[sof + 2 + 2 + 6 + 2] = 3
    with pytest.raises(mc.UnsupportedMedia):
        mc.decode_jpeg(bytes(bad_tq))
    # arbitrary garbage after SOI
    with pytest.raises(mc.UnsupportedMedia):
        mc.decode_jpeg(b"\xff\xd8\xff\xc0\x00\x02")


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
    marker; a legally padded file must decode identically
    (r8 review finding)."""
    rng = np.random.RandomState(21)
    img = rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    blob = mc.encode_jpeg(img)
    dqt = blob.index(b"\xff\xdb")
    padded = blob[:dqt] + b"\xff\xff\xff" + blob[dqt:]
    a, _, _, _ = mc.decode_jpeg(blob)
    b, _, _, _ = mc.decode_jpeg(padded)
    assert np.array_equal(a, b)


def test_crawl_media_extraction(spark, tmp_path):
    """crawl_media pulls a crawl's media responses into a media table
    the perceptual dedup stack reads directly: bodies byte-exact after
    header split (and after the WARC parser's HTTP payload
    normalization, so a gzipped image arrives as raw PNG), kinds from
    Content-Type with magic-byte sniffing for untyped and
    octet-stream-mislabelled responses, HTML filtered Catalyst-side;
    the same image at two URLs then surfaces as a media-dedup pair."""
    import gzip

    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline import multimodal
    from kiji_mapreduce_spark.pipeline.crawl import crawl_media
    from tests.test_io import _warc_record

    png = mc.encode_png(_gradient(16, 16, 3))
    wav = mc.encode_wav(
        (np.sin(np.arange(256) / 9.0) * 1500).astype(np.int16), 16000)
    vid = mc.encode_video([_gradient(8, 8, 3)] * 2)

    def resp(ct_header: bytes, payload: bytes) -> bytes:
        return b"HTTP/1.1 200 OK\r\n" + ct_header + b"\r\n" + payload

    recs = (
        _warc_record("response", "http://a.site.com/logo.png",
                     resp(b"Content-Type: image/png\r\n", png))
        + _warc_record("response", "http://b.other.org/copy.png",
                       resp(b"Content-Type: image/png\r\n", png))
        + _warc_record("response", "http://a.site.com/page.html",
                       resp(b"Content-Type: text/html\r\n",
                            b"<p>just words</p>"))
        + _warc_record("response", "http://a.site.com/sound",
                       resp(b"", wav))  # untyped: magic sniff
        + _warc_record("response", "http://a.site.com/clip.bin",
                       resp(b"Content-Type: application/octet-stream"
                            b"\r\n", vid))  # classic mislabel
        + _warc_record("response", "http://a.site.com/gz.png",
                       resp(b"Content-Type: image/png\r\n"
                            b"Content-Encoding: gzip\r\n",
                            gzip.compress(png)))
        + _warc_record("response", "http://a.site.com/readme.txt",
                       resp(b"Content-Type: application/octet-stream"
                            b"\r\n",
                            b"plain text notes served as octet stream "
                            b"with enough words to keep"))
        + _warc_record("response", "http://a.site.com/spec.txt",
                       resp(b"Content-Type: application/octet-stream"
                            b"\r\n",
                            b"the chunk header bytes WAVEfmt mark the "
                            b"format chunk in canonical WAVEfmt "
                            b"layouts"))
        + _warc_record("response", "http://a.site.com/blob.bin",
                       resp(b"Content-Type: application/octet-stream"
                            b"\r\n",
                            bytes(range(128, 256)) * 20))
        + _warc_record("response", "http://a.site.com/still.gif",
                       resp(b"",  # untyped GIF: sniffed via magic
                            mc.encode_gif([_gradient(8, 8, 3) % 4
                                           * 60])))
        + _warc_record("response", "http://a.site.com/anim.gif",
                       resp(b"Content-Type: image/gif\r\n",
                            mc.encode_gif([_gradient(8, 8, 3) % 4 * 60,
                                           _gradient(8, 8, 3) % 3
                                           * 80]))))
    d = tmp_path / "mediawarc"
    d.mkdir()
    (d / "a.warc").write_bytes(recs)

    records = read_warc_records(spark, [str(d)])
    media = crawl_media(records, spark)
    rows = {r.url: r for r in media.collect()}
    assert len(rows) == 7  # HTML + octet-stream TEXT never crossed
    assert rows["http://a.site.com/still.gif"].kind == "image"
    # animated gif (served image/gif, as the web does) -> video kind,
    # so the sampled-frame dedup stack owns it
    assert rows["http://a.site.com/anim.gif"].kind == "video"

    # the two halves split the responses: octet-stream TEXT (even text
    # mentioning "WAVEfmt ") stays a document; an octet-stream binary
    # with no media magic (blob.bin) is mojibake-gated out of docs
    # instead of becoming a garbage document; nothing lands in both
    from kiji_mapreduce_spark.pipeline.crawl import crawl_documents

    doc_urls = {r.url for r in crawl_documents(records, spark).collect()}
    assert "http://a.site.com/readme.txt" in doc_urls
    assert "http://a.site.com/spec.txt" in doc_urls
    assert "http://a.site.com/page.html" in doc_urls
    assert "http://a.site.com/blob.bin" not in doc_urls
    assert not doc_urls & set(rows)
    assert bytes(rows["http://a.site.com/logo.png"].content) == png
    assert bytes(rows["http://a.site.com/gz.png"].content) == png
    assert rows["http://a.site.com/logo.png"].kind == "image"
    assert rows["http://a.site.com/sound"].kind == "audio"
    assert rows["http://a.site.com/clip.bin"].kind == "video"
    assert rows["http://a.site.com/logo.png"].domain == "site.com"
    assert rows["http://b.other.org/copy.png"].domain == "other.org"

    # feeds the dedup stack directly (default media_id/content columns)
    pairs = multimodal.media_dedup_incremental(
        media.filter("kind = 'image'"), None, "image").collect()
    dup = {rows["http://a.site.com/logo.png"].media_id,
           rows["http://b.other.org/copy.png"].media_id}
    assert any({p.id_a, p.id_b} >= dup for p in pairs)


def test_crawl_rejects_still_encoded_bodies(spark, tmp_path):
    """A response whose body is still content-encoded after the WARC
    parser's normalization (brotli — no stock decoder; a multi-coding
    chain; a gzip body whose inflate failed) must NOT become a
    tag-stripped garbage document: the ingest rejects it loudly
    (encoding_rejects counts + the Observation counter), the
    bulk-import RECORDS_REJECTED discipline."""
    from pyspark.sql import Observation

    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline.crawl import (crawl_documents,
                                                     encoding_rejects)
    from tests.test_io import _warc_record

    def resp(extra: bytes, payload: bytes) -> bytes:
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + extra + b"\r\n" + payload)

    # fake brotli: high-entropy bytes that cast to tag-free mojibake —
    # exactly what tag-stripping real brotli would emit as "text"
    br_junk = bytes((i * 37 + 101) % 256 for i in range(400))
    recs = (
        _warc_record("response", "http://ok.example.com/a",
                     resp(b"", b"<p>plain page with enough words to "
                               b"keep around</p>"))
        + _warc_record("response", "http://br.example.com/b",
                       resp(b"Content-Encoding: br\r\n", br_junk))
        + _warc_record("response", "http://chain.example.com/c",
                       resp(b"Content-Encoding: gzip, br\r\n", br_junk))
        + _warc_record("response", "http://badgz.example.com/d",
                       resp(b"Content-Encoding: gzip\r\n",
                            b"\x1f\x8bnot actually gzip data here")))
    d = tmp_path / "brwarc"
    d.mkdir()
    (d / "a.warc").write_bytes(recs)
    records = read_warc_records(spark, [str(d)])

    obs = Observation("rej")
    docs = crawl_documents(records, spark, rejects_observation=obs)
    urls = {r.url for r in docs.collect()}
    assert urls == {"http://ok.example.com/a"}
    got = dict(obs.get)
    assert got["CRAWL_RECORDS_REJECTED_ENCODED"] == 3
    assert got["CRAWL_RESPONSES_SEEN"] == 4

    rej = {r.content_encoding: r.n_rejected
           for r in encoding_rejects(records).collect()}
    assert rej == {"br": 1, "gzip, br": 1, "gzip": 1}

    # a SUCCESSFULLY inflated gzip body keeps flowing as a document
    # (the parser strips its Content-Encoding header, so the gate
    # never sees it) — the reject predicate keys on the residual
    # header, not on the encoding having ever existed. Also kept:
    # an X-Content-Encoding proxy header (the gate regex is anchored
    # to line start) and the bogus-but-identity misconfigurations
    # real servers emit ('utf-8', 'none', 'binary')
    import gzip

    keepers = (
        _warc_record(
            "response", "http://gz.example.com/e",
            resp(b"Content-Encoding: gzip\r\n",
                 gzip.compress(b"<p>gzipped page with enough words "
                               b"to keep</p>")))
        + _warc_record(
            "response", "http://proxy.example.com/f",
            resp(b"X-Content-Encoding: gzip\r\n",
                 b"<p>plain body behind a proxy diagnostic "
                 b"header</p>"))
        + _warc_record(
            "response", "http://bogus.example.com/g",
            resp(b"Content-Encoding: UTF-8\r\n",
                 b"<p>identity body mislabeled with a charset</p>"))
        + _warc_record(
            "response", "http://bogus.example.com/h",
            resp(b"Content-Encoding: none\r\n",
                 b"<p>identity body mislabeled as none</p>"))
        # the OTHER common misconfig (ADVICE r11): a server that says
        # gzip but never compressed — the body is plain text with no
        # gzip magic and near-zero U+FFFD density, so the sniff keeps
        # it instead of silently dropping a perfectly good document
        + _warc_record(
            "response", "http://liar.example.com/i",
            resp(b"Content-Encoding: gzip\r\n",
                 b"<p>identity body a misconfigured server labeled "
                 b"gzip without compressing</p>")))
    (d / "b.warc").write_bytes(keepers)
    records2 = read_warc_records(spark, [str(d / "b.warc")])
    assert {r.url for r in crawl_documents(records2, spark).collect()} \
        == {"http://gz.example.com/e", "http://proxy.example.com/f",
            "http://bogus.example.com/g", "http://bogus.example.com/h",
            "http://liar.example.com/i"}
    assert encoding_rejects(records2).count() == 0


def test_gif_roundtrip_static_and_animated():
    """GIF codec round-trips: palette-sized RGB content is lossless
    (the format is palette-based), grayscale promotes to RGB, frame
    delays survive, >256 colors refuse loudly."""
    px = (_gradient(10, 7, 3) % 6 * 40).astype(np.uint8)
    back, w, h, c = mc.decode_gif(mc.encode_gif([px]))
    assert (back == px).all() and (w, h, c) == (7, 10, 3)

    gray = (_gradient(5, 8, 1) % 4 * 60).astype(np.uint8)
    back, _, _, _ = mc.decode_gif(mc.encode_gif([gray]))
    assert (back == np.repeat(gray, 3, axis=2)).all()

    frames = [px, px[::-1].copy(), np.roll(px, 3, axis=1)]
    got, micros = mc.decode_gif_frames(
        mc.encode_gif(frames, micros_per_frame=70000))
    assert micros == 70000 and len(got) == 3
    for a, b in zip(got, frames):
        assert (a == b).all()

    import pytest

    i = np.arange(32 * 32)
    rainbow = np.stack(
        [(i // 256).astype(np.uint8), (i % 256).astype(np.uint8),
         np.zeros_like(i, dtype=np.uint8)], axis=1).reshape(32, 32, 3)
    with pytest.raises(mc.UnsupportedMedia, match="256"):
        mc.encode_gif([rainbow])  # 1024 distinct colors


def test_gif_decodes_external_fixture_and_interlace():
    """Bytes from an INDEPENDENT encoder decode correctly (the
    ubiquitous 1x1 transparent GIF), and the 4-pass interlaced row
    order is undone (crafted by permuting rows into storage order and
    setting the interlace flag on our own encoder's output)."""
    import base64

    one = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7")
    f, w, h, c = mc.decode_gif(one)
    assert (w, h, c) == (1, 1, 3) and f.ravel().tolist() == [0, 0, 0]

    px = (_gradient(16, 5, 3) % 5 * 50).astype(np.uint8)
    # storage order of a 16-row interlace: rows 0,8 | 4,12 | 2,6,10,14
    # | 1,3,...,15
    order = ([r for r in range(0, 16, 8)] + [r for r in range(4, 16, 8)]
             + [r for r in range(2, 16, 4)] + [r for r in range(1, 16, 2)])
    blob = bytearray(mc.encode_gif([px[order]]))
    # image-descriptor packed byte = header(13) + GCT + GCE(8) + 9
    n_pal = 2 << (blob[10] & 0x07)
    packed_at = 13 + 3 * n_pal + 8 + 9
    assert blob[packed_at] == 0
    blob[packed_at] |= 0x40  # declare interlace
    back, _, _, _ = mc.decode_gif(bytes(blob))
    assert (back == px).all()


def test_gif_image_dedup_cross_format(spark):
    """The same pixels as PNG and GIF carry the same dHash — the
    perceptual dedup stack pairs across container formats."""
    from kiji_mapreduce_spark.pipeline import multimodal

    px = (_gradient(16, 16, 3) % 9 * 28).astype(np.uint8)
    other = (_gradient(16, 16, 3) % 3 * 80).astype(np.uint8)[::-1]
    df = spark.createDataFrame(
        [(1, mc.encode_png(px)), (2, mc.encode_gif([px])),
         (3, mc.encode_gif([other]))],
        "media_id long, content binary")
    pairs = multimodal.image_near_duplicates(
        df).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_gif_video_dedup_cross_container(spark):
    """An animated GIF and a Motion-PNG of the same frames are video
    near-duplicates: decode_video dispatches on magic, frame hashes
    align position-by-position across containers."""
    from kiji_mapreduce_spark.pipeline import multimodal

    frames = [(_gradient(12, 12, 3) % 5 * 48).astype(np.uint8)
              for _ in range(3)]
    frames[1] = frames[1][::-1].copy()
    frames[2] = np.roll(frames[2], 4, axis=0)
    # NOT a monotonic luminance transform of `frames` (dHash is
    # invariant to those): independent noise at 6 palette levels
    rng = np.random.RandomState(11)
    distinct = [(rng.randint(0, 6, (12, 12, 3)) * 48).astype(np.uint8)
                for _ in range(3)]
    df = spark.createDataFrame(
        [(1, mc.encode_video(frames)), (2, mc.encode_gif(frames)),
         (3, mc.encode_gif(distinct))],
        "media_id long, content binary")
    pairs = multimodal.video_near_duplicates(
        df, min_frames=3).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert pairs[0].n_matching == 3


def test_gif_roundtrip_property():
    """Property: any stack of same-size frames over a small palette
    round-trips through the GIF codec losslessly (palette content is
    exactly what the format represents)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25 * _FUZZ_MULT, deadline=None)
    @given(h=st.integers(1, 12), w=st.integers(1, 12),
           n=st.integers(1, 3), levels=st.integers(2, 6),
           seed=st.integers(0, 2**31 - 1))
    def _rt(h, w, n, levels, seed):
        rng = np.random.RandomState(seed)
        frames = [(rng.randint(0, levels, (h, w, 3))
                   * (255 // (levels - 1))).astype(np.uint8)
                  for _ in range(n)]
        got, _ = mc.decode_gif_frames(mc.encode_gif(frames))
        assert len(got) == n
        for a, b in zip(got, frames):
            assert (a == b).all()

    _rt()


def test_gif_truncation_and_disposal_error_surface():
    """Truncated GIF structures raise UnsupportedMedia (never a raw
    struct.error/IndexError — the PIL fall-through and skip_undecodable
    both key on the documented type), gif_frame_count NEVER raises on
    junk (it classifies crawl bytes), and disposal-3 only rejects when
    a later frame actually composes over the restored canvas."""
    import struct

    px = (_gradient(6, 6, 3) % 4 * 60).astype(np.uint8)
    blob = mc.encode_gif([px, px[::-1].copy()])

    # chop inside the image descriptor / at the min-code byte / mid
    # sub-block: all must surface as UnsupportedMedia
    for cut in (14, 20, len(blob) // 2, len(blob) - 3):
        with pytest.raises(mc.UnsupportedMedia):
            mc.decode_gif_frames(blob[:cut] if cut != 14 else
                                 b"GIF89a" + struct.pack("<HH", 1, 1)
                                 + bytes(3) + b"\x2c")

    # classification never raises, whatever the bytes
    assert mc.gif_frame_count(
        b"GIF89a" + struct.pack("<HH", 1, 1) + bytes(3) + b"\x2c") == 0
    assert mc.gif_frame_count(blob[:len(blob) // 2]) <= 2
    assert mc.gif_frame_count(b"\x00\x01junk") == 0

    # disposal 3 on the LAST frame never affects an output pixel ->
    # decodes; a frame composing AFTER a disposal-3 request -> raises
    def with_disposal3(frames, which):
        raw = bytearray(mc.encode_gif(frames))
        hits = -1
        for i in range(len(raw) - 2):
            if raw[i:i + 3] == b"\x21\xf9\x04":
                hits += 1
                if hits == which:
                    raw[i + 3] |= 3 << 2
                    return bytes(raw)
        raise AssertionError("GCE not found")

    last = with_disposal3([px, px[::-1].copy()], 1)
    frames, _ = mc.decode_gif_frames(last)
    assert len(frames) == 2
    first = with_disposal3([px, px[::-1].copy()], 0)
    # max_frames=1 stops before the second composition -> fine
    one, _ = mc.decode_gif_frames(first, max_frames=1)
    assert (one[0] == px).all()
    with pytest.raises(mc.UnsupportedMedia, match="restore to previous"):
        mc.decode_gif_frames(first)


def test_sample_frames_animated_gif(spark):
    """sample_frames parses animated GIFs through decode_video's magic
    dispatch: sampled frames come back as standalone PNGs carrying the
    composed pixels (here: frame 2 composed over frame 1's canvas with
    transparency honored via our own full-frame encoder — exact)."""
    frames = [(_gradient(6, 7, 3) % 5 * 50).astype(np.uint8)
              for _ in range(4)]
    frames[2] = frames[2][:, ::-1].copy()
    media = spark.createDataFrame(
        [(9, mc.encode_gif(frames))], "media_id long, content binary")
    rows = multimodal.sample_frames(
        media, every_n=2).collect()
    assert [(r.media_id, r.frame_no) for r in rows] == [(9, 0), (9, 2)]
    got2, _, _, _ = mc.decode_png(bytes(rows[1].frame_bytes))
    assert (got2 == frames[2]).all()


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data)))


def _pack_row(values: np.ndarray, depth: int) -> bytes:
    """Pack one row of sub-byte samples at `depth` bits each, MSB
    first, zero-padded to a byte boundary (PNG/spec packing)."""
    bits = np.unpackbits(
        values.astype(np.uint8)[:, None], axis=1)[:, -depth:]
    padded = np.concatenate(
        [bits.ravel(),
         np.zeros((-len(values) * depth) % 8, dtype=np.uint8)])
    return np.packbits(padded).tobytes()


def test_png_palette_decode_all_depths():
    """Palette PNGs (color type 3) decode natively at bit depths
    1/2/4/8: hand-built from the spec (packed scanlines, PLTE lookup),
    cross-checked against the GIF codec rendering the same pixels."""
    import struct
    import zlib

    chunk = _png_chunk
    palette = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250],
                        [40, 40, 40]], dtype=np.uint8)
    w, h = 9, 5
    rng = np.random.RandomState(17)
    for depth in (1, 2, 4, 8):
        n_idx = min(len(palette), 1 << depth)
        idx = rng.randint(0, n_idx, size=(h, w))
        rows = [b"\x00" + _pack_row(idx[y], depth) for y in range(h)]
        blob = (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth,
                                             3, 0, 0, 0))
                + chunk(b"PLTE", palette.tobytes())
                + chunk(b"IDAT", zlib.compress(b"".join(rows)))
                + chunk(b"IEND", b""))
        got, gw, gh, gc = mc.decode_png(blob)
        assert (gw, gh, gc) == (w, h, 3)
        assert (got == palette[idx]).all(), f"depth {depth}"
        # same pixels through the GIF codec: identical RGB
        gif_px, _, _, _ = mc.decode_gif(mc.encode_gif([palette[idx]]))
        assert (gif_px == got).all()

    # missing PLTE and 16-bit stay loud
    import pytest

    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
           + chunk(b"IEND", b""))
    with pytest.raises(mc.UnsupportedMedia, match="PLTE"):
        mc.decode_png(bad)


def test_png_adam7_interlace_decode():
    """Adam7-interlaced PNGs decode natively: seven independently
    filtered sub-images scatter back onto the pixel grid. Built by
    hand from the spec with filter 2 (Up) on later rows of every pass,
    which only decodes right if the filter's `prev` row resets PER
    PASS; covered for truecolor and for 4-bit palette content."""
    import struct
    import zlib

    chunk = _png_chunk
    passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    # truecolor 8-bit, 10x9: every pass non-empty, ceil-edge widths
    px = _gradient(9, 10, 3)
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        sub = px[y0::dy, x0::dx].reshape(len(range(y0, 9, dy)), -1)
        prev = np.zeros(sub.shape[1], dtype=np.int32)
        for i, row in enumerate(sub.astype(np.int32)):
            if i == 0:
                raw += b"\x00" + row.astype(np.uint8).tobytes()
            else:  # Up filter: stored = cur - prev (mod 256)
                raw += b"\x02" + ((row - prev) & 0xFF) \
                    .astype(np.uint8).tobytes()
            prev = row
    blob = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 10, 9, 8, 2,
                                         0, 0, 1))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))
    got, w, h, c = mc.decode_png(blob)
    assert (w, h, c) == (10, 9, 3)
    assert (got == px).all()

    # 4-bit palette + interlace: packed sub-byte scanlines per pass
    pal = np.array([[i * 16, 255 - i * 16, i] for i in range(16)],
                   dtype=np.uint8)
    idx = (np.arange(7 * 6) % 16).reshape(6, 7).astype(np.uint8)
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        sub = idx[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw += b"\x00" + _pack_row(row, 4)
    blob = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 6, 4, 3,
                                         0, 0, 1))
            + chunk(b"PLTE", pal.tobytes())
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))
    got, w, h, c = mc.decode_png(blob)
    assert (w, h, c) == (7, 6, 3)
    assert (got == pal[idx]).all()


def test_png_subbyte_grayscale_decode():
    """1/2/4-bit grayscale PNGs (B/W scans, old web graphics) decode
    natively with the spec's exact sample scaling (255/(2^d-1) is an
    integer for all three depths)."""
    import struct
    import zlib

    rng = np.random.RandomState(23)
    w, h = 11, 4
    for depth in (1, 2, 4):
        levels = 1 << depth
        vals = rng.randint(0, levels, size=(h, w))
        raw = b"".join(b"\x00" + _pack_row(vals[y], depth)
                       for y in range(h))
        blob = (b"\x89PNG\r\n\x1a\n"
                + _png_chunk(b"IHDR", struct.pack(
                    ">IIBBBBB", w, h, depth, 0, 0, 0, 0))
                + _png_chunk(b"IDAT", zlib.compress(raw))
                + _png_chunk(b"IEND", b""))
        got, gw, gh, gc = mc.decode_png(blob)
        assert (gw, gh, gc) == (w, h, 1)
        assert (got[:, :, 0] == vals * (255 // (levels - 1))).all(), \
            f"depth {depth}"


def test_png_16bit_decode_high_byte():
    """16-bit PNGs decode to their big-endian high bytes — the
    faithful uint8 rendering (what PIL's RGB convert applies) — with
    the filter unit at the spec's 2 bytes per sample (exercised via a
    Sub-filtered row)."""
    import struct
    import zlib

    rng = np.random.RandomState(5)
    for ctype_png, ch in ((0, 1), (2, 3)):
        w, h = 6, 3
        hi = rng.randint(0, 256, size=(h, w * ch)).astype(np.uint8)
        lo = rng.randint(0, 256, size=(h, w * ch)).astype(np.uint8)
        raw16 = np.empty((h, w * ch * 2), dtype=np.uint8)
        raw16[:, 0::2], raw16[:, 1::2] = hi, lo
        bpp = ch * 2
        rows = [b"\x00" + raw16[0].tobytes(),
                b"\x02" + ((raw16[1].astype(np.int32)
                            - raw16[0]) & 0xFF)
                .astype(np.uint8).tobytes()]
        sub = raw16[2].astype(np.int32)
        left = np.concatenate([np.zeros(bpp, np.int32), sub[:-bpp]])
        rows.append(b"\x01" + ((sub - left) & 0xFF)
                    .astype(np.uint8).tobytes())
        blob = (b"\x89PNG\r\n\x1a\n"
                + _png_chunk(b"IHDR", struct.pack(
                    ">IIBBBBB", w, h, 16, ctype_png, 0, 0, 0))
                + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
                + _png_chunk(b"IEND", b""))
        got, gw, gh, gc = mc.decode_png(blob)
        assert (gw, gh, gc) == (w, h, ch)
        assert (got == hi.reshape(h, w, ch)).all(), f"type {ctype_png}"


def test_png_corrupt_and_bomb_error_surface():
    """Signed-but-corrupt PNGs surface as UnsupportedMedia, never raw
    zlib.error/struct.error (callers' skip_undecodable and the PIL
    fall-through key on the type), and a tiny blob declaring absurd
    IHDR dimensions hits the scanline ceiling instead of inflating
    gigabytes; an IDAT stream longer than the declared dimensions
    allow is a mismatch, not a giant allocation."""
    import struct
    import zlib

    sig = b"\x89PNG\r\n\x1a\n"
    with pytest.raises(mc.UnsupportedMedia):  # truncated IHDR
        mc.decode_png(sig + _png_chunk(b"IHDR", b"\x00\x01"))
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2,
                                           0, 0, 0))
    with pytest.raises(mc.UnsupportedMedia):  # garbage IDAT
        mc.decode_png(sig + ihdr + _png_chunk(b"IDAT", b"not zlib")
                      + _png_chunk(b"IEND", b""))
    with pytest.raises(mc.UnsupportedMedia):  # empty IDAT
        mc.decode_png(sig + ihdr + _png_chunk(b"IEND", b""))

    huge = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 100_000,
                                           100_000, 8, 6, 0, 0, 0))
    with pytest.raises(mc.UnsupportedMedia, match="ceiling"):
        mc.decode_png(sig + huge
                      + _png_chunk(b"IDAT", zlib.compress(b"\x00"))
                      + _png_chunk(b"IEND", b""))

    # stream inflating past the declared dimensions: mismatch, capped
    over = zlib.compress(b"\x00" * (4 * (4 * 3 + 1) + 500))
    with pytest.raises(mc.UnsupportedMedia, match="mismatch"):
        mc.decode_png(sig + ihdr + _png_chunk(b"IDAT", over)
                      + _png_chunk(b"IEND", b""))


def test_jpeg_decompression_bomb_rejected():
    """A crafted SOF declaring 65535x65535x3 must raise UnsupportedMedia
    BEFORE the scan stage allocates its ~100 GiB of float64 planes (r8
    ADVICE / r9 verdict #2): same 1 GiB ceiling class as PNG's
    _MAX_PNG_BYTES and the HTTP inflate cap."""
    blob = bytearray(mc.encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    sof = blob.index(b"\xff\xc0")
    # SOF payload: len(2) prec(1) h(2) w(2) nc(1) — rewrite h and w
    blob[sof + 5:sof + 9] = b"\xff\xff\xff\xff"
    with pytest.raises(mc.UnsupportedMedia, match="ceiling"):
        mc.decode_jpeg(bytes(blob))
    # zero dimensions are rejected too, not decoded to empty pixels
    blob[sof + 5:sof + 9] = b"\x00\x00\x00\x08"
    with pytest.raises(mc.UnsupportedMedia, match="zero frame"):
        mc.decode_jpeg(bytes(blob))


def test_gif_decompression_bomb_rejected():
    """A 13-byte GIF header declaring a 65535x65535 logical screen must
    raise before the canvas/index allocations (~12.9 GiB canvas alone)."""
    blob = bytearray(mc.encode_gif([np.zeros((4, 4, 3), dtype=np.uint8)]))
    blob[6:10] = b"\xff\xff\xff\xff"  # W=65535, H=65535 little-endian
    with pytest.raises(mc.UnsupportedMedia, match="ceiling"):
        mc.decode_gif_frames(bytes(blob))


def test_gif_cumulative_frame_bomb_rejected(monkeypatch):
    """Composed frames accumulate canvas-sized copies: thousands of tiny
    frame descriptors on a modest canvas are the same bomb spread across
    frames. Exercised with a lowered ceiling so the test stays small."""
    frames = [np.zeros((8, 8, 3), dtype=np.uint8),
              np.full((8, 8, 3), 60, dtype=np.uint8),
              np.full((8, 8, 3), 120, dtype=np.uint8)]
    blob = mc.encode_gif(frames)
    # above the 8x8 screen gate (8*8*8=512) but below three composed
    # frames (3 * 8*8*3 = 576)
    monkeypatch.setattr(mc, "_MAX_DECODED_BYTES", 520)
    with pytest.raises(mc.UnsupportedMedia, match="at frame 3"):
        mc.decode_gif_frames(blob)
    # under the cap the same blob still decodes
    monkeypatch.setattr(mc, "_MAX_DECODED_BYTES", 1 << 30)
    got, _ = mc.decode_gif_frames(blob)
    assert len(got) == 3


def test_bomb_blobs_route_through_skip_undecodable(spark):
    """The ceiling raises UnsupportedMedia, so phash64 with
    skip_undecodable=True drops bomb blobs like any other hostile bytes
    instead of killing the executor that owns the archive."""
    from kiji_mapreduce_spark.pipeline import multimodal as mm

    jpeg = bytearray(mc.encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    sof = jpeg.index(b"\xff\xc0")
    jpeg[sof + 5:sof + 9] = b"\xff\xff\xff\xff"
    gif = bytearray(mc.encode_gif([np.zeros((4, 4, 3), dtype=np.uint8)]))
    gif[6:10] = b"\xff\xff\xff\xff"
    px = _gradient(16, 16, 3)
    media = spark.createDataFrame(
        [(1, mc.encode_png(px)), (2, bytes(jpeg)), (3, bytes(gif))],
        "media_id long, content binary")
    rows = mm.phash64(
        media, skip_undecodable=True).collect()
    by_id = {r["media_id"]: r["phash"] for r in rows}
    assert by_id[1] is not None
    assert by_id[2] is None and by_id[3] is None


def test_jpeg_zero_sampling_factor_is_unsupported():
    """r10 review: a SOF component with sampling factor 0 previously
    sailed through the scan (zero blocks) and died in reconstruction
    with a raw ZeroDivisionError, escaping the UnsupportedMedia-only
    error surface. Factors outside T.81's 1..4 now reject at parse."""
    blob = bytearray(mc.encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    sof = bytes(blob).index(b"\xff\xc0")
    # component entries start at sof+2+2+6; byte 1 of each entry is hv
    for hv in (0x10, 0x01, 0x50, 0x15):
        bad = bytearray(blob)
        bad[sof + 2 + 2 + 6 + 1] = hv
        with pytest.raises(mc.UnsupportedMedia, match="sampling factor"):
            mc.decode_jpeg(bytes(bad))


def test_jpeg_hostile_dc_category_is_unsupported():
    """r10 review: a hostile DHT can define DC symbols > 11 (T.81's
    8-bit ceiling); decoding one must raise UnsupportedMedia rather
    than walk the predictor out of int32."""
    # alternating extreme blocks force category-11 DC diffs
    px = np.zeros((8, 32), dtype=np.uint8)
    px[:, 8:16] = 255
    px[:, 24:32] = 255
    blob = bytearray(mc.encode_jpeg(px))
    # first DHT (DC class): symbols follow marker+len+tc byte+16 counts
    dht = bytes(blob).index(b"\xff\xc4")
    syms_at = dht + 2 + 2 + 1 + 16
    assert blob[syms_at + 11] == 11  # the category-11 symbol slot
    blob[syms_at + 11] = 32
    with pytest.raises(mc.UnsupportedMedia, match="DC category"):
        mc.decode_jpeg(bytes(blob))


# -- WebP lossless (VP8L) --


def test_webp_distance_map_matches_published_table():
    """The 2D distance map is GENERATED from the spec's window/order
    rule (dx in [-7, 8], dy in [0, 7], by squared distance, larger dy
    first, positive dx first); pin the generation against the
    published table's opening rows and the exact 120-entry count."""
    m = mc._VP8L_DIST_MAP
    assert len(m) == 120 and len(set(m)) == 120
    assert m[:22] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2),
        (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0),
        (1, 3), (-1, 3), (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2),
        (-3, 2)]
    # window bounds
    assert all(-7 <= dx <= 8 and 0 <= dy <= 7 for dx, dy in m)


def test_webp_lossless_roundtrip_exact():
    """VP8L is lossless: decode(encode(px)) must be bit-exact, across
    RGB/RGBA/gray shapes and with and without LZ77 references."""
    rng = np.random.RandomState(5)
    for shape in [(8, 8, 3), (17, 23, 3), (16, 16, 4), (9, 40), (1, 1, 3)]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        for lz in (True, False):
            out, w, h, c = mc.decode_webp(
                mc.encode_webp_lossless(px, use_lz77=lz))
            exp = px if px.ndim == 3 else np.repeat(
                px[:, :, None], 3, axis=2)
            assert (h, w) == exp.shape[:2] and c == exp.shape[2]
            assert np.array_equal(out, exp), (shape, lz)
    # smooth content exercises long left/above runs (2D distance codes)
    grad = np.repeat(np.arange(64, dtype=np.uint8)[None, :], 48, 0)
    img = np.stack([grad, np.flipud(grad), grad // 2], -1)
    out, _, _, _ = mc.decode_webp(mc.encode_webp_lossless(img))
    assert np.array_equal(out, img)


def test_webp_all_transforms_roundtrip():
    """Every decoder transform inverse is exercised through the
    encoder's forward implementations: subtract-green, all 14
    predictor modes (uniform tiles), and color indexing with 1/2/4-bit
    pixel bundling and the unbundled 8-bit path."""
    rng = np.random.RandomState(6)
    noise = rng.randint(0, 256, (17, 23, 3)).astype(np.uint8)
    for kw in ([{"transform": "subtract-green"}]
               + [{"transform": "predictor", "predictor_mode": m,
                   "tile_bits": 2} for m in range(14)]):
        out, _, _, _ = mc.decode_webp(mc.encode_webp_lossless(noise, **kw))
        assert np.array_equal(out, noise), kw
    for n_colors, shape in ((2, (15, 31)), (4, (9, 9, 3)),
                            (11, (12, 19, 3)), (200, (16, 16, 3))):
        vals = rng.randint(0, 256, size=(n_colors, 3)).astype(np.uint8)
        idx = rng.randint(0, n_colors, size=shape[:2])
        px = vals[idx]
        if len(shape) == 2:
            px = px[:, :, 0]
        out, _, _, c = mc.decode_webp(
            mc.encode_webp_lossless(px, transform="palette"))
        exp = px if px.ndim == 3 else np.repeat(px[:, :, None], 3, 2)
        assert np.array_equal(out, exp), (n_colors, shape)


def test_webp_color_transform_inverse():
    """The color transform has no encoder shorthand; hand-build a
    stream (forward transform computed per spec: residual red/blue
    de-correlated from green via signed (t*c)>>5 deltas) and check the
    decoder restores the original pixels."""
    rng = np.random.RandomState(7)
    h, w = 9, 13
    px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    g2r, g2b, r2b = 23, 199, 130  # arbitrary int8 multipliers

    def s8(v):
        return v - 256 if v >= 128 else v

    def delta(t, c):
        return (s8(t) * s8(c)) >> 5

    residual = []
    for y in range(h):
        for x in range(w):
            r0, g0, b0 = (int(px[y, x, 0]), int(px[y, x, 1]),
                          int(px[y, x, 2]))
            rr = (r0 - delta(g2r, g0)) & 0xFF
            bb = (b0 - delta(g2b, g0) - delta(r2b, r0)) & 0xFF
            residual.append((0xFF << 24) | (rr << 16) | (g0 << 8) | bb)

    wtr = mc._Vp8lBitWriter()
    wtr.write(w - 1, 14)
    wtr.write(h - 1, 14)
    wtr.write(0, 1)
    wtr.write(0, 3)
    wtr.write(1, 1)  # a transform follows
    wtr.write(1, 2)  # color transform
    bits = 4
    wtr.write(bits - 2, 3)
    cte = (0xFF << 24) | (r2b << 16) | (g2b << 8) | g2r
    mc._vp8l_write_spatial(wtr, [cte], 1, 1, False)  # one 16px tile
    wtr.write(0, 1)  # end of transforms
    mc._vp8l_write_spatial(wtr, residual, w, h, True)
    payload = b"\x2f" + wtr.finish()
    chunk = b"VP8L" + __import__("struct").pack("<I", len(payload)) \
        + payload + (b"\x00" if len(payload) & 1 else b"")
    blob = b"RIFF" + __import__("struct").pack(
        "<I", 4 + len(chunk)) + b"WEBP" + chunk
    out, _, _, c = mc.decode_webp(blob)
    assert c == 3 and np.array_equal(out, px)


def test_webp_error_surface():
    """Lossy VP8, truncation, bad signature, and the dimension bomb
    gate all surface as UnsupportedMedia."""
    import struct as _s

    px = _gradient(8, 8, 3)
    good = mc.encode_webp_lossless(px)
    with pytest.raises(mc.UnsupportedMedia, match="RIFF"):
        mc.decode_webp(b"not webp at all....")
    lossy = bytearray(good)
    lossy[12:16] = b"VP8 "
    with pytest.raises(mc.UnsupportedMedia, match="lossy"):
        mc.decode_webp(bytes(lossy))
    with pytest.raises(mc.UnsupportedMedia):
        mc.decode_webp(good[:30])
    # bomb: 16384x16384 from 4 header bytes
    sig = good.index(b"\x2f")
    wtr = mc._Vp8lBitWriter()
    wtr.write(16383, 14)
    wtr.write(16383, 14)
    wtr.write(0, 4)
    bomb = bytearray(good)
    bomb[sig + 1:sig + 5] = wtr.finish()[:4]
    with pytest.raises(mc.UnsupportedMedia, match="ceiling"):
        mc.decode_webp(bytes(bomb))


def test_webp_vp8x_container_walk():
    """A VP8L chunk behind a VP8X extended header still decodes (the
    chunk walk skips unknown/extended chunks, honoring even padding)."""
    import struct as _s

    px = _gradient(8, 9, 3)
    base = mc.encode_webp_lossless(px)
    vp8l_chunk = base[12:]
    vp8x = b"VP8X" + _s.pack("<I", 10) + b"\x00" * 10
    exif = b"EXIF" + _s.pack("<I", 3) + b"abc\x00"  # odd size, padded
    body = vp8x + exif + vp8l_chunk
    blob = b"RIFF" + _s.pack("<I", 4 + len(body)) + b"WEBP" + body
    out, w, h, c = mc.decode_webp(blob)
    assert (h, w, c) == (8, 9, 3) and np.array_equal(out, px)


def test_webp_image_near_duplicates_cross_format(spark):
    """A lossless WebP twin of a PNG image pairs at hamming 0 through
    the real-decoder dedup path (lossless -> identical pixels ->
    identical dHash); a distinct image pairs with nothing."""
    grad = _gradient(32, 48, 3)
    other = 255 - _gradient(32, 48, 3)[:, ::-1]
    media = spark.createDataFrame(
        [(1, mc.encode_png(grad)),
         (2, mc.encode_webp_lossless(grad)),
         (3, mc.encode_webp_lossless(other, transform="predictor"))],
        "media_id long, content binary")
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in multimodal.image_near_duplicates(
                 media, max_hamming=3, bands=4).collect()}
    assert pairs == {(1, 2): 0}


def test_crawl_media_sniffs_webp(spark, tmp_path):
    """An untyped (octet-stream) WebP response in a crawl is sniffed as
    kind=image by the RIFF/WEBP prefix and flows through crawl_media;
    a prose page MENTIONING 'WEBPVP8' stays a document candidate (the
    textual probe only widens the media net, and the Python prefix
    sniff drops the false positive)."""
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline import crawl
    from tests.test_io import _warc_record

    webp = mc.encode_webp_lossless(_gradient(8, 8, 3))
    body = b"HTTP/1.1 200 OK\r\nContent-Type: " \
        b"application/octet-stream\r\n\r\n" + webp
    prose = (b"HTTP/1.1 200 OK\r\nContent-Type: "
             b"application/octet-stream\r\n\r\n"
             b"the WEBPVP8 tag marks lossy webp bitstreams in the "
             b"wild " * 4)
    (d := tmp_path / "arch").mkdir()
    (d / "a.warc").write_bytes(
        _warc_record("response", "http://x/img", body)
        + _warc_record("response", "http://x/doc", prose))
    recs = read_warc_records(spark, str(d))
    media = crawl.crawl_media(recs, spark).collect()
    assert [(r.kind, r.url) for r in media] == [("image", "http://x/img")]
    assert bytes(media[0].content) == webp


def test_webp_simple_huffman_codes_decode():
    """Hand-built stream exercising the 'simple' Huffman code forms
    our fixture encoder never emits: a zero-bit single-symbol code
    (constant red/blue/alpha) and a 1-bit two-symbol code (green),
    including the first-symbol-is-1-bit spelling."""
    import struct as _s

    w, h = 11, 5
    g0, g1 = 1, 200  # two greens; g0 <= 1 so it can use the 1-bit form
    wtr = mc._Vp8lBitWriter()
    wtr.write(w - 1, 14)
    wtr.write(h - 1, 14)
    wtr.write(0, 1)
    wtr.write(0, 3)
    wtr.write(0, 1)  # no transforms
    wtr.write(0, 1)  # no cache
    wtr.write(0, 1)  # no meta

    def simple1(sym):
        wtr.write(1, 1)  # simple
        wtr.write(0, 1)  # one symbol
        wtr.write(1, 1)  # 8-bit spelling
        wtr.write(sym, 8)

    # green: two symbols, first via the 1-bit spelling
    wtr.write(1, 1)
    wtr.write(1, 1)  # two symbols
    wtr.write(0, 1)  # first symbol is 1 bit
    wtr.write(g0, 1)
    wtr.write(g1, 8)
    simple1(30)   # red
    simple1(40)   # blue
    simple1(255)  # alpha
    simple1(0)    # distance (never used)
    pattern = [(x + y) % 2 for y in range(h) for x in range(w)]
    for bit in pattern:
        wtr.write(bit, 1)  # green code: 0 -> g0, 1 -> g1
    payload = b"\x2f" + wtr.finish()
    chunk = b"VP8L" + _s.pack("<I", len(payload)) + payload \
        + (b"\x00" if len(payload) & 1 else b"")
    blob = b"RIFF" + _s.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    out, ww, hh, c = mc.decode_webp(blob)
    assert (hh, ww, c) == (h, w, 3)
    exp_green = np.array(pattern).reshape(h, w)
    assert np.array_equal(out[:, :, 1],
                          np.where(exp_green == 0, g0, g1))
    assert int(out[:, :, 0].min()) == int(out[:, :, 0].max()) == 30
    assert int(out[:, :, 2].min()) == int(out[:, :, 2].max()) == 40


def test_webp_animated_roundtrip_and_video_dispatch():
    """Animated WebP (VP8X + ANIM + lossless ANMF frames) round-trips
    frame-exactly; decode_video dispatches on the RIFF magic; the
    frame count walk classifies animated vs static without decoding."""
    rng = np.random.RandomState(9)
    frames = [rng.randint(0, 256, (10, 14, 3)).astype(np.uint8)
              for _ in range(3)]
    blob = mc.encode_webp_anim(frames, 70_000)
    got, micros = mc.decode_webp_frames(blob)
    assert micros == 70_000 and len(got) == 3
    assert all(np.array_equal(a, b) for a, b in zip(got, frames))
    got2, _ = mc.decode_video(blob)
    assert all(np.array_equal(a, b) for a, b in zip(got2, frames))
    assert mc.webp_frame_count(blob) == 2  # stop_at cap
    assert mc.webp_frame_count(
        mc.encode_webp_lossless(frames[0])) == 1
    assert mc.webp_frame_count(b"junk") == 0
    # the still-image surface shows the first composed frame
    first, w, h, c = mc.decode_webp(blob)
    assert (h, w, c) == (10, 14, 3)
    assert np.array_equal(first, frames[0])
    # max_frames honors early exit (kind sniffing / previews)
    one, _ = mc.decode_webp_frames(blob, max_frames=1)
    assert len(one) == 1


def test_webp_pixel_cost_ceiling():
    """The VP8L gate is a PIXEL ceiling, not just a byte ceiling: the
    decode is symbol-serial Python, so a header that passes the 1 GiB
    byte model (8192x4096 = 268 MB of uint32) must still be rejected
    — a gate-passing hostile image used to cost the owning executor
    on the order of an hour of CPU and ~7 GiB of PyLong churn."""
    px = _gradient(8, 8, 3)
    good = mc.encode_webp_lossless(px)
    sig = good.index(b"\x2f")
    wtr = mc._Vp8lBitWriter()
    wtr.write(8191, 14)  # 8192 wide
    wtr.write(4095, 14)  # x4096 tall = 33.5 MPix, fine by byte math
    wtr.write(0, 4)
    bomb = bytearray(good)
    bomb[sig + 1:sig + 5] = wtr.finish()[:4]
    with pytest.raises(mc.UnsupportedMedia, match="MPix"):
        mc.decode_webp(bytes(bomb))


def test_crawl_animated_webp_declared_image_is_video(spark, tmp_path):
    """An animated WebP served with Content-Type: image/webp (how the
    web serves virtually all of them) is re-sniffed like animated GIF
    and lands in the video dedup surface; a STILL WebP under the same
    declared type stays kind=image."""
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline import crawl
    from tests.test_io import _warc_record

    rng = np.random.RandomState(3)
    frames = [rng.randint(0, 256, (6, 6, 3)).astype(np.uint8)
              for _ in range(2)]
    anim = mc.encode_webp_anim(frames)
    still = mc.encode_webp_lossless(frames[0])
    hdr = b"HTTP/1.1 200 OK\r\nContent-Type: image/webp\r\n\r\n"
    (d := tmp_path / "arch").mkdir()
    (d / "a.warc").write_bytes(
        _warc_record("response", "http://x/anim", hdr + anim)
        + _warc_record("response", "http://x/still", hdr + still))
    recs = read_warc_records(spark, str(d))
    media = crawl.crawl_media(recs, spark).collect()
    assert sorted((r.url, r.kind) for r in media) == [
        ("http://x/anim", "video"), ("http://x/still", "image")]


def test_flac_roundtrip_all_modes():
    """Spec-valid FLAC from the fixture encoder round-trips exactly:
    fixed-predictor + rice and verbatim subframes, constant-block
    auto-detection, all four stereo decorrelations, and enough frames
    to exercise multi-byte UTF-8-coded frame numbers."""
    rng = np.random.RandomState(11)
    x = (rng.randint(-2000, 2000, 9000)
         + np.arange(9000) // 3).astype(np.int16)
    for mode in ("fixed", "verbatim"):
        got, rate, w = mc.decode_flac(
            mc.encode_flac(x, 44100, mode=mode, blocksize=4096))
        assert (rate, w) == (44100, 2)
        assert np.array_equal(got[:, 0], x), mode
    st = np.stack([x[:5000],
                   (x[:5000] // 2 + 100).astype(np.int16)], axis=1)
    for stereo in ("independent", "left-side", "right-side",
                   "mid-side"):
        got, _, _ = mc.decode_flac(
            mc.encode_flac(st, 22050, stereo=stereo))
        assert np.array_equal(got, st), stereo
    const = np.full(300, -7, dtype=np.int16)
    got, _, _ = mc.decode_flac(mc.encode_flac(const, 8000))
    assert np.array_equal(got[:, 0], const)
    # 160 frames of 256 -> frame indexes past 127 (2-byte coding)
    long = (np.arange(40960) % 251 - 125).astype(np.int16)
    got, _, _ = mc.decode_flac(
        mc.encode_flac(long, 16000, blocksize=256))
    assert np.array_equal(got[:, 0], long)


def _flac_file(streaminfo_bits, frame_payloads):
    """Assemble magic + STREAMINFO + pre-built frames (adding each
    frame's CRC-16 footer)."""
    out = bytearray(b"fLaC")
    info = streaminfo_bits.finish() + b"\x00" * 16
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info
    for frame in frame_payloads:
        out += frame + mc._crc16(frame).to_bytes(2, "big")
    return bytes(out)


def _flac_streaminfo(rate, ch, bps, total):
    si = mc._MsbBitWriter()
    si.write(16, 16)
    si.write(65535, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(ch - 1, 3)
    si.write(bps - 1, 5)
    si.write(total, 36)
    return si


def _flac_frame_header(bs, chan_code, bps_code, idx=0):
    wtr = mc._MsbBitWriter()
    wtr.write(0x3FFE, 14)
    wtr.write(0, 2)
    wtr.write(7, 4)       # blocksize: 16-bit field below
    wtr.write(0, 4)       # rate from STREAMINFO
    wtr.write(chan_code, 4)
    wtr.write(bps_code, 3)
    wtr.write(0, 1)
    mc._flac_write_utf8(wtr, idx)
    wtr.write(bs - 1, 16)
    hdr = wtr.finish()
    out = mc._MsbBitWriter()
    out.out += hdr
    out.write(mc._crc8(hdr), 8)
    return out


def test_flac_lpc_partitioned_rice_decodes():
    """Hand-built stream exercising decoder-only paths the fixture
    encoder never emits: an LPC subframe (order 2, shift 1), a 5-bit
    rice parameter method, partition order 1, and an
    escape-to-raw-binary second partition."""
    bs, warm, coefs, shift = 8, [100, 110], [3, -1], 1
    res = [5, -3, -20, 31, 0, 7]
    wtr = _flac_frame_header(bs, 0, 4)
    wtr.write(0, 1)          # subframe pad
    wtr.write(32 | (2 - 1), 6)  # LPC order 2
    wtr.write(0, 1)          # no wasted bits
    for s in warm:
        wtr.write(s, 16)
    wtr.write(5 - 1, 4)      # coefficient precision 5
    wtr.write(shift, 5)
    for c in coefs:
        wtr.write(c, 5)
    wtr.write(1, 2)          # residual method 1: 5-bit params
    wtr.write(1, 4)          # partition order 1 -> 2 partitions
    wtr.write(3, 5)          # partition 1: rice param 3
    for r in res[:2]:
        z = (r << 1) if r >= 0 else ((-r) << 1) - 1
        wtr.write(0, z >> 3)
        wtr.write(1, 1)
        wtr.write(z & 7, 3)
    wtr.write(31, 5)         # partition 2: escape
    wtr.write(6, 5)          # 6-bit raw residuals
    for r in res[2:]:
        wtr.write(r, 6)
    wtr.pad_to_byte()
    blob = _flac_file(_flac_streaminfo(8000, 1, 16, bs),
                      [bytes(wtr.out)])
    got, rate, w = mc.decode_flac(blob)
    exp = list(warm)
    for r in res:
        exp.append(((coefs[0] * exp[-1] + coefs[1] * exp[-2])
                    >> shift) + r)
    assert (rate, w) == (8000, 2)
    assert got[:, 0].tolist() == exp


def test_flac_wasted_bits_and_8bit_contract():
    """A verbatim subframe with one wasted bit shifts back up on
    decode; an 8-bit stream returns unsigned samples (the decode_wav
    WAV convention)."""
    vals = [2, 4, -6, 8]
    wtr = _flac_frame_header(4, 0, 4)
    wtr.write(0, 1)
    wtr.write(1, 6)   # verbatim
    wtr.write(1, 1)   # wasted-bits flag
    wtr.write(1, 1)   # unary 0 -> 1 wasted bit
    for v in vals:
        wtr.write(v >> 1, 15)
    wtr.pad_to_byte()
    got, _, w = mc.decode_flac(
        _flac_file(_flac_streaminfo(8000, 1, 16, 4), [bytes(wtr.out)]))
    assert w == 2 and got[:, 0].tolist() == vals
    wtr = _flac_frame_header(3, 0, 1)  # bps code 1 = 8-bit
    wtr.write(0, 1)
    wtr.write(0, 6)   # constant
    wtr.write(0, 1)
    wtr.write(-5, 8)
    wtr.pad_to_byte()
    got, _, w = mc.decode_flac(
        _flac_file(_flac_streaminfo(8000, 1, 8, 3), [bytes(wtr.out)]))
    assert w == 1 and got.dtype == np.uint8
    assert got[:, 0].tolist() == [123, 123, 123]


def test_flac_error_surface():
    """Bad magic, header corruption (CRC-8), truncation, and the
    declared-length bomb gate all surface as UnsupportedMedia."""
    x = np.arange(500, dtype=np.int16)
    good = mc.encode_flac(x, 8000)
    with pytest.raises(mc.UnsupportedMedia, match="magic"):
        mc.decode_flac(b"not flac")
    with pytest.raises(mc.UnsupportedMedia):
        mc.decode_flac(good[:60])
    corrupt = bytearray(good)
    corrupt[45] ^= 0x04  # inside the first frame header
    with pytest.raises(mc.UnsupportedMedia):
        mc.decode_flac(bytes(corrupt))
    bomb = _flac_file(
        _flac_streaminfo(8000, 2, 16, (1 << 36) - 1), [])
    with pytest.raises(mc.UnsupportedMedia, match="ceiling"):
        mc.decode_flac(bomb)
    with pytest.raises(mc.UnsupportedMedia, match="WAV, FLAC"):
        mc.decode_audio(b"\xff\xfbID3 mp3 junk")


def test_flac_audio_dedup_cross_format(spark):
    """The SAME clip encoded as WAV and as FLAC lands on the SAME
    energy fingerprint — lossless decode feeding a decode-invariant
    feature — so cross-format re-encodes dedup naturally."""
    t = np.arange(6500)
    base = (np.sin(t / 7.0) * 12000
            + np.sin(t / 31.0) * 6000).astype(np.int16)
    other = (np.sign(np.sin(t / 3.0)) * 15000).astype(np.int16)
    media = spark.createDataFrame(
        [(1, mc.encode_wav(base, 16000)),
         (2, mc.encode_flac(base, 16000)),
         (3, mc.encode_flac(other, 16000, mode="verbatim"))],
        "media_id long, content binary")
    codes = {r.media_id: r.afp for r in multimodal.audio_fingerprint64(
        media).collect()}
    assert codes[1] == codes[2]
    assert codes[3] != codes[1]
    pairs = [(r.id_a, r.id_b) for r in multimodal.audio_near_duplicates(
        media, max_hamming=3, bands=4).collect()]
    assert (1, 2) in pairs and not any(3 in p for p in pairs)


def test_crawl_media_sniffs_flac(spark, tmp_path):
    """An untyped FLAC response is sniffed kind=audio by the fLaC
    magic; prose mentioning 'fLaC' stays a document candidate."""
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline import crawl
    from tests.test_io import _warc_record

    flac = mc.encode_flac(
        (np.arange(400) % 97 - 48).astype(np.int16), 8000)
    body = b"HTTP/1.1 200 OK\r\nContent-Type: " \
        b"application/octet-stream\r\n\r\n" + flac
    prose = (b"HTTP/1.1 200 OK\r\nContent-Type: "
             b"application/octet-stream\r\n\r\n"
             b"the fLaC marker opens every flac stream " * 6)
    (d := tmp_path / "arch").mkdir()
    (d / "a.warc").write_bytes(
        _warc_record("response", "http://x/clip", body)
        + _warc_record("response", "http://x/doc", prose))
    recs = read_warc_records(spark, str(d))
    media = crawl.crawl_media(recs, spark).collect()
    assert [(r.kind, r.url) for r in media] == [("audio",
                                                 "http://x/clip")]
    assert bytes(media[0].content) == flac


def _mp4_box(t: bytes, payload: bytes) -> bytes:
    import struct as _s
    return _s.pack(">I", 8 + len(payload)) + t + payload


def mp4_fixture(video: bool = True, audio: bool = True) -> bytes:
    """Minimal spec-shaped ISO-BMFF: ftyp + moov(mvhd, trak(s))."""
    import struct as _s
    mvhd = _mp4_box(b"mvhd", bytes(12)
                    + _s.pack(">II", 1000, 2500) + bytes(80))
    traks = b""
    if video:
        vse = (_s.pack(">I", 86) + b"avc1" + bytes(24)
               + _s.pack(">HH", 640, 360) + bytes(50))
        stsd = _mp4_box(b"stsd", _s.pack(">II", 0, 1) + vse)
        traks += _mp4_box(b"trak", _mp4_box(b"mdia", _mp4_box(
            b"hdlr", bytes(8) + b"vide" + bytes(12))
            + _mp4_box(b"minf", _mp4_box(b"stbl", stsd))))
    if audio:
        ase = (_s.pack(">I", 36) + b"mp4a" + bytes(16)
               + _s.pack(">HH", 2, 16) + bytes(4)
               + _s.pack(">I", 44100 << 16))
        stsd = _mp4_box(b"stsd", _s.pack(">II", 0, 1) + ase)
        traks += _mp4_box(b"trak", _mp4_box(b"mdia", _mp4_box(
            b"hdlr", bytes(8) + b"soun" + bytes(12))
            + _mp4_box(b"minf", _mp4_box(b"stbl", stsd))))
    return _mp4_box(b"ftyp", b"isom" + bytes(8)) \
        + _mp4_box(b"moov", mvhd + traks)


def _ebml_elem(eid: bytes, payload: bytes) -> bytes:
    n = len(payload)
    for ln in range(1, 5):
        if n < (1 << (7 * ln)) - 1:
            size = ((1 << (8 - ln)) << (8 * (ln - 1)) | n
                    ).to_bytes(ln, "big")
            return eid + size + payload
    raise ValueError("payload too large for fixture")


def webm_fixture() -> bytes:
    """Minimal WebM: EBML header (DocType) + Segment(Info, Tracks)."""
    import struct as _s
    e = _ebml_elem
    hdr = e(b"\x1a\x45\xdf\xa3", e(b"\x42\x82", b"webm"))
    info = e(b"\x15\x49\xa9\x66",
             e(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big"))
             + e(b"\x44\x89", _s.pack(">f", 7500.0)))
    video = e(b"\xe0", e(b"\xb0", (1280).to_bytes(2, "big"))
              + e(b"\xba", (720).to_bytes(2, "big")))
    trk = e(b"\xae", e(b"\x83", b"\x01") + e(b"\x86", b"V_VP9")
            + video)
    return hdr + e(b"\x18\x53\x80\x67",
                   info + e(b"\x16\x54\xae\x6b", trk))


def mp3_fixture(n_frames: int = 10) -> bytes:
    """ID3v2 header + CBR MPEG-1 Layer III frames (128 kbps, 44.1
    kHz, stereo)."""
    import struct as _s
    flen = 1152 * 128 * 1000 // 8 // 44100
    frame = _s.pack(">I", 0xFFFB9000) + bytes(flen - 4)
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + bytes(10)
    return id3 + frame * n_frames


def ogg_opus_fixture() -> bytes:
    """Two Ogg pages: OpusHead ID packet + a data page whose granule
    (48 kHz) implies a 2 s duration."""
    import struct as _s

    def page(granule, payload, seq):
        return (b"OggS\x00\x00" + _s.pack("<q", granule) + bytes(4)
                + _s.pack("<I", seq) + bytes(4)
                + bytes([1, len(payload)]) + payload)

    opus_id = (b"OpusHead\x01\x02\x00\x00"
               + _s.pack("<I", 48000) + bytes(3))
    return page(-1, opus_id, 0) + page(96000, b"\x00" * 10, 1)


def test_probe_media_containers():
    """Header-only probes across every container: the ffmpeg-territory
    four (MP4/WebM/MP3/Ogg) yield kind/codec/duration/dims with no
    frame decode, the natively-decodable formats probe through the
    same surface, junk returns None (probing never raises)."""
    p = mc.probe_media(mp4_fixture())
    assert (p["container"], p["kind"], p["codec"]) == \
        ("mp4", "video", "avc1")
    assert p["duration_ms"] == 2500.0
    assert (p["width"], p["height"]) == (640, 360)
    assert (p["sample_rate"], p["channels"]) == (44100, 2)
    p = mc.probe_media(mp4_fixture(video=False))
    assert (p["kind"], p["codec"], p["sample_rate"]) == \
        ("audio", "mp4a", 44100)
    p = mc.probe_media(webm_fixture())
    assert (p["container"], p["codec"], p["duration_ms"],
            p["width"], p["height"]) == \
        ("webm", "V_VP9", 7500.0, 1280, 720)
    p = mc.probe_media(mp3_fixture())
    assert (p["container"], p["kind"], p["sample_rate"],
            p["channels"]) == ("mp3", "audio", 44100, 2)
    assert abs(p["duration_ms"] - 10 * 1152 * 1000 / 44100) < 1e-6
    assert p["n_frames"] == 10
    p = mc.probe_media(ogg_opus_fixture())
    assert (p["codec"], p["channels"], p["duration_ms"]) == \
        ("opus", 2, 2000.0)
    p = mc.probe_media(mc.encode_webp_lossless(_gradient(7, 11, 3)))
    assert (p["container"], p["codec"], p["width"], p["height"]) == \
        ("webp", "vp8l", 11, 7)
    assert p["n_frames"] == 1
    px = _gradient(5, 5, 3)
    p = mc.probe_media(mc.encode_webp_anim([px, px, px]))
    assert (p["container"], p["kind"], p["n_frames"]) == \
        ("webp", "video", 3)
    p = mc.probe_media(mc.encode_flac(
        np.zeros(4000, np.int16), 8000))
    assert (p["container"], p["duration_ms"]) == ("flac", 500.0)
    assert mc.probe_media(b"prose about ftyp and OggS boxes") is None
    assert mc.probe_media(b"") is None
    # hostile: truncated headers must not raise
    for blob in (mp4_fixture()[:20], webm_fixture()[:9],
                 mp3_fixture()[:12], ogg_opus_fixture()[:30]):
        mc.probe_media(blob)


def test_media_probe_dataframe(spark):
    """multimodal.media_probe maps a mixed-container corpus to the
    typed metadata table; unrecognized bytes land with NULL container
    instead of failing the job."""
    rows = [(1, mp4_fixture()), (2, webm_fixture()),
            (3, mp3_fixture()), (4, ogg_opus_fixture()),
            (5, mc.encode_png(_gradient(4, 6, 3))),
            (6, b"\x00\x01junk"), (7, None)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r for r in
           multimodal.media_probe(df).collect()}
    assert got[1].container == "mp4" and got[1].width == 640
    assert got[2].container == "webm" and got[2].duration_ms == 7500.0
    assert got[3].container == "mp3" and got[3].kind == "audio"
    assert got[4].codec == "opus" and got[4].sample_rate == 48000
    assert got[5].container == "png" and got[5].kind == "image"
    assert got[5].n_frames is None  # no cheap header-side count
    assert got[6].container is None and got[7].container is None


def test_crawl_media_sniffs_ffmpeg_containers(spark, tmp_path):
    """Untyped MP4 / WebM / Ogg / MP3 responses are classified by the
    container probe and land in the media table with the right kind
    (their codec payloads stay undecodable-by-design); prose naming
    'ftyp' and 'OggS' stays a document candidate."""
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline import crawl
    from tests.test_io import _warc_record

    hdr = (b"HTTP/1.1 200 OK\r\nContent-Type: "
           b"application/octet-stream\r\n\r\n")
    prose = hdr + (b"the ftyp box opens mp4; OggS frames ogg pages "
                   b"and ID3 tags label mp3 " * 4)
    (d := tmp_path / "arch").mkdir()
    (d / "a.warc").write_bytes(
        _warc_record("response", "http://x/v.mp4", hdr + mp4_fixture())
        + _warc_record("response", "http://x/v.webm",
                       hdr + webm_fixture())
        + _warc_record("response", "http://x/a.mp3",
                       hdr + mp3_fixture())
        + _warc_record("response", "http://x/a.ogg",
                       hdr + ogg_opus_fixture())
        + _warc_record("response", "http://x/doc", prose))
    recs = read_warc_records(spark, str(d))
    media = {r.url: r.kind
             for r in crawl.crawl_media(recs, spark).collect()}
    assert media == {"http://x/v.mp4": "video",
                     "http://x/v.webm": "video",
                     "http://x/a.mp3": "audio",
                     "http://x/a.ogg": "audio"}


def test_webp_anim_blend_and_dispose():
    """Hand-built two-frame animation: a sub-rect second frame with
    alpha blending over the first, then disposal to background —
    the compositing rules the fixture encoder doesn't use."""
    import struct as _s

    def u24(v):
        return bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF))

    base = np.full((8, 8, 3), 40, np.uint8)
    # second frame: 4x4 patch at (2,2) with alpha 128 over the canvas
    patch = np.zeros((4, 4, 4), np.uint8)
    patch[:, :, 0] = 200
    patch[:, :, 3] = 128
    f1 = mc.encode_webp_lossless(base)[12:]
    f2 = mc.encode_webp_lossless(patch)[12:]
    body = bytearray()
    body += b"VP8X" + _s.pack("<I", 10) + bytes([0x02]) \
        + b"\x00\x00\x00" + u24(7) + u24(7)
    body += b"ANIM" + _s.pack("<I", 6) + b"\x00\x00\x00\xff" \
        + _s.pack("<H", 0)
    p1 = u24(0) + u24(0) + u24(7) + u24(7) + u24(50) + bytes([0x02]) + f1
    body += b"ANMF" + _s.pack("<I", len(p1)) + p1 \
        + (b"\x00" if len(p1) & 1 else b"")
    # frame 2 at (2,2): blend (B=0), dispose to background (D=1)
    p2 = u24(1) + u24(1) + u24(3) + u24(3) + u24(50) + bytes([0x01]) + f2
    body += b"ANMF" + _s.pack("<I", len(p2)) + p2 \
        + (b"\x00" if len(p2) & 1 else b"")
    blob = b"RIFF" + _s.pack("<I", 4 + len(body)) + b"WEBP" + bytes(body)
    frames, _ = mc.decode_webp_frames(blob)
    assert len(frames) == 2
    assert np.array_equal(frames[0], base)
    # blended patch: r = (200*128 + 40*127 + 127)//255 = 120
    assert frames[1][2, 2, 0] == (200 * 128 + 40 * 127 + 127) // 255
    assert frames[1][0, 0, 0] == 40  # outside the patch: untouched
    # green/blue: (0*128 + 40*127 + 127)//255
    assert frames[1][2, 2, 1] == (40 * 127 + 127) // 255


def test_webp_video_near_duplicates_cross_container(spark):
    """An animated-WebP re-encode of a Motion-PNG clip pairs at
    hamming 0 through the frame-aligned video dedup path; a distinct
    clip pairs with nothing."""
    frames = [_gradient(16, 16, 3), 255 - _gradient(16, 16, 3),
              _gradient(16, 16, 3)[:, ::-1]]
    distinct = [255 - f[::-1] for f in frames]
    media = spark.createDataFrame(
        [(1, mc.encode_video(frames)), (2, mc.encode_webp_anim(frames)),
         (3, mc.encode_webp_anim(distinct))],
        "media_id long, content binary")
    pairs = {(r.id_a, r.id_b): r.n_matching
             for r in multimodal.video_near_duplicates(
                 media, max_hamming=3, bands=4, min_frames=1).collect()}
    assert pairs == {(1, 2): 3}


def test_crawl_sniffs_animated_webp_as_video(spark, tmp_path):
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline import crawl
    from tests.test_io import _warc_record

    anim = mc.encode_webp_anim(
        [_gradient(8, 8, 3), 255 - _gradient(8, 8, 3)])
    still = mc.encode_webp_lossless(_gradient(8, 8, 3))
    hdr = b"HTTP/1.1 200 OK\r\nContent-Type: " \
        b"application/octet-stream\r\n\r\n"
    (d := tmp_path / "arch").mkdir()
    (d / "a.warc").write_bytes(
        _warc_record("response", "http://x/anim", hdr + anim)
        + _warc_record("response", "http://x/still", hdr + still))
    media = crawl.crawl_media(
        read_warc_records(spark, str(d)), spark).collect()
    kinds = {r.url: r.kind for r in media}
    assert kinds == {"http://x/anim": "video",
                     "http://x/still": "image"}


def test_pack_webdataset_roundtrip(spark, tmp_path):
    """Samples -> tar shards -> samples survives byte-exactly; shard
    count follows the size budget; shard bytes are deterministic
    (zeroed mtimes + sorted members) so replays re-produce identical
    shards; object-store out_dir raises loudly."""
    from kiji_mapreduce_spark.io.inputs import read_webdataset

    rows = [(f"{i:06d}", {"jpg": bytes([i]) * (50 + i),
                          "cls": str(i % 5).encode()})
            for i in range(30)]
    df = spark.createDataFrame(rows,
                               "key string, sample map<string,binary>")
    out = tmp_path / "wds"
    manifest = multimodal.write_webdataset(
        df, str(out), shard_bytes=20_000)
    assert sum(m["n_samples"] for m in manifest) == 30
    assert len(manifest) >= 2  # size budget forced multiple shards
    back = {r.key: {k: bytes(v) for k, v in r.sample.items()}
            for r in read_webdataset(spark, str(out)).collect()}
    assert back == {k: s for k, s in rows}
    # determinism: re-pack and compare shard bytes
    s1 = {r.shard_id: bytes(r.content)
          for r in multimodal.pack_webdataset(
              df, shard_bytes=20_000).collect()}
    s2 = {r.shard_id: bytes(r.content)
          for r in multimodal.pack_webdataset(
              df, shard_bytes=20_000).collect()}
    assert s1 == s2
    with pytest.raises(NotImplementedError, match="mounted"):
        multimodal.write_webdataset(df, "s3a://bucket/wds")


def _ogg_mux(packets, with_continuation=False):
    """Minimal Ogg muxer with correct lacing (255-runs continue a
    packet); optionally splits the last packet across a page boundary
    to exercise the continuation flag path."""
    import struct as _s

    def page(segs_payloads, seq, header_type=0):
        lacing = bytearray()
        body = bytearray()
        for data, terminated in segs_payloads:
            q, r = divmod(len(data), 255)
            lacing += b"\xff" * q
            if terminated or r:
                lacing.append(r)
            body += data
        return (b"OggS\x00" + bytes([header_type])
                + _s.pack("<q", 0) + bytes(4) + _s.pack("<I", seq)
                + bytes(4) + bytes([len(lacing)]) + bytes(lacing)
                + bytes(body))

    if not with_continuation:
        return b"".join(
            page([(p, True)], i) for i, p in enumerate(packets))
    # split the final packet: first half unterminated (lacing ends on
    # 0xff), second half on a continuation page
    head, tail = packets[:-1], packets[-1]
    cut = 255 * (1 + len(tail) // 510)
    out = b"".join(page([(p, True)], i) for i, p in enumerate(head))
    out += page([(tail[:cut], False)], len(head))
    out += page([(tail[cut:], True)], len(head) + 1, header_type=0x01)
    return out


def test_ogg_flac_decodes_natively():
    """FLAC-in-Ogg (RFC 5334): strip the 9-byte mapping prefix,
    reassemble packets (including one spanning pages via 255-lacing
    continuation), and the native FLAC layer decodes it; Vorbis/Opus
    Ogg streams stay loud UnsupportedMedia."""
    import struct as _s

    x = (np.arange(6000) % 401 - 200).astype(np.int16)
    native = mc.encode_flac(x, 16000, blocksize=4096)
    # native = fLaC + STREAMINFO block (4 + 4 + 34 + 16 MD5? no:
    # block hdr 4 + 34 body) ... header prefix ends where frames start
    si_end = 8 + int.from_bytes(native[5:8], "big")
    first = b"\x7fFLAC\x01\x00" + _s.pack(">H", 0) + native[:si_end]
    frames = native[si_end:]
    for cont in (False, True):
        blob = _ogg_mux([first, frames], with_continuation=cont)
        got, rate, w = mc.decode_ogg_flac(blob)
        assert (rate, w) == (16000, 2)
        assert np.array_equal(got[:, 0], x), f"continuation={cont}"
        got2, _, _ = mc.decode_audio(blob)
        assert np.array_equal(got2, got)
    with pytest.raises(mc.UnsupportedMedia, match="ffmpeg"):
        mc.decode_audio(ogg_opus_fixture())


def test_probe_review_regressions():
    """r10 review regressions: a truncated moov-at-end .m4a keeps
    kind=audio by brand; an off-length EBML float skips the field
    instead of voiding the probe; Ogg Vorbis/Opus raise
    DecoderNotAvailable (missing decoder), not the corrupt-bytes
    class, from the audio feature gates."""
    import struct as _s

    # ftyp M4A followed by mdat only (moov cut off by the crawl)
    m4a_cut = _mp4_box(b"ftyp", b"M4A " + bytes(8)) \
        + _mp4_box(b"mdat", b"\x00" * 32)
    p = mc.probe_media(m4a_cut)
    assert p["container"] == "mp4" and p["kind"] == "audio"
    # same truncation with a generic brand stays the video default
    iso_cut = _mp4_box(b"ftyp", b"isom" + bytes(8)) \
        + _mp4_box(b"mdat", b"\x00" * 32)
    assert mc.probe_media(iso_cut)["kind"] == "video"
    # WebM with a 2-byte (off-spec) Duration element: field skipped,
    # container/codec/dims still reported
    e = _ebml_elem
    hdr = e(b"\x1a\x45\xdf\xa3", e(b"\x42\x82", b"webm"))
    info = e(b"\x15\x49\xa9\x66", e(b"\x44\x89", b"\x01\x02"))
    video = e(b"\xe0", e(b"\xb0", (64).to_bytes(2, "big"))
              + e(b"\xba", (48).to_bytes(2, "big")))
    trk = e(b"\xae", e(b"\x83", b"\x01") + e(b"\x86", b"V_VP8")
            + video)
    blob = hdr + e(b"\x18\x53\x80\x67",
                   info + e(b"\x16\x54\xae\x6b", trk))
    p = mc.probe_media(blob)
    assert p["codec"] == "V_VP8" and p["width"] == 64
    assert p["duration_ms"] is None


def test_probe_heif_avif_image_kind():
    """HEIF/AVIF still images (ISO-BMFF with a meta/hdlr 'pict', no
    moov trak) probe as kind=image — both through the meta-box hdlr
    walk and through the ftyp brand fallback for moov-less cuts —
    instead of defaulting to 'video' and landing image bytes where
    decode always fails (ADVICE r10)."""
    # full shape: ftyp + meta(FullBox: version/flags, then hdlr pict)
    hdlr = _mp4_box(b"hdlr", bytes(4) + bytes(4) + b"pict" + bytes(12))
    heif = _mp4_box(b"ftyp", b"mif2" + bytes(8)) \
        + _mp4_box(b"meta", bytes(4) + hdlr)
    p = mc.probe_media(heif)
    assert p["container"] == "mp4" and p["kind"] == "image"
    # brand fallback: meta cut off by the crawl, brand still decides
    for brand in (b"avif", b"heic", b"heix", b"mif1", b"msf1"):
        cut = _mp4_box(b"ftyp", brand + bytes(8)) \
            + _mp4_box(b"mdat", bytes(16))
        assert mc.probe_media(cut)["kind"] == "image", brand
    # a video brand still defaults to video
    assert mc.probe_media(
        _mp4_box(b"ftyp", b"isom" + bytes(8))
        + _mp4_box(b"mdat", bytes(16)))["kind"] == "video"


def test_probe_fragmented_mp4_duration():
    """Fragmented MP4 (DASH/CMAF) duration, header-only (r11 verdict
    optional ask): init segments carry mvhd duration 0 (or all-ones
    'unknown') and the real total in mvex/mehd; ftyp-less media
    segments lead with styp/sidx/moof and carry per-subsegment
    durations in sidx. Both resolve; tfdt alone adds nothing (it is a
    start timestamp) and stays unused."""
    import struct as _s

    def fullbox(t, ver, payload):
        return _mp4_box(t, bytes([ver]) + bytes(3) + payload)

    # init segment: mvhd(scale=1000, dur=0) + mvex/mehd(total=5000)
    mvhd = fullbox(b"mvhd", 0, bytes(8) + _s.pack(">II", 1000, 0)
                   + bytes(80))
    mehd = fullbox(b"mehd", 0, _s.pack(">I", 5000))
    init = _mp4_box(b"ftyp", b"isom" + bytes(8)) \
        + _mp4_box(b"moov", mvhd + _mp4_box(b"mvex", mehd))
    p = mc.probe_media(init)
    assert p["container"] == "mp4" and p["duration_ms"] == 5000.0

    # 64-bit mvhd with the all-ones unknown sentinel defers to mehd
    mvhd1 = fullbox(b"mvhd", 1, bytes(16)
                    + _s.pack(">IQ", 1000, (1 << 64) - 1) + bytes(80))
    init1 = _mp4_box(b"ftyp", b"isom" + bytes(8)) \
        + _mp4_box(b"moov", mvhd1 + _mp4_box(b"mvex",
                                             fullbox(b"mehd", 1,
                                                     _s.pack(">Q", 7500))))
    assert mc.probe_media(init1)["duration_ms"] == 7500.0

    # media segment: styp + sidx (timescale 90000, two refs of 90000
    # and 45000 units = 1500 ms) + moof/mdat stubs; no ftyp anywhere
    refs = (_s.pack(">II", 0, 90000) + _s.pack(">I", 0)
            + _s.pack(">II", 0, 45000) + _s.pack(">I", 0))
    sidx = fullbox(b"sidx", 0, _s.pack(">II", 1, 90000)
                   + _s.pack(">II", 0, 0)
                   + _s.pack(">HH", 0, 2) + refs)
    seg = _mp4_box(b"styp", b"msdh" + bytes(8)) + sidx \
        + _mp4_box(b"moof", _mp4_box(b"mfhd", bytes(8))) \
        + _mp4_box(b"mdat", bytes(16))
    p = mc.probe_media(seg)
    assert p["container"] == "mp4"
    assert p["duration_ms"] == 90000 * 1000.0 / 90000 \
        + 45000 * 1000.0 / 90000
    # sidx-leading (no styp) also probes
    assert mc.probe_media(sidx + _mp4_box(b"mdat", bytes(16)))[
        "duration_ms"] == 1500.0


def test_probe_sidx_hierarchical_and_undersized_mehd():
    """Review-pinned r12 probe edges: a hierarchical segment index
    (parent sidx whose references are TYPE 1 = child sidx boxes) must
    not double-count — only media (type 0) references sum; and an
    undersized mehd box is skipped, never read into the next box's
    bytes."""
    import struct as _s

    def fullbox(t, ver, payload):
        return _mp4_box(t, bytes([ver]) + bytes(3) + payload)

    def sidx(refs):
        body = _s.pack(">II", 1, 90000) + _s.pack(">II", 0, 0) \
            + _s.pack(">HH", 0, len(refs))
        for rtype, dur in refs:
            body += _s.pack(">I", (rtype << 31)) + _s.pack(">I", dur) \
                + _s.pack(">I", 0)
        return fullbox(b"sidx", 0, body)

    # parent indexes two children (type 1, durations covering both);
    # children re-report the same 30s+30s as media references
    parent = sidx([(1, 2700000), (1, 2700000)])  # 30s + 30s
    child1 = sidx([(0, 2700000)])
    child2 = sidx([(0, 2700000)])
    seg = _mp4_box(b"styp", b"msdh" + bytes(8)) \
        + parent + child1 + child2 + _mp4_box(b"mdat", bytes(8))
    p = mc.probe_media(seg)
    assert p["duration_ms"] == 60000.0  # not 120000

    # undersized mehd (version 1 needs 12 body bytes, has 0): skipped,
    # duration stays the mvhd's declared 0 rather than garbage read
    # from the next box's size/type bytes
    bad_mehd = fullbox(b"mehd", 1, b"")
    init = _mp4_box(b"ftyp", b"isom" + bytes(8)) \
        + _mp4_box(b"moov",
                   fullbox(b"mvhd", 0, bytes(8)
                           + _s.pack(">II", 1000, 0) + bytes(80))
                   + _mp4_box(b"mvex", bad_mehd + _mp4_box(
                       b"mdat", bytes(16))))
    assert mc.probe_media(init)["duration_ms"] == 0.0


def test_probe_quicktime_plain_meta_box():
    """QuickTime-brand files carry a PLAIN meta box (no version/flags
    prefix); the ISO FullBox +4 skip misaligned the child scan there,
    so a QT moov/udta/meta subtree parsed as garbage sizes and its
    hdlr was forfeited (ADVICE r11). The walk now peeks where the
    first child would start and picks the offset — ISO meta keeps the
    +4 (test_probe_heif_avif_image_kind pins that side)."""
    import struct as _s

    # QT shape: ftyp(qt) + meta(PLAIN: children immediately) with the
    # hdlr first, as QuickTime writes it
    hdlr = _mp4_box(b"hdlr", bytes(4) + bytes(4) + b"pict" + bytes(12))
    qt = _mp4_box(b"ftyp", b"qt  " + bytes(8)) + _mp4_box(b"meta", hdlr)
    p = mc.probe_media(qt)
    assert p["container"] == "mp4" and p["kind"] == "image"
    # ambiguity guard: an ISO meta whose FIRST CHILD size bytes could
    # masquerade as a fourcc still takes the +4 (version/flags 0s are
    # never a plausible box), and a truncated meta body walks nothing
    # without raising
    trunc = _mp4_box(b"ftyp", b"qt  " + bytes(8)) + _mp4_box(b"meta",
                                                             b"\x00\x00")
    assert mc.probe_media(trunc) is not None
    # FullBox with nonzero version byte (still ISO): +4 preserved
    iso = _mp4_box(b"ftyp", b"mif2" + bytes(8)) \
        + _mp4_box(b"meta", b"\x01" + bytes(3) + hdlr)
    assert mc.probe_media(iso)["kind"] == "image"


def test_flac_cumulative_sample_bomb_rejected(monkeypatch):
    """A few-KB crafted FLAC (total=0 so the upfront gate is vacuous,
    then max-blocksize constant-subframe frames) trips the cumulative
    DECODED-SAMPLE ceiling — the honest cost model for a decoder whose
    samples are Python ints built by per-sample loops (ADVICE r10) —
    BEFORE the frames' subframes decode."""
    def frame(idx):
        wtr = _flac_frame_header(65535, 0, 4, idx=idx)
        wtr.write(0, 1)       # subframe pad bit
        wtr.write(0, 6)       # type: constant
        wtr.write(0, 1)       # no wasted bits
        wtr.write(1000, 16)   # the constant
        return wtr.finish()

    bomb = _flac_file(_flac_streaminfo(8000, 1, 16, 0),
                      [frame(0), frame(1), frame(2)])
    monkeypatch.setattr(mc, "_MAX_FLAC_SAMPLES", 100_000)
    with pytest.raises(mc.UnsupportedMedia, match="sample ceiling"):
        mc.decode_flac(bomb)
    # under the real ceiling the same stream decodes fine
    monkeypatch.setattr(mc, "_MAX_FLAC_SAMPLES", 1 << 26)
    got, rate, width = mc.decode_flac(bomb)
    assert got.shape == (3 * 65535, 1) and (got == 1000).all()


def test_vp8l_encoder_codes_are_kraft_complete():
    """The fixture encoder's fixed-shape canonical codes satisfy Kraft
    EQUALITY for every alphabet it emits (280/256/40) — a spec-valid
    COMPLETE code a conformant decoder (libwebp) accepts, not the flat
    incomplete code the off-by-one split produced (ADVICE r10)."""
    from fractions import Fraction

    for alphabet in (280, 256, 40):
        codes = mc._vp8l_encoder_code(alphabet)
        lengths = [codes[s][1] for s in range(alphabet)]
        assert sum(Fraction(1, 1 << ln) for ln in lengths) == 1, alphabet
        # and the code is prefix-free: canonical codes of a valid
        # length profile are, but pin it against regressions
        bits = sorted(format(c, f"0{ln}b") for s, (c, ln)
                      in codes.items() if s < alphabet)
        for a, b in zip(bits, bits[1:]):
            assert not b.startswith(a)


def test_audio_gate_classifies_ogg_vorbis_as_missing_decoder(spark):
    """An ordinary Ogg Vorbis clip through the real-decoder audio
    fingerprint is a MISSING-DECODER diagnosis (DecoderNotAvailable),
    not the hostile-bytes class — operators triage the two
    differently."""
    media = spark.createDataFrame(
        [(1, ogg_opus_fixture())], "media_id long, content binary")
    with pytest.raises(Exception, match="ffmpeg"):
        multimodal.audio_fingerprint64(
            media).collect()
    # and skip_undecodable still routes it to NULL like every other
    # undecodable blob
    rows = multimodal.audio_fingerprint64(
        media, skip_undecodable=True).collect()
    assert rows[0].afp is None


def test_wav_g711_and_deep_pcm_decode():
    """µ-law/A-law WAVs (telephony corpora; format tags 7/6) expand
    through the published G.711 tables — spot-checked against the
    spec's known values — and 24/32-bit PCM decodes sign-correctly."""
    import struct as _s

    def wav(tag, ch, rate, bits, data):
        ba = rate * ch * (bits // 8)
        fmt = _s.pack("<HHIIHH", tag, ch, rate, ba,
                      ch * (bits // 8), bits)
        return (b"RIFF" + _s.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + _s.pack("<I", 16) + fmt
                + b"data" + _s.pack("<I", len(data)) + data)

    # G.711 spec anchors: mu-law 0xFF -> +0, 0x7F -> -0, 0x00 ->
    # -32124 (max negative), 0x80 -> +32124; A-law 0x55 -> +8 (no
    # true zero), 0xD5 -> -8, 0xAA -> -32256 (max negative)
    got, rate, w = mc.decode_wav(
        wav(7, 1, 8000, 8, bytes([0xFF, 0x7F, 0x00, 0x80])))
    assert (rate, w) == (8000, 2)
    assert got[:, 0].tolist() == [0, 0, -32124, 32124]
    got, _, _ = mc.decode_wav(wav(6, 1, 8000, 8,
                                  bytes([0x55, 0xD5, 0xAA])))
    assert got[:, 0].tolist() == [8, -8, -32256]
    # stereo mu-law keeps channel interleave
    got, _, _ = mc.decode_wav(wav(7, 2, 8000, 8,
                                  bytes([0xFF, 0x00, 0xFF, 0x00])))
    assert got.shape == (2, 2) and got[0].tolist() == [0, -32124]
    # 24-bit PCM: +1, -1, min, max round through sign extension
    vals = [1, -1, -(1 << 23), (1 << 23) - 1]
    data = b"".join(v.to_bytes(3, "little", signed=True)
                    for v in vals)
    got, _, w = mc.decode_wav(wav(1, 1, 48000, 24, data))
    assert w == 3 and got[:, 0].tolist() == vals
    # 32-bit PCM
    data = b"".join(_s.pack("<i", v) for v in (7, -(1 << 31)))
    got, _, w = mc.decode_wav(wav(1, 1, 48000, 32, data))
    assert w == 4 and got[:, 0].tolist() == [7, -(1 << 31)]
    # audio features path accepts a mu-law clip end to end
    assert mc.decode_audio(
        wav(7, 1, 8000, 8, bytes(64)))[0].shape == (64, 1)


def test_bmp_decode_all_shapes():
    """BMP: 24-bit roundtrip via the fixture encoder, 32-bit with
    used and unused alpha, 8/4/1-bit palette, 16-bit 555 and
    BITFIELDS 565, RLE8 runs/absolute/EOL, top-down rows."""
    import struct as _s

    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, (7, 11, 3)).astype(np.uint8)
    out, w, h, c = mc.decode_bmp(mc.encode_bmp(px))
    assert (w, h, c) == (11, 7, 3) and np.array_equal(out, px)

    def bmp(bpp, w, h, data, compression=0, palette=b"",
            masks=b"", clr_used=0):
        info = _s.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, compression,
                       len(data), 0, 0, clr_used, 0)
        off = 54 + len(masks) + len(palette)
        hdr = b"BM" + _s.pack("<IHHI", off + len(data), 0, 0, off)
        return hdr + info + masks + palette + data

    # 32-bit, alpha carried (mixed values)
    row = bytes([10, 20, 30, 128, 40, 50, 60, 255])
    out, w, h, c = mc.decode_bmp(bmp(32, 2, 1, row))
    assert c == 4 and out[0, 0].tolist() == [30, 20, 10, 128]
    # 32-bit, alpha byte all zero -> opaque RGB
    row0 = bytes([10, 20, 30, 0, 40, 50, 60, 0])
    out, _, _, c = mc.decode_bmp(bmp(32, 2, 1, row0))
    assert c == 3 and out[0, 1].tolist() == [60, 50, 40]
    # 8-bit palette, bottom-up 2 rows
    pal = bytes([0, 0, 255, 0] + [0, 255, 0, 0] + [255, 0, 0, 0]
                + [0] * 4)
    data = bytes([0, 1, 0, 0]) + bytes([2, 2, 0, 0])  # stride 4
    out, _, _, _ = mc.decode_bmp(bmp(8, 2, 2, data, palette=pal,
                                     clr_used=4))
    assert out[0, 0].tolist() == [0, 0, 255]   # top row = file row 2
    assert out[1, 1].tolist() == [0, 255, 0]
    # 1-bit palette
    pal2 = bytes([0, 0, 0, 0, 255, 255, 255, 0])
    out, _, _, _ = mc.decode_bmp(
        bmp(1, 3, 1, bytes([0b10100000, 0, 0, 0]), palette=pal2))
    assert out[0].tolist() == [[255] * 3, [0] * 3, [255] * 3]
    # 16-bit default 555: 0x7C00 = pure red
    out, _, _, _ = mc.decode_bmp(
        bmp(16, 1, 1, _s.pack("<H", 0x7C00) + b"\x00\x00"))
    assert out[0, 0].tolist() == [255, 0, 0]
    # 16-bit BITFIELDS 565: 0x07E0 = pure green
    out, _, _, _ = mc.decode_bmp(
        bmp(16, 1, 1, _s.pack("<H", 0x07E0) + b"\x00\x00",
            compression=3,
            masks=_s.pack("<III", 0xF800, 0x07E0, 0x001F)))
    assert out[0, 0].tolist() == [0, 255, 0]
    # top-down (negative height): first file row IS the top row
    row2 = bytes([1, 1, 1, 0, 0, 0, 0, 0]) \
        + bytes([9, 9, 9, 0, 0, 0, 0, 0])
    out, _, _, _ = mc.decode_bmp(bmp(24, 2, 2, row2) .replace(
        _s.pack("<ii", 2, 2), _s.pack("<ii", 2, -2), 1))
    assert out[0, 0].tolist() == [1, 1, 1]
    # RLE8: run of 3 color-1, EOL, absolute run of 3 (word-padded),
    # EOB — (0,2) would be the delta escape, absolute needs >= 3
    rle = bytes([3, 1, 0, 0, 0, 3, 2, 0, 1, 0, 0, 1])
    out, _, _, _ = mc.decode_bmp(
        bmp(8, 3, 2, rle, compression=1, palette=pal, clr_used=4))
    assert out[1].tolist() == [[0, 255, 0]] * 3      # bottom row
    assert out[0].tolist() == [[0, 0, 255], [255, 0, 0], [0, 255, 0]]


def test_bmp_probe_and_image_dedup(spark):
    """BMP probes through the uniform surface and pairs with its PNG
    twin in image dedup (same pixels, different container)."""
    px = _gradient(16, 18, 3)
    blob = mc.encode_bmp(px)
    p = mc.probe_media(blob)
    assert (p["container"], p["kind"], p["width"], p["height"]) == \
        ("bmp", "image", 18, 16)
    assert mc.probe_media(b"BMX not a real bmp padded out to len!!"
                          * 2) is None
    media = spark.createDataFrame(
        [(1, mc.encode_png(px)), (2, blob)],
        "media_id long, content binary")
    pairs = [(r.id_a, r.id_b) for r in multimodal.image_near_duplicates(
        media, max_hamming=3, bands=4).collect()]
    assert (1, 2) in pairs


def test_bmp_and_wav_probe_review_regressions():
    """r10 review regressions: OS/2 core-header BMPs probe WORD dims;
    EXTENSIBLE / fmt-less WAVs keep pcm codec names; a truncated-
    after-fmt-header WAV raises UnsupportedMedia, not struct.error;
    32-bit BITFIELDS BMPs honor RGBA-order masks."""
    import struct as _s

    core = (b"BM" + _s.pack("<IHHI", 26 + 6, 0, 0, 26)
            + _s.pack("<IHHHH", 12, 100, 50, 1, 24) + bytes(6))
    p = mc.probe_media(core)
    assert (p["container"], p["width"], p["height"]) == \
        ("bmp", 100, 50)

    def wav_hdr(tag, bits):
        fmt = _s.pack("<HHIIHH", tag, 1, 8000, 8000 * bits // 8,
                      bits // 8, bits)
        return (b"RIFF" + _s.pack("<I", 36) + b"WAVE"
                + b"fmt " + _s.pack("<I", 16) + fmt
                + b"data" + _s.pack("<I", 0))
    assert mc.probe_media(wav_hdr(0xFFFE, 24))["codec"] == "pcm_24"
    fmtless = b"RIFF" + _s.pack("<I", 4) + b"WAVE"
    assert mc.probe_media(fmtless)["codec"] == "pcm"
    truncated = b"RIFF" + _s.pack("<I", 36) + b"WAVE" \
        + b"fmt " + _s.pack("<I", 16)
    with pytest.raises(mc.UnsupportedMedia):
        mc.decode_wav(truncated)
    # 32-bit BITFIELDS with RGBA byte order (red mask = low byte)
    masks = _s.pack("<III", 0x000000FF, 0x0000FF00, 0x00FF0000)
    info = _s.pack("<IiiHHIIiiII", 40, 1, 1, 1, 32, 3, 4, 0, 0, 0, 0)
    off = 54 + 12
    blob = (b"BM" + _s.pack("<IHHI", off + 4, 0, 0, off) + info
            + masks + bytes([200, 100, 50, 0]))
    out, _, _, c = mc.decode_bmp(blob)
    assert c == 3 and out[0, 0].tolist() == [200, 100, 50]


def test_ico_decode_and_probe():
    """ICO favicons: the largest entry decodes through the BMP or PNG
    machinery; the AND mask becomes transparency for alpha-less DIB
    entries; the probe reports the best entry's dims; the image dedup
    path pairs a favicon with its PNG twin."""
    import struct as _s

    px16 = _gradient(16, 16, 3)
    px32 = _gradient(32, 32, 3)
    # multi-size classic ICO: largest (32px) wins
    ico = mc.encode_ico([px16, px32])
    out, w, h, c = mc.decode_ico(ico)
    assert (w, h, c) == (32, 32, 3)
    assert np.array_equal(out, px32)
    p = mc.probe_media(ico)
    assert (p["container"], p["width"], p["height"]) == ("ico", 32, 32)
    assert p["n_frames"] == 2  # directory entries = the size ladder
    # PNG-compressed entry (Vista+ form)
    out, w, h, c = mc.decode_ico(mc.encode_ico([px16], png=True))
    assert (w, h) == (16, 16) and np.array_equal(out, px16)
    # AND mask -> transparency: hand-set one mask bit
    one = mc.encode_ico([px16])
    blob = bytearray(one)
    entry_off = _s.unpack("<I", blob[6 + 12:6 + 16])[0]
    mask_off = entry_off + 40 + ((16 * 3 + 3) // 4 * 4) * 16
    blob[mask_off] = 0x80  # top-left bit of the BOTTOM mask row
    out, _, _, c = mc.decode_ico(bytes(blob))
    assert c == 4
    assert out[15, 0, 3] == 0 and out[0, 0, 3] == 255
    # junk stays loud
    with pytest.raises(mc.UnsupportedMedia):
        mc.decode_ico(b"\x00\x00\x01\x00\xff\xff garbage")
    assert mc.probe_media(b"\x00\x00\x01\x00\xff\xff" + bytes(40)) \
        is None


def test_ico_image_dedup_and_crawl_sniff(spark, tmp_path):
    """A favicon pairs with its PNG twin in image dedup, and an
    untyped ICO response is sniffed kind=image via the probe."""
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline import crawl
    from tests.test_io import _warc_record

    rng = np.random.RandomState(21)
    px = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    media = spark.createDataFrame(
        [(1, mc.encode_png(px)), (2, mc.encode_ico([px]))],
        "media_id long, content binary")
    pairs = [(r.id_a, r.id_b) for r in multimodal.image_near_duplicates(
        media, max_hamming=3, bands=4).collect()]
    assert (1, 2) in pairs
    hdr = (b"HTTP/1.1 200 OK\r\nContent-Type: "
           b"application/octet-stream\r\n\r\n")
    (d := tmp_path / "arch").mkdir()
    (d / "a.warc").write_bytes(
        _warc_record("response", "http://x/favicon.ico",
                     hdr + mc.encode_ico([px])))
    media_rows = crawl.crawl_media(
        read_warc_records(spark, str(d)), spark).collect()
    assert [(r.kind, r.url) for r in media_rows] == \
        [("image", "http://x/favicon.ico")]


def test_flac_diverging_predictor_is_unsupported():
    """A crafted LPC predictor (shift 0, huge coefficients) must raise
    UnsupportedMedia via the divergence gate — never a raw
    OverflowError, and never multi-GB bignum growth first."""
    bs = 64
    wtr = _flac_frame_header(bs, 0, 4)
    wtr.write(0, 1)
    wtr.write(32 | (2 - 1), 6)   # LPC order 2
    wtr.write(0, 1)              # no wasted bits
    for s in (30000, 30000):     # warmup near the 16-bit ceiling
        wtr.write(s, 16)
    wtr.write(15 - 1, 4)         # coefficient precision 15
    wtr.write(0, 5)              # shift 0: samples explode
    for c in (16383, 16383):     # max positive coefficients
        wtr.write(c, 15)
    wtr.write(0, 2)              # residual method 0: 4-bit params
    wtr.write(0, 4)              # partition order 0
    wtr.write(0, 4)              # rice param 0
    for _ in range(bs - 2):
        wtr.write(1, 1)          # unary 0 quotient, sign bit
    wtr.pad_to_byte()
    blob = _flac_file(_flac_streaminfo(8000, 1, 16, bs),
                      [bytes(wtr.out)])
    with pytest.raises(mc.UnsupportedMedia, match="diverged"):
        mc.decode_flac(blob)


def test_flac_partition_must_divide_blocksize():
    """RFC 9639: blocksize not divisible by 2^partition_order is an
    error, not a silently short frame."""
    bs = 6
    wtr = _flac_frame_header(bs, 0, 4)
    wtr.write(0, 1)
    wtr.write(8, 6)              # fixed predictor, order 0
    wtr.write(0, 1)
    wtr.write(0, 2)              # residual method 0
    wtr.write(2, 4)              # partition order 2: 6 % 4 != 0
    wtr.write(0, 4)
    for _ in range(bs):
        wtr.write(1, 1)
    wtr.pad_to_byte()
    blob = _flac_file(_flac_streaminfo(8000, 1, 16, bs),
                      [bytes(wtr.out)])
    with pytest.raises(mc.UnsupportedMedia, match="divisible"):
        mc.decode_flac(blob)


def test_png_zero_dimension_and_pixel_ceiling():
    """Zero-dimension PNGs are rejected like every sibling codec, and
    the MPix CPU gate fires before any inflate work."""
    import struct as _struct
    import zlib as _zlib

    def _chunk(ctype, data):
        return (_struct.pack(">I", len(data)) + ctype + data
                + _struct.pack(">I", _zlib.crc32(ctype + data)))

    def _png(w, h):
        ihdr = _struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", _zlib.compress(b""))
                + _chunk(b"IEND", b""))

    with pytest.raises(mc.UnsupportedMedia, match="zero dimension"):
        mc.decode_png(_png(0, 5))
    with pytest.raises(mc.UnsupportedMedia, match="MPix"):
        mc.decode_png(_png(1 << 13, 1 << 12))  # 32 MPix


def test_png_unfilter_rewrite_roundtrip():
    """The strided-cumsum Sub and list-int Average/Paeth unfilters
    reproduce the reference per-byte semantics on random rows."""
    import numpy as _np

    rng = _np.random.default_rng(7)
    for bpp in (1, 3, 4, 8):
        n = bpp * 37
        prev = rng.integers(0, 256, n).astype(_np.uint8)
        raw = rng.integers(0, 256, n).astype(_np.uint8)

        def _ref(filt):
            line = raw.copy()
            out = [0] * n
            for i in range(n):
                left = out[i - bpp] if i >= bpp else 0
                up = int(prev[i])
                ul = int(prev[i - bpp]) if i >= bpp else 0
                if filt == 1:
                    pred = left
                elif filt == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = (left if pa <= pb and pa <= pc
                            else up if pb <= pc else ul)
                out[i] = (int(line[i]) + pred) & 0xFF
            return out

        assert mc._unfilter_sub(raw.copy(), bpp).tolist() == _ref(1)
        assert mc._unfilter_avg(raw.copy(), prev, bpp).tolist() == _ref(3)
        assert mc._unfilter_paeth(raw.copy(), prev, bpp).tolist() == _ref(4)
