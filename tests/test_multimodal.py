"""Multimodal plumbing tests: binary columns + typed metadata structs,
Arrow-batched decode, frame sampling, and the honest NotImplementedError
stub for real codecs."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from target_hdfs_spark.operators.multimodal import (
    decode_image_meta,
    encode_fake_image,
    sample_frames,
    with_image_meta,
)


def test_fake_image_roundtrip():
    blob = encode_fake_image(640, 480, b"payload")
    assert decode_image_meta(blob) == (640, 480, 7, "fake1")


def test_decode_unknown_and_null():
    assert decode_image_meta(b"garbage") == (0, 0, 7, "unknown")
    assert decode_image_meta(None) == (0, 0, 0, "null")


def test_jpeg_truncated_header_is_corrupt_not_crash():
    # formerly the documented NotImplementedError stub; the JPEG
    # marker walk is real now, and a truncated APP0 reports corrupt
    jpeg_header = b"\xff\xd8\xff\xe0" + b"\x00" * 8
    assert decode_image_meta(jpeg_header) == (0, 0, 12, "jpeg_corrupt")


def test_with_image_meta_schema_and_values(spark):
    rows = [
        (1, encode_fake_image(64, 32, b"\x01\x02\x03")),
        (2, b"not-an-image"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, image binary")
    out = with_image_meta(df, "image")
    assert isinstance(out.schema["image_meta"].dataType, T.StructType)
    got = {r.doc_id: r.image_meta for r in out.collect()}
    assert got[1].width == 64 and got[1].height == 32
    assert got[1].n_payload_bytes == 3 and got[1].format == "fake1"
    assert got[2].format == "unknown"
    assert got[3].format == "null"


def test_sample_frames_explosion(spark):
    # 128-byte payload, 4-byte frames -> 32 frames, every 16th -> idx 0, 16
    payload = bytes(range(128))
    df = spark.createDataFrame([(7, payload)], "doc_id long, video binary")
    out = sample_frames(df, "video", every_k=16, frame_bytes=4)
    rows = sorted(out.collect(), key=lambda r: r.frame_idx)
    assert [(r.doc_id, r.frame_idx) for r in rows] == [(7, 0), (7, 16)]
    assert bytes(rows[0].frame) == bytes([0, 1, 2, 3])
    assert bytes(rows[1].frame) == bytes([64, 65, 66, 67])


def test_sample_frames_skips_null_payloads(spark):
    df = spark.createDataFrame([(1, None), (2, bytes(8))], "doc_id long, video binary")
    out = sample_frames(df, "video", every_k=1, frame_bytes=4)
    assert {r.doc_id for r in out.collect()} == {2}


def test_png_header_roundtrip():
    from target_hdfs_spark.operators.multimodal import decode_image_meta, encode_png

    blob = encode_png(1920, 1080, b"idat-stand-in")
    assert decode_image_meta(blob) == (1920, 1080, 13, "png")
    # signature without a full IHDR -> corrupt, not a crash
    assert decode_image_meta(blob[:10]) == (0, 0, 10, "png_corrupt")


def test_wav_header_roundtrip():
    from target_hdfs_spark.operators.multimodal import decode_audio_meta, encode_wav

    blob = encode_wav(2, 44100, 16, b"\x00" * 100)
    assert decode_audio_meta(blob) == (2, 44100, 16, 100, "wav")
    assert decode_audio_meta(b"RIFFxxxxNOPE")[-1] == "unknown"
    assert decode_audio_meta(None) == (0, 0, 0, 0, "null")


def test_with_audio_meta_schema_and_values(spark):
    from target_hdfs_spark.operators.multimodal import encode_wav, with_audio_meta

    rows = [(1, encode_wav(1, 8000, 8, b"abc")), (2, b"not-audio"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, audio binary")
    out = with_audio_meta(df, "audio")
    got = {r.doc_id: r.audio_meta for r in out.collect()}
    assert got[1].n_channels == 1 and got[1].sample_rate == 8000
    assert got[1].bits_per_sample == 8 and got[1].n_data_bytes == 3
    assert got[1].format == "wav"
    assert got[2].format == "unknown"
    assert got[3].format == "null"


def test_jpeg_header_roundtrip():
    from target_hdfs_spark.operators.multimodal import decode_image_meta, encode_jpeg

    blob = encode_jpeg(640, 480, b"entropy-stand-in")
    assert decode_image_meta(blob) == (640, 480, 16, "jpeg")
    # truncated before the SOF header -> corrupt, not a crash
    assert decode_image_meta(blob[:20]) == (0, 0, 20, "jpeg_corrupt")
    # EOI before any SOF -> corrupt
    assert decode_image_meta(b"\xff\xd8\xff\xd9") == (0, 0, 4, "jpeg_corrupt")


def test_jpeg_sof_variants_and_skips():
    from target_hdfs_spark.operators.multimodal import decode_image_meta, encode_jpeg

    # progressive (SOF2) carries dimensions identically
    prog = bytearray(encode_jpeg(31, 7, b"xy"))
    prog[21] = 0xC2  # SOF0 -> SOF2 marker byte
    assert decode_image_meta(bytes(prog)) == (31, 7, 2, "jpeg")
    # a DHT segment (0xC4, inside the SOF numeric range) is skipped
    dht = b"\xff\xc4" + (5).to_bytes(2, "big") + b"\x00\x01\x02"
    with_dht = b"\xff\xd8" + dht + encode_jpeg(9, 9, b"zz")[2:]
    assert decode_image_meta(with_dht) == (9, 9, 2, "jpeg")
    # fill bytes and bare RST markers before SOF are tolerated
    assert decode_image_meta(b"\xff\xd8\xff" + encode_jpeg(5, 6, b"q")[2:]) == (
        5, 6, 1, "jpeg",
    )
    assert decode_image_meta(b"\xff\xd8\xff\xd0" + encode_jpeg(3, 4, b"ab")[2:]) == (
        3, 4, 2, "jpeg",
    )
    # SOS before SOF (dimensions unreachable without entropy decode)
    sos = b"\xff\xda" + (2).to_bytes(2, "big")
    assert decode_image_meta(b"\xff\xd8" + sos + b"\x12\x34")[-1] == "jpeg_corrupt"
    # truncated INSIDE the SOF segment: dims bytes readable but the
    # declared segment length extends past end-of-data — must be
    # corrupt, never a negative payload_bytes
    full = encode_jpeg(640, 480, b"entropy-stand-in")
    truncated_in_sof = full[:29]  # SOF segment declares more bytes than remain
    w, h, payload, fmt = decode_image_meta(truncated_in_sof)
    assert fmt == "jpeg_corrupt"
    assert payload >= 0


def test_with_image_meta_mixed_formats(spark):
    from target_hdfs_spark.operators.multimodal import (
        encode_fake_image,
        encode_jpeg,
        encode_png,
        with_image_meta,
    )

    rows = [
        (1, encode_png(10, 20, b"p")),
        (2, encode_jpeg(30, 40, b"jj")),
        (3, encode_fake_image(5, 6, b"xyz")),
        (4, b"not-an-image"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, image binary")
    got = {r.doc_id: r.image_meta for r in with_image_meta(df, "image").collect()}
    assert (got[1].width, got[1].height, got[1].format) == (10, 20, "png")
    assert (got[2].width, got[2].height, got[2].format) == (30, 40, "jpeg")
    assert (got[2].n_payload_bytes) == 2
    assert (got[3].width, got[3].height, got[3].format) == (5, 6, "fake1")
    assert got[4].format == "unknown"


# ---------------------------------------------------------------------------
# Pixel-level PNG codec + dHash (q147)
# ---------------------------------------------------------------------------


def test_png_pixel_roundtrip_all_filters():
    """encode_png_full cycles row filters None/Sub/Up; the decoder
    must reverse each exactly."""
    from target_hdfs_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png_full,
    )

    img = [[(x * 7 + y * 13) % 256 for x in range(16)] for y in range(16)]
    assert decode_png_pixels(encode_png_full(img)) == img


def test_png_decoder_rejects_garbage():
    import pytest as _pytest

    from target_hdfs_spark.operators.multimodal import decode_png_pixels

    with _pytest.raises(ValueError):
        decode_png_pixels(b"not a png at all")
    # valid signature, no chunks
    from target_hdfs_spark.operators.multimodal import PNG_SIG

    with _pytest.raises(ValueError):
        decode_png_pixels(PNG_SIG)


def test_dhash_groups_are_distinct():
    """q147's oracle equates hash-groups with content-groups; that
    holds iff all IMG_GROUPS synthetic images hash distinctly."""
    from target_hdfs_spark.operators.multimodal import (
        IMG_GROUPS,
        group_pixels,
        dhash64,
    )

    hashes = {dhash64(group_pixels(g)) for g in range(IMG_GROUPS)}
    assert len(hashes) == IMG_GROUPS


def test_dhash_invariant_to_uniform_brightness():
    """The perceptual property dHash exists for: a uniform brightness
    shift must not change the signature (gradient directions are
    preserved; ties excluded by construction here)."""
    from target_hdfs_spark.operators.multimodal import group_pixels, dhash64

    img = group_pixels(7)
    # shift into remaining headroom without wrapping or saturating ties
    lo, hi = min(map(min, img)), max(map(max, img))
    shift = min(10, 255 - hi)
    if shift:
        shifted = [[v + shift for v in row] for row in img]
        assert dhash64(img) == dhash64(shifted)


def test_png_codec_property_roundtrip():
    """Property: any image (1..24 x 1..24, arbitrary bytes) survives
    encode -> decode bit-for-bit, across all three row filters; and
    any truncation of the encoded blob either raises or — never —
    returns wrong pixels silently."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from target_hdfs_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png_full,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        seed=st.integers(0, 2**31),
    )
    def check(w, h, seed):
        import random

        rng = random.Random(seed)
        img = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        blob = encode_png_full(img)
        assert decode_png_pixels(blob) == img
        # truncation inside the IDAT stream must never silently
        # succeed with wrong pixels
        cut = blob[: len(blob) - len(blob) // 3]
        try:
            out = decode_png_pixels(cut)
        except Exception:
            pass  # raising is the expected behavior
        else:
            assert out == img  # only acceptable if truncation hit padding

    check()


def test_pcm_wav_roundtrip_exact():
    """encode_pcm_wav -> decode_pcm_samples must reproduce the sample
    formula bit-for-bit, including negative int16 values."""
    from target_hdfs_spark.operators.multimodal import (
        PCM_N,
        _pcm_sample,
        decode_pcm_samples,
        encode_pcm_wav,
    )

    for doc_id in (0, 1, 7, 12345):
        samples = decode_pcm_samples(encode_pcm_wav(doc_id))
        assert samples == [_pcm_sample(doc_id, i) for i in range(PCM_N)]
        assert min(samples) < 0 < max(samples)  # both signs exercised


def test_pcm_decoder_rejects_wrong_profile():
    import pytest as _pytest

    from target_hdfs_spark.operators.multimodal import (
        decode_pcm_samples,
        encode_wav,
    )

    with _pytest.raises(ValueError):
        decode_pcm_samples(b"not audio")
    with _pytest.raises(ValueError):
        decode_pcm_samples(encode_wav(2, 8000, 16, b"\x00\x00"))  # stereo


def test_avi_container_roundtrip_exact():
    """encode_avi -> decode_avi_index must reproduce the frame-length
    formula exactly, including word-alignment padding for odd sizes."""
    from target_hdfs_spark.operators.multimodal import (
        AVI_MAX_FRAMES,
        _frame_len,
        decode_avi_index,
        encode_avi,
    )

    for doc_id in (0, 1, 5, 999):
        frames = decode_avi_index(encode_avi(doc_id))
        n_expected = 1 + doc_id % AVI_MAX_FRAMES
        assert [n for _, _, n in frames] == [
            _frame_len(doc_id, k) for k in range(n_expected)
        ]
        # frame offsets must point at the actual payloads
        blob = encode_avi(doc_id)
        for k, off, n in frames:
            assert blob[off] == (doc_id + k) % 256
    # odd sizes exist in the range, so alignment was exercised
    assert any(_frame_len(5, k) % 2 for k in range(1 + 5 % AVI_MAX_FRAMES))


def test_avi_decoder_rejects_malformed():
    import pytest as _pytest

    from target_hdfs_spark.operators.multimodal import (
        decode_avi_index,
        encode_avi,
    )

    with _pytest.raises(ValueError):
        decode_avi_index(b"RIFFxxxxWAVE")  # RIFF but not AVI
    blob = encode_avi(9)
    with _pytest.raises(ValueError):
        decode_avi_index(blob[: len(blob) - 5])  # truncated inside frame


def test_encode_png_full_rejects_out_of_range_pixels():
    import pytest as _pytest

    from target_hdfs_spark.operators.multimodal import encode_png_full

    with _pytest.raises(ValueError, match="0..255"):
        encode_png_full([[0, 256], [1, 2]])
    with _pytest.raises(ValueError, match="0..255"):
        encode_png_full([[-1, 0], [1, 2]])
