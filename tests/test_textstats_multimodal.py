"""Text analysis + multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ner_spark.operators import multimodal as MM
from ner_spark.operators import textstats as TS


def test_lang_id_on_clear_samples(spark):
    rows = [
        (1, "the cat and the dog of a house", "en"),
        (2, "le chat et la maison de les amis", "fr"),
        (3, "der Hund und die Katze und das Haus", "de"),
        (4, "el perro y la casa de los amigos", "es"),
        (5, "xyzzy qwerty plugh", "und"),
    ]
    df = spark.createDataFrame(rows, ["id", "text", "want"])
    got = df.select("id", "want", TS.predict_lang(F.col("text")).alias("pred")).collect()
    for r in got:
        assert r["pred"] == r["want"], (r["id"], r["pred"], r["want"])


def test_quality_features_ranges(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox, it jumps!"), (2, "!!!! ???? ....")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in TS.quality_features(df).collect()}
    assert 0.0 <= rows[1]["quality"] <= 1.0
    assert rows[1]["quality"] > rows[2]["quality"]  # punctuation soup scores lower
    assert rows[1]["n_tokens"] == 6
    assert rows[1]["punct_ratio"] > 0


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["fp"] for r in df.select("doc_id", TS.doc_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([(1, "hi extraordinary, well-done")], ["doc_id", "text"])
    [r] = df.select(TS.bpe_ish_token_count(F.col("text")).alias("n")).collect()
    # hi(1) + extraordinary(13->4) + well(1) + done(1)
    assert r["n"] == 7


def _media(spark, n_docs: int):
    return MM.media_from_ref_table(spark.range(n_docs).withColumnRenamed("id", "doc_id"))


def test_media_plumbing_end_to_end(spark):
    media = _media(spark, 400)
    n_media = media.count()
    assert n_media > 0
    # every media row has payload bytes + metadata
    bad = media.filter(
        F.col("payload").isNull() | F.col("meta.content_length").isNull()
    )
    assert bad.count() == 0

    decoded = MM.decode_media(media, fake=True)
    rows = decoded.collect()
    assert len(rows) == n_media
    assert all(64 <= r["width"] <= 255 and 64 <= r["height"] <= 255 for r in rows)
    assert all(len(r["features"]) == 16 for r in rows)
    # deterministic: same payload -> same decode
    again = {r["media_ref"]: (r["width"], r["height"]) for r in MM.decode_media(media, fake=True).collect()}
    assert all(again[r["media_ref"]] == (r["width"], r["height"]) for r in rows)


def test_decode_without_codec_raises(spark):
    media = _media(spark, 50)
    with pytest.raises(Exception) as ei:
        MM.decode_media(media, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or "decode requires" in str(ei.value)


def _tiny_bmp() -> bytes:
    """2x2 24-bit uncompressed BMP: rows bottom-up, BGR, 4-byte padded.
    Pixel grid (top-left..): red, green / blue, white."""
    import struct as _s

    top = bytes([0, 0, 255]) + bytes([0, 255, 0]) + b"\x00\x00"  # red, green + pad
    bot = bytes([255, 0, 0]) + bytes([255, 255, 255]) + b"\x00\x00"  # blue, white
    raster = bot + top  # bottom-up on disk
    info = _s.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    head = _s.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    return head + info + raster


def _tiny_wav() -> bytes:
    """Mono 16-bit PCM, 8 kHz, 4 frames: 0, +16384, -16384, +32767."""
    import struct as _s

    data = _s.pack("<4h", 0, 16384, -16384, 32767)
    fmt = _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
    body += b"data" + _s.pack("<I", len(data)) + data
    return b"RIFF" + _s.pack("<I", len(body)) + body


def test_real_decode_bmp_ppm_wav_roundtrip(spark):
    """Round-5 directive 8: fake=False is a REAL tested path in-container
    for stdlib-decodable codecs. Hand-built BMP/PPM/WAV payloads decode to
    their exact known dimensions and feature values through the full
    mapInPandas plumbing (same schema/batching as the fake branch)."""
    ppm = b"P6\n# tiny\n2 2\n255\n" + bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    )
    rows = [
        ("m1", "d1", "image", bytearray(_tiny_bmp()), (0, "bmp")),
        ("m2", "d2", "image", bytearray(ppm), (0, "ppm")),
        ("m3", "d3", "audio", bytearray(_tiny_wav()), (0, "wav")),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA)
    got = {r["media_ref"]: r for r in MM.decode_media(media, fake=False).collect()}
    # BMP: 2x2, single frame, channel means over {red, green, blue, white}
    assert (got["m1"]["width"], got["m1"]["height"], got["m1"]["n_frames"]) == (2, 2, 1)
    assert [round(f, 4) for f in got["m1"]["features"]] == [0.5, 0.5, 0.5]
    # PPM: same pixel grid -> same means; the comment line must be skipped
    assert (got["m2"]["width"], got["m2"]["height"], got["m2"]["n_frames"]) == (2, 2, 1)
    assert [round(f, 4) for f in got["m2"]["features"]] == [0.5, 0.5, 0.5]
    # WAV: (channels, bits, frames) + [duration, mean |amplitude|]
    assert (got["m3"]["width"], got["m3"]["height"], got["m3"]["n_frames"]) == (1, 16, 4)
    dur, amp = got["m3"]["features"]
    assert abs(dur - 4 / 8000) < 1e-6
    assert abs(amp - (0 + 16384 / 32768 + 16384 / 32768 + 32767 / 32768) / 4) < 1e-4


def test_real_decode_unsupported_codec_still_raises(spark):
    """NotImplementedError is now reserved for genuinely unsupported
    codecs (e.g. PNG magic) — not for the whole fake=False branch."""
    from ner_spark.operators.multimodal import _decode_real

    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="unsupported codec"):
        _decode_real(b"\x89PNG\r\n\x1a\n....", "image")


def test_resize_and_frame_sampling(spark):
    decoded = MM.decode_media(_media(spark, 100), fake=True)
    resized = MM.resize_spec(decoded, max_side=128).collect()
    assert all(r["target_w"] <= 128 and r["target_h"] <= 128 for r in resized)
    images = decoded.filter(F.col("media_type") == "image")
    frames = MM.sample_frames(images, every_n=5)
    # images have n_frames=1 -> exactly one frame (index 0) each
    assert frames.count() == images.count() > 0
    assert frames.filter(F.col("frame_idx") != 0).count() == 0


def test_real_decode_wav_short_fmt_chunk_raises():
    """A fmt chunk under the 16 bytes PCM needs is a malformed payload
    (ValueError), not a struct.error from reading past its end."""
    import struct as _s

    from ner_spark.operators.multimodal import _decode_wav

    fmt = _s.pack("<HHI", 1, 1, 8000)  # 8 of the 16 bytes
    body = b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
    body += b"data" + _s.pack("<I", 2) + b"\x00\x00"
    with pytest.raises(ValueError, match="fmt chunk"):
        _decode_wav(b"RIFF" + _s.pack("<I", len(body)) + body)


def test_real_decode_p3_comment_inside_raster():
    """P3 comments are skipped between samples as well as in the header:
    the commented raster decodes like the plain one."""
    from ner_spark.operators.multimodal import _decode_ppm

    plain = b"P3\n2 2\n255\n255 0 0  0 255 0\n0 0 255  255 255 255\n"
    commented = b"P3\n2 2\n255\n255 0 0 # red\n0 255 0\n# row 2\n0 0 255  255 255 255\n"
    assert _decode_ppm(commented) == _decode_ppm(plain) == (2, 2, 1, [0.5, 0.5, 0.5])
