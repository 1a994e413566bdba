"""Multimodal columns: opaque binary payloads with typed metadata.

Images/audio/video ride through the pipeline as ``binary`` columns plus a
metadata struct; decode / feature-extraction / resize / frame-sampling run
as Arrow-batched functions over ``mapInPandas`` so whole batches of bytes
cross the JVM/Python boundary once.

Codec coverage (round-5 directive 8): the heavyweight codecs (PIL/librosa/
ffmpeg) are NOT in this container, but ``fake=False`` is a REAL, tested
path for the formats a pure-stdlib parser can decode — uncompressed BMP,
binary/ASCII PPM (P6/P3), and PCM WAV — via header+payload parsing in
``_decode_bmp``/``_decode_ppm``/``_decode_wav``. NotImplementedError is
reserved for genuinely unsupported codecs (JPEG/PNG/MP4/...), where a
production deployment swaps in the real library inside ``_decode_one``
without touching the Spark-side plumbing. ``fake=True`` keeps the
clearly-marked deterministic stub (dimensions from the payload md5) that
the DuckDB oracle replays; everything around the decode — schemas, batch
iteration, partition-preserving shapes, output contracts — is shared by
both branches.
"""

from __future__ import annotations

import hashlib
import re
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("content_length", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

DECODED = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def media_from_ref_table(documents: DataFrame) -> DataFrame:
    """MEDIA rows derived deterministically from the flat ``documents``
    table (doc_id: long), so the multimodal path scales with the sf input
    instead of an internal generator: every second doc carries one media
    object whose type cycles image/audio/video. Payload bytes are the
    utf-8 ref string (no object store in this sandbox); the construction
    is pure-column and SQL-replayable."""
    with_media = documents.filter(F.col("doc_id") % 2 == 0)
    ref = F.format_string("media://%08d", F.col("doc_id"))
    mtype = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return with_media.select(
        ref.alias("media_ref"),
        F.format_string("doc%08d", F.col("doc_id")).alias("doc_id"),
        mtype.alias("media_type"),
        F.encode(ref, "utf-8").alias("payload"),
        F.struct(
            F.length(ref).cast("long").alias("content_length"),
            F.lit("fake/ref").alias("codec"),
        ).alias("meta"),
    )


def _decode_bmp(payload: bytes):
    """Uncompressed BITMAPINFOHEADER BMP: header-parse dims + per-channel
    pixel means as the feature vector. Pure stdlib (struct), no PIL."""
    if len(payload) < 54:
        raise ValueError("BMP truncated before BITMAPINFOHEADER")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError(f"BMP core-header variant ({hdr_size}B) unsupported")
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP compression={compression} bpp={bpp} unsupported (BI_RGB 24/32 only)"
        )
    h = abs(height)
    nch = bpp // 8
    row_bytes = (width * nch + 3) // 4 * 4  # rows pad to 4-byte boundaries
    sums = [0] * 3
    npx = 0
    for r in range(h):
        base = data_off + r * row_bytes
        for c in range(width):
            px = base + c * nch
            if px + 3 > len(payload):
                raise ValueError("BMP pixel array truncated")
            sums[0] += payload[px + 2]  # BGR(A) order on disk
            sums[1] += payload[px + 1]
            sums[2] += payload[px]
            npx += 1
    feats = [s / (255.0 * npx) for s in sums] if npx else [0.0, 0.0, 0.0]
    return width, h, 1, feats


def _decode_ppm(payload: bytes):
    """Netpbm PPM (P6 binary / P3 ASCII): tokenizing header parse (comments
    included) + per-channel sample means."""
    pos = 2  # past magic
    magic = payload[:2]

    def next_token() -> bytes:
        nonlocal pos
        while pos < len(payload):
            ch = payload[pos : pos + 1]
            if ch == b"#":  # comment to end-of-line
                while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                    pos += 1
            elif ch.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("PPM header truncated")
        return payload[start:pos]

    width = int(next_token())
    height = int(next_token())
    maxval = int(next_token())
    if maxval <= 0 or maxval > 255:
        raise NotImplementedError(f"PPM maxval={maxval} unsupported (8-bit only)")
    sums = [0, 0, 0]
    npx = width * height
    if magic == b"P6":
        pos += 1  # exactly one whitespace byte after maxval
        raster = payload[pos : pos + npx * 3]
        if len(raster) < npx * 3:
            raise ValueError("PPM raster truncated")
        for i in range(npx):
            sums[0] += raster[3 * i]
            sums[1] += raster[3 * i + 1]
            sums[2] += raster[3 * i + 2]
    else:  # P3: ASCII samples; '#' comments may sit between them too
        vals = re.sub(rb"#[^\n]*", b"", payload[pos:]).split()
        if len(vals) < npx * 3:
            raise ValueError("PPM raster truncated")
        for i in range(npx):
            sums[0] += int(vals[3 * i])
            sums[1] += int(vals[3 * i + 1])
            sums[2] += int(vals[3 * i + 2])
    feats = [s / (maxval * npx) for s in sums] if npx else [0.0, 0.0, 0.0]
    return width, height, 1, feats


def _decode_wav(payload: bytes):
    """RIFF/WAVE PCM: chunk-walk to fmt + data; returns (n_channels,
    bits_per_sample, n_sample_frames, [duration_sec, mean_abs_amplitude])."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError(f"WAV fmt chunk is {len(fmt)} bytes, PCM needs 16")
    audio_fmt, n_ch, rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_fmt != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"WAV format={audio_fmt} bits={bits} unsupported (PCM 8/16-bit only)"
        )
    bytes_per_frame = n_ch * bits // 8
    n_frames = len(data) // bytes_per_frame if bytes_per_frame else 0
    total = 0.0
    n_samp = n_frames * n_ch
    if bits == 16:
        for i in range(n_samp):
            total += abs(struct.unpack_from("<h", data, 2 * i)[0]) / 32768.0
    else:
        for i in range(n_samp):
            total += abs(data[i] - 128) / 128.0
    mean_abs = total / n_samp if n_samp else 0.0
    duration = n_frames / rate if rate else 0.0
    return n_ch, bits, n_frames, [duration, mean_abs]


def _decode_real(payload: bytes, media_type: str):
    """Dispatch on magic bytes; NotImplementedError ONLY for codecs a
    stdlib parser genuinely can't handle (the production swap point)."""
    p = payload or b""
    if p[:2] == b"BM":
        return _decode_bmp(p)
    if p[:2] in (b"P6", b"P3"):
        return _decode_ppm(p)
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        return _decode_wav(p)
    raise NotImplementedError(
        f"unsupported codec for media_type={media_type!r} "
        f"(magic={p[:4]!r}); in-container real decode covers uncompressed "
        f"BMP, PPM (P6/P3) and PCM WAV — swap a real library (PIL/ffmpeg) "
        f"into _decode_real for the rest"
    )


def _decode_one(payload: bytes, media_type: str, fake: bool):
    if not fake:
        return _decode_real(payload, media_type)
    # md5 (not blake2b) so the DuckDB oracle can replay the fake dimensions
    # byte-for-byte: width = 64 + digest[0] % 192, etc.
    h = hashlib.md5(payload or b"").digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    n_frames = 1 if media_type == "image" else 1 + h[2] % 30
    feats = [((b % 97) - 48) / 48.0 for b in h]
    return width, height, n_frames, feats


def decode_media(media: DataFrame, fake: bool = False) -> DataFrame:
    """MEDIA -> DECODED via mapInPandas (batch-at-a-time, schema-checked)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [
                _decode_one(p, mt, fake)
                for p, mt in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                    "features": [d[3] for d in decoded],
                }
            )

    return media.mapInPandas(batches, schema=DECODED)


def resize_spec(decoded: DataFrame, max_side: int = 224) -> DataFrame:
    """Pure-column resize planning (aspect-preserving target dimensions);
    the pixel work would happen in the decode UDF in production."""
    scale = F.least(
        F.lit(max_side) / F.col("width"), F.lit(max_side) / F.col("height"), F.lit(1.0)
    )
    return decoded.select(
        "media_ref",
        "doc_id",
        F.round(F.col("width") * scale).cast("int").alias("target_w"),
        F.round(F.col("height") * scale).cast("int").alias("target_h"),
    )


def sample_frames(decoded: DataFrame, every_n: int = 5) -> DataFrame:
    """Frame-sampling plan: one row per selected frame index (explode of a
    JVM-side sequence — no Python)."""
    idx = F.sequence(
        F.lit(0), F.col("n_frames") - 1, F.lit(every_n)
    )
    return decoded.select(
        "media_ref", "doc_id", F.explode(idx).alias("frame_idx")
    )
