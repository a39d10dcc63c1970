"""Multimodal feature-extraction query: the documents table ingested
as opaque binary payloads (prox_spark/multimodal.py), features pulled
through an Arrow-batched ``mapInPandas`` decode pass.

The DuckDB oracle replays the *fake-decode* arithmetic in SQL over the
same utf-8 bytes — md5 digests are identical lowercase hex in both
engines, so the whole feature row is bit-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from prox_spark.io import read_parquet


def q43_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prox_spark.multimodal import documents_as_media, extract_features
    from prox_spark.queries.text import _spread_py

    media = _spread_py(documents_as_media(spark, sf_dir))
    return extract_features(media, mode="fake").orderBy("media_id")


ORACLE_Q43 = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT)            AS n_bytes,
       md5(text)                                             AS digest,
       CAST(16 + octet_length(encode(text)) % 640 AS INTEGER)       AS width,
       CAST(16 + (octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
       CAST(1 + octet_length(encode(text)) // 256 AS INTEGER)       AS n_frames
FROM documents
ORDER BY media_id
"""

def q112_media_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec decode through the full Spark plumbing: synthesize an
    uncompressed BMP per document (dims derived from n_chars), then
    decode it with ``mode="real"`` — the stdlib BMP parser reads the
    actual header + validates the pixel array, so a wrong encoder, a
    truncated payload, or a broken decoder all fail the gate. The
    oracle recomputes the dims from n_chars arithmetically; the decoded
    values must round-trip through the real binary format to match.

    Scale shape: encode and decode run in ONE mapInPandas pass each —
    payloads live and die inside the task, only (id, dims) columns
    emerge; no shuffle until the final presentation sort."""
    from prox_spark.multimodal import FEATURE_SCHEMA, extract_features
    from prox_spark.queries.text import _spread_py

    import pandas as pd
    from pyspark.sql import functions as F

    docs = _spread_py(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    )

    def encode(batches):
        import struct

        for pdf in batches:
            payloads = []
            for n in pdf["n_chars"]:
                w, h = int(16 + n % 48), int(8 + n % 32)
                row = (w * 24 + 31) // 32 * 4
                pixels = bytes(row * h)
                header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
                info = struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
                )
                payloads.append(header + info + pixels)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].values,
                    "payload": payloads,
                    "meta": [
                        {"mime": "image/bmp", "source": "synth", "n_chars": int(n)}
                        for n in pdf["n_chars"]
                    ],
                }
            )

    from prox_spark.multimodal import MEDIA_SCHEMA

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    feats = extract_features(media, mode="real")
    return feats.select("media_id", "width", "height", "n_frames").orderBy("media_id")


ORACLE_Q112 = """
SELECT doc_id AS media_id,
       CAST(16 + n_chars % 48 AS INTEGER) AS width,
       CAST(8 + n_chars % 32 AS INTEGER)  AS height,
       CAST(1 AS INTEGER)                 AS n_frames
FROM documents
ORDER BY media_id
"""

def q121_audio_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec path: synthesize a deterministic 16-bit PCM
    mono WAV per document (sawtooth wave whose length/slope derive
    from n_chars), decode it with the stdlib ``wave`` codec (the same
    parser behind prox_spark/multimodal._decode_wav), and extract the
    DSP features an audio curation pipeline gates on — frame count,
    peak amplitude, RMS energy. The oracle recomputes every feature in
    closed form from n_chars, so a broken encoder, header, or sample
    parse fails the hash gate; sample sums are exact integers, so
    there is no float-order hazard until the final rounded sqrt.

    Scale shape: encode and decode are each ONE mapInPandas pass —
    payloads are born and die inside the task (only scalar features
    emerge), so the plan is scan -> Python map -> Python map ->
    project with no shuffle before the presentation sort. That is the
    whole design for 100 TB multimodal columns: bytes stay columnar
    and task-local, metadata flows on."""
    from prox_spark.multimodal import MEDIA_SCHEMA
    from prox_spark.queries.text import _spread_py

    import pandas as pd
    from pyspark.sql import functions as F

    docs = _spread_py(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    )

    def encode(batches):
        import io
        import struct
        import wave

        for pdf in batches:
            payloads = []
            for n in pdf["n_chars"]:
                n = int(n)
                nf, k = 64 + n % 128, 1 + n % 7
                samples = [((i * k * 257) % 2048) - 1024 for i in range(nf)]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(struct.pack(f"<{nf}h", *samples))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].values,
                    "payload": payloads,
                    "meta": [{"mime": "audio/wav", "source": "synth"} for _ in payloads],
                }
            )

    def decode(batches):
        import io
        import struct
        import wave

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload))) as w:
                    nf = w.getnframes()
                    rate = w.getframerate()
                    samples = struct.unpack(f"<{nf}h", w.readframes(nf))
                rows.append(
                    {
                        "media_id": int(mid),
                        "sample_rate": rate,
                        "n_frames": nf,
                        "peak": max(abs(s) for s in samples),
                        "ssq": sum(s * s for s in samples),
                    }
                )
            yield pd.DataFrame(rows)

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    feats = media.mapInPandas(
        decode,
        schema="media_id bigint, sample_rate int, n_frames int, peak int, ssq bigint",
    )
    return (
        feats.withColumn(
            "rms", F.round(F.sqrt(F.col("ssq") / F.col("n_frames")), 6)
        )
        .select("media_id", "sample_rate", "n_frames", "peak", "rms")
        .orderBy("media_id")
    )


ORACLE_Q121 = """
WITH base AS (
  SELECT doc_id AS media_id,
         64 + n_chars % 128 AS nf,
         1 + n_chars % 7    AS k
  FROM documents
),
s AS (
  SELECT media_id, nf,
         list_transform(range(0, nf), i -> ((i * k * 257) % 2048) - 1024) AS samples
  FROM base
)
SELECT media_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(nf AS INTEGER)   AS n_frames,
       CAST(list_max(list_transform(samples, x -> abs(x))) AS INTEGER) AS peak,
       round(sqrt(CAST(list_sum(list_transform(samples, x -> x * x)) AS BIGINT)
                  / CAST(nf AS DOUBLE)), 6) AS rms
FROM s
ORDER BY media_id
"""


def q134_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image RESIZE through the multimodal plumbing: synthesize a
    deterministic-gradient P6 PPM per document, then nearest-neighbor
    downsample it to an 8x8 thumbnail with numpy inside one
    mapInPandas pass — the standard pre-embedding normalization step
    for vision training data. The gate reports the thumbnail's red-
    channel integer sum, which the oracle recomputes in closed form
    from the gradient + the nearest-neighbor index formula
    (src = (dst * size) // 8), so a wrong header parse, row order, or
    sampling grid all break the hash.

    Scale shape: encode -> resize are two chained Python maps; full
    payloads never cross a shuffle, only (id, dims, sum) emerges."""
    from prox_spark.multimodal import MEDIA_SCHEMA
    from prox_spark.queries.text import _spread_py

    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401 (parity with siblings)

    docs = _spread_py(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    )

    def encode(batches):
        for pdf in batches:
            payloads = []
            for n in pdf["n_chars"]:
                n = int(n)
                w, h = 16 + n % 32, 8 + n % 24
                header = f"P6\n{w} {h}\n255\n".encode()
                pix = bytes(
                    (x * 3 + y * 7) % 256
                    for y in range(h)
                    for x in range(w)
                    for _ in range(3)
                )
                payloads.append(header + pix)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].values,
                    "payload": payloads,
                    "meta": [{"mime": "image/ppm", "source": "synth"} for _ in payloads],
                }
            )

    def resize(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                head, dims, _maxval, pix = bytes(payload).split(b"\n", 3)
                if head != b"P6":
                    raise ValueError(f"media_id {int(mid)}: not a binary PPM (P6) payload")
                w, h = map(int, dims.split())
                arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)
                xs = (np.arange(8) * w) // 8
                ys = (np.arange(8) * h) // 8
                thumb = arr[np.ix_(ys, xs)]
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": w,
                        "height": h,
                        "sample_sum": int(thumb[:, :, 0].astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    return (
        media.mapInPandas(
            resize, schema="media_id bigint, width int, height int, sample_sum bigint"
        )
    ).orderBy("media_id")


ORACLE_Q134 = """
WITH dims AS (
  SELECT doc_id AS media_id,
         16 + n_chars % 32 AS w,
         8 + n_chars % 24  AS h
  FROM documents
), grid AS (
  SELECT i, j FROM range(8) t(i), range(8) u(j)
)
SELECT media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(sum((((i * w) // 8) * 3 + ((j * h) // 8) * 7) % 256) AS BIGINT)
         AS sample_sum
FROM dims CROSS JOIN grid
GROUP BY media_id, w, h
ORDER BY media_id
"""


FRAME_STRIDE = 4


def q135_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL temporal FRAME-SAMPLING: synthesize the q121 sawtooth WAV,
    keep every FRAME_STRIDE-th PCM frame, RE-ENCODE the sampled signal
    as a genuine WAV (the round-trip is the point — a video pipeline's
    frame sampler emits real frames, not indices), then decode the new
    payload and report its frame count and peak. The oracle derives
    both in closed form from the synthesis formula with the stride
    folded in, so an off-by-one in the stride grid, the re-encode, or
    the second decode breaks the hash. Video containers would dispatch
    to ffmpeg behind the same interface (absent in this env); WAV
    exercises the identical sample-grid arithmetic on a codec the
    stdlib provides."""
    from prox_spark.multimodal import MEDIA_SCHEMA
    from prox_spark.queries.text import _spread_py

    import pandas as pd

    docs = _spread_py(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    )

    def encode(batches):
        import io
        import struct
        import wave

        for pdf in batches:
            payloads = []
            for n in pdf["n_chars"]:
                n = int(n)
                nf, k = 64 + n % 128, 1 + n % 7
                samples = [((i * k * 257) % 2048) - 1024 for i in range(nf)]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(struct.pack(f"<{nf}h", *samples))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].values,
                    "payload": payloads,
                    "meta": [{"mime": "audio/wav", "source": "synth"} for _ in payloads],
                }
            )

    def sample_frames(batches):
        import io
        import struct
        import wave

        for pdf in batches:
            out_ids, out_payloads, out_meta = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload))) as w:
                    nf, rate = w.getnframes(), w.getframerate()
                    samples = struct.unpack(f"<{nf}h", w.readframes(nf))
                kept = samples[::FRAME_STRIDE]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(rate // FRAME_STRIDE)
                    w.writeframes(struct.pack(f"<{len(kept)}h", *kept))
                out_ids.append(int(mid))
                out_payloads.append(buf.getvalue())
                out_meta.append({"mime": "audio/wav", "source": "sampled"})
            yield pd.DataFrame(
                {"media_id": out_ids, "payload": out_payloads, "meta": out_meta}
            )

    def decode(batches):
        import io
        import struct
        import wave

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload))) as w:
                    nf = w.getnframes()
                    samples = struct.unpack(f"<{nf}h", w.readframes(nf))
                rows.append(
                    {
                        "media_id": int(mid),
                        "n_frames": nf,
                        "peak": max(abs(s) for s in samples),
                    }
                )
            yield pd.DataFrame(rows)

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    sampled = media.mapInPandas(sample_frames, schema=MEDIA_SCHEMA)
    return sampled.mapInPandas(
        decode, schema="media_id bigint, n_frames int, peak int"
    ).orderBy("media_id")


ORACLE_Q135 = f"""
WITH base AS (
  SELECT doc_id AS media_id,
         64 + n_chars % 128 AS nf,
         1 + n_chars % 7    AS k
  FROM documents
), s AS (
  SELECT media_id,
         (nf + {FRAME_STRIDE} - 1) // {FRAME_STRIDE} AS nf2,
         list_transform(range(0, (nf + {FRAME_STRIDE} - 1) // {FRAME_STRIDE}),
                        i -> ((i * {FRAME_STRIDE} * k * 257) % 2048) - 1024) AS kept
  FROM base
)
SELECT media_id,
       CAST(nf2 AS INTEGER) AS n_frames,
       CAST(list_max(list_transform(kept, x -> abs(x))) AS INTEGER) AS peak
FROM s
ORDER BY media_id
"""


N_PNG = 120


def q155_png_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-image decode in the hash gate with NO codec
    dependency: deterministic PNGs are encoded on the executors
    (prox_spark.multimodal.encode_png — zlib stream, per-image
    scanline filter cycling through all five types), then decoded back
    by the full stdlib decoder (png_pixels: chunk CRCs, inflate,
    unfilter), and the gate compares width/height plus the SUM OF
    DECODED PIXEL BYTES — a wrong unfilter, a mis-ordered scanline, or
    a header-only "decode" cannot reproduce it. Pixels follow the
    closed form p[j] = (7*id + j) mod 256, so the DuckDB oracle
    rebuilds the expected sums from generate_series without ever
    touching a PNG. Both passes are Arrow-batched mapInPandas over a
    distributed range — payloads are born and die inside their task
    (the 100 TB media posture: only scalar features cross the plan).
    ``sf_dir`` unused (closed-form corpus, q140 pattern)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from prox_spark.multimodal import encode_png, png_pixels

    base = spark.range(0, N_PNG, 1, 8).select(F.col("id").alias("media_id"))

    def gen(batches):
        for pdf in batches:
            blobs = []
            for i in pdf["media_id"]:
                i = int(i)
                w, h = 8 + i % 13, 5 + i % 7
                px = bytes((7 * i + j) % 256 for j in range(w * h * 3))
                blobs.append(encode_png(w, h, 3, px, filter_type=i % 5))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": blobs})

    media = base.mapInPandas(gen, "media_id long, payload binary")

    def dec(batches):
        for pdf in batches:
            rows = [
                (int(i), *(lambda r: (r[0], r[1], sum(r[3])))(
                    png_pixels(bytes(payload))
                ))
                for i, payload in zip(pdf["media_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "pixel_sum"]
            )

    return media.mapInPandas(
        dec, "media_id long, width long, height long, pixel_sum long"
    ).orderBy("media_id")


ORACLE_Q155 = f"""
WITH d AS (
  SELECT i AS media_id, 8 + i % 13 AS width, 5 + i % 7 AS height
  FROM generate_series(0, {N_PNG - 1}) t(i)
)
SELECT media_id, width, height,
       CAST(list_sum(list_transform(range(0, width * height * 3),
                                    j -> (7 * media_id + j) % 256)) AS BIGINT)
         AS pixel_sum
FROM d
ORDER BY media_id
"""


N_JPEG = 96


def q157_jpeg_block_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-codec decode in the HASH gate: deterministic baseline
    JPEGs are entropy-encoded on the executors (prox_spark.jpeg — real
    Huffman coding, byte stuffing, DCT) and decoded back by the full
    decoder, with the gate comparing the SUM OF DECODED PIXELS against
    a closed-form DuckDB recompute. The trick that makes a lossy codec
    bit-gateable: every 8x8 block is a CONSTANT color, so its DCT is
    DC-only and, with an all-ones quantization table, the round-trip
    is exact integer arithmetic (asserted in test_multimodal.py) —
    while the bitstream still exercises DC prediction across blocks,
    EXTEND, EOB, and unstuffing. Block colors follow
    (31*id + 17*bx + 53*by) mod 256 so the oracle rebuilds the sums
    from a block-grid cross join without touching a JPEG.

    Scale shape: q155's pattern — two Arrow-batched mapInPandas passes
    over a distributed range; payloads die inside the task, only
    (id, dims, sum) emerge. ``sf_dir`` unused (closed-form corpus)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from prox_spark.jpeg import decode_jpeg, encode_jpeg

    base = spark.range(0, N_JPEG, 1, 8).select(F.col("id").alias("media_id"))

    def gen(batches):
        import numpy as np

        for pdf in batches:
            blobs = []
            for i in pdf["media_id"]:
                i = int(i)
                bw, bh = 2 + i % 3, 1 + i % 2
                img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
                for by in range(bh):
                    for bx in range(bw):
                        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            31 * i + 17 * bx + 53 * by
                        ) % 256
                blobs.append(encode_jpeg(bw * 8, bh * 8, 1, img.tobytes()))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": blobs})

    media = base.mapInPandas(gen, "media_id long, payload binary")

    def dec(batches):
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, _c, px = decode_jpeg(bytes(payload))
                rows.append((int(i), w, h, sum(px)))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "pixel_sum"]
            )

    return media.mapInPandas(
        dec, "media_id long, width long, height long, pixel_sum long"
    ).orderBy("media_id")


ORACLE_Q157 = f"""
WITH d AS (
  SELECT i AS media_id, 2 + i % 3 AS bw, 1 + i % 2 AS bh
  FROM generate_series(0, {N_JPEG - 1}) t(i)
)
SELECT media_id,
       CAST(bw * 8 AS BIGINT) AS width,
       CAST(bh * 8 AS BIGINT) AS height,
       CAST(list_sum(list_transform(range(0, bw * bh),
                     b -> 64 * ((31 * media_id + 17 * (b % bw) + 53 * (b // bw)) % 256)))
            AS BIGINT) AS pixel_sum
FROM d
ORDER BY media_id
"""


N_VID = 64
VID_STRIDE = 2


def q158_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame-sampling with no ffmpeg: deterministic MJPEG
    AVIs are built on the executors (prox_spark.avi — RIFF container
    with one baseline JPEG per 00dc chunk), then the decode pass walks
    the container ONCE, keeps every VID_STRIDE-th frame, and decodes
    only the kept frames (the decode-what-you-keep pattern
    vision-pretraining ingest uses; prox_spark.avi.sample_frames
    packages the same stride for library callers). Frame f of video
    id is the constant color (7*id + 29*f) mod 256 at 16x8 gray, so
    per-frame decoded sums are exact (constant-block JPEG, see q157)
    and the oracle recomputes total frames, kept frames, and the sum
    of kept-frame pixels in closed form.

    Scale shape: two mapInPandas passes; whole videos never cross a
    shuffle, and the container walk reads only kept frames' bytes into
    the JPEG decoder. ``sf_dir`` unused (closed-form corpus)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from prox_spark.avi import avi_mjpeg_frames, decode_sampled, encode_avi_mjpeg
    from prox_spark.jpeg import encode_jpeg

    base = spark.range(0, N_VID, 1, 8).select(F.col("id").alias("media_id"))

    def gen(batches):
        for pdf in batches:
            blobs = []
            for i in pdf["media_id"]:
                i = int(i)
                nf = 3 + i % 6
                frames = [
                    encode_jpeg(16, 8, 1, bytes([(7 * i + 29 * f) % 256]) * 128)
                    for f in range(nf)
                ]
                blobs.append(encode_avi_mjpeg(frames, 16, 8, fps=5))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": blobs})

    media = base.mapInPandas(gen, "media_id long, payload binary")

    def dec(batches):
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["media_id"], pdf["payload"]):
                blob = bytes(payload)
                # one container walk yields both the census and the
                # kept frames; only kept frames hit the JPEG decoder
                _w, _h, _fps, frames = avi_mjpeg_frames(blob)
                kept = decode_sampled(frames, VID_STRIDE)
                rows.append(
                    (
                        int(i),
                        len(frames),
                        len(kept),
                        sum(sum(px) for _, _, _, px in kept),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_frames", "n_kept", "kept_sum"]
            )

    return media.mapInPandas(
        dec, "media_id long, n_frames long, n_kept long, kept_sum long"
    ).orderBy("media_id")


ORACLE_Q158 = f"""
WITH d AS (
  SELECT i AS media_id, 3 + i % 6 AS nf
  FROM generate_series(0, {N_VID - 1}) t(i)
)
SELECT media_id,
       CAST(nf AS BIGINT) AS n_frames,
       CAST((nf + {VID_STRIDE} - 1) // {VID_STRIDE} AS BIGINT) AS n_kept,
       CAST(list_sum(list_transform(range(0, (nf + {VID_STRIDE} - 1) // {VID_STRIDE}),
                     k -> 128 * ((7 * media_id + 29 * k * {VID_STRIDE}) % 256)))
            AS BIGINT) AS kept_sum
FROM d
ORDER BY media_id
"""


def q176_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection by PERCEPTUAL HASH — the
    multimodal arm of the dedup family (q30 exact / q36 MinHash /
    q170 SemDeDup): synthesize a deterministic-gradient P6 PPM per
    document (q134's generator), parse the real bytes back, compute
    the classic aHash/pHash recipe — 8×8 nearest-neighbor thumbnail,
    threshold each cell against the integer mean, pack the 64 bits —
    and group the corpus by hash: images that look alike land in one
    bucket regardless of their stored resolution (the thumbnail
    normalizes w×h away), which is exactly how production image dedup
    blocks candidates before any pairwise compare. At 100 TB the hash
    is computed inside the Arrow decode pass (payloads never shuffle;
    16 bytes of hash per image emerge) and the bucket group-by is the
    only shuffle.

    Everything is INTEGER arithmetic (NN index = (dst*size)//8,
    mean = sum//64, strict > threshold, bit packs as two 32-bit
    halves to dodge signed-shift overflow), so the DuckDB oracle
    recomputes the hashes in closed form from the gradient formula —
    a wrong decode, sampling grid, threshold, or bit order all break
    the hash gate."""
    from prox_spark.multimodal import MEDIA_SCHEMA
    from prox_spark.queries.text import _spread_py

    import pandas as pd
    from pyspark.sql import functions as F

    docs = _spread_py(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    )

    def encode(batches):
        for pdf in batches:
            payloads = []
            for n in pdf["n_chars"]:
                n = int(n)
                w, h = 16 + n % 32, 8 + n % 24
                header = f"P6\n{w} {h}\n255\n".encode()
                pix = bytes(
                    (x * 3 + y * 7) % 256
                    for y in range(h)
                    for x in range(w)
                    for _ in range(3)
                )
                payloads.append(header + pix)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].values,
                    "payload": payloads,
                    "meta": [{"mime": "image/ppm", "source": "synth"} for _ in payloads],
                }
            )

    def phash(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                head, dims, _maxval, pix = bytes(payload).split(b"\n", 3)
                if head != b"P6":
                    raise ValueError(f"media_id {int(mid)}: not a binary PPM (P6) payload")
                w, h = map(int, dims.split())
                arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)
                xs = (np.arange(8) * w) // 8
                ys = (np.arange(8) * h) // 8
                thumb = arr[np.ix_(ys, xs)][:, :, 0].astype(np.int64)
                mean = int(thumb.sum()) // 64
                flat = thumb.reshape(-1)  # k = y*8 + x, row-major
                lo = sum(1 << k for k in range(32) if flat[k] > mean)
                hi = sum(1 << k for k in range(32) if flat[k + 32] > mean)
                rows.append(
                    {
                        "media_id": int(mid),
                        "phash_hi": int(hi),
                        "phash_lo": int(lo),
                    }
                )
            yield pd.DataFrame(rows)

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    hashed = media.mapInPandas(
        phash, schema="media_id bigint, phash_hi bigint, phash_lo bigint"
    )
    return (
        hashed.groupBy("phash_hi", "phash_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("media_id").cast("long").alias("exemplar_id"),
        )
        .orderBy(F.desc("n_docs"), F.asc("phash_hi"), F.asc("phash_lo"))
        .limit(20)
    )


ORACLE_Q176 = """
WITH t1 AS (
  SELECT doc_id, 16 + n_chars % 32 AS w, 8 + n_chars % 24 AS h
  FROM documents
),
t2 AS (
  SELECT doc_id,
         list_transform(range(0, 64),
           k -> ((((k % 8) * w) // 8) * 3 + (((k // 8) * h) // 8) * 7) % 256
         ) AS tv
  FROM t1
),
t3 AS (SELECT doc_id, tv, CAST(list_sum(tv) AS BIGINT) // 64 AS m FROM t2),
t4 AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 32),
           k -> CASE WHEN tv[k + 33] > m THEN (1::BIGINT << k) ELSE 0::BIGINT END
         )) AS BIGINT) AS phash_hi,
         CAST(list_sum(list_transform(range(0, 32),
           k -> CASE WHEN tv[k + 1] > m THEN (1::BIGINT << k) ELSE 0::BIGINT END
         )) AS BIGINT) AS phash_lo
  FROM t3
)
SELECT phash_hi, phash_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS exemplar_id
FROM t4
GROUP BY phash_hi, phash_lo
ORDER BY n_docs DESC, phash_hi ASC, phash_lo ASC
LIMIT 20
"""


# --- q186: audio fingerprint dedup (energy-envelope, scale-invariant) ------

AFP_FRAMES = 256   # samples per synthesized clip
AFP_WINDOWS = 8    # envelope windows per fingerprint


def q186_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIO arm of the dedup family (q30 text, q176 images):
    group clips by an amplitude-invariant ENERGY-ENVELOPE fingerprint
    — the same recording re-mastered at a different volume must land
    in the same bucket, which is what production audio dedup's
    chromaprint-style blocking does before any expensive pairwise
    compare. Each synthesized WAV is a deterministic waveform whose
    PATTERN derives from n_chars % 16 and whose AMPLITUDE from a
    separate factor; the fingerprint is the per-window share of total
    absolute energy in integer permille — floor((1000·winsum)/totsum)
    is exactly invariant under integer amplitude scaling (numerator
    and denominator scale together), so re-mastered copies collide
    bit-exactly with no float anywhere. The oracle recomputes every
    fingerprint in closed form from n_chars.

    Scale shape: synth and fingerprint are each one mapInPandas pass
    (payloads born and die in the task — only the short fingerprint
    string shuffles); the dedup is a hash groupBy on the fingerprint,
    the q30 pattern with bytes swapped for PCM."""
    from prox_spark.multimodal import MEDIA_SCHEMA
    from prox_spark.queries.text import _spread_py

    import pandas as pd
    from pyspark.sql import functions as F

    docs = _spread_py(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "n_chars"
        )
    )

    def encode(batches):
        import io
        import struct
        import wave

        for pdf in batches:
            payloads = []
            for n in pdf["n_chars"]:
                n = int(n)
                p, a = n % 16, 1 + (n // 16) % 5
                samples = [
                    a * (((i * (p + 3) * 257) % 1024) - 512)
                    for i in range(AFP_FRAMES)
                ]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(struct.pack(f"<{AFP_FRAMES}h", *samples))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].values,
                    "payload": payloads,
                    "meta": [
                        {"mime": "audio/wav", "source": "synth"}
                        for _ in payloads
                    ],
                }
            )

    win = AFP_FRAMES // AFP_WINDOWS

    def fingerprint(batches):
        import io
        import struct
        import wave

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload))) as w:
                    nf = w.getnframes()
                    samples = struct.unpack(f"<{nf}h", w.readframes(nf))
                mags = [abs(s) for s in samples]
                tot = sum(mags)
                ratios = [
                    (1000 * sum(mags[k * win:(k + 1) * win])) // tot
                    for k in range(AFP_WINDOWS)
                ]
                rows.append(
                    {
                        "media_id": int(mid),
                        "fingerprint": "-".join(str(r) for r in ratios),
                    }
                )
            yield pd.DataFrame(rows)

    media = docs.mapInPandas(encode, schema=MEDIA_SCHEMA)
    fps = media.mapInPandas(
        fingerprint, schema="media_id bigint, fingerprint string"
    )
    return (
        fps.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.min("media_id").cast("long").alias("rep_id"),
        )
        .orderBy("fingerprint")
    )


ORACLE_Q186 = f"""
WITH base AS (
  SELECT doc_id AS media_id,
         n_chars % 16            AS p,
         1 + (n_chars // 16) % 5 AS a
  FROM documents
),
s AS (
  SELECT media_id,
         list_transform(
           range(0, {AFP_FRAMES}),
           i -> abs(a * (((i * (p + 3) * 257) % 1024) - 512))
         ) AS mags
  FROM base
),
fp AS (
  SELECT media_id,
         array_to_string(
           list_transform(
             range(0, {AFP_WINDOWS}),
             k -> CAST(
               (1000 * list_sum(list_transform(
                  range(1, {AFP_FRAMES // AFP_WINDOWS} + 1),
                  j -> mags[k * {AFP_FRAMES // AFP_WINDOWS} + j]
                ))) // list_sum(mags) AS VARCHAR)
           ), '-') AS fingerprint
  FROM s
)
SELECT fingerprint,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(min(media_id) AS BIGINT) AS rep_id
FROM fp
GROUP BY fingerprint
ORDER BY fingerprint
"""


QUERIES = {
    "q43_media_features": q43_media_features,
    "q112_media_real_decode": q112_media_real_decode,
    "q121_audio_real_decode": q121_audio_real_decode,
    "q134_image_resize": q134_image_resize,
    "q135_frame_sample": q135_frame_sample,
    "q155_png_pixel_decode": q155_png_pixel_decode,
    "q157_jpeg_block_decode": q157_jpeg_block_decode,
    "q158_video_frame_sample": q158_video_frame_sample,
    "q176_image_phash_dedup": q176_image_phash_dedup,
    "q186_audio_fingerprint_dedup": q186_audio_fingerprint_dedup,
}
ORACLES = {
    "q43_media_features": ORACLE_Q43,
    "q112_media_real_decode": ORACLE_Q112,
    "q121_audio_real_decode": ORACLE_Q121,
    "q134_image_resize": ORACLE_Q134,
    "q135_frame_sample": ORACLE_Q135,
    "q155_png_pixel_decode": ORACLE_Q155,
    "q157_jpeg_block_decode": ORACLE_Q157,
    "q158_video_frame_sample": ORACLE_Q158,
    "q176_image_phash_dedup": ORACLE_Q176,
    "q186_audio_fingerprint_dedup": ORACLE_Q186,
}
