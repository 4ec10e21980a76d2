"""Multimodal (image/audio/video) column handling for training-data pipelines.

The reference is tables-of-strings-and-doubles only (SURVEY.md §1.3), so this
is a north-star extension: media as opaque ``binary`` payload columns with
typed metadata, processed by Arrow-batched Python (``mapInPandas``) -- the
correct Spark shape for decode/feature-extract work that cannot run JVM-side.

Design for 100 TB:
  - payloads stay OPAQUE to the JVM: no shuffle ever carries decoded frames;
    metadata (small, typed) is what joins/aggregates downstream.
  - all Python stages are ``mapInPandas`` (per-partition Arrow batches, no
    per-row pickling, no shuffle introduced); output schemas are fixed
    ``StructType``s so Catalyst can prune columns through them.
  - image decode needs no image library: ``decode_image`` reads BMP, PNG
    and baseline JPEG natively and refuses every other format with a named
    ``NotImplementedError``; audio and video payloads are never decoded --
    the deterministic metadata and fixed-size-frame paths below exercise
    the identical plumbing (binary in Arrow record batches -> pandas bytes
    -> typed rows out).

The synthetic payload is the utf-8 encoding of ``documents.text`` (ASCII in
the testdata, so byte offsets == char offsets -- which is what makes the
DuckDB oracle expressible in SQL).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_TYPES = ("image", "audio", "video")

PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sha256_hex", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def attach_fake_payload(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_type, payload binary). Deterministic:
    payload = utf8(text), media_type cycles by doc_id so every modality is
    exercised. JVM-side only (F.encode), zero Python."""
    return docs.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(m) for m in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def decode_image(payload: bytes):
    """Decode an image payload to a uint8 (H, W, 3) RGB array. REAL with
    zero image libraries for the three formats that matter: 24-bit BMP
    (struct + numpy), truecolor PNG (stdlib zlib inflate + all five row
    filters), and baseline JPEG (our own DCT/Huffman codec in
    operators.jpeg). Other formats (WebP, TIFF, progressive JPEG...) raise
    NotImplementedError.

    THE NATIVE-CODEC SWAP SEAM (PERF.md "codec ceiling"): this dispatch is
    the single point where a production deployment trades our deterministic
    pure-python JPEG path (~1 MB·s⁻¹·core⁻¹ at 256x256 -- fine for
    correctness, the cluster bottleneck at 100 TB of real images) for
    PIL/libjpeg-turbo (~2 orders of magnitude faster) by routing the
    ``b"\\xff\\xd8"`` branch to it. We deliberately do NOT switch on
    dependency presence: IDCT rounding differs between codecs, so that
    would make decoded pixel values environment-dependent and break
    dual-engine oracle determinism. PNG/BMP are zlib/struct-backed and not a
    bottleneck (PERF.md: PNG decode ~345 MB·s⁻¹·core⁻¹ at 256x256)."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise NotImplementedError(
        "only BMP/PNG/baseline-JPEG decode natively -- use "
        "extract_media_meta for the deterministic metadata path on other "
        "formats"
    )


def extract_media_meta(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads.

    Deterministic fake 'decode': width/height derived from payload bytes
    (stand-ins for a real header parse), sha256 content hash for lineage.
    Runs as mapInPandas: one Python stage per partition, no shuffle.
    """

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes.astype("int64"),
                    "sha256_hex": payloads.map(lambda b: hashlib.sha256(b).hexdigest()),
                    "width": (n_bytes % 640 + 1).astype("int32"),
                    "height": (
                        payloads.map(lambda b: b[0] if len(b) else 0) * 3 % 480 + 1
                    ).astype("int32"),
                }
            )

    return with_payload.mapInPandas(meta, IMAGE_META_SCHEMA)


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("b_q1", LongType()),
        StructField("b_q2", LongType()),
        StructField("b_q3", LongType()),
        StructField("b_q4", LongType()),
        StructField("mean_byte", StringType()),
    ]
)


def extract_byte_features(with_payload: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads: a 4-bucket byte-value
    histogram + mean byte -- REAL numpy computation on the raw bytes (the
    shape a signal-level featurizer takes: embed/spectrogram/EXIF all look
    like this), Arrow-batched, map-only, one output row per payload.

    Vectorized: each payload becomes one np.frombuffer view -- no per-byte
    Python. mean_byte is a 4-dp string so the DuckDB oracle (which computes
    the identical histogram from the ASCII text) compares exactly."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mt, payload in zip(pdf["doc_id"], pdf["media_type"], pdf["payload"]):
                a = np.frombuffer(payload, dtype=np.uint8)
                if a.size == 0:
                    rows.append((doc_id, mt, 0, 0, 0, 0, 0, "0.0000"))
                    continue
                q = [
                    int(((a >= lo) & (a < hi)).sum())
                    for lo, hi in ((0, 64), (64, 128), (128, 192), (192, 256))
                ]
                rows.append(
                    (doc_id, mt, int(a.size), *q, f"{a.mean():.4f}")
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return with_payload.mapInPandas(feats, FEATURE_SCHEMA)


THUMB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("thumb_n_bytes", LongType()),
        StructField("thumb_md5", StringType()),
    ]
)


def resize_thumbnail(with_payload: DataFrame, stride: int = 8) -> DataFrame:
    """'Resize' stage: downsample each payload by keeping every stride-th
    byte (the deterministic stand-in for a real thumbnail/resample -- a PIL
    `Image.resize` or audio decimation slots in behind the same schema and
    batch shape). Output carries the thumb's size + md5, so every
    downsampled byte is pinned by the oracle without shipping binaries
    through the compare."""

    def thumbs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mt, payload in zip(pdf["doc_id"], pdf["media_type"], pdf["payload"]):
                t = bytes(payload[::stride])
                rows.append(
                    (doc_id, mt, len(payload), len(t), hashlib.md5(t).hexdigest())
                )
            yield pd.DataFrame(rows, columns=[f.name for f in THUMB_SCHEMA.fields])

    return with_payload.mapInPandas(thumbs, THUMB_SCHEMA)


def sample_frames(
    with_payload: DataFrame,
    frame_bytes: int = 16,
    stride: int = 4,
) -> DataFrame:
    """'Video' frame sampling: treat the payload as fixed-size frames, emit
    every stride-th frame's index + content hash. Output cardinality differs
    from input (1 row -> n frames) -- mapInPandas handles that natively.
    """

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            hashes: list[str] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) // frame_bytes
                for i in range(0, n_frames, stride):
                    ids.append(doc_id)
                    idxs.append(i)
                    hashes.append(
                        hashlib.md5(
                            payload[i * frame_bytes : (i + 1) * frame_bytes]
                        ).hexdigest()
                    )
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_md5": hashes})

    video = with_payload.filter(F.col("media_type") == "video")
    return video.mapInPandas(frames, FRAME_SCHEMA)


# ------------------------------------------------------------- real BMP path
#
# 24-bit uncompressed BMP (BITMAPINFOHEADER, BI_RGB) needs no codec library
# at all. Pure numpy: header via struct, pixel grid via one frombuffer +
# reshape (bottom-up rows, BGR order, rows padded to 4).

REAL_IMAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", StringType()),
        StructField("mean_g", StringType()),
        StructField("mean_b", StringType()),
    ]
)


def encode_bmp(pixels) -> bytes:
    """uint8 (H, W, 3) RGB array -> 24-bit BI_RGB .bmp bytes."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    row_raw = w * 3
    pad = (-row_raw) % 4
    body_size = (row_raw + pad) * h
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + body_size, 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, body_size, 2835, 2835, 0, 0)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        rows.append(arr[y, :, ::-1].tobytes() + b"\x00" * pad)  # RGB -> BGR
    return header + b"".join(rows)


def decode_bmp(payload: bytes):
    """24-bit BI_RGB .bmp bytes -> uint8 (H, W, 3) RGB array. Pure numpy."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP is supported")
    row_raw = w * 3
    stride = row_raw + ((-row_raw) % 4)
    grid = np.frombuffer(
        payload, dtype=np.uint8, count=stride * abs(h), offset=data_offset
    ).reshape(abs(h), stride)[:, :row_raw].reshape(abs(h), w, 3)
    if h > 0:
        grid = grid[::-1]  # bottom-up -> top-down
    return grid[:, :, ::-1].copy()  # BGR -> RGB


def real_image_meta(with_payload: DataFrame) -> DataFrame:
    """TRUE header/pixel metadata from real BMP payloads: width, height and
    per-channel means read from the DECODED grid (4-dp strings so an exact
    compare never hits float formatting). Same mapInPandas batch shape as
    extract_media_meta -- this is the deterministic-fake path's real twin
    for the one format the container can decode without any library."""

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_bmp(payload)
                means = px.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        doc_id,
                        int(px.shape[1]),
                        int(px.shape[0]),
                        f"{means[0]:.4f}",
                        f"{means[1]:.4f}",
                        f"{means[2]:.4f}",
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in REAL_IMAGE_SCHEMA.fields]
            )

    return with_payload.mapInPandas(meta, REAL_IMAGE_SCHEMA)


# ------------------------------------------------------------- real WAV path
#
# Like BMP, RIFF/WAVE PCM is uncompressed -- the audio decode path is REAL
# with zero dependencies: struct header parse + one int16 frombuffer.

REAL_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("rms", StringType()),
    ]
)


def encode_wav(samples, sample_rate: int = 8000, n_channels: int = 1) -> bytes:
    """int16 sample array -> RIFF/WAVE PCM bytes."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * n_channels * 2
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(pcm), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sample_rate, byte_rate,
            n_channels * 2, 16,
        )
        + struct.pack("<4sI", b"data", len(pcm))
        + pcm
    )


def decode_wav(payload: bytes):
    """RIFF/WAVE PCM16 bytes -> (samples int16 array, sample_rate, n_channels)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = None
    while pos + 8 <= len(payload):
        chunk_id, size = struct.unpack_from("<4sI", payload, pos)
        if chunk_id == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif chunk_id == b"data":
            if fmt is None or fmt[0] != 1 or fmt[5] != 16:
                raise NotImplementedError("only PCM16 WAV is supported")
            samples = np.frombuffer(payload, dtype="<i2", count=size // 2, offset=pos + 8)
            return samples, fmt[2], fmt[1]
        pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    raise ValueError("no data chunk")


def real_audio_meta(with_payload: DataFrame) -> DataFrame:
    """TRUE audio metadata from real WAV payloads: channel count, sample
    rate, sample count and RMS amplitude computed from the DECODED PCM --
    the audio twin of real_image_meta, same mapInPandas batch shape."""
    import numpy as np

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, rate, ch = decode_wav(payload)
                rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
                rows.append((doc_id, ch, rate, len(samples), f"{rms:.4f}"))
            yield pd.DataFrame(
                rows, columns=[f.name for f in REAL_AUDIO_SCHEMA.fields]
            )

    return with_payload.mapInPandas(meta, REAL_AUDIO_SCHEMA)


# ------------------------------------------------------------- real Y4M path
#
# Video completes the trio: YUV4MPEG2 (.y4m) is raw frames behind a
# plain-text header -- a real interchange format (mjpegtools lineage) that
# decodes with zero dependencies, unlike compressed containers, which the
# engine never decodes. C420: per frame, a W*H luma plane then two
# (W/2)*(H/2) chroma planes.

REAL_VIDEO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_y", StringType()),
    ]
)


def encode_y4m(y_planes, fps: int = 30) -> bytes:
    """List of uint8 (H, W) luma planes -> YUV4MPEG2 C420 bytes (chroma
    planes constant 128 = neutral)."""
    import numpy as np

    first = np.asarray(y_planes[0], dtype=np.uint8)
    h, w = first.shape
    chroma = bytes([128]) * ((w // 2) * (h // 2))
    out = [f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode()]
    for y in y_planes:
        out.append(b"FRAME\n")
        out.append(np.asarray(y, dtype=np.uint8).tobytes())
        out.append(chroma)
        out.append(chroma)
    return b"".join(out)


def decode_y4m(payload: bytes):
    """YUV4MPEG2 C420 bytes -> (width, height, [uint8 (H, W) luma planes])."""
    import numpy as np

    nl = payload.index(b"\n")
    header = payload[:nl].decode()
    if not header.startswith("YUV4MPEG2"):
        raise ValueError("not a y4m payload")
    params = dict(
        (p[0], p[1:]) for p in header.split()[1:] if p and p[0] in "WHFC"
    )
    if params.get("C", "420") not in ("420", "420jpeg", "420mpeg2"):
        raise NotImplementedError("only C420 y4m is supported")
    w, h = int(params["W"]), int(params["H"])
    frame_size = w * h + 2 * (w // 2) * (h // 2)
    pos = nl + 1
    frames = []
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError("bad frame marker")
        pos = fnl + 1
        frames.append(
            np.frombuffer(payload, dtype=np.uint8, count=w * h, offset=pos)
            .reshape(h, w)
            .copy()
        )
        pos += frame_size
    return w, h, frames


def real_video_meta(with_payload: DataFrame) -> DataFrame:
    """TRUE per-frame metadata from real y4m payloads: frame index, decoded
    dimensions, mean luma -- 1 row in, n frames out (the same fan-out shape
    as sample_frames, now over an actual decoded container)."""
    import numpy as np

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, frames = decode_y4m(payload)
                for i, y in enumerate(frames):
                    rows.append((doc_id, i, w, h, f"{y.astype(np.float64).mean():.4f}"))
            yield pd.DataFrame(
                rows, columns=[f.name for f in REAL_VIDEO_SCHEMA.fields]
            )

    return with_payload.mapInPandas(meta, REAL_VIDEO_SCHEMA)


def extract_byte_features_arrow(with_payload: DataFrame) -> DataFrame:
    """mapInArrow twin of extract_byte_features: the same 4-bucket byte
    histogram computed directly on pyarrow RecordBatches -- no pandas
    conversion layer at all, the lowest-overhead Python path Spark offers
    (worth it when payloads are large and the pandas boxing of binary
    columns dominates). Same output schema, same numbers, pinned against
    the pandas twin by the shared oracle."""
    import numpy as np
    import pyarrow as pa

    names = [f.name for f in FEATURE_SCHEMA.fields]

    def feats(batches):
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            mts = batch.column("media_type").to_pylist()
            payloads = batch.column("payload").to_pylist()
            rows = []
            for doc_id, mt, payload in zip(doc_ids, mts, payloads):
                a = np.frombuffer(payload, dtype=np.uint8)
                if a.size == 0:
                    rows.append((doc_id, mt, 0, 0, 0, 0, 0, "0.0000"))
                    continue
                q = [
                    int(((a >= lo) & (a < hi)).sum())
                    for lo, hi in ((0, 64), (64, 128), (128, 192), (192, 256))
                ]
                rows.append((doc_id, mt, int(a.size), *q, f"{a.mean():.4f}"))
            arrays = list(zip(*rows)) if rows else [[] for _ in names]
            yield pa.RecordBatch.from_arrays(
                [pa.array(col) for col in arrays], names=names
            )

    return with_payload.mapInArrow(feats, FEATURE_SCHEMA)


# ------------------------------------------------------------- real PNG path
#
# PNG needs only DEFLATE, and zlib is in the standard library -- so unlike
# JPEG-via-PIL there is no dependency excuse: the compressed-image decode
# path can be fully real. Encoder emits 8-bit truecolor non-interlaced
# (filter 0 rows); the decoder additionally implements all five PNG row
# filters (None/Sub/Up/Average/Paeth, RFC 2083 §6), so it reads real-world
# truecolor PNGs from other writers, not just its own output.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels) -> bytes:
    """uint8 (H, W, 3) RGB array -> truecolor 8-bit PNG bytes."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Truecolor 8-bit non-interlaced PNG bytes -> uint8 (H, W, 3) RGB array.

    Pure zlib + numpy; implements all five row filters. The scalar loop for
    Sub/Average/Paeth rows is per-pixel Python -- acceptable because PNG
    unfiltering is inherently sequential in x for those filters and payloads
    here are thumbnail-sized; a production build would push this into a
    C-accelerated decoder behind the same signature."""
    import struct
    import zlib

    import numpy as np

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    idat: list[bytes] = []
    w = h = None
    while pos + 8 <= len(payload):
        ln, tag = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype != 2 or interlace != 0:
                raise NotImplementedError(
                    "only 8-bit truecolor non-interlaced PNG is supported"
                )
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG without IHDR")
    raw = zlib.decompress(b"".join(idat))
    bpp = 3
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data has wrong length")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    at = 0
    for y in range(h):
        ftype = raw[at]
        at += 1
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=at).copy()
        at += stride
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up (uint8 addition wraps mod 256 -- the spec)
            cur = line + prev
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = np.empty(stride, dtype=np.uint8)
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, 3)


def real_png_meta(with_payload: DataFrame) -> DataFrame:
    """TRUE header/pixel metadata from real PNG payloads -- identical output
    contract to `real_image_meta` (BMP), so the two formats share one
    oracle shape: width, height, exact per-channel means as 4-dp strings."""

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_png(payload)
                means = px.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        doc_id,
                        int(px.shape[1]),
                        int(px.shape[0]),
                        f"{means[0]:.4f}",
                        f"{means[1]:.4f}",
                        f"{means[2]:.4f}",
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in REAL_IMAGE_SCHEMA.fields]
            )

    return with_payload.mapInPandas(meta, REAL_IMAGE_SCHEMA)


# ------------------------------------------- audio/video ANALYSIS operators
#
# Past decode: the two analysis stages an audio/video training-data pipeline
# runs before sampling -- a short-time spectrum per audio frame (the input
# to VAD / music-speech filtering) and shot-boundary detection (the input to
# representative-frame sampling). Both consume the REAL decoded payloads and
# keep the 100 TB shape: map-only Arrow batches, no shuffle of media bytes,
# small typed rows out.

SPECTROGRAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("energy_db", StringType()),
        StructField("centroid", StringType()),
    ]
)


def audio_spectrogram(
    with_payload: DataFrame, frame_len: int = 16
) -> DataFrame:
    """Short-time spectrum features over REAL decoded WAV payloads: PCM is
    split into non-overlapping ``frame_len`` windows, Hann-weighted
    (symmetric, ``0.5 - 0.5*cos(2*pi*n/(N-1))`` -- numpy.hanning), and each
    frame's one-sided DFT magnitudes |X[k]|, k = 0..N/2 give

      energy_db = 10*log10(1 + sum_k |X[k]|^2)
      centroid  = sum_k k*|X[k]| / sum_k |X[k]|  (0.0 for an all-zero frame)

    -- the spectral-centroid/energy pair that voice-activity and
    music/speech filters threshold on. Trailing samples short of a full
    frame are dropped (standard STFT framing). Energy is in dB ON PURPOSE:
    the oracle recomputes the DFT as naive sum-of-cos/sin, which agrees
    with numpy's FFT only to ~1e-14 relative -- on the raw ~1e7-magnitude
    energy that error is the same order as the 4-dp rounding grid and
    printf would flip at boundaries, while log-compression pushes it to
    ~1e-14 absolute, far below the grid. Floats are emitted as
    printf('%.4f') strings for exact cross-engine parity.

    Scale shape: mapInPandas only -- one Arrow pass, no shuffle; output is
    frames-per-doc small typed rows. numpy rfft is vectorized across an
    entire payload's frames at once."""
    import numpy as np

    win = np.hanning(frame_len)

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, _rate, _ch = decode_wav(payload)
                n_frames = len(samples) // frame_len
                frames = (
                    samples[: n_frames * frame_len]
                    .astype(np.float64)
                    .reshape(n_frames, frame_len)
                )
                mags = np.abs(np.fft.rfft(frames * win, axis=1))
                energy = 10.0 * np.log10(1.0 + (mags**2).sum(axis=1))
                denom = mags.sum(axis=1)
                k = np.arange(mags.shape[1])
                with np.errstate(invalid="ignore"):
                    cent = np.where(
                        denom > 0.0, (mags * k).sum(axis=1) / denom, 0.0
                    )
                for i in range(n_frames):
                    rows.append(
                        (doc_id, i, f"{energy[i]:.4f}", f"{cent[i]:.4f}")
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in SPECTROGRAM_SCHEMA.fields]
            )

    return with_payload.mapInPandas(feats, SPECTROGRAM_SCHEMA)


SHOT_BOUNDARY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("diff_score", StringType()),
        StructField("is_cut", BooleanType()),
    ]
)


def video_shot_boundaries(
    with_payload: DataFrame, threshold: float = 64.0
) -> DataFrame:
    """Shot-boundary (scene-cut) detection over REAL decoded y4m payloads:
    for every consecutive frame pair, the mean absolute luma difference

      diff_score(f) = mean |Y_f - Y_{f-1}|,  f >= 1

    and ``is_cut = diff_score > threshold`` -- the classical pixel-domain
    cut detector (Zhang et al. 1993's pairwise comparison), the stage that
    picks representative frames before expensive per-frame featurization.
    Frame 0 has no predecessor and is not emitted.

    Scale shape: mapInPandas only; frames of ONE payload are compared
    inside the batch (video locality is free -- a payload never spans
    partitions), nothing decoded ever shuffles."""
    import numpy as np

    def cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _w, _h, frames = decode_y4m(payload)
                for f in range(1, len(frames)):
                    d = float(
                        np.abs(
                            frames[f].astype(np.float64)
                            - frames[f - 1].astype(np.float64)
                        ).mean()
                    )
                    rows.append((doc_id, f, f"{d:.4f}", d > threshold))
            yield pd.DataFrame(
                rows, columns=[f.name for f in SHOT_BOUNDARY_SCHEMA.fields]
            )

    return with_payload.mapInPandas(cuts, SHOT_BOUNDARY_SCHEMA)


def audio_activity_segments(
    with_payload: DataFrame,
    threshold_db: float = 51.0,
    frame_len: int = 16,
) -> DataFrame:
    """Energy-threshold voice-activity segments over REAL decoded audio:
    frames whose spectral energy exceeds ``threshold_db`` are active, and
    consecutive active frames merge into (start, end) segments per doc --
    the classical energy VAD, the stage that cuts silence before
    transcription/feature extraction in an audio training pipeline.

    Composition shape: the per-frame energies come from audio_spectrogram
    (one Arrow pass); the thresholding and the gaps-and-islands merge are
    pure JVM window arithmetic partitioned by doc (bounded partitions:
    frames-per-payload). The 4-dp energy string is cast back to double for
    the comparison -- a decimal literal both engines parse identically, so
    the active set is engine-exact."""
    from pyspark.sql.window import Window

    frames = audio_spectrogram(with_payload, frame_len=frame_len)
    active = frames.filter(
        F.col("energy_db").cast("double") > threshold_db
    ).select("doc_id", "frame_idx")
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    return (
        active.withColumn(
            "island", F.col("frame_idx") - F.row_number().over(w)
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("frame_idx").alias("seg_start"),
            F.max("frame_idx").alias("seg_end"),
            F.count(F.lit(1)).alias("n_frames"),
        )
        .select("doc_id", "seg_start", "seg_end", "n_frames")
    )


DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dhash", LongType()),
    ]
)


def _pack_bits_s64(bits) -> int:
    """Pack a <= 64-long row-major bit vector into ONE signed 64-bit int
    (two's complement for the full-64-bit case) -- first bit is the most
    significant. BIGINT fingerprints shuffle 8 bytes per row where the
    old '0'/'1' character strings shuffled one BYTE PER BIT (8x wider),
    and they enable banded hamming matching via shiftright/bit_count."""
    if len(bits) > 64:
        raise ValueError(
            f"_pack_bits_s64: {len(bits)} bits do not fit a 64-bit "
            "fingerprint -- thumbnail the image to <= 8x9 (or split into "
            "multiple hash columns) before fingerprinting"
        )
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def image_dhash(with_payload: DataFrame) -> DataFrame:
    """dHash perceptual fingerprint over REAL decoded images -- the
    image-dedup primitive (the difference-hash of the classic pHash
    family): grayscale the decoded RGB with INTEGER luma
    ((299*r + 587*g + 114*b) // 1000, exact in both engines), then one bit
    per horizontally adjacent pixel pair (1 iff left < right), packed
    row-major into ONE signed BIGINT (most-significant bit first, two's
    complement) -- an (H, W) image gives H*(W-1) <= 64 bits, the classic
    8x9 thumbnail exactly 64. Identical and near-identical images
    (resize/re-encode survivors) collide on the hash, so image-level dedup
    becomes the same hash-groupBy shape as text dedup_exact: no pairwise
    comparison, no shuffle of pixels -- only 8-byte longs shuffle (the
    r6 form shuffled one character per bit, 8x wider rows).

    Map-only Arrow pass; decode + luma + gradient are vectorized numpy."""
    import numpy as np

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_image(payload).astype(np.int64)
                lum = (
                    299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
                ) // 1000
                bits = (lum[:, :-1] < lum[:, 1:]).astype(np.uint8)
                rows.append((doc_id, _pack_bits_s64(bits.ravel())))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    return with_payload.mapInPandas(hashes, DHASH_SCHEMA)


def image_dhash_dedup(with_payload: DataFrame) -> DataFrame:
    """Image dedup groups: dHash collisions with >= 2 members --
    (dhash, n_images, keeper_id = min doc_id). The exact-dedup shape
    applied to media."""
    return (
        image_dhash(with_payload)
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_images") >= 2)
    )


def shot_keyframes(
    with_payload: DataFrame, threshold: float = 64.0
) -> DataFrame:
    """Shot segmentation + representative-frame selection: cuts from
    video_shot_boundaries split each video into shots, and each shot's
    MIDDLE frame (floor((start + end) / 2) -- the standard cheap keyframe
    heuristic) is selected for downstream featurization, so a 100-TB video
    corpus is reduced to one frame per shot before any expensive per-frame
    model runs.

    Composition shape: one decode pass for the diff scores (Arrow), then
    pure JVM arithmetic -- per-frame shot ids are a running sum of cut
    flags over an exploded frame index (windows partition by doc; a
    payload's frame count bounds the partition). Returns
    (doc_id, shot_idx, start_frame, end_frame, keyframe_idx)."""
    from pyspark.sql.window import Window

    from ._cache import tracked_persist

    # persist the per-frame diff scores (r14, guide §1.2/§4): narrow rows
    # consumed by the frame-count agg AND the cut-marker join --
    # unpersisted, the Python y4m-decode diff pass ran once per consumer
    diffs = tracked_persist(video_shot_boundaries(with_payload, threshold=threshold))
    # total frame count per doc = max frame_idx + 1 (diff rows exist for
    # every frame >= 1); rebuild the full frame list and mark cut starts
    frames = (
        diffs.groupBy("doc_id")
        .agg((F.max("frame_idx") + 1).alias("n_frames"))
        .select(
            "doc_id",
            F.explode(F.expr("sequence(0, n_frames - 1)")).alias("frame_idx"),
        )
    )
    marked = frames.join(
        diffs.filter(F.col("is_cut")).select(
            "doc_id", "frame_idx", F.lit(1).alias("is_cut_start")
        ),
        ["doc_id", "frame_idx"],
        "left",
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("frame_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        marked.withColumn(
            "shot_idx", F.sum(F.coalesce("is_cut_start", F.lit(0))).over(w)
        )
        .groupBy("doc_id", "shot_idx")
        .agg(
            F.min("frame_idx").alias("start_frame"),
            F.max("frame_idx").alias("end_frame"),
            F.floor((F.min("frame_idx") + F.max("frame_idx")) / 2)
            .cast("long")
            .alias("keyframe_idx"),
        )
    )


def video_frame_hash_dedup(
    with_payload: DataFrame,
    min_shared: int = 3,
    *,
    max_df: int = 100,
) -> DataFrame:
    """Video near-duplicate detection by frame-fingerprint overlap -- the
    standard shape for re-upload/clip detection: every decoded frame gets
    a luma dHash (horizontal gradient signs, H*(W-1) bits), videos become
    SETS of frame hashes, and pairs sharing >= ``min_shared`` distinct
    hashes are near-duplicates. The pair space is generated by an
    inverted-index equi-join on the frame hash (same shape as MinHash
    band joins -- never all-pairs); hashes appearing in more than
    ``max_df`` videos are dropped first (black frames / title cards --
    the stop-frame guard, exactly the max_df skew guard the text SSJoin
    uses). Pixels never shuffle: the join carries one packed BIGINT per
    frame (the r6 form carried one character per bit, 8x wider).

    Returns (id_a, id_b, n_shared), id_a < id_b."""
    import numpy as np

    def frame_hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _w, _h, frames = decode_y4m(payload)
                for y in frames:
                    yl = y.astype(np.int64)
                    bits = (yl[:, :-1] < yl[:, 1:]).astype(np.uint8)
                    rows.append((doc_id, _pack_bits_s64(bits.ravel())))
            yield pd.DataFrame(rows, columns=["doc_id", "fhash"])

    from ._cache import tracked_persist

    # persist the per-frame fingerprints (r14, guide §1.2/§4): two longs
    # per frame, consumed by the stop-frame agg, the rare-join AND both
    # sides of the inverted-index self-join -- unpersisted, the Python
    # y4m-decode+dHash stage re-ran once per consumer (4 ArrowEval
    # subtrees in the audited plan)
    hashes = tracked_persist(
        with_payload.mapInPandas(
            frame_hashes, "doc_id long, fhash long"
        ).dropDuplicates(["doc_id", "fhash"])
    )
    rare = (
        hashes.groupBy("fhash")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fhash")
    )
    kept = hashes.join(rare, "fhash")
    a = kept.select(F.col("doc_id").alias("id_a"), "fhash")
    b = kept.select(F.col("doc_id").alias("id_b"), "fhash")
    return (
        a.join(b, "fhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def image_near_dup_hamming(
    with_payload: DataFrame, max_hamming: int = 3, *, max_bucket: int = 256
) -> DataFrame:
    """Near-exact image matching under small perceptual drift: pairs of
    images whose 64-bit dHashes differ in at most ``max_hamming`` bits --
    the brightness-shift / light-recompress survivors that exact-collision
    dedup misses. This is the BIGINT payoff beyond the 8x narrower
    shuffle: the SimHash banding theorem (dedup.simhash_pairs, pigeonhole:
    hamming <= 3 over 4 bands forces >= 1 identical band) applies to the
    packed fingerprint directly, so candidates come from an EQUI-join on
    any shared 16-bit band (shiftright + mask, pure codegen arithmetic)
    and the exact test is one bit_count(xor) per candidate -- never an
    all-pairs hamming scan, and both steps are engine-portable SQL.

    ``max_bucket`` is the stop-bucket guard (the max_df idea at the band
    level): gradient fingerprints are NOT uniform -- common patterns make
    hot 16-bit buckets whose within-bucket pairs grow quadratically
    (measured on the synthetic corpus: 254k -> 20.3M candidates for 10x
    images before the guard, max bucket 208 -> 1952). Dropping buckets
    over ``max_bucket`` members bounds candidates at <= 2*n*max_bucket
    (linear); a true pair is lost only if EVERY band it shares lands in a
    hot bucket, so the pigeonhole recall guarantee holds for pairs with
    at least one non-hot shared band -- the same documented trade as
    every max_df guard in the engine.

    Returns (id_a, id_b, hamming), id_a < id_b, exact distances."""
    from ._cache import tracked_persist

    # persist the fingerprints (r14, guide §1.2/§4): two longs per image,
    # consumed by the stop-bucket agg, the cool-band join AND both sides of
    # the candidate self-join -- unpersisted, the Python decode+dHash stage
    # re-ran once per consumer (4 ArrowEval subtrees in the audited plan)
    hashes = tracked_persist(image_dhash(with_payload))
    all_bands = hashes.select(
        "doc_id",
        "dhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("dhash"), s).bitwiseAND(F.lit(65535))
                    for s in (48, 32, 16, 0)
                ]
            )
        ).alias("band", "chunk"),
    )
    cool = (
        all_bands.groupBy("band", "chunk")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") <= max_bucket)
        .select("band", "chunk")
    )
    bands = all_bands.join(cool, ["band", "chunk"])
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("dhash").alias("h_a"),
        "band",
        "chunk",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("dhash").alias("h_b"),
        F.col("band").alias("band_b"),
        F.col("chunk").alias("chunk_b"),
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("chunk") == F.col("chunk_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", "h_a", "h_b")
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.expr("bit_count(h_a ^ h_b)").cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
