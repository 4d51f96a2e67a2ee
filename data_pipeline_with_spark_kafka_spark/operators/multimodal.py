"""Multimodal column convention + processing plumbing.

Convention: media travels as an opaque ``binary`` column alongside a typed
metadata struct —

    media: struct<uri: string, media_type: string, data: binary,
                  meta: map<string,string>>

Metadata-only operations (routing, size stats, hashing, filtering) stay
fully relational (codegen). Decode/feature-extraction crosses into Python
via ``mapInPandas`` (Arrow-batched — never row-at-a-time py4j).
``decode_media`` REALLY decodes the formats whose byte layout needs no
external library: 24-bit BMP, non-interlaced RGB8 PNG (DEFLATE via
stdlib zlib — round 9), mono PCM-16 WAV — pure numpy/struct/zlib codecs.
Lossy codecs (jpeg/mp3/h264) require external libraries that are not
baked into this environment and raise NotImplementedError at the dispatch.
``fake_decode_features`` remains as the format-agnostic stand-in for
blobs of arbitrary type.

At 100 TB: blobs dominate row size — repartition by target partition size
BEFORE any wide op so a single task's Arrow batches stay in memory;
``spark.sql.files.maxPartitionBytes`` governs the scan side.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def attach_blob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build the media struct from a text column (stand-in for real media
    bytes; the engine-side contract is identical for jpeg/wav/mp4 blobs)."""
    return df.select(
        F.col(id_col),
        F.struct(
            F.concat(F.lit("mem://doc/"), F.col(id_col).cast("string")).alias("uri"),
            F.lit("text/plain").alias("media_type"),
            F.encode(F.col(text_col), "UTF-8").alias("data"),
            F.create_map(F.lit("origin"), F.lit("fixture")).alias("meta"),
        ).alias("media"),
    )


def blob_metadata(df_with_media: DataFrame, id_col: str) -> DataFrame:
    """Relational metadata extraction — no Python, no decode."""
    return df_with_media.select(
        F.col(id_col),
        F.col("media.uri").alias("uri"),
        F.col("media.media_type").alias("media_type"),
        F.length(F.col("media.data")).alias("n_bytes"),
        F.sha2(F.col("media.data"), 256).alias("content_sha256"),
    )


# --------------------------------------------------------------------------
# Real codecs for uncompressed formats (pure numpy/struct — no media libs).
# Compressed codecs (jpeg/mp3/h264) genuinely need external libraries and
# stay NotImplemented; the dispatch keeps that boundary honest.
# --------------------------------------------------------------------------


def encode_bmp(arr) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit uncompressed BMP
    (BITMAPINFOHEADER, bottom-up rows, BGR order, rows padded to 4 bytes)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row_size = (w * 3 + 3) & ~3
    image_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + image_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, image_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    return header + info + rows.tobytes()


def decode_bmp(data: bytes):
    """Decode a 24-bit uncompressed BMP into an (h, w, 3) uint8 RGB array."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP stream")
    offset = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp, compression = struct.unpack_from("<HI", data, 28)
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP is supported")
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    return rows[::-1, :, ::-1]  # back to top-down RGB


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# 8-bit channel counts per PNG color type: 0 grayscale, 2 truecolor,
# 4 grayscale+alpha, 6 truecolor+alpha. Type 3 (palette) needs a PLTE
# lookup and stays out of the supported set.
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def encode_png(arr) -> bytes:
    """Encode a uint8 array as a non-interlaced 8-bit PNG (round-9: the
    compressed-codec boundary moved — PNG's DEFLATE is stdlib ``zlib``,
    so no external media library is needed). The color type follows the
    channel count (round 10): (h, w) or (h, w, 1) -> grayscale,
    (h, w, 2) -> gray+alpha, (h, w, 3) -> truecolor, (h, w, 4) -> RGBA.
    Scanlines use filter 0; compression is zlib default level."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in _PNG_COLOR_TYPE:
        # same explicit contract as decode_png/attach_image_blob (round-11
        # advice fix: a bare KeyError named neither the input nor the
        # supported surface)
        raise NotImplementedError(
            f"encode_png supports 1/2/3/4-channel uint8 arrays "
            f"(grayscale, gray+alpha, RGB, RGBA); got shape {a.shape}"
        )
    h, w, ch = a.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLOR_TYPE[ch], 0, 0, 0)
    raw = np.zeros((h, w * ch + 1), dtype=np.uint8)
    raw[:, 1:] = a.reshape(h, w * ch)
    idat = zlib.compress(raw.tobytes())
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes):
    """Decode a non-interlaced 8-bit PNG of color type 0/2/4/6 into an
    (h, w, channels) uint8 array (1=gray, 2=gray+alpha, 3=RGB, 4=RGBA —
    round 10 widened the surface from truecolor-only: the filter algebra
    only depends on the per-pixel byte stride, so grayscale and alpha
    reuse it with stride 1/2/4). Pure stdlib-zlib + numpy: walks chunks,
    concatenates IDAT, inflates, and unfilters all five scanline filters
    (None/Up fully vectorized; Sub is a per-channel cumsum; Average and
    Paeth pay a per-byte scan along the row — their recurrence is
    sequential by spec). Palette/16-bit/interlaced variants raise
    NotImplementedError."""
    import struct
    import zlib

    import numpy as np

    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    pos, ihdr, idat = len(_PNG_SIG), None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"IDAT":
            idat.append(payload)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + payload + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color, comp, filt, interlace = ihdr
    if (depth, comp, filt, interlace) != (8, 0, 0, 0) or color not in _PNG_CHANNELS:
        raise NotImplementedError(
            "only non-interlaced 8-bit grayscale/RGB (+alpha) PNG is supported"
        )
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if raw.size != (stride + 1) * h:
        raise ValueError("PNG scanline payload has the wrong size")
    rows = raw.reshape(h, stride + 1)
    filters, lines = rows[:, 0], rows[:, 1:].astype(np.int64)
    recon = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f, line = int(filters[y]), lines[y]
        if f == 0:  # None
            rec = line
        elif f == 1:  # Sub: per-channel prefix sum
            rec = np.cumsum(line.reshape(w, ch), axis=0).reshape(stride)
        elif f == 2:  # Up
            rec = line + prior
        elif f == 3:  # Average (sequential: left operand is reconstructed)
            rec = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                left = rec[x - ch] if x >= ch else 0
                rec[x] = (line[x] + ((left + prior[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth (sequential, same reason)
            rec = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = rec[x - ch] if x >= ch else 0
                b = prior[x]
                c = prior[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        recon[y] = rec & 0xFF
        prior = recon[y].astype(np.int64)
    return recon.reshape(h, w, ch)


def encode_wav_pcm16(samples, sample_rate: int = 16000) -> bytes:
    """Encode an int16 sample array as a mono PCM-16 WAV (RIFF) stream."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + fmt + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI", b"RIFF", 4 + len(body) - 4 + 4) + body


def decode_wav_pcm16(data: bytes):
    """Decode a mono PCM-16 WAV stream -> (int16 sample array, sample_rate).
    Walks RIFF chunks, so extra chunks (LIST/fact) are tolerated."""
    import struct

    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV stream")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", data, pos + 8)
            bits = struct.unpack_from("<H", data, pos + 22)[0]
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise NotImplementedError("only mono PCM-16 WAV is supported")
        elif cid == b"data":
            samples = np.frombuffer(data, dtype="<i2", count=size // 2, offset=pos + 8)
        pos += 8 + size + (size & 1)
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return samples, rate


def decode_media(media_type: str, data: bytes):
    """Decode a media blob by MIME type.

    Real decoders for the formats this engine ships (image/bmp,
    image/png — PNG's DEFLATE is stdlib zlib, round 9 — audio/wav);
    lossy codecs (jpeg/mp3/h264) require external libraries that are not
    baked in and raise NotImplementedError — plug a real jpeg/mp4
    decoder into this dispatch when deploying with media libs."""
    if media_type == "image/bmp":
        return decode_bmp(data)
    if media_type == "image/png":
        return decode_png(data)
    if media_type in ("audio/wav", "audio/x-wav"):
        return decode_wav_pcm16(data)
    raise NotImplementedError(
        f"no built-in codec for {media_type!r}; install a media library and "
        "extend decode_media()"
    )


def fake_decode_features(df_with_media: DataFrame, id_col: str) -> DataFrame:
    """Deterministic stand-in decoder over ``mapInPandas``.

    Emits 4 'features' computed from the raw bytes (length, first byte,
    mean byte value, last byte) — shaped exactly like an image-embedding
    stage (Arrow-batched in, fixed-width float vector out).
    """
    flat = df_with_media.select(
        F.col(id_col).alias("doc_id"), F.col("media.data").alias("data")
    )

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            raw = pdf["data"]
            feats = []
            for b in raw:
                if not len(b):
                    feats.append([0.0, 0.0, 0.0, 0.0])
                    continue
                arr = np.frombuffer(b, dtype=np.uint8)
                # vectorized byte stats (a per-byte Python loop here costs
                # ~2s at sf0.1; frombuffer+mean is ~free)
                feats.append([float(arr.size), float(arr[0]), float(arr.mean()), float(arr[-1])])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(b) for b in raw],
                    "features": feats,
                }
            )

    return flat.mapInPandas(batches, FEATURE_SCHEMA)


# --------------------------------------------------------------------------
# Real decode pipeline over the built-in codecs
# --------------------------------------------------------------------------

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("thumb", T.BinaryType()),
    ]
)

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def attach_image_blob(
    df: DataFrame,
    id_col: str,
    *,
    width: int = 16,
    height: int = 16,
    media_type: str = "image/bmp",
) -> DataFrame:
    """Deterministic image fixture: each doc gets a real, decodable image
    (24-bit BMP by default; ``media_type="image/png"`` emits real
    DEFLATE-compressed PNGs through the same pixel generator, so the two
    paths must decode to identical features) whose pixels are a
    doc_id-seeded gradient. mapInPandas because the encoder is
    bytes-producing Python — fixture generation, not the hot path (real
    corpora arrive with blobs already in the table)."""
    encoders = {"image/bmp": encode_bmp, "image/png": encode_png}
    if media_type not in encoders:
        raise NotImplementedError(
            f"attach_image_blob supports fixture media types "
            f"{sorted(encoders)}, got {media_type!r}"
        )
    encoder = encoders[media_type]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        y, x, c = np.meshgrid(
            np.arange(height), np.arange(width), np.arange(3), indexing="ij"
        )
        for pdf in it:
            blobs = [
                encoder((int(doc_id) * 7 + y * 16 + x * 4 + c * 5) % 256)
                for doc_id in pdf[id_col]
            ]
            yield pd.DataFrame({"doc_id": pdf[id_col], "data": blobs})

    made = df.select(F.col(id_col)).mapInPandas(
        batches, T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("data", T.BinaryType())])
    )
    return made.select(
        "doc_id",
        F.struct(
            F.concat(F.lit("mem://img/"), F.col("doc_id").cast("string")).alias("uri"),
            F.lit(media_type).alias("media_type"),
            F.col("data").alias("data"),
            F.create_map(F.lit("origin"), F.lit("fixture")).alias("meta"),
        ).alias("media"),
    )


def image_features(
    df_with_media: DataFrame, id_col: str, *, thumb_w: int = 4, thumb_h: int = 4
) -> DataFrame:
    """REAL image decode + feature extraction + nearest-neighbor thumbnail
    over ``mapInPandas``: BMP bytes -> (h, w, 3) array -> per-channel means
    and a thumb_w x thumb_h RGB thumbnail (strided index resize). This is
    the actual decode path — only the codec set is small (BMP); swapping in
    a jpeg decoder changes one dispatch line, not the Spark plumbing."""
    flat = df_with_media.select(F.col(id_col).alias("doc_id"), F.col("media.media_type").alias("mt"), F.col("media.data").alias("data"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {k: [] for k in ("doc_id", "width", "height", "mean_r", "mean_g", "mean_b", "thumb")}
            for doc_id, mt, b in zip(pdf["doc_id"], pdf["mt"], pdf["data"]):
                img = decode_media(mt, bytes(b))
                h, w, _ = img.shape
                yi = (np.arange(thumb_h) * h) // thumb_h
                xi = (np.arange(thumb_w) * w) // thumb_w
                thumb = img[np.ix_(yi, xi)]
                means = img.reshape(-1, 3).mean(axis=0)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_r"].append(float(means[0]))
                out["mean_g"].append(float(means[1]))
                out["mean_b"].append(float(means[2]))
                out["thumb"].append(thumb.tobytes())
            yield pd.DataFrame(out)

    return flat.mapInPandas(batches, IMAGE_FEATURE_SCHEMA)


def attach_audio_blob(df: DataFrame, id_col: str, *, n_samples: int = 256, sample_rate: int = 8000) -> DataFrame:
    """Deterministic WAV fixture: doc_id-seeded int16 sine-ish ramp."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        t = np.arange(n_samples)
        for pdf in it:
            blobs = [
                encode_wav_pcm16(((int(doc_id) * 31 + t * 17) % 2048 - 1024).astype("<i2"), sample_rate)
                for doc_id in pdf[id_col]
            ]
            yield pd.DataFrame({"doc_id": pdf[id_col], "data": blobs})

    made = df.select(F.col(id_col)).mapInPandas(
        batches, T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("data", T.BinaryType())])
    )
    return made.select(
        "doc_id",
        F.struct(
            F.concat(F.lit("mem://wav/"), F.col("doc_id").cast("string")).alias("uri"),
            F.lit("audio/wav").alias("media_type"),
            F.col("data").alias("data"),
            F.create_map(F.lit("origin"), F.lit("fixture")).alias("meta"),
        ).alias("media"),
    )


def audio_features(df_with_media: DataFrame, id_col: str) -> DataFrame:
    """REAL audio decode + features: WAV bytes -> int16 samples -> RMS and
    peak amplitude. Arrow-batched; numpy per blob, no per-sample Python."""
    flat = df_with_media.select(F.col(id_col).alias("doc_id"), F.col("media.media_type").alias("mt"), F.col("media.data").alias("data"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {k: [] for k in ("doc_id", "n_samples", "sample_rate", "rms", "peak")}
            for doc_id, mt, b in zip(pdf["doc_id"], pdf["mt"], pdf["data"]):
                samples, rate = decode_media(mt, bytes(b))
                x = samples.astype(np.float64)
                out["doc_id"].append(doc_id)
                out["n_samples"].append(len(samples))
                out["sample_rate"].append(rate)
                out["rms"].append(float(np.sqrt((x * x).mean())) if len(x) else 0.0)
                out["peak"].append(int(np.abs(samples).max()) if len(samples) else 0)
            yield pd.DataFrame(out)

    return flat.mapInPandas(batches, AUDIO_FEATURE_SCHEMA)
