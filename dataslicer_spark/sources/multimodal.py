"""Multimodal (image/audio/video) columns for training-data pipelines
(north-star extension per BASELINE.json).

Design: media are opaque ``binary`` columns with typed metadata structs.
Decode / resize / feature-extract / frame-sample run as ``mapInPandas``
kernels over Arrow batches — the executor-parallel shape that scales to
100 TB of assets (each task decodes its partition's blobs; no driver
involvement; decoded tensors never shuffle unless asked).

Codecs are pluggable callables.  24-bit uncompressed BMP decodes with a
REAL zero-dependency pure-numpy codec (``bmp_decoder``; ``bmp_encode``
is its test twin), so the decode → resize → featurize path runs
end-to-end on genuine image files in this container.  PNG/JPEG/ffmpeg
formats need external codecs that are NOT installed: for those the
default ``auto_decoder`` raises ``NotImplementedError`` naming the
dependency, and ``deterministic_fake_decoder`` produces seeded
pseudo-media so the Spark plumbing — schemas, batching, UDF signatures,
partitioning — stays testable.  Swapping in a real codec changes one
argument.
"""

from __future__ import annotations

import hashlib
import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..utils import check_col

# typed metadata for opaque media blobs
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image|audio|video
        T.StructField("format", T.StringType()),       # png|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def read_binary_assets(
    spark: SparkSession, path_glob: str, media_type: str = "image"
) -> DataFrame:
    """Scan media files into (path, length, content binary, meta struct).

    ``binaryFile`` is the idiomatic Spark source for opaque blobs; at
    scale, prefer ingesting into parquet with the binary column + metadata
    so subsequent reads prune by metadata without touching bytes."""
    raw = spark.read.format("binaryFile").load(path_glob)
    fmt = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    meta = F.struct(
        F.lit(media_type).alias("media_type"),
        fmt.alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_channels"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return raw.select("path", "length", "content", meta.alias("meta"))


def _missing_codec_decoder(raw: bytes) -> np.ndarray:
    raise NotImplementedError(
        "no image codec in this environment (PIL/imageio not installed); "
        "pass decoder= explicitly, e.g. deterministic_fake_decoder for tests"
    )


# --- real zero-dependency codec: 24-bit uncompressed BMP ------------------
# BMP's BI_RGB form is plain bytes + two fixed-layout headers, so a pure
# numpy codec needs no external library — this makes the decode → resize →
# featurize pipeline genuinely end-to-end on REAL image files in this
# container (PNG/JPEG still require PIL and stay dependency-gated).

def bmp_encode(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit BI_RGB BMP."""
    import struct

    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("bmp_encode expects (h, w, 3) uint8")
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    # bottom-up row order, BGR channel order (the format's native layout)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
    pixel_bytes = rows.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixel_bytes), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_bytes), 2835, 2835,
        0, 0,
    )
    return header + pixel_bytes


def bmp_decoder(raw: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BMP into (h, w, 3) uint8 RGB.

    Handles bottom-up (positive height) and top-down (negative height)
    layouts and 4-byte row padding; anything else (palette, RLE, 32-bit)
    raises ``ValueError`` → a NULL row under ``decode_media``'s
    PERMISSIVE contract."""
    import struct

    if len(raw) < 54 or raw[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_off = struct.unpack_from("<I", raw, 10)[0]
    hdr_size = struct.unpack_from("<I", raw, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP core header")
    w, h_signed = struct.unpack_from("<ii", raw, 18)
    planes, bpp = struct.unpack_from("<HH", raw, 26)
    compression = struct.unpack_from("<I", raw, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0 or w <= 0:
        raise ValueError("only 24-bit BI_RGB BMP supported")
    h = abs(h_signed)
    stride = (w * 3 + 3) // 4 * 4
    end = pixel_off + stride * h
    if end > len(raw):
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(raw, dtype=np.uint8, count=stride * h,
                         offset=pixel_off).reshape(h, stride)
    img = rows[:, : w * 3].reshape(h, w, 3)[..., ::-1]  # BGR → RGB
    if h_signed > 0:  # bottom-up
        img = img[::-1]
    return np.ascontiguousarray(img)


def auto_decoder(raw: bytes) -> np.ndarray:
    """Sniff the container by magic bytes: BMP decodes natively (pure
    numpy); other formats fall through to the dependency-gated error."""
    if raw[:2] == b"BM":
        return bmp_decoder(raw)
    return _missing_codec_decoder(raw)


# --- real zero-dependency audio codec: 16-bit PCM WAV ---------------------

def wav_encode(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode int16 PCM samples — shape (n,) mono or (n, channels) — as
    a RIFF/WAVE file."""
    import struct

    if samples.dtype != np.int16:
        raise ValueError("wav_encode expects int16 samples")
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()  # frame-interleaved
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decoder(raw: bytes) -> tuple[int, np.ndarray]:
    """Decode a 16-bit PCM WAV into ``(sample_rate, (n, channels) int16)``.

    Walks the RIFF chunk list (tolerating extra chunks like LIST/INFO
    before data); anything non-PCM16 raises ``ValueError`` → a NULL row
    under ``decode_audio``'s PERMISSIVE contract."""
    import struct

    if len(raw) < 44 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos:pos + 4]
        size = struct.unpack_from("<I", raw, pos + 4)[0]
        chunk = raw[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = chunk
        elif cid == b"data":
            data = chunk
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    codec, ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if codec != 1 or bits != 16 or ch < 1:
        raise ValueError("only 16-bit PCM WAV supported")
    n = len(data) // (2 * ch)
    samples = np.frombuffer(data, dtype="<i2", count=n * ch).reshape(n, ch)
    return rate, np.ascontiguousarray(samples)


DECODED_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("samples", T.ArrayType(T.IntegerType())),  # flattened
    ]
)


def decode_audio(
    df: DataFrame,
    decoder: Callable[[bytes], tuple[int, np.ndarray]] = wav_decoder,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Decode audio blobs → (path, rate, n, channels, flattened samples)
    via ``mapInPandas`` — same Arrow-batch shape as :func:`decode_media`;
    failed decodes become NULL rows (PERMISSIVE)."""
    check_col([content_col, path_col], df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, raw in zip(pdf[path_col], pdf[content_col]):
                try:
                    rate, arr = decoder(bytes(raw))
                    rows.append(
                        dict(path=path, sample_rate=rate,
                             n_samples=arr.shape[0],
                             n_channels=arr.shape[1],
                             samples=arr.reshape(-1).astype("int32"))
                    )
                except NotImplementedError:
                    raise
                except Exception:  # noqa: BLE001 — corrupt blob → null row
                    rows.append(
                        dict(path=path, sample_rate=None, n_samples=None,
                             n_channels=None, samples=None)
                    )
            yield pd.DataFrame(rows)

    return df.select(path_col, content_col).mapInPandas(
        run, DECODED_AUDIO_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
    ]
)


def extract_audio_features(decoded: DataFrame) -> DataFrame:
    """Per-clip loudness/activity features from decoded PCM — the audio
    analogue of :func:`extract_image_features` (channels averaged)."""
    check_col(
        ["path", "samples", "sample_rate", "n_samples", "n_channels"],
        decoded,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.samples is None or not r.n_samples:
                    rows.append(dict(path=r.path, duration_ms=None,
                                     rms=None, peak=None,
                                     zero_crossing_rate=None))
                    continue
                # a NULL row in the Arrow batch makes pandas widen the
                # integer columns to float64: cast back before indexing
                n_samples, n_channels = int(r.n_samples), int(r.n_channels)
                arr = np.asarray(r.samples, dtype=np.float64).reshape(
                    n_samples, n_channels
                )
                mono = arr.mean(axis=1)
                zc = (
                    float(np.count_nonzero(np.signbit(mono[1:])
                                           != np.signbit(mono[:-1])))
                    / max(len(mono) - 1, 1)
                )
                rows.append(
                    dict(
                        path=r.path,
                        duration_ms=int(
                            n_samples * 1000 // r.sample_rate
                        ),
                        rms=float(np.sqrt(np.mean(mono**2))),
                        peak=int(np.max(np.abs(arr))),
                        zero_crossing_rate=zc,
                    )
                )
            yield pd.DataFrame(rows)

    return decoded.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def deterministic_fake_decoder(
    raw: bytes, height: int = 8, width: int = 8, channels: int = 3
) -> np.ndarray:
    """Seeded pseudo-image from the blob's sha256 — a stand-in codec that
    makes the decode path fully testable and reproducible."""
    seed = int.from_bytes(hashlib.sha256(raw).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (height, width, channels), dtype=np.uint8)


def sha_cycle_decoder(
    raw: bytes, height: int = 8, width: int = 8, channels: int = 3
) -> np.ndarray:
    """SQL-replayable stand-in codec: pixel ``j`` is byte ``j % 32`` of the
    blob's sha256 digest.  Unlike :func:`deterministic_fake_decoder` (which
    routes the digest through numpy's PCG64, opaque to SQL), every pixel
    here is recomputable in any engine with a ``sha256`` function — DuckDB
    replays the full decode + feature math, giving the multimodal pipeline
    a value-level cross-engine oracle instead of a rows-only check."""
    digest = hashlib.sha256(raw).digest()
    n = height * width * channels
    reps = -(-n // len(digest))  # ceil
    flat = np.frombuffer(digest * reps, dtype=np.uint8)[:n]
    return flat.reshape(height, width, channels)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("pixels", T.ArrayType(T.IntegerType())),  # flattened
    ]
)


def decode_media(
    df: DataFrame,
    decoder: Callable[[bytes], np.ndarray] = auto_decoder,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Decode blobs → (path, h, w, c, flattened pixels) via ``mapInPandas``.

    Batch shape: the kernel sees Arrow batches of (path, content); one
    decode per row, vectorized metadata assembly.  Failed decodes become
    NULL-dimension rows rather than task failures (PERMISSIVE analogue).
    """
    check_col([content_col, path_col], df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, raw in zip(pdf[path_col], pdf[content_col]):
                try:
                    arr = decoder(bytes(raw))
                    rows.append(
                        dict(
                            path=path,
                            height=arr.shape[0],
                            width=arr.shape[1],
                            n_channels=arr.shape[2] if arr.ndim > 2 else 1,
                            pixels=arr.reshape(-1).astype("int32"),
                        )
                    )
                except NotImplementedError:
                    raise
                except Exception:  # noqa: BLE001 — corrupt blob → null row
                    rows.append(
                        dict(path=path, height=None, width=None,
                             n_channels=None, pixels=None)
                    )
            yield pd.DataFrame(rows)

    return df.select(path_col, content_col).mapInPandas(run, DECODED_SCHEMA)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("std_intensity", T.DoubleType()),
        T.StructField("channel_means", T.ArrayType(T.DoubleType())),
    ]
)


def extract_image_features(decoded: DataFrame) -> DataFrame:
    """Per-image intensity statistics from decoded pixel arrays — the
    feature-extraction stage's plumbing (swap the numpy body for a real
    embedding model's batch inference; the Spark shape is identical).

    Statistics are computed from *exact integer* pixel sums (``s``,
    ``ssq`` are exact in int64 for any image < 2^53 total intensity) and
    a fixed IEEE op sequence — ``mean = s/n``, ``std = sqrt((ssq -
    s*s/n)/n)`` (population std, matching ``np.std`` ddof=0) — so the
    same formula in another engine reproduces the doubles bit-for-bit.
    """
    check_col(["path", "pixels", "height", "width", "n_channels"], decoded)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.pixels is None:
                    rows.append(dict(path=r.path, mean_intensity=None,
                                     std_intensity=None, channel_means=None))
                    continue
                h, w, c = int(r.height), int(r.width), int(r.n_channels)
                arr = np.asarray(r.pixels, dtype=np.int64).reshape(h, w, c)
                n = arr.size
                s = int(arr.sum())
                ssq = int((arr * arr).sum())
                var = (ssq - s * s / n) / n
                rows.append(
                    dict(
                        path=r.path,
                        mean_intensity=s / n,
                        std_intensity=math.sqrt(var) if var > 0 else 0.0,
                        channel_means=[
                            int(m) / (n // c) for m in arr.sum(axis=(0, 1))
                        ],
                    )
                )
            yield pd.DataFrame(rows)

    return decoded.mapInPandas(run, FEATURES_SCHEMA)


def resize_images(
    decoded: DataFrame, out_height: int, out_width: int
) -> DataFrame:
    """Resize decoded images to (out_height, out_width) — nearest-neighbor
    index sampling in pure numpy (no codec dependency; swap the body for
    PIL/cv2 interpolation in deployments that have them).

    Output schema matches :data:`DECODED_SCHEMA`, so resize composes with
    :func:`extract_image_features` — the standard decode → resize →
    featurize pipeline shape.  NULL (failed-decode) rows pass through.
    """
    check_col(["path", "pixels", "height", "width", "n_channels"], decoded)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.pixels is None:
                    rows.append(dict(path=r.path, height=None, width=None,
                                     n_channels=None, pixels=None))
                    continue
                h, w, c = int(r.height), int(r.width), int(r.n_channels)
                arr = np.asarray(r.pixels, dtype=np.int32).reshape(h, w, c)
                yi = (np.arange(out_height) * h) // out_height
                xi = (np.arange(out_width) * w) // out_width
                res = arr[yi][:, xi]
                rows.append(
                    dict(path=r.path, height=out_height, width=out_width,
                         n_channels=c,
                         pixels=res.reshape(-1))
                )
            yield pd.DataFrame(rows)

    return decoded.mapInPandas(run, DECODED_SCHEMA)


def frame_sample(
    df: DataFrame,
    n_frames: int = 4,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Video frame sampling plumbing: blob → ``n_frames`` evenly-spaced
    decoded frames (one output row per frame).  Without a video codec the
    fake decoder treats the blob as ``n_frames`` independent seeds."""
    check_col([content_col, path_col], df)
    dec = decoder or (
        lambda raw, i: deterministic_fake_decoder(raw + bytes([i]))
    )

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("pixels", T.ArrayType(T.IntegerType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, raw in zip(pdf[path_col], pdf[content_col]):
                for i in range(n_frames):
                    arr = dec(bytes(raw), i)
                    rows.append(
                        dict(path=path, frame_idx=i, height=arr.shape[0],
                             width=arr.shape[1],
                             pixels=arr.reshape(-1).astype("int32"))
                    )
            yield pd.DataFrame(rows)

    return df.select(path_col, content_col).mapInPandas(run, schema)




# ---------------------------------------------------------------------------
# perceptual image hashing (pHash) + Hamming near-dup
# ---------------------------------------------------------------------------

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


def phash64_images(
    decoded: DataFrame, size: int = 32, keep: int = 8
) -> DataFrame:
    """64-bit perceptual hash (pHash) per decoded image: grayscale ->
    ``size x size`` nearest-neighbor resize -> 2-D DCT-II (cosine-basis
    matmul, pure numpy -- no scipy) -> top-left ``keep x keep``
    low-frequency block -> bit per coefficient above the median of the
    non-DC coefficients.  Visually identical images (recompression, mild
    noise, small edits) land within a few Hamming bits; unrelated images
    are ~32 apart -- the image-side analogue of text SimHash.

    Map-only Arrow kernel over the :data:`DECODED_SCHEMA` frame (the DCT
    basis is built once per batch); NULL (failed-decode) rows yield NULL
    hashes.  Deterministic: same pixels -> same hash in any run or
    partitioning.
    """
    check_col(["path", "pixels", "height", "width", "n_channels"], decoded)
    if keep * keep != 64:
        raise ValueError("keep must be 8 (64-bit hash = 8x8 DCT block)")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = np.arange(size)
        basis = np.cos(np.pi * (n[None, :] + 0.5) * n[:keep, None] / size)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.pixels is None:
                    rows.append(dict(path=r.path, phash=None))
                    continue
                h, w, c = int(r.height), int(r.width), int(r.n_channels)
                arr = np.asarray(r.pixels, dtype=np.float64).reshape(h, w, c)
                gray = arr.mean(axis=2)
                yi = (np.arange(size) * h) // size
                xi = (np.arange(size) * w) // size
                g = gray[yi][:, xi]
                block = basis @ g @ basis.T  # keep x keep low-freq DCT
                flat = block.reshape(-1)
                med = float(np.median(flat[1:]))  # exclude DC
                bits = flat > med
                val = 0
                for i, b in enumerate(bits):
                    if b:
                        val |= 1 << i
                if val >= 1 << 63:
                    val -= 1 << 64
                rows.append(dict(path=r.path, phash=val))
            yield pd.DataFrame(rows)

    return decoded.mapInPandas(run, PHASH_SCHEMA)


def image_near_dup(
    decoded: DataFrame, max_hamming: int = 6, size: int = 32
) -> DataFrame:
    """Near-duplicate image pairs: :func:`phash64_images` + the shared
    pigeonhole Hamming kernel (``operators/dedup.hamming_pairs`` -- the
    same chunk-banding plan SimHash text dedup uses, so the candidate
    space is banding-bounded, never all-pairs).  Returns
    ``(id_a, id_b, hamming)`` over the ``path`` column.
    """
    from ..operators.dedup import hamming_pairs

    return hamming_pairs(
        phash64_images(decoded, size=size), "path", "phash", max_hamming
    )


__all__ = [
    "MEDIA_META_SCHEMA",
    "read_binary_assets",
    "deterministic_fake_decoder",
    "bmp_encode",
    "bmp_decoder",
    "auto_decoder",
    "wav_encode",
    "wav_decoder",
    "decode_audio",
    "extract_audio_features",
    "decode_media",
    "extract_image_features",
    "resize_images",
    "frame_sample",
    "phash64_images",
    "image_near_dup",
    "PHASH_SCHEMA",
]
