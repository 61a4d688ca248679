"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Two decode tiers:
- REAL decoders for PNG (pure stdlib: struct + zlib chunk parse,
  scanline unfilter) and WAV (stdlib ``wave``) — no external media
  library needed, so the real-decode path is exercised end-to-end in
  this container, including a DuckDB-oracle-checked registry query
  over PNGs generated deterministically from document text.
- the clearly-marked deterministic FAKE for the generic
  ``image/fake`` payloads (richer formats — JPEG/video — would need
  PIL/ffmpeg, which this package does not use).

Everything Spark-side is real and tested either way: the binary
schema, the mapInPandas batch shape, partition-parallel execution,
and the deterministic output contract.

At 100 TB the payload column dominates I/O: keep media in its own
parquet column (columnar pruning skips it unless asked for), process
with mapInPandas so bytes never convert to JVM objects row-by-row, and
size ``spark.sql.files.maxPartitionBytes`` so a batch of payloads fits
executor memory.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
        T.StructField("byte_sum_mod", T.LongType()),
    ]
)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def encode_png_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal valid 8-bit grayscale PNG (filter 0) from raw pixels."""
    if len(pixels) != width * height:
        raise ValueError("pixels must be exactly width*height bytes")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    scanlines = b"".join(
        b"\x00" + pixels[r * width : (r + 1) * width] for r in range(height)
    )
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int]:
    """Real PNG decode (stdlib only): chunk walk -> IHDR dims -> IDAT
    inflate -> scanline unfilter (all five filter types) -> raw pixels.
    Returns (width, height, pixel_sum).  8-bit depth; grayscale/RGB/
    alpha color types."""
    width, height, out = decode_png_raw(payload)
    return width, height, sum(out)


def decode_png_raw(payload: bytes) -> tuple[int, int, bytes]:
    """As :func:`decode_png` but returns the raw unfiltered pixel
    bytes themselves — the input a perceptual hash or feature
    extractor needs (``mm_phash_hamming_pairs``)."""
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat = 8, b""
    width = height = colortype = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, bitdepth, colortype = struct.unpack(">IIBB", data[:10])
            if bitdepth != 8:
                raise ValueError(f"unsupported bit depth {bitdepth}")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(idat)
    nch = _PNG_CHANNELS[colortype]
    stride = width * nch
    out = bytearray()
    prev = bytearray(stride)
    i = 0
    for _ in range(height):
        ftype = raw[i]
        line = bytearray(raw[i + 1 : i + 1 + stride])
        i += 1 + stride
        if ftype == 1:  # Sub
            for x in range(nch, stride):
                line[x] = (line[x] + line[x - nch]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = line[x - nch] if x >= nch else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - nch] if x >= nch else 0
                b, c = prev[x], (prev[x - nch] if x >= nch else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        out += line
        prev = line
    return width, height, bytes(out)


PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pix", T.ArrayType(T.IntegerType())),
    ]
)


def decode_png_pixels(media: DataFrame) -> DataFrame:
    """mapInPandas REAL decode that surfaces the unfiltered pixel
    array (``array<int>``) per document — the raw-material contract
    for image fingerprinting: downstream hashing stays JVM-side over
    the array column, Python touches each payload exactly once."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, out = decode_png_raw(bytes(payload))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "width": w,
                        "height": h,
                        "pix": list(out),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in PIXEL_SCHEMA]
            )

    return media.mapInPandas(extract, PIXEL_SCHEMA)


def decode_wav(payload: bytes) -> tuple[int, int, int, float]:
    """Real WAV decode (stdlib ``wave``): returns (channels,
    sample_rate, n_frames, mean_abs_amplitude) for 16-bit PCM."""
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as w:
        nch, sw, rate, nframes = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        frames = w.readframes(nframes)
    if sw != 2:
        raise ValueError(f"unsupported sample width {sw}")
    vals = struct.unpack(f"<{len(frames) // 2}h", frames)
    amp = (sum(abs(v) for v in vals) / len(vals)) if vals else 0.0
    return nch, rate, nframes, amp


def encode_wav_pcm16(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Minimal valid mono 16-bit PCM WAV from integer samples."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic binary payload column from ``text`` (UTF-8
    bytes) so the multimodal plumbing is exercisable on the driver
    test tables, which carry no real media."""
    return docs.select(
        "doc_id",
        F.lit("image/fake").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("payload"),
    )


def decode_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature-extract over generic binary payloads using
    the deterministic fake decoder (width/height derived from byte
    length, checksum from byte values).  For real formats use
    ``decode_real_media``; richer formats (JPEG/...) are not decoded.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.apply(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes.astype("int64"),
                    "fake_width": (n_bytes % 640).astype("int32"),
                    "fake_height": (n_bytes % 480).astype("int32"),
                    "byte_sum_mod": payloads.apply(
                        lambda b: sum(b) % 1_000_003
                    ).astype("int64"),
                }
            )

    return media.mapInPandas(extract, FEATURE_SCHEMA)


REAL_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("amplitude_mean", T.DoubleType()),
    ]
)


def attach_png_media(docs: DataFrame) -> DataFrame:
    """Encode each document's ``text`` into a REAL grayscale PNG payload:
    width = n%16+1, height = n%8+1, pixels = the UTF-8 bytes cycled to
    width*height.  Deterministic, so an oracle can recompute the decoded
    features from the source text without touching the binary."""

    @F.pandas_udf(T.BinaryType())
    def to_png(text: pd.Series) -> pd.Series:
        def enc(t: str) -> bytes:
            data = t.encode("utf-8")
            n = len(data)
            w, h = n % 16 + 1, n % 8 + 1
            if n == 0:
                data = b"\x00"
            need = w * h
            pixels = (data * (need // len(data) + 1))[:need]
            return encode_png_gray(pixels, w, h)

        return text.apply(enc)

    return docs.select(
        "doc_id",
        F.lit("image/png").alias("media_type"),
        to_png(F.col("text")).alias("payload"),
    )


def decode_real_media(media: DataFrame) -> DataFrame:
    """mapInPandas REAL decode over binary payloads, dispatched on
    ``media_type``: PNG (stdlib chunk-parse + inflate + unfilter) and
    WAV (stdlib ``wave``); unknown types raise.  Same Arrow batch shape
    as the fake path — this is the production decode slot."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mtype, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                payload = bytes(payload)
                row = {
                    "doc_id": doc_id,
                    "media_type": mtype,
                    "n_bytes": len(payload),
                    "width": None,
                    "height": None,
                    "pixel_sum": None,
                    "sample_rate": None,
                    "n_frames": None,
                    "amplitude_mean": None,
                }
                if mtype == "image/png":
                    w, h, psum = decode_png(payload)
                    row.update(width=w, height=h, pixel_sum=psum)
                elif mtype == "audio/wav":
                    nch, rate, nframes, amp = decode_wav(payload)
                    row.update(
                        width=nch,  # channels ride the generic int slot
                        sample_rate=rate,
                        n_frames=nframes,
                        amplitude_mean=amp,
                    )
                else:
                    raise ValueError(f"no real decoder for {mtype!r}")
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in REAL_FEATURE_SCHEMA])

    return media.mapInPandas(extract, REAL_FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling over an opaque binary payload (the video-pipeline
    shape): chop the payload into 32-byte frames, keep every 4th
    full frame, emit one row per sampled frame with its checksum.  A
    real video pipeline swaps the chop for an ffmpeg keyframe extract
    behind the same mapInPandas seam; the Spark-side contract —
    binary in, exploded frame rows out, partition-parallel, payload
    column pruned unless asked for — is identical.
    """
    import hashlib

    frame_bytes, every = 32, 4

    def sampler(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                for j in range(0, len(data) // frame_bytes, every):
                    ids.append(doc_id)
                    idxs.append(j)
                    sums.append(
                        hashlib.md5(
                            data[j * frame_bytes : (j + 1) * frame_bytes]
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_md5": pd.Series(sums, dtype="object"),
                }
            )

    return media.mapInPandas(sampler, FRAME_SCHEMA)


def attach_wav_media(docs: DataFrame) -> DataFrame:
    """Encode each document's ``text`` into a REAL 16-bit PCM WAV payload:
    one mono sample per UTF-8 byte, s = (byte - 128) * 128, 8 kHz.
    Deterministic, so an oracle can recompute frame counts and mean
    amplitude directly from the source text (the audio twin of
    ``attach_png_media``)."""

    @F.pandas_udf(T.BinaryType())
    def to_wav(text: pd.Series) -> pd.Series:
        def enc(t: str) -> bytes:
            data = t.encode("utf-8")
            samples = [(b - 128) * 128 for b in data] or [0]
            return encode_wav_pcm16(samples, sample_rate=8000)

        return text.apply(enc)

    return docs.select(
        "doc_id",
        F.lit("audio/wav").alias("media_type"),
        to_wav(F.col("text")).alias("payload"),
    )
