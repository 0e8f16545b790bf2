"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extraction / resize / frame-sampling as
Arrow-batched mapInPandas.

The container ships no media codec libraries, so payloads are REAL
media files built with the standard library alone and decoded with
real (struct-level) parsers:

- ``audio/wav``  — PCM 16-bit mono RIFF/WAVE written via stdlib
  ``wave``; decode walks the RIFF chunks and reads the fmt/data
  headers (sample rate, sample count → duration).
- ``image/bmp``  — 24-bit uncompressed BI_RGB bitmap assembled with
  ``struct`` (proper 4-byte row stride); decode parses the
  BITMAPINFOHEADER; resize re-samples actual pixels (nearest
  neighbor) and re-encodes a valid BMP.
- ``video/x-mbmp`` — a motion-BMP container for exercising video
  plumbing: ``MBMP`` magic + frame count, then per-frame
  ``FRM0`` + index + size headers wrapping real BMP frames (the same
  shape as MJPEG's concatenated-JPEG layout). Frame sampling parses
  the container and returns decodable BMP frame payloads.

Formats outside these three raise NotImplementedError — that is the
seam where a real deployment plugs Pillow / librosa / pyav in.

Every payload is a deterministic function of (doc_id, length(text)),
so byte sizes, dimensions, frame counts and durations are mirrored in
closed-form oracle SQL: the DuckDB side recomputes the expected
metadata arithmetically while the Spark side round-trips the actual
bytes through synth + parse. A generator or parser bug breaks parity.

Scale posture: binary payloads never shuffle here; mapInPandas streams
Arrow batches partition-locally, and the metadata projection is
JVM-side so pure-metadata queries skip the Python path entirely.

BATCH SIZING CONTRACT (load-bearing at real payload sizes): Arrow's
binary vectors use int32 offsets, so ONE batch's binary column must
stay under 2^31 bytes, and the batch is materialized whole in both the
JVM ArrowWriter and the Python worker.
- OUTPUT side: every payload-emitting path below chunks its yields at
  _OUT_BATCH_BYTES (64 MB of payload per pandas frame), so output
  batches are byte-bounded regardless of row width or 1→N frame
  expansion — the synthetic ≤10 KB payloads never hit this, MB-scale
  real media does (~215 KB average payload overflows int32 offsets at
  the default 10k-record batch).
- INPUT side: the JVM slices input batches by RECORD COUNT only
  (spark.sql.execution.arrow.maxRecordsPerBatch, default 10k), so a
  deployment with MB-scale payloads must size that conf to
  records × avg_payload ≤ ~64 MB (e.g. 64 for 1 MB media) — a
  byte-based input cap is not expressible from inside the UDF.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register

WAV_RATE = 8000
MBMP_FRAME_W = 16
MBMP_FRAME_H = 9

# Per-yielded-batch payload budget for the binary-emitting mapInPandas
# paths (see module docstring's BATCH SIZING CONTRACT). 64 MB: far
# under Arrow's 2^31 offset cliff, large enough that the synthetic
# fixtures still flow as one batch per input batch.
_OUT_BATCH_BYTES = 64 << 20


def _bounded_frames(
    rows: "Iterator[dict]", columns: list[str], payload_key: str
) -> Iterator[pd.DataFrame]:
    """Yield pandas frames whose cumulative payload bytes stay under
    _OUT_BATCH_BYTES — byte-bounded output batches for mapInPandas
    paths that emit binary columns (record-count slicing alone lets a
    10k-row batch of MB-scale payloads materialize tens of GB and
    overflow Arrow's int32 offsets)."""
    buf: list[dict] = []
    size = 0
    for r in rows:
        buf.append(r)
        size += len(r[payload_key])
        if size >= _OUT_BATCH_BYTES:
            yield pd.DataFrame(buf, columns=columns)
            buf, size = [], 0
    if buf:
        yield pd.DataFrame(buf, columns=columns)


# ---------------------------------------------------------------------------
# Synthesis (stdlib-only real file formats)
# ---------------------------------------------------------------------------
def _wav_n_samples(text_len: int) -> int:
    return 800 + (text_len * 7) % 4000


def synth_wav(doc_id: int, text_len: int) -> bytes:
    """PCM 16-bit mono WAV via stdlib ``wave`` (44-byte canonical header)."""
    n = _wav_n_samples(text_len)
    period = 20 + doc_id % 30
    amp = 3000 + (doc_id % 17) * 1000
    frames = struct.pack(
        f"<{n}h", *((amp if (i // period) % 2 == 0 else -amp) for i in range(n))
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(frames)
    return buf.getvalue()


def _bmp_dims(text_len: int) -> tuple[int, int]:
    return 8 + text_len % 24, 6 + (text_len * 3) % 18


def _bmp_stride(width: int) -> int:
    return (3 * width + 3) // 4 * 4


def synth_bmp(seed: int, width: int, height: int) -> bytes:
    """24-bit uncompressed BI_RGB BMP with correct row padding."""
    stride = _bmp_stride(width)
    px = bytearray()
    pad = b"\x00" * (stride - 3 * width)
    for y in range(height):
        row = bytearray()
        for x in range(width):
            row += bytes(
                (
                    (seed + x) % 256,
                    (seed * 3 + y) % 256,
                    (x * y + seed) % 256,
                )
            )
        px += row + pad
    file_size = 54 + height * stride
    file_header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, height * stride, 2835, 2835, 0, 0
    )
    return file_header + info_header + bytes(px)


def _mbmp_n_frames(doc_id: int) -> int:
    return 2 + doc_id % 6


def synth_mbmp(doc_id: int) -> bytes:
    """Motion-BMP container: MBMP magic + count, FRM0-framed BMPs."""
    n_frames = _mbmp_n_frames(doc_id)
    out = bytearray(struct.pack("<4sI", b"MBMP", n_frames))
    for idx in range(n_frames):
        frame = synth_bmp(doc_id + idx, MBMP_FRAME_W, MBMP_FRAME_H)
        out += struct.pack("<4sII", b"FRM0", idx, len(frame))
        out += frame
    return bytes(out)


def synth_payload(doc_id: int, text_len: int, media_type: str) -> bytes:
    if media_type == "image/bmp":
        w, h = _bmp_dims(text_len)
        return synth_bmp(doc_id, w, h)
    if media_type == "audio/wav":
        return synth_wav(doc_id, text_len)
    if media_type == "video/x-mbmp":
        return synth_mbmp(doc_id)
    raise NotImplementedError(f"no synthesizer for {media_type}")


# ---------------------------------------------------------------------------
# Decode (real struct-level parsers)
# ---------------------------------------------------------------------------
def _parse_wav(payload: bytes) -> dict[str, Any]:
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data_len = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data_len = size
        pos += 8 + size + (size & 1)
    if fmt is None or data_len is None:
        raise ValueError("missing fmt/data chunk")
    _fmt_tag, channels, rate, _byte_rate, _block, bits = fmt
    n_samples = data_len // (channels * bits // 8)
    return {"n_samples": n_samples, "rate": rate, "duration_ms": n_samples * 1000 // rate}


def parse_bmp_header(payload: bytes) -> tuple[int, int]:
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    width, height = struct.unpack_from("<ii", payload, 18)
    return width, abs(height)


def iter_mbmp_frames(payload: bytes) -> Iterator[tuple[int, bytes]]:
    magic, n_frames = struct.unpack_from("<4sI", payload, 0)
    if magic != b"MBMP":
        raise ValueError("not an MBMP payload")
    pos = 8
    for _ in range(n_frames):
        fmagic, idx, size = struct.unpack_from("<4sII", payload, pos)
        if fmagic != b"FRM0":
            raise ValueError("corrupt MBMP frame header")
        pos += 12
        yield idx, payload[pos : pos + size]
        pos += size


def decode_media(payload: bytes, media_type: str) -> dict[str, Any]:
    """Real decode for the three stdlib-expressible formats. Anything
    else is the documented Pillow/librosa/pyav integration seam."""
    if media_type == "image/bmp":
        w, h = parse_bmp_header(payload)
        return {"n_bytes": len(payload), "width": w, "height": h, "n_frames": 1, "duration_ms": None}
    if media_type == "audio/wav":
        meta = _parse_wav(payload)
        return {
            "n_bytes": len(payload),
            "width": None,
            "height": None,
            "n_frames": None,
            "duration_ms": meta["duration_ms"],
        }
    if media_type == "video/x-mbmp":
        # Header-only walk: metadata needs the frame COUNT and one
        # decodable frame, so only frame 0's bytes are sliced —
        # list(iter_mbmp_frames(...)) would copy every frame's payload
        # into a per-row list, doubling per-row memory inside an already
        # payload-heavy Arrow batch for data it never reads.
        magic, n_frames = struct.unpack_from("<4sI", payload, 0)
        if magic != b"MBMP":
            raise ValueError("not an MBMP payload")
        pos, first = 8, None
        for _ in range(n_frames):
            fmagic, _idx, size = struct.unpack_from("<4sII", payload, pos)
            if fmagic != b"FRM0":
                raise ValueError("corrupt MBMP frame header")
            pos += 12
            if first is None:
                first = payload[pos : pos + size]
            pos += size
        if first is None:
            raise ValueError("MBMP container has no frames")
        w, h = parse_bmp_header(first)
        return {
            "n_bytes": len(payload),
            "width": w,
            "height": h,
            "n_frames": n_frames,
            "duration_ms": None,
        }
    raise NotImplementedError(
        f"{media_type}: install Pillow/librosa/pyav and wire them in here"
    )


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------
def _media_type_col():
    # built lazily: Column construction needs an active SparkContext
    return (
        F.when(F.col("doc_id") % 3 == 0, "image/bmp")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/x-mbmp")
    )

# media_type + expected payload size, mirrored in closed-form SQL.
_SQL_MEDIA_TYPE = """CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/x-mbmp' END"""
_SQL_BMP_W = "(8 + LENGTH(text) % 24)"
_SQL_BMP_H = "(6 + (LENGTH(text) * 3) % 18)"
_SQL_BMP_STRIDE = f"((3 * {_SQL_BMP_W} + 3) // 4 * 4)"
_SQL_WAV_SAMPLES = "(800 + (LENGTH(text) * 7) % 4000)"
_SQL_MBMP_FRAMES = "(2 + doc_id % 6)"
_MBMP_FRAME_BYTES = 54 + MBMP_FRAME_H * _bmp_stride(MBMP_FRAME_W)  # 486
_SQL_N_BYTES = f"""CASE
  WHEN doc_id % 3 = 0 THEN 54 + {_SQL_BMP_H} * {_SQL_BMP_STRIDE}
  WHEN doc_id % 3 = 1 THEN 44 + 2 * {_SQL_WAV_SAMPLES}
  ELSE 8 + {_SQL_MBMP_FRAMES} * {12 + _MBMP_FRAME_BYTES}
END"""


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Build the multimodal shape: one REAL media payload per doc.

    Synthesis runs in Arrow-batched mapInPandas (the payload bytes are
    born on the executors and never touch the driver); the media-type
    assignment is the row-local doc_id % 3 rule mirrored in SQL.
    """
    src = docs.select(
        "doc_id", F.length("text").alias("text_len"), _media_type_col().alias("media_type")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "media_type", "content"]
        for pdf in batches:
            rows = (
                {
                    "doc_id": int(d),
                    "media_type": mt,
                    "content": synth_payload(int(d), int(n), mt),
                }
                for d, n, mt in zip(pdf["doc_id"], pdf["text_len"], pdf["media_type"])
            )
            yield from _bounded_frames(rows, cols, "content")

    return src.mapInPandas(run, schema="doc_id long, media_type string, content binary")


FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, width int, height int, "
    "n_frames int, duration_ms int"
)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode over binary payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_media(payload, mt)
                for payload, mt in zip(pdf["content"], pdf["media_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "media_type", pdf["media_type"].values)
            yield out[
                ["doc_id", "media_type", "n_bytes", "width", "height", "n_frames", "duration_ms"]
            ]

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


@register(
    "multimodal_binary_meta",
    oracle=f"""
SELECT doc_id,
       {_SQL_MEDIA_TYPE} AS media_type,
       CAST({_SQL_N_BYTES} AS BIGINT) AS n_bytes
FROM documents
""",
    tags=("multimodal",),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata projection over REAL synthesized payloads:
    the Spark side measures actual bytes; the oracle recomputes the
    format sizes in closed form (WAV 44-byte header + PCM, BMP 54-byte
    header + strided rows, MBMP container framing)."""
    media = synthesize_media(table(spark, sf_dir, "documents"))
    return media.select(
        "doc_id", "media_type", F.length("content").cast("long").alias("n_bytes")
    )


@register(
    "multimodal_decode_features",
    oracle=f"""
SELECT doc_id,
       {_SQL_MEDIA_TYPE} AS media_type,
       CAST({_SQL_N_BYTES} AS BIGINT) AS n_bytes,
       CAST(CASE WHEN doc_id % 3 = 0 THEN {_SQL_BMP_W}
                 WHEN doc_id % 3 = 2 THEN {MBMP_FRAME_W} END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 3 = 0 THEN {_SQL_BMP_H}
                 WHEN doc_id % 3 = 2 THEN {MBMP_FRAME_H} END AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                 WHEN doc_id % 3 = 2 THEN {_SQL_MBMP_FRAMES} END AS INTEGER) AS n_frames,
       CAST(CASE WHEN doc_id % 3 = 1 THEN {_SQL_WAV_SAMPLES} * 1000 // {WAV_RATE} END
            AS INTEGER) AS duration_ms
FROM documents
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode via mapInPandas: synthesize → parse RIFF/BMP/MBMP
    headers → typed features, hash-compared against the closed-form
    expected metadata."""
    media = synthesize_media(table(spark, sf_dir, "documents"))
    return extract_features(media)


def resize_media(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """REAL nearest-neighbor resize for BMP payloads via mapInPandas:
    parse the source pixels, resample to target dims, re-encode a valid
    BMP. 1 image row in → 1 row out, binary in → binary out.

    Non-BMP rows are FILTERED here, not trusted to the caller: an
    unfiltered mixed frame would hit the BMP parser with a WAV payload
    and fail the whole stage on the first audio row — the contract is
    enforced where the decode happens."""
    media = media.filter(F.col("media_type") == "image/bmp")

    def _resize_bmp(payload: bytes) -> tuple[int, int, bytes]:
        w, h = parse_bmp_header(payload)
        data_off = struct.unpack_from("<I", payload, 10)[0]
        stride = _bmp_stride(w)
        out_px = bytearray()
        out_pad = b"\x00" * (_bmp_stride(target_w) - 3 * target_w)
        for ty in range(target_h):
            sy = ty * h // target_h
            row = bytearray()
            for tx in range(target_w):
                sx = tx * w // target_w
                off = data_off + sy * stride + 3 * sx
                row += payload[off : off + 3]
            out_px += row + out_pad
        out_stride = _bmp_stride(target_w)
        file_size = 54 + target_h * out_stride
        header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54) + struct.pack(
            "<IiiHHIIiiII",
            40, target_w, target_h, 1, 24, 0, target_h * out_stride, 2835, 2835, 0, 0,
        )
        return w, h, header + bytes(out_px)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "media_type", "orig_w", "orig_h", "new_w", "new_h", "content"]

        def rows_of(pdf: pd.DataFrame):
            for doc_id, payload, mt in zip(pdf["doc_id"], pdf["content"], pdf["media_type"]):
                ow, oh, resized = _resize_bmp(payload)
                yield {
                    "doc_id": doc_id,
                    "media_type": mt,
                    "orig_w": ow,
                    "orig_h": oh,
                    "new_w": target_w,
                    "new_h": target_h,
                    "content": resized,
                }

        for pdf in batches:
            yield from _bounded_frames(rows_of(pdf), cols, "content")

    return media.mapInPandas(
        run,
        schema="doc_id long, media_type string, orig_w int, orig_h int, "
        "new_w int, new_h int, content binary",
    )


_RESIZE_W, _RESIZE_H = 64, 36
_RESIZE_BYTES = 54 + _RESIZE_H * ((3 * _RESIZE_W + 3) // 4 * 4)


@register(
    "multimodal_resize",
    oracle=f"""
SELECT doc_id,
       'image/bmp' AS media_type,
       CAST({_SQL_BMP_W} AS INTEGER) AS orig_w,
       CAST({_SQL_BMP_H} AS INTEGER) AS orig_h,
       {_RESIZE_W} AS new_w,
       {_RESIZE_H} AS new_h,
       CAST({_RESIZE_BYTES} AS BIGINT) AS n_bytes_out
FROM documents
WHERE doc_id % 3 = 0 AND doc_id % 7 = 0
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real pixel resize to 64×36 over the image rows; the oracle pins
    the parsed source dimensions and the exact re-encoded BMP size."""
    media = synthesize_media(
        table(spark, sf_dir, "documents").filter(
            (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 7 == 0)
        )
    )
    resized = resize_media(media, _RESIZE_W, _RESIZE_H)
    return resized.select(
        "doc_id",
        "media_type",
        "orig_w",
        "orig_h",
        "new_w",
        "new_h",
        F.length("content").cast("long").alias("n_bytes_out"),
    )


_FRAME_EVERY_K = 2


def sample_frames(media: DataFrame, every_k: int) -> DataFrame:
    """Frame sampling as mapInPandas: 1 video row in → ceil(n/k) frame
    rows out — the 1→N batch shape video pipelines need. Each output
    frame is a REAL standalone BMP parsed out of the MBMP container."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "frame_idx", "frame_w", "frame_h", "frame_bytes"]

        # One generator over the whole 1→N expansion, chunked by BYTES:
        # accumulating a full input batch's expansion into one list
        # would hold input_rows × ceil(n_frames/k) frame
        # payloads before the first yield — with real video that is the
        # Arrow offset cliff from the output side.
        def rows_of(pdf: pd.DataFrame):
            for doc_id, payload in zip(pdf["doc_id"], pdf["content"]):
                for idx, frame in iter_mbmp_frames(payload):
                    if idx % every_k == 0:
                        w, h = parse_bmp_header(frame)
                        yield {
                            "doc_id": doc_id,
                            "frame_idx": idx,
                            "frame_w": w,
                            "frame_h": h,
                            "frame_bytes": frame,
                        }

        for pdf in batches:
            yield from _bounded_frames(rows_of(pdf), cols, "frame_bytes")

    return media.mapInPandas(
        run,
        schema="doc_id long, frame_idx int, frame_w int, frame_h int, frame_bytes binary",
    )


@register(
    "multimodal_frame_sample",
    oracle=f"""
SELECT doc_id,
       CAST(({_SQL_MBMP_FRAMES} + {_FRAME_EVERY_K - 1}) // {_FRAME_EVERY_K} AS BIGINT)
         AS n_sampled,
       CAST((({_SQL_MBMP_FRAMES} - 1) // {_FRAME_EVERY_K}) * {_FRAME_EVERY_K} AS INTEGER)
         AS last_frame_idx,
       CAST((({_SQL_MBMP_FRAMES} + {_FRAME_EVERY_K - 1}) // {_FRAME_EVERY_K})
            * {_MBMP_FRAME_BYTES} AS BIGINT) AS bytes_sampled
FROM documents
WHERE doc_id % 3 = 2
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd-frame sampling over the video rows (1→N mapInPandas);
    the oracle pins sampled-frame counts, last index, and exact bytes
    (each extracted frame is a full standalone BMP)."""
    media = synthesize_media(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 2)
    )
    frames = sample_frames(media, _FRAME_EVERY_K)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("frame_idx").alias("last_frame_idx"),
        F.sum(F.length("frame_bytes")).alias("bytes_sampled"),
    )
