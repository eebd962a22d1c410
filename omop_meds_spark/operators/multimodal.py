"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns next to typed metadata
(media_type, width/height/duration, codec). Everything Spark-side — schema,
partitioning, Arrow batch shape, UDF signatures — is real and tested; the
actual byte decoding is STUBBED because no image/audio libraries exist in
this container:

* ``decode_stub=True`` (default in tests) runs a deterministic fake decoder
  (metadata derived from the payload bytes themselves) so the distributed
  plumbing is exercised end-to-end with verifiable outputs.
* ``decode_stub=False`` REALLY decodes the audio and image modalities:
  RIFF/WAVE 16-bit-PCM payloads are parsed with a pure-Python chunk
  walker (:func:`_wav_decode`), PPM/P6 images with a pure-Python netpbm
  header tokenizer (:func:`_ppm_decode`), and PNG — a genuinely
  COMPRESSED format — with ``operators/png.py`` (chunk walk with CRCs,
  stdlib ``zlib`` inflate, all five scanline filters; no external libs) —
  exercised by the
  ``wav_decode_real`` / ``ppm_decode_real`` / ``png_decode_real``
  queries against exact DuckDB oracles — and multi-frame GIF87a (the
  video analogue) decodes + frame-extracts for real via
  ``operators/gif.py``'s from-scratch LZW (``gif_decode_real`` /
  ``gif_frames_real``; ``sample_frames(decode_stub=False)`` digests
  actually-decoded frames). True video codecs still raise
  ``NotImplementedError`` naming the real implementation point
  (imageio/libav inside the same ``mapInPandas`` body — per-batch,
  vectorized, identical schema).

Scale notes: media payloads dominate row size, so the iterator form of
``mapInPandas`` is used — batches stream through Python with bounded
memory (``spark.sql.execution.arrow.maxRecordsPerBatch`` controls batch
rows). Feature extraction keys nothing — it is embarrassingly parallel and
shuffle-free; frame sampling emits 0..n rows per input row (allowed by
mapInPandas), which a downstream ``repartition`` can rebalance.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_sha256", StringType()),
    ]
)

WAV_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_rate", LongType()),
        StructField("duration_ms", LongType()),
        StructField("peak_abs", LongType()),
        StructField("checksum", LongType()),
    ]
)

_STUB_NOTE = (
    "real video decoder not available in this container — plug "
    "imageio/libav here, same mapInPandas body, same output schema "
    "(wav/ppm/png/gif already have real pure-Python paths: _wav_decode / "
    "_ppm_decode / png._png_decode / gif._gif_decode — GIF includes real "
    "multi-frame extraction)"
)

PNG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bit_depth", LongType()),
        StructField("checksum", LongType()),
        StructField("max_px", LongType()),
    ]
)

PPM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("maxval", LongType()),
        StructField("checksum", LongType()),
        StructField("max_px", LongType()),
    ]
)

WAV_RATE = 8000  # synthetic payload sample rate (Hz), mono 16-bit PCM


def _fake_dims(payload: bytes) -> tuple[int, int]:
    """Deterministic fake decode: dims derived from the payload digest."""
    d = hashlib.sha256(payload).digest()
    return 16 + d[0] % 240, 16 + d[1] % 240


def _wav_encode(samples: list[int], rate: int = WAV_RATE) -> bytes:
    """Minimal canonical RIFF/WAVE writer: mono 16-bit PCM, little-endian.

    >>> b = _wav_encode([0, 1000, -1000])
    >>> b[:4], b[8:12], len(b)
    (b'RIFF', b'WAVE', 50)
    """
    data = struct.pack(f"<{len(samples)}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def _wav_decode(b: bytes) -> dict:
    """REAL pure-Python WAV decode: walk RIFF chunks (tolerating extra
    chunks and odd-size padding per the RIFF spec), validate mono 16-bit
    PCM, unpack the samples, return numeric metadata. No external libs —
    ``struct`` only.

    >>> d = _wav_decode(_wav_encode([256, -512, 0]))
    >>> (d['n_samples'], d['sample_rate'], d['peak_abs'], d['checksum'])
    (3, 8000, 512, -256)
    """
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid, sz = struct.unpack_from("<4sI", b, pos)
        pos += 8
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", b, pos)
        elif cid == b"data":
            data = b[pos : pos + sz]
        pos += sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt
    if (audio_fmt, n_ch, bits) != (1, 1, 16):
        raise ValueError(f"unsupported wav: fmt={audio_fmt} ch={n_ch} bits={bits}")
    samples = struct.unpack(f"<{len(data) // 2}h", data[: len(data) // 2 * 2])
    return {
        "n_samples": len(samples),
        "sample_rate": rate,
        "duration_ms": len(samples) * 1000 // rate,
        "peak_abs": max((abs(s) for s in samples), default=0),
        "checksum": sum(samples),
    }


def _ppm_encode(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal canonical PPM (P6) writer: binary RGB, maxval 255, with a
    comment line so the decoder's comment skipping is exercised.

    >>> _ppm_encode(bytes([1, 2, 3]), 1, 1)[:3]
    b'P6\\n'
    """
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    return (f"P6\n# synthetic\n{width} {height}\n255\n".encode("ascii")
            + pixels)


def _ppm_decode(b: bytes) -> dict:
    """REAL pure-Python PPM (P6) decode: tokenize the ASCII header
    (skipping ``#`` comments per the netpbm spec), validate magic and
    maxval, slice exactly width*height*3 pixel bytes, return numeric
    metadata. No external libs.

    >>> d = _ppm_decode(_ppm_encode(bytes([0, 128, 255, 1, 2, 3]), 2, 1))
    >>> (d['width'], d['height'], d['maxval'], d['checksum'], d['max_px'])
    (2, 1, 255, 389, 255)
    """
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(b):
            raise ValueError("truncated PPM header")
        c = b[pos : pos + 1]
        if c == b"#":                       # comment runs to end of line
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(b) and not b[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(b[start:pos]))
    pos += 1                                 # single whitespace after maxval
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    n = width * height * 3
    px = b[pos : pos + n]
    if len(px) != n:
        raise ValueError("truncated PPM pixel data")
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "checksum": sum(px),
        "max_px": max(px, default=0),
    }


def decode_media(df: DataFrame, decode_stub: bool = True) -> DataFrame:
    """binary payload → typed metadata row, one per media item.

    With ``decode_stub=False``, RIFF/WAVE, PPM/P6 and PNG payloads take
    their REAL decode paths (for WAV, ``width``/``height`` carry
    ``n_samples``/``sample_rate`` — the generic dimension slots of the
    shared schema, documented here); other media types raise until a real
    video decoder is plugged in."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = []
            for mt, p in zip(pdf["media_type"], pdf["payload"]):
                b = bytes(p)
                if decode_stub:
                    dims.append(_fake_dims(b))
                elif b[:4] == b"RIFF":
                    d = _wav_decode(b)
                    dims.append((d["n_samples"], d["sample_rate"]))
                elif b[:2] == b"P6":
                    d = _ppm_decode(b)
                    dims.append((d["width"], d["height"]))
                elif b[:8] == b"\x89PNG\r\n\x1a\n":
                    from .png import _png_decode

                    d = _png_decode(b)
                    dims.append((d["width"], d["height"]))
                elif b[:6] in (b"GIF87a", b"GIF89a"):
                    from .gif import _gif_decode

                    d = _gif_decode(b)
                    dims.append((d["width"], d["height"]))
                else:
                    raise NotImplementedError(_STUB_NOTE)
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.str.len().astype("int64"),
                    "sha256": [hashlib.sha256(bytes(p)).hexdigest() for p in payloads],
                    "width": pd.Series([w for w, _ in dims], dtype="int64"),
                    "height": pd.Series([h for _, h in dims], dtype="int64"),
                }
            )

    return df.mapInPandas(body, DECODED_SCHEMA)


def sample_frames(df: DataFrame, every_n_bytes: int = 64, max_frames: int = 8,
                  decode_stub: bool = True) -> DataFrame:
    """Frame sampling: 0..max_frames output rows per input row (video →
    frame rows). The stub 'samples' a digest per payload byte-window;
    with ``decode_stub=False`` a multi-frame GIF payload takes the REAL
    path — frames actually LZW-decoded (``gif._gif_decode``), one digest
    per decoded frame's pixel bytes (``max_frames`` caps the emission);
    other formats raise until their decoders are plugged in."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                if not decode_stub:
                    if b[:6] not in (b"GIF87a", b"GIF89a"):
                        raise NotImplementedError(_STUB_NOTE)
                    from .gif import _gif_decode

                    for i, frame in enumerate(
                            _gif_decode(b)["frames"][:max_frames]):
                        ids.append(int(mid))
                        idxs.append(i)
                        shas.append(hashlib.sha256(frame).hexdigest())
                    continue
                n = min(max_frames, max(1, len(b) // every_n_bytes))
                for i in range(n):
                    window = b[i * every_n_bytes : (i + 1) * every_n_bytes]
                    ids.append(int(mid))
                    idxs.append(i)
                    shas.append(hashlib.sha256(window).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_sha256": pd.Series(shas, dtype="object"),
                }
            )

    return df.mapInPandas(body, FRAME_SCHEMA)


def media_from_documents(docs: DataFrame, ascii_safe: bool = False) -> DataFrame:
    """Adapter: treat document text bytes as opaque media payloads (the
    testdata has no true binary column; the plumbing is payload-agnostic).

    ``ascii_safe=True`` replaces every non-printable-ASCII character with
    ``?`` before encoding, so byte offsets == character offsets and byte-
    window operators (frame sampling) admit an exact SQL oracle
    (``substr`` windows). Caveat: Java regex negated classes match per
    UTF-16 code unit, so an astral character would become two ``?`` where
    a codepoint engine yields one — irrelevant for BMP text, documented
    for parity."""
    text = F.col("text")
    if ascii_safe:
        text = F.regexp_replace(text, r"[^\x20-\x7E]", "?")
    return docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("media_type"),
        F.encode(text, "UTF-8").alias("payload"),
    )


def wav_from_documents(docs: DataFrame, rate: int = WAV_RATE) -> DataFrame:
    """Deterministic REAL WAV payloads from the documents table: one mono
    16-bit PCM sample per ascii-safe character, ``sample = (ord(c) - 79) *
    256`` (printable ASCII 0x20–0x7E → −12032..12032, safely inside int16).
    The mapping is simple enough that a SQL oracle recomputes the expected
    decoded aggregates straight from the text, making the binary
    encode→decode round trip exactly checkable without any media library."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                _wav_encode([(ord(c) - 79) * 256 for c in t], rate)
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "media_type": pd.Series(["audio/wav"] * len(pdf), dtype="object"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    ascii_text = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "?")
    src = docs.select(F.col("doc_id").cast("long"), ascii_text.alias("text"))
    return src.mapInPandas(body, MEDIA_SCHEMA)


def ppm_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic REAL PPM payloads from the documents table: one RGB
    pixel per ascii-safe character — ``R = code``, ``G = 255 - code``,
    ``B = (code * 7) % 256`` — as a width×1 image. Like the WAV twin, the
    mapping is simple enough that a SQL oracle recomputes the decoded
    aggregates straight from the text, exact-checking the binary
    encode→decode round trip with no image library."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                px = bytearray()
                for c in t:
                    code = ord(c)
                    px += bytes((code, 255 - code, code * 7 % 256))
                payloads.append(_ppm_encode(bytes(px), len(t), 1))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "media_type": pd.Series(["image/ppm"] * len(pdf), dtype="object"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    ascii_text = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "?")
    src = docs.select(F.col("doc_id").cast("long"), ascii_text.alias("text"))
    return src.mapInPandas(body, MEDIA_SCHEMA)


def png_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic REAL PNG payloads from the documents table: 8-bit
    grayscale, one pixel per ascii-safe character (``gray = ord(c)``),
    width = text length × height 1, scanline filter type = ``doc_id % 5``
    — so across the corpus every PNG filter (None/Sub/Up/Average/Paeth)
    is exercised and the decoder must unfilter correctly for the
    content-derived aggregates to match. The zlib/DEFLATE compression is
    genuine (stdlib on both sides); the chunk walk and unfilters are
    ``operators/png.py``'s own. Like the WAV/PPM twins, the pixel
    mapping is simple enough that a SQL oracle recomputes the decoded
    aggregates straight from the text."""
    from .png import _png_encode

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                _png_encode(t.encode("ascii"), len(t), 1, int(i) % 5)
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "media_type": pd.Series(["image/png"] * len(pdf), dtype="object"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    ascii_text = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "?")
    src = docs.select(F.col("doc_id").cast("long"), ascii_text.alias("text"))
    return src.mapInPandas(body, MEDIA_SCHEMA)


def decode_png(df: DataFrame) -> DataFrame:
    """REAL compressed-image decode over (media_id, payload): parse each
    PNG with :func:`png._png_decode` — chunk CRCs, zlib inflate,
    scanline unfiltering — and emit numeric metadata. Same bounded-memory
    iterator ``mapInPandas`` shape as every other decoder here."""
    from .png import _png_decode

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_png_decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": pd.Series([r["width"] for r in rows], dtype="int64"),
                    "height": pd.Series([r["height"] for r in rows], dtype="int64"),
                    "bit_depth": pd.Series([r["bit_depth"] for r in rows], dtype="int64"),
                    "checksum": pd.Series([r["checksum"] for r in rows], dtype="int64"),
                    "max_px": pd.Series([r["max_px"] for r in rows], dtype="int64"),
                }
            )

    return df.mapInPandas(body, PNG_SCHEMA)


GIF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("checksum", LongType()),
        StructField("max_px", LongType()),
    ]
)

GIF_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_pixels", LongType()),
        StructField("frame_checksum", LongType()),
    ]
)


def gif_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic REAL multi-frame GIF87a payloads from the documents
    table — the video-analogue twin of ``png_from_documents``: grayscale
    identity palette, ``1 + doc_id % 3`` frames per document, frame ``k``
    pixel = ``ord(c) - k`` (ascii-safe 32–126 minus k≤2 stays a valid
    index), width = text length × height 1. LZW compression is genuine
    (the from-scratch encoder in ``operators/gif.py``); the frame pixel
    mapping keeps every decoded aggregate recomputable from text by a SQL
    oracle."""
    from .gif import _gif_encode

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                nf = 1 + int(i) % 3
                frames = [bytes(ord(c) - k for c in t) for k in range(nf)]
                payloads.append(_gif_encode(frames, len(t), 1))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "media_type": pd.Series(["image/gif"] * len(pdf), dtype="object"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    ascii_text = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "?")
    src = docs.select(F.col("doc_id").cast("long"), ascii_text.alias("text"))
    return src.mapInPandas(body, MEDIA_SCHEMA)


def decode_gif(df: DataFrame) -> DataFrame:
    """REAL multi-frame compressed-image decode over (media_id, payload):
    parse each GIF with :func:`gif._gif_decode` — sub-block walk,
    from-scratch LZW, per-frame pixel validation — and emit numeric
    metadata. Same bounded-memory iterator ``mapInPandas`` shape as every
    other decoder here."""
    from .gif import _gif_decode

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_gif_decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": pd.Series([r["width"] for r in rows], dtype="int64"),
                    "height": pd.Series([r["height"] for r in rows], dtype="int64"),
                    "n_frames": pd.Series([r["n_frames"] for r in rows], dtype="int64"),
                    "checksum": pd.Series([r["checksum"] for r in rows], dtype="int64"),
                    "max_px": pd.Series([r["max_px"] for r in rows], dtype="int64"),
                }
            )

    return df.mapInPandas(body, GIF_SCHEMA)


def gif_frames(df: DataFrame) -> DataFrame:
    """REAL frame extraction (the stub ``sample_frames``' promised real
    path, delivered for one genuinely compressed multi-frame format):
    decode each GIF and emit one row PER FRAME — 0..n output rows per
    input row through the same iterator ``mapInPandas`` shape."""
    from .gif import _gif_decode

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ns, sums = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                d = _gif_decode(bytes(p))
                for k, frame in enumerate(d["frames"]):
                    ids.append(int(mid))
                    idxs.append(k)
                    ns.append(len(frame))
                    sums.append(sum(frame))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "n_pixels": pd.Series(ns, dtype="int64"),
                    "frame_checksum": pd.Series(sums, dtype="int64"),
                }
            )

    return df.mapInPandas(body, GIF_FRAME_SCHEMA)


def decode_ppm(df: DataFrame) -> DataFrame:
    """REAL image decode over (media_id, payload): parse each P6 payload
    with :func:`_ppm_decode` and emit numeric metadata. Same bounded-memory
    iterator ``mapInPandas`` shape as every other decoder here."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_ppm_decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": pd.Series([r["width"] for r in rows], dtype="int64"),
                    "height": pd.Series([r["height"] for r in rows], dtype="int64"),
                    "maxval": pd.Series([r["maxval"] for r in rows], dtype="int64"),
                    "checksum": pd.Series([r["checksum"] for r in rows], dtype="int64"),
                    "max_px": pd.Series([r["max_px"] for r in rows], dtype="int64"),
                }
            )

    return df.mapInPandas(body, PPM_SCHEMA)


def decode_wav(df: DataFrame) -> DataFrame:
    """REAL audio decode over (media_id, payload): parse each RIFF/WAVE
    payload with :func:`_wav_decode` and emit numeric metadata. Same
    bounded-memory iterator ``mapInPandas`` shape as the stub decoders —
    this is the stub's promised 'plug the real decoder here' point, filled
    in for the one modality a pure-Python parser can cover."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_wav_decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "n_samples": pd.Series([r["n_samples"] for r in rows], dtype="int64"),
                    "sample_rate": pd.Series([r["sample_rate"] for r in rows], dtype="int64"),
                    "duration_ms": pd.Series([r["duration_ms"] for r in rows], dtype="int64"),
                    "peak_abs": pd.Series([r["peak_abs"] for r in rows], dtype="int64"),
                    "checksum": pd.Series([r["checksum"] for r in rows], dtype="int64"),
                }
            )

    return df.mapInPandas(body, WAV_SCHEMA)
