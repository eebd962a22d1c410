"""pandas/Arrow UDF parity + multimodal mapInPandas plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from omop_meds_spark.functions.arrow_udfs import (
    content_metrics,
    content_metrics_builtin,
    make_code_mapper,
)
from omop_meds_spark.operators.multimodal import (
    decode_media,
    media_from_documents,
    sample_frames,
)

DOCS = [
    (0, "hello world\nsecond line here", "en", "web"),
    (1, "a\nbb\nccc\n", "en", "web"),
    (2, "", "de", "books"),
    (3, "único línea with ünïcode £", "es", "web"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string, source string")


def test_content_metrics_udf_matches_jvm_twin(docs):
    udf_rows = {
        r["doc_id"]: (r["n_lines"], r["n_bytes"], r["max_line_len"])
        for r in docs.select(
            "doc_id", content_metrics(F.col("text")).alias("m")
        ).select("doc_id", "m.*").collect()
    }
    jvm_rows = {
        r["doc_id"]: (r["n_lines"], r["n_bytes"], r["max_line_len"])
        for r in docs.select("doc_id", *content_metrics_builtin("text")).collect()
    }
    assert udf_rows == jvm_rows
    # golden: unicode text is counted in bytes, lines in chars
    assert udf_rows[3][1] == len("único línea with ünïcode £".encode())
    assert udf_rows[1] == (4, 9, 3)


def test_code_mapper_fallback(docs):
    mapper = make_code_mapper({"en": "LANG//english"})
    got = {r["doc_id"]: r["c"] for r in docs.select("doc_id", mapper("lang").alias("c")).collect()}
    assert got[0] == "LANG//english"
    assert got[2] == "LANG//de"  # unmapped → composed fallback code


def test_code_map_builtin_bit_equal_to_pandas_udf(spark):
    """The hot path's JVM map-literal lookup must match the pandas UDF on
    every regime: mapped, unmapped (composed fallback), and null lang."""
    from omop_meds_spark.functions.arrow_udfs import code_map_builtin

    df = spark.createDataFrame(
        [(0, "en"), (1, "py"), (2, "de"), (3, None), (4, "")],
        "id long, lang string",
    )
    mapping = {"en": "LANG//english", "py": "LANG//python"}
    mapper = make_code_mapper(mapping)
    rows = df.select(
        "id",
        mapper("lang").alias("udf"),
        code_map_builtin(mapping, "lang").alias("jvm"),
    ).collect()
    assert all(r["udf"] == r["jvm"] for r in rows), rows
    by_id = {r["id"]: r["jvm"] for r in rows}
    assert by_id[1] == "LANG//python" and by_id[2] == "LANG//de"
    assert by_id[3] == "LANG//unknown" and by_id[4] == "LANG//"


def test_decode_media_stub_deterministic(docs):
    out = decode_media(media_from_documents(docs)).collect()
    by_id = {r["media_id"]: r for r in out}
    assert len(out) == 4
    payload = "hello world\nsecond line here".encode()
    d = hashlib.sha256(payload).digest()
    assert by_id[0]["sha256"] == hashlib.sha256(payload).hexdigest()
    assert by_id[0]["n_bytes"] == len(payload)
    assert by_id[0]["width"] == 16 + d[0] % 240
    assert by_id[0]["height"] == 16 + d[1] % 240
    assert by_id[0]["media_type"] == "image/png"


def test_decode_media_real_decoder_is_gated(docs):
    # media_from_documents payloads are raw text bytes (not RIFF), so the
    # non-stub path must refuse them — only audio/wav has a real decoder
    with pytest.raises(Exception) as ei:
        decode_media(media_from_documents(docs), decode_stub=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_decode_media_real_wav_path(docs):
    """decode_stub=False REALLY decodes RIFF/WAVE payloads: width/height
    carry (n_samples, sample_rate) parsed from the binary header."""
    from omop_meds_spark.operators.multimodal import WAV_RATE, wav_from_documents

    out = {
        r["media_id"]: r
        for r in decode_media(wav_from_documents(docs), decode_stub=False).collect()
    }
    assert len(out) == len(DOCS)
    for doc_id, text, _, _ in DOCS:
        n = len(text)  # ascii-safe replacement is 1:1 for BMP text
        assert out[doc_id]["width"] == n
        assert out[doc_id]["height"] == WAV_RATE
        assert out[doc_id]["n_bytes"] == 44 + 2 * n  # canonical header + PCM16


def test_wav_round_trip_exact(docs):
    """Binary encode→decode round trip: decoded aggregates equal the
    values computed independently from the source characters."""
    from omop_meds_spark.operators.multimodal import decode_wav, wav_from_documents

    out = {r["media_id"]: r for r in decode_wav(wav_from_documents(docs)).collect()}
    for doc_id, text, _, _ in DOCS:
        ascii_text = "".join(c if " " <= c <= "~" else "?" for c in text)
        samples = [(ord(c) - 79) * 256 for c in ascii_text]
        r = out[doc_id]
        assert r["n_samples"] == len(samples)
        assert r["duration_ms"] == len(samples) * 1000 // r["sample_rate"]
        assert r["peak_abs"] == max((abs(s) for s in samples), default=0)
        assert r["checksum"] == sum(samples)


def test_ppm_round_trip_exact(docs):
    """Binary encode→decode round trip for the image modality: decoded
    aggregates equal the values computed independently from the source
    characters (R=code, G=255-code, B=code*7%256, width×1)."""
    from omop_meds_spark.operators.multimodal import decode_ppm, ppm_from_documents

    out = {r["media_id"]: r for r in decode_ppm(ppm_from_documents(docs)).collect()}
    for doc_id, text, _, _ in DOCS:
        ascii_text = "".join(c if " " <= c <= "~" else "?" for c in text)
        codes = [ord(c) for c in ascii_text]
        r = out[doc_id]
        assert (r["width"], r["height"], r["maxval"]) == (len(codes), 1, 255)
        assert r["checksum"] == 255 * len(codes) + sum(c * 7 % 256 for c in codes)
        assert r["max_px"] == max(
            [max(codes, default=0), 255 - min(codes, default=255)]
            + [c * 7 % 256 for c in codes], default=0)
    # decode_media's generic path takes the same real branch for P6
    gen = {r["media_id"]: r for r in
           decode_media(ppm_from_documents(docs), decode_stub=False).collect()}
    for doc_id, text, _, _ in DOCS:
        assert gen[doc_id]["width"] == len(text)
        assert gen[doc_id]["height"] == 1


def test_ppm_decode_rejects_malformed():
    from omop_meds_spark.operators.multimodal import _ppm_decode, _ppm_encode

    with pytest.raises(ValueError):
        _ppm_decode(b"P5\n1 1\n255\n\x00")       # grayscale magic
    with pytest.raises(ValueError):
        _ppm_decode(b"P6\n2 2\n255\n\x00\x00")   # truncated pixel data
    with pytest.raises(ValueError):
        _ppm_decode(b"P6\n1 1\n65535\n" + b"\x00" * 6)  # 16-bit maxval
    # comment skipping: a header comment between tokens still parses
    ok = _ppm_decode(b"P6\n1 # w\n# another\n1\n255\n\x01\x02\x03")
    assert (ok["width"], ok["height"], ok["checksum"]) == (1, 1, 6)


def test_wav_decode_rejects_malformed():
    from omop_meds_spark.operators.multimodal import _wav_decode, _wav_encode

    with pytest.raises(ValueError):
        _wav_decode(b"not a wav at all")
    with pytest.raises(ValueError):
        _wav_decode(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data chunks
    # stereo is unsupported: flip n_channels in a valid header
    b = bytearray(_wav_encode([1, 2, 3]))
    b[22] = 2
    with pytest.raises(ValueError):
        _wav_decode(bytes(b))


def test_sample_frames_shape(docs):
    out = sample_frames(media_from_documents(docs), every_n_bytes=8, max_frames=3).collect()
    per_id = {}
    for r in out:
        per_id.setdefault(r["media_id"], []).append(r)
    # 28-byte doc → min(3, 28//8=3) = 3 frames; empty doc → 1 frame
    assert len(per_id[0]) == 3
    assert [r["frame_idx"] for r in sorted(per_id[0], key=lambda r: r["frame_idx"])] == [0, 1, 2]
    assert len(per_id[2]) == 1
    # frame hash is the window hash
    w0 = "hello world\nsecond line here".encode()[0:8]
    f0 = min(per_id[0], key=lambda r: r["frame_idx"])
    assert f0["frame_sha256"] == hashlib.sha256(w0).hexdigest()


def test_png_decode_every_deflate_block_type():
    """``_png_decode`` decompresses IDAT payloads of every RFC 1951 block
    type: stored (level 0), dynamic Huffman (level 6/9 on structured
    data), and a HAND-ASSEMBLED fixed-Huffman block (zlib rarely emits
    btype=1, so it is constructed bit-by-bit here). A truncated IDAT
    stream raises."""
    import struct
    import zlib

    import pytest

    from omop_meds_spark.operators.png import _PNG_SIG, _chunk, _png_decode

    def png(idat: bytes, width: int) -> bytes:
        ihdr = struct.pack(">IIBBBBB", width, 1, 8, 0, 0, 0, 0)
        return (_PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
                + _chunk(b"IEND", b""))

    for px in (b"a", b"abc" * 500, bytes(range(256)) * 8,
               bytes([1]) * 10_000):
        want = (len(px), sum(px), max(px))
        for lvl in (0, 1, 6, 9):
            d = _png_decode(png(zlib.compress(b"\x00" + px, lvl), len(px)))
            assert (d["width"], d["checksum"], d["max_px"]) == want

    bits: list[int] = []

    def lsb(v, n):  # header fields: LSB-first
        bits.extend((v >> i) & 1 for i in range(n))

    def code(v, n):  # Huffman codes: MSB-first
        bits.extend((v >> i) & 1 for i in range(n - 1, -1, -1))

    raw = b"\x00FIXED!"  # filter byte 0, then six pixels
    lsb(1, 1)  # final
    lsb(1, 2)  # btype=1 fixed
    for ch in raw:
        code(0x30 + ch, 8)  # literals 0-143: 8-bit codes from 0x30
    code(0, 7)  # end-of-block
    buf = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        buf[i >> 3] |= b << (i & 7)
    fixed = b"\x78\x01" + bytes(buf) + struct.pack(">I", zlib.adler32(raw))
    d = _png_decode(png(fixed, 6))
    assert (d["width"], d["checksum"], d["max_px"]) == (6, sum(b"FIXED!"),
                                                        max(b"FIXED!"))

    stream = zlib.compress(b"\x00" + bytes(range(256)) * 8, 0)
    for cut in (4, len(stream) // 2):  # lost Adler-32; cut mid stored block
        with pytest.raises(ValueError, match="IDAT"):
            _png_decode(png(stream[:-cut], 2048))


def test_png_round_trip_every_filter_type():
    """Multi-row images so Up/Average/Paeth see a real prior scanline;
    decoded aggregates must be filter-independent (unfiltering exact)."""
    from omop_meds_spark.operators.png import _png_decode, _png_encode

    px = bytes((i * 37 + 11) % 256 for i in range(12 * 5))
    for f in range(5):
        d = _png_decode(_png_encode(px, 12, 5, f))
        assert (d["width"], d["height"], d["bit_depth"], d["checksum"],
                d["max_px"]) == (12, 5, 8, sum(px), max(px))


def test_png_decode_rejects_malformed():
    import pytest

    from omop_meds_spark.operators.png import _png_decode, _png_encode

    good = _png_encode(bytes(16), 16, 1, 2)
    with pytest.raises(ValueError, match="signature"):
        _png_decode(b"\x89PNX" + good[4:])
    bad_crc = bytearray(good)
    bad_crc[20] ^= 0xFF  # corrupt IHDR payload under its CRC
    with pytest.raises(ValueError, match="CRC"):
        _png_decode(bytes(bad_crc))
    with pytest.raises(ValueError, match="truncated"):
        _png_decode(good[:-6])


def test_png_decode_real_spark_path(docs):
    """End-to-end through mapInPandas: every document decodes to its
    text-derived aggregates, filters varying by doc_id."""
    from omop_meds_spark.operators.multimodal import (
        decode_png,
        png_from_documents,
    )

    out = {r["media_id"]: r for r in
           decode_png(png_from_documents(docs)).collect()}
    want = {r["doc_id"]: "".join(c if " " <= c <= "~" else "?"
                                 for c in r["text"])
            for r in docs.select("doc_id", "text").collect()}
    assert set(out) == set(want)
    for mid, s in want.items():
        r = out[mid]
        codes = [ord(c) for c in s]
        assert (r["width"], r["height"], r["bit_depth"]) == (len(s), 1, 8)
        assert r["checksum"] == sum(codes)
        assert r["max_px"] == (max(codes) if codes else 0)


def test_gif_lzw_all_regimes():
    """From-scratch GIF LZW: round trips across code widths (mcs 2/4/8),
    dictionary growth through every width bump to 12 bits, forced CLEAR on
    a full table, the KwKwK code, and empty input."""
    import random

    from omop_meds_spark.operators.gif import _lzw_decode, _lzw_encode

    rng = random.Random(11)
    cases = [b"", b"a", b"ab" * 4000,
             bytes(rng.randrange(256) for _ in range(20_000)),  # full table
             bytes([7]) * 30_000,                               # KwKwK chains
             b"TOBEORNOTTOBEORTOBEORNOT" * 200]
    for mcs in (2, 4, 8):
        for c in cases:
            cc = bytes(x % (1 << mcs) for x in c) if mcs < 8 else c
            assert _lzw_decode(_lzw_encode(cc, mcs), mcs) == cc


def test_gif_multi_frame_round_trip_and_89a_extensions():
    from omop_meds_spark.operators.gif import _gif_decode, _gif_encode

    frames = [bytes((i * 13 + f * 7) % 256 for i in range(300 * 2))
              for f in range(4)]
    d = _gif_decode(_gif_encode(frames, 300, 2))
    assert d["n_frames"] == 4 and d["frames"] == frames
    assert d["checksum"] == sum(sum(f) for f in frames)

    # GIF89a-style extension blocks must be skipped, not fatal
    b = bytearray(_gif_encode([bytes([1, 2, 3, 4])], 4, 1))
    ins = 13 + 768  # after the global palette
    b2 = bytes(b[:ins]) + b"\x21\xF9\x04\x00\x00\x00\x00\x00" + bytes(b[ins:])
    assert _gif_decode(b2)["checksum"] == 10

    import pytest

    with pytest.raises(ValueError, match="truncated"):
        _gif_decode(bytes(b)[:-2])
    with pytest.raises(ValueError, match="signature"):
        _gif_decode(b"GIF00a" + bytes(b)[6:])


def test_gif_frames_real_spark_path(docs):
    """Frame explosion end-to-end: n_frames = 1 + doc_id % 3, frame k
    checksum = sum(ascii) - k*len — checked per decoded frame row."""
    from omop_meds_spark.operators.multimodal import (
        gif_frames,
        gif_from_documents,
    )

    rows = gif_frames(gif_from_documents(docs)).collect()
    want = {r["doc_id"]: "".join(c if " " <= c <= "~" else "?"
                                 for c in r["text"])
            for r in docs.select("doc_id", "text").collect()}
    seen: dict[int, int] = {}
    for r in rows:
        s = want[r["media_id"]]
        assert r["n_pixels"] == len(s)
        assert r["frame_checksum"] == sum(ord(c) for c in s) - r["frame_idx"] * len(s)
        seen[r["media_id"]] = max(seen.get(r["media_id"], 0), r["frame_idx"] + 1)
    for mid, nf in seen.items():
        assert nf == 1 + mid % 3


def test_sample_frames_real_gif_path(docs):
    """sample_frames(decode_stub=False) on GIF payloads digests DECODED
    frame pixels (not byte windows) — pinned against a Python model."""
    import hashlib

    from omop_meds_spark.operators.gif import _gif_decode
    from omop_meds_spark.operators.multimodal import (
        gif_from_documents,
        sample_frames,
    )

    media = gif_from_documents(docs)
    got = {(r["media_id"], r["frame_idx"]): r["frame_sha256"]
           for r in sample_frames(media, decode_stub=False, max_frames=2).collect()}
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    want = {}
    for mid, p in payloads.items():
        for k, f in enumerate(_gif_decode(p)["frames"][:2]):
            want[(mid, k)] = hashlib.sha256(f).hexdigest()
    assert got == want
