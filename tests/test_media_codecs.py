"""Known-value tests for the stdlib media header codecs.

Hand-built byte strings (not the synthesizers) pin the parser against the
real container layouts; synthesizer round-trips then cover the parameter
space.  No Spark needed — these are pure functions.
"""

from __future__ import annotations

import struct
import zlib

from aspep_etl_spark.functions.media import (
    make_mp4,
    make_png,
    make_wav,
    parse_media_header,
    sniff_format,
)

from .media_fixture import make_bmp, make_gif, make_jpeg


# ---------------------------------------------------------------------------
# hand-built fixtures with known answers
# ---------------------------------------------------------------------------


def test_png_ihdr_hand_built():
    ihdr = struct.pack(">IIBBBBB", 2, 3, 8, 0, 0, 0, 0)
    raw = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    d = parse_media_header(raw)
    assert (d["format"], d["width"], d["height"]) == ("png", 2, 3)
    assert d["duration_ms"] is None


def test_jpeg_sof_after_other_segments():
    # SOI + COM segment + fill byte + SOF0(h=7, w=5) + EOI
    com = b"\xff\xfe" + struct.pack(">H", 2 + 4) + b"test"
    sof = b"\xff\xc0" + struct.pack(">H", 11) + struct.pack(">BHHB", 8, 7, 5, 1) + b"\x01\x11\x00"
    d = parse_media_header(b"\xff\xd8" + com + b"\xff" + sof + b"\xff\xd9")
    assert (d["format"], d["width"], d["height"]) == ("jpeg", 5, 7)


def test_jpeg_progressive_sof2():
    sof2 = b"\xff\xc2" + struct.pack(">H", 11) + struct.pack(">BHHB", 8, 100, 200, 1) + b"\x01\x11\x00"
    d = parse_media_header(b"\xff\xd8" + sof2 + b"\xff\xd9")
    assert (d["width"], d["height"]) == (200, 100)


def test_jpeg_dht_is_not_sof():
    # DHT (0xC4) is in the 0xC0-0xCF range but is NOT a frame header
    dht = b"\xff\xc4" + struct.pack(">H", 6) + b"\x00\x01\x02\x03"
    d = parse_media_header(b"\xff\xd8" + dht + b"\xff\xd9")
    assert d["format"] == "unknown"  # no SOF anywhere → corrupt


def test_gif_logical_screen_descriptor():
    d = parse_media_header(b"GIF89a" + struct.pack("<HH", 640, 480) + bytes(10))
    assert (d["format"], d["width"], d["height"]) == ("gif", 640, 480)


def test_bmp_info_header():
    dib = struct.pack("<Iii", 40, 32, -16) + bytes(40 - 12)  # top-down: negative height
    d = parse_media_header(b"BM" + struct.pack("<IHHI", 100, 0, 0, 54) + dib)
    assert (d["format"], d["width"], d["height"]) == ("bmp", 32, 16)


def test_wav_chunk_walk_with_unknown_chunk():
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 2, 2, 8)
    junk = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd size → pad byte
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + junk
        + b"data" + struct.pack("<I", 88200) + b""  # size only; data may stream
    )
    d = parse_media_header(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert d["format"] == "wav"
    assert d["sample_rate"] == 44100 and d["channels"] == 2
    assert d["duration_ms"] == 1000  # 88200 bytes / 88200 B·s⁻¹


def test_mp4_mvhd_version1():
    def box(tag, b):
        return struct.pack(">I", 8 + len(b)) + tag + b

    mvhd = box(
        b"mvhd",
        b"\x01\x00\x00\x00" + bytes(16) + struct.pack(">IQ", 90000, 90000 * 3) + bytes(80),
    )
    raw = box(b"ftyp", b"isom" + bytes(8)) + box(b"moov", mvhd)
    d = parse_media_header(raw)
    assert (d["format"], d["duration_ms"]) == ("mp4", 3000)


# ---------------------------------------------------------------------------
# robustness: corrupt payloads never raise
# ---------------------------------------------------------------------------


def test_corrupt_and_unknown_payloads():
    cases = [
        None,
        b"",
        b"hello this is plain text, long enough to pass the length gate",
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 4,  # truncated before IHDR
        b"\xff\xd8\xff",  # JPEG cut mid-marker
        b"RIFF\x04\x00\x00\x00WAVE",  # WAV with no chunks
        make_png(4, 4)[:20],  # truncated mid-IHDR
    ]
    for raw in cases:
        d = parse_media_header(raw)
        assert d["width"] is None and d["duration_ms"] is None
    # WAVE with no chunks still sniffs as wav but has no duration
    assert parse_media_header(b"RIFF\x04\x00\x00\x00WAVE")["format"] in ("wav", "unknown")


def test_sniff_ignores_claimed_modality():
    # sniffing is magic-bytes only; a mislabelled payload decodes by content
    assert sniff_format(make_wav(100)) == "wav"
    assert sniff_format(make_png(1, 1)) == "png"
    assert sniff_format(b"x" * 64) is None


# ---------------------------------------------------------------------------
# synthesizer round-trips
# ---------------------------------------------------------------------------


def test_png_round_trip_and_validity():
    for w, h in [(1, 1), (16, 9), (255, 7), (300, 300)]:
        raw = make_png(w, h, fill=w)
        d = parse_media_header(raw)
        assert (d["format"], d["width"], d["height"]) == ("png", w, h)
        # IDAT is genuinely decompressible to h filtered scanlines
        idat_off = raw.index(b"IDAT") + 4
        (idat_len,) = struct.unpack(">I", raw[idat_off - 8 : idat_off - 4])
        scan = zlib.decompress(raw[idat_off : idat_off + idat_len])
        assert len(scan) == h * (w + 1)


def test_jpeg_gif_bmp_round_trips():
    for w, h in [(1, 1), (320, 240), (65535, 1)]:
        assert parse_media_header(make_jpeg(w, h))["width"] == w
        assert parse_media_header(make_gif(w, h))["height"] == h
    for w, h in [(2, 2), (100, 50)]:
        d = parse_media_header(make_bmp(w, h))
        assert (d["width"], d["height"]) == (w, h)


def test_wav_round_trip():
    for ms in [1, 250, 1000, 59_999]:
        d = parse_media_header(make_wav(ms))
        assert d["duration_ms"] == ms
        assert d["sample_rate"] == 8000 and d["channels"] == 1
    d = parse_media_header(make_wav(2000, sample_rate=44100, channels=2))
    assert d["duration_ms"] == 2000 and d["channels"] == 2


def test_mp4_round_trip():
    d = parse_media_header(make_mp4(7350, width=1920, height=1080))
    assert d["duration_ms"] == 7350
    assert (d["width"], d["height"]) == (1920, 1080)
    assert parse_media_header(make_mp4(100))["width"] is None  # zero dims → null


# ---------------------------------------------------------------------------
# property tests — any dimension round-trips
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=4096),
    h=st.integers(min_value=1, max_value=4096),
)
def test_image_dims_always_round_trip(w, h):
    assert parse_media_header(make_png(w, h))["width"] == w
    assert parse_media_header(make_jpeg(w, h))["height"] == h
    d = parse_media_header(make_bmp(w, h))
    assert (d["width"], d["height"]) == (w, h)
    if w <= 65535 and h <= 65535:  # GIF LSD is u16
        assert parse_media_header(make_gif(w, h))["width"] == w


@settings(max_examples=40, deadline=None)
@given(ms=st.integers(min_value=1, max_value=86_400_000))
def test_durations_always_round_trip(ms):
    assert parse_media_header(make_wav(ms))["duration_ms"] == ms
    assert parse_media_header(make_mp4(ms))["duration_ms"] == ms


@settings(max_examples=60, deadline=None)
@given(raw=st.binary(min_size=0, max_size=256))
def test_random_bytes_never_raise(raw):
    d = parse_media_header(raw)
    assert d["format"] is not None  # always a dict, never an exception
