"""[EXT] Stdlib media header codecs (SURVEY.md §2.11 multimodal).

Pure-Python (``struct``/``zlib`` only — PIL/ffmpeg are not in the container)
parsers for the headers of the common media containers, plus synthesizers
that emit structurally valid tiny files so the Spark-side multimodal
plumbing (``operators/multimodal.py``) decodes *real bytes* end-to-end.

Parsers read the real on-disk format structure:

- PNG   — 8-byte signature, IHDR width/height (big-endian u32).
- JPEG  — SOI then segment walk to the first SOF{0..15}\\{4,8,12} frame
          header (height/width big-endian u16, skipping fill bytes and
          zero-payload markers).
- GIF   — GIF87a/GIF89a logical screen descriptor (little-endian u16).
- BMP   — BITMAPINFOHEADER width/height (little-endian i32).
- WAV   — RIFF/WAVE chunk walk; ``fmt `` gives sample_rate/channels/
          byte_rate, ``data`` size / byte_rate gives duration.
- MP4   — ISO BMFF box walk; ``moov/mvhd`` duration÷timescale,
          ``moov/trak/tkhd`` 16.16-fixed width/height.

Decode failures never raise out of ``parse_media_header`` — at 100 TB a
single corrupt payload must not kill the job; callers get
``format="unknown"`` with null fields and can quarantine downstream.

No reference counterpart (the reference pipeline is tabular-only); this
module is part of the [EXT] training-data-pipeline mandate.
"""

from __future__ import annotations

import struct
import zlib

_NULL_FEATURES = {
    "format": "unknown",
    "width": None,
    "height": None,
    "duration_ms": None,
    "sample_rate": None,
    "channels": None,
}

#: formats whose payloads are still images (no time axis)
IMAGE_FORMATS = frozenset({"png", "jpeg", "gif", "bmp"})
AUDIO_FORMATS = frozenset({"wav"})
VIDEO_FORMATS = frozenset({"mp4"})


# ---------------------------------------------------------------------------
# parsers
# ---------------------------------------------------------------------------


def _parse_png(b: bytes) -> dict:
    # signature (8) + IHDR length (4) + b"IHDR" (4) + width/height u32be
    if b[12:16] != b"IHDR":
        raise ValueError("PNG missing IHDR")
    width, height = struct.unpack(">II", b[16:24])
    return {"format": "png", "width": width, "height": height}


_JPEG_NO_PAYLOAD = frozenset({0x01, 0xD8} | set(range(0xD0, 0xD8)))
_JPEG_NOT_SOF = frozenset({0xC4, 0xC8, 0xCC})  # DHT / JPG / DAC


def _parse_jpeg(b: bytes) -> dict:
    i = 2  # past SOI
    n = len(b)
    while i + 2 <= n:
        if b[i] != 0xFF:
            raise ValueError(f"JPEG segment desync at {i}")
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in _JPEG_NO_PAYLOAD:
            i += 2
            continue
        if marker == 0xD9:  # EOI
            break
        if i + 4 > n:
            break
        (seglen,) = struct.unpack(">H", b[i + 2 : i + 4])
        if 0xC0 <= marker <= 0xCF and marker not in _JPEG_NOT_SOF:
            height, width = struct.unpack(">HH", b[i + 5 : i + 9])
            return {"format": "jpeg", "width": width, "height": height}
        if marker == 0xDA:  # SOS — entropy data follows; SOF must precede it
            break
        i += 2 + seglen
    raise ValueError("JPEG has no SOF frame header")


def _parse_gif(b: bytes) -> dict:
    width, height = struct.unpack("<HH", b[6:10])
    return {"format": "gif", "width": width, "height": height}


def _parse_bmp(b: bytes) -> dict:
    (dib_size,) = struct.unpack("<I", b[14:18])
    if dib_size < 40:  # BITMAPCOREHEADER uses u16 fields
        width, height = struct.unpack("<HH", b[18:22])
    else:
        width, height = struct.unpack("<ii", b[18:26])
    return {"format": "bmp", "width": abs(width), "height": abs(height)}


def _parse_wav(b: bytes) -> dict:
    out: dict = {"format": "wav"}
    byte_rate = data_size = None
    i, n = 12, len(b)  # past RIFF size WAVE
    while i + 8 <= n:
        tag = b[i : i + 4]
        (size,) = struct.unpack("<I", b[i + 4 : i + 8])
        if tag == b"fmt ":
            channels, sample_rate, byte_rate = struct.unpack(
                "<HII", b[i + 10 : i + 20]
            )
            out["channels"] = channels
            out["sample_rate"] = sample_rate
        elif tag == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are padded to even offsets
    if byte_rate and data_size is not None:
        out["duration_ms"] = round(data_size * 1000 / byte_rate)
    return out


def _parse_mp4(b: bytes) -> dict:
    out: dict = {"format": "mp4"}

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        i = lo
        while i + 8 <= hi and depth < 8:
            (size,) = struct.unpack(">I", b[i : i + 4])
            tag = b[i + 4 : i + 8]
            if size < 8:  # size 0/1 (to-eof / 64-bit) unsupported here
                return
            body = i + 8
            if tag in (b"moov", b"trak"):
                walk(body, min(i + size, hi), depth + 1)
            elif tag == b"mvhd":
                version = b[body]
                if version == 0:
                    timescale, duration = struct.unpack(
                        ">II", b[body + 12 : body + 20]
                    )
                else:
                    timescale, duration = struct.unpack(
                        ">IQ", b[body + 20 : body + 32]
                    )
                if timescale:
                    out["duration_ms"] = round(duration * 1000 / timescale)
            elif tag == b"tkhd" and "width" not in out:
                version = b[body]
                # width/height are the trailing 16.16-fixed u32 pair
                end = i + size
                w_fix, h_fix = struct.unpack(">II", b[end - 8 : end])
                if w_fix and h_fix:
                    out["width"] = w_fix >> 16
                    out["height"] = h_fix >> 16
            i += size

    walk(0, len(b))
    return out


def sniff_format(b: bytes) -> str | None:
    """Identify the container from magic bytes alone (never trusts a
    caller-supplied modality label — mislabelled payloads are routine in a
    crawled corpus)."""
    if len(b) < 12:
        return None
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if b[:2] == b"\xff\xd8":
        return "jpeg"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if b[:2] == b"BM":
        return "bmp"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[4:8] == b"ftyp":
        return "mp4"
    return None


_PARSERS = {
    "png": _parse_png,
    "jpeg": _parse_jpeg,
    "gif": _parse_gif,
    "bmp": _parse_bmp,
    "wav": _parse_wav,
    "mp4": _parse_mp4,
}


def parse_media_header(payload: bytes | None) -> dict:
    """Decode header metadata from real media bytes.

    Returns ``{format, width, height, duration_ms, sample_rate, channels}``
    with nulls for fields the format lacks; ``format="unknown"`` (all-null
    fields) for unrecognized or corrupt payloads instead of raising.
    """
    out = dict(_NULL_FEATURES)
    if not payload:
        return out
    fmt = sniff_format(bytes(payload))
    if fmt is None:
        return out
    try:
        out.update(_PARSERS[fmt](bytes(payload)))
    except (ValueError, struct.error, IndexError):
        return dict(_NULL_FEATURES)
    return out


# ---------------------------------------------------------------------------
# synthesizers — structurally valid tiny files for fixtures/testdata
# ---------------------------------------------------------------------------


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data))
    )


def make_png(width: int, height: int, fill: int = 0) -> bytes:
    """Fully valid 8-bit grayscale PNG (zlib-compressed scanlines, real
    CRCs) — decodable by any PNG reader, not just ours."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes([(fill + y) % 256]) * width for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def make_wav(duration_ms: int, sample_rate: int = 8000, channels: int = 1) -> bytes:
    """Fully valid 8-bit PCM WAV of the requested duration."""
    byte_rate = sample_rate * channels  # 1 byte/sample
    data_size = round(byte_rate * duration_ms / 1000)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", data_size) + bytes(data_size)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_mp4(duration_ms: int, width: int = 0, height: int = 0) -> bytes:
    """Minimal ISO BMFF: ftyp + moov{mvhd, trak{tkhd}} with real box sizes,
    version-0 mvhd timescale/duration, and 16.16-fixed tkhd dimensions."""

    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + tag + body

    timescale = 1000
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version/flags
        + struct.pack(">II", 0, 0)  # ctime/mtime
        + struct.pack(">II", timescale, duration_ms)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + b"\x01\x00\x00\x00"  # volume + reserved
        + bytes(8)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24)
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07"
        + struct.pack(">IIII", 0, 0, 1, 0)  # ctime/mtime/track/reserved
        + struct.pack(">I", duration_ms)
        + bytes(8)
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer/altgroup/volume/reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    return ftyp + moov


def decode_png_gray(b: bytes) -> list | None:
    """Full stdlib decode of an 8-bit GRAYSCALE, non-interlaced PNG to a
    list of scanline byte rows: IDAT concatenation, zlib inflate, and
    per-scanline defiltering (all five standard filter types, bpp=1).
    Returns None for anything that isn't this profile (color, 16-bit,
    interlaced, palette) — the documented stub boundary: real corpora
    carry RGB/interlaced files and would swap in PIL here; every shape
    around the decode (Arrow batching, schema, hashing) is unchanged.
    """
    if len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n" or b[12:16] != b"IHDR":
        return None
    import struct as _s
    import zlib as _z

    w, h = _s.unpack(">II", b[16:24])
    bitdepth, color, _comp, _filt, interlace = b[24:29]
    if bitdepth != 8 or color != 0 or interlace != 0 or w == 0 or h == 0:
        return None
    pos, idat = 8, bytearray()
    while pos + 8 <= len(b):
        (ln,) = _s.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IEND":
            break
    try:
        raw = _z.decompress(bytes(idat))
    except _z.error:
        return None
    if len(raw) != h * (w + 1):
        return None
    rows: list = []
    prev = bytes(w)
    for y in range(h):
        line = raw[y * (w + 1) : (y + 1) * (w + 1)]
        ftype, data = line[0], bytearray(line[1:])
        if ftype == 1:  # Sub
            for x in range(1, w):
                data[x] = (data[x] + data[x - 1]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(w):
                data[x] = (data[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(w):
                left = data[x - 1] if x else 0
                data[x] = (data[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(w):
                a = data[x - 1] if x else 0
                bb, c = prev[x], (prev[x - 1] if x else 0)
                p = a + bb - c
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                data[x] = (data[x] + pr) & 0xFF
        elif ftype != 0:
            return None
        rows.append(bytes(data))
        prev = rows[-1]
    return rows


def ahash64(rows: list) -> tuple:
    """64-bit average hash (aHash) of a grayscale pixel grid: 8×8 block
    sums, each block's bit set iff its mean exceeds the global mean —
    the comparison is the exact integer cross-product
    ``sum_b · n_total > total · n_b`` (no float mean).  Bit (r, c) is
    MSB-first at index r·8+c; returned as two non-negative 32-bit
    halves (hi = bits 0..31) so downstream engines never touch the
    sign bit of a 64-bit value."""
    h, w = len(rows), len(rows[0])
    total = sum(sum(r) for r in rows)
    n_total = w * h
    bits = []
    for r in range(8):
        y0, y1 = r * h // 8, (r + 1) * h // 8
        for c in range(8):
            x0, x1 = c * w // 8, (c + 1) * w // 8
            n_b = (y1 - y0) * (x1 - x0)
            if n_b <= 0:
                bits.append(0)
                continue
            s_b = sum(sum(rows[y][x0:x1]) for y in range(y0, y1))
            bits.append(1 if s_b * n_total > total * n_b else 0)
    hi = sum(bit << (31 - i) for i, bit in enumerate(bits[:32]))
    lo = sum(bit << (31 - i) for i, bit in enumerate(bits[32:]))
    return hi, lo
