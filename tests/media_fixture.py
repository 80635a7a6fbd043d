"""Header-valid JPEG, GIF and BMP synthesizers for the media codec tests.

The engine synthesizes only the formats its multimodal corpus carries
(PNG, WAV, MP4 in ``functions/media.py``); these three exist so the
parser tests can round-trip every image container it reads.
"""

from __future__ import annotations

import struct


def make_jpeg(width: int, height: int) -> bytes:
    """Header-valid JPEG: SOI + APP0/JFIF + SOF0 (grayscale) + EOI.  The
    entropy-coded scan is omitted (a real encoder needs Huffman tables);
    every field a header scanner reads is real."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof0)) + sof0
        + b"\xff\xd9"
    )


def make_gif(width: int, height: int) -> bytes:
    """GIF89a with a real logical screen descriptor, 2-entry color table,
    and a minimal single-color image block."""
    lsd = struct.pack("<HH", width, height) + bytes([0x80, 0, 0])
    gct = b"\x00\x00\x00\xff\xff\xff"
    img_desc = b"," + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    # LZW min code size 2; data sub-block: clear(4), one pixel(0), eoi(5)
    lzw = b"\x02\x02\x44\x01\x00"
    return b"GIF89a" + lsd + gct + img_desc + lzw + b";"


def make_bmp(width: int, height: int) -> bytes:
    """Fully valid 24-bit BMP (BITMAPINFOHEADER + padded pixel rows)."""
    row = (width * 3 + 3) & ~3
    pixels = bytes(row) * height
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return hdr + dib + pixels
