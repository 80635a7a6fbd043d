"""Minimal stdlib BIFF8 (.xls) grid reader.

Legacy ASPEP workbooks (2000-2019) are BIFF8 inside an OLE2/CFB compound
file; this reader, the engine's one ``.xls`` source, implements just enough
of both formats from the standard library: CFB FAT chains → the Workbook
stream, then the BIFF record types the ASPEP sheets actually use
(SST/CONTINUE with split unicode strings, LABELSST, LABEL, NUMBER,
RK/MULRK, FORMULA cached numbers, BOUNDSHEET for sheet selection).

Not a general xls library — exactly the subset needed to reproduce the
reference pipeline's inputs (SURVEY.md §7.3).
"""

from __future__ import annotations

import io
import struct

SECTOR_FREE = 0xFFFFFFFF
SECTOR_END = 0xFFFFFFFE


def _cfb_stream(raw: bytes, stream_names=("Workbook", "Book")) -> bytes:
    """Extract a stream from an OLE2 compound file via the FAT chain."""
    if raw[:8] != b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        raise ValueError("not an OLE2 compound file")
    sector_size = 1 << struct.unpack_from("<H", raw, 30)[0]
    num_fat_sectors = struct.unpack_from("<I", raw, 44)[0]
    first_dir = struct.unpack_from("<I", raw, 48)[0]
    first_difat = struct.unpack_from("<I", raw, 68)[0]
    num_difat = struct.unpack_from("<I", raw, 72)[0]

    def sector(n: int) -> bytes:
        off = 512 + n * sector_size
        return raw[off : off + sector_size]

    # DIFAT: 109 entries in the header, then chained DIFAT sectors.
    difat = list(struct.unpack_from("<109I", raw, 76))
    nxt = first_difat
    for _ in range(num_difat):
        data = sector(nxt)
        entries = struct.unpack(f"<{sector_size // 4}I", data)
        difat.extend(entries[:-1])
        nxt = entries[-1]
    fat_sectors = [s for s in difat[:num_fat_sectors] if s not in (SECTOR_FREE, SECTOR_END)]

    fat: list[int] = []
    for s in fat_sectors:
        fat.extend(struct.unpack(f"<{sector_size // 4}I", sector(s)))

    def chain(start: int) -> bytes:
        out = []
        s = start
        while s not in (SECTOR_END, SECTOR_FREE):
            out.append(sector(s))
            s = fat[s]
        return b"".join(out)

    directory = chain(first_dir)
    for off in range(0, len(directory), 128):
        entry = directory[off : off + 128]
        if len(entry) < 128:
            break
        name_len = struct.unpack_from("<H", entry, 64)[0]
        name = entry[: max(0, name_len - 2)].decode("utf-16-le", errors="ignore")
        if name in stream_names:
            start = struct.unpack_from("<I", entry, 116)[0]
            size = struct.unpack_from("<I", entry, 120)[0]
            return chain(start)[:size]
    raise ValueError("Workbook stream not found")


def _records(stream: bytes):
    pos = 0
    n = len(stream)
    while pos + 4 <= n:
        rid, ln = struct.unpack_from("<HH", stream, pos)
        yield rid, pos + 4, ln
        pos += 4 + ln


class _SSTReader:
    """BIFF8 shared string table with CONTINUE-split unicode strings.

    Each string: u16 cch, u8 grbit(fHighByte|fExtSt|fRichSt), opt u16 cRun,
    opt u32 cbExtRst, chars (1 or 2 B each), then rich runs / ext skipped.
    At a CONTINUE boundary mid-string a fresh grbit byte restates the
    character width for the remainder.
    """

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.ci = 0
        self.pos = 0

    def _remaining(self) -> int:
        return len(self.chunks[self.ci]) - self.pos

    def _advance_chunk(self) -> None:
        self.ci += 1
        self.pos = 0

    def read(self, n: int) -> bytes:
        out = b""
        while n > 0:
            if self._remaining() == 0:
                self._advance_chunk()
                continue
            take = min(n, self._remaining())
            out += self.chunks[self.ci][self.pos : self.pos + take]
            self.pos += take
            n -= take
        return out

    def read_string(self) -> str:
        cch = struct.unpack("<H", self.read(2))[0]
        grbit = self.read(1)[0]
        c_run = struct.unpack("<H", self.read(2))[0] if grbit & 0x08 else 0
        cb_ext = struct.unpack("<I", self.read(4))[0] if grbit & 0x04 else 0
        wide = grbit & 0x01
        chars: list[str] = []
        need = cch
        while need > 0:
            if self._remaining() == 0:
                # mid-string CONTINUE: new width byte for the remainder
                self._advance_chunk()
                wide = self.read(1)[0] & 0x01
                continue
            avail = self._remaining() // (2 if wide else 1)
            take = min(need, avail)
            data = self.read(take * (2 if wide else 1))
            chars.append(data.decode("utf-16-le" if wide else "latin-1"))
            need -= take
        self.read(4 * c_run + cb_ext)  # skip formatting runs / ext data
        return "".join(chars)


def _decode_rk(rk: int) -> float:
    div100 = rk & 0x01
    is_int = rk & 0x02
    if is_int:
        # signed 30-bit integer in the top bits
        val = float(struct.unpack("<i", struct.pack("<I", rk & 0xFFFFFFFF))[0] >> 2)
    else:
        # top 30 bits are the high bits of an IEEE double
        val = struct.unpack("<d", b"\x00\x00\x00\x00" + struct.pack("<I", rk & 0xFFFFFFFC))[0]
    return val / 100.0 if div100 else val


def read_xls_grid(raw: bytes, sheet_name: str | None = None) -> list[list]:
    """Parse .xls bytes into a dense positional grid (first sheet by
    default; strings → str, numbers → float, empty → None)."""
    stream = _cfb_stream(raw)

    # Pass 1 (workbook globals): SST + BOUNDSHEET offsets.
    sst: list[str] = []
    sheets: list[tuple[int, str]] = []
    sst_chunks: list[bytes] | None = None
    sst_count = 0
    for rid, off, ln in _records(stream):
        payload = stream[off : off + ln]
        if rid == 0xFC:  # SST
            sst_chunks = [payload[8:]]
            sst_count = struct.unpack_from("<I", payload, 4)[0]
        elif rid == 0x3C and sst_chunks is not None:  # CONTINUE
            sst_chunks.append(payload)
        elif rid == 0x85:  # BOUNDSHEET
            pos_bof = struct.unpack_from("<I", payload, 0)[0]
            cch = payload[6]
            grbit = payload[7]
            if grbit & 0x01:
                name = payload[8 : 8 + cch * 2].decode("utf-16-le", errors="ignore")
            else:
                name = payload[8 : 8 + cch].decode("latin-1")
            sheets.append((pos_bof, name))
        elif rid == 0x0A and sst_chunks is not None:
            break
    if sst_chunks is not None:
        reader = _SSTReader(sst_chunks)
        for _ in range(sst_count):
            sst.append(reader.read_string())

    if not sheets:
        raise ValueError("no sheets")
    start = sheets[0][0]
    if sheet_name is not None:
        for pos_bof, name in sheets:
            if name == sheet_name:
                start = pos_bof
                break

    cells: dict[tuple[int, int], object] = {}
    max_r = max_c = 0

    def put(r: int, c: int, v: object) -> None:
        nonlocal max_r, max_c
        cells[(r, c)] = v
        max_r = max(max_r, r)
        max_c = max(max_c, c)

    depth = 0
    for rid, off, ln in _records(stream[start:]):
        payload = stream[start + off : start + off + ln]
        if rid == 0x809:  # BOF
            depth += 1
        elif rid == 0x0A:  # EOF
            depth -= 1
            if depth <= 0:
                break
        elif rid == 0xFD:  # LABELSST
            r, c, _xf, isst = struct.unpack_from("<HHHI", payload, 0)
            put(r, c, sst[isst] if isst < len(sst) else None)
        elif rid == 0x203:  # NUMBER
            r, c, _xf = struct.unpack_from("<HHH", payload, 0)
            put(r, c, struct.unpack_from("<d", payload, 6)[0])
        elif rid == 0x27E:  # RK
            r, c, _xf, rk = struct.unpack_from("<HHHI", payload, 0)
            put(r, c, _decode_rk(rk))
        elif rid == 0xBD:  # MULRK
            r, c_first = struct.unpack_from("<HH", payload, 0)
            c_last = struct.unpack_from("<H", payload, ln - 2)[0]
            for i in range(c_last - c_first + 1):
                rk = struct.unpack_from("<I", payload, 4 + i * 6 + 2)[0]
                put(r, c_first + i, _decode_rk(rk))
        elif rid == 0x204:  # LABEL (inline BIFF8 string)
            r, c, _xf = struct.unpack_from("<HHH", payload, 0)
            cch = struct.unpack_from("<H", payload, 6)[0]
            grbit = payload[8]
            data = payload[9:]
            if grbit & 0x01:
                put(r, c, data[: cch * 2].decode("utf-16-le", errors="ignore"))
            else:
                put(r, c, data[:cch].decode("latin-1"))
        elif rid == 0x06:  # FORMULA with cached numeric result
            r, c, _xf = struct.unpack_from("<HHH", payload, 0)
            result = payload[6:14]
            if result[6:8] != b"\xff\xff":
                put(r, c, struct.unpack("<d", result)[0])

    grid: list[list] = []
    for r in range(max_r + 1):
        grid.append([cells.get((r, c)) for c in range(max_c + 1)])
    return grid
