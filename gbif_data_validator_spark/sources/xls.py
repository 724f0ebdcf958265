"""Legacy binary ``.xls`` (BIFF8 inside a CFB/OLE2 container) parser —
pure stdlib, closing the one workbook format the reference accepts
(source/SpreadsheetConverters.java:35-72 routes ``.xls`` through POI's
``convertExcelToCSV``; fixture
validator-processor/src/test/resources/workbooks/occurrence-workbook.xls)
that rounds 1-2 still rejected.

Scope is the conversion surface, not full BIFF: the record set a data
table round-trips through — SST/LABELSST shared strings (with CONTINUE
splits), LABEL inline strings, NUMBER/RK/MULRK numerics, BOOLERR,
FORMULA cached results (+ trailing STRING), FORMAT/XF for date-style
detection, DATEMODE for the 1904 epoch, BOUNDSHEET for first-sheet
selection. Values render through the same ``_num_to_str`` /
``_serial_to_instant`` helpers as the xlsx path, so all four workbook
formats agree cell-for-cell on the same table (pinned by tests against
the reference's golden CSV).

Bomb discipline mirrors sources/spreadsheets.py: stream size capped,
FAT/miniFAT chains cycle-guarded, row gaps capped, column indexes
bounded — a corrupt or crafted file raises ValueError, which the Spark
surface converts to a per-file error row (a finding, never a crash).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

# value rendering + caps shared with the zip-based parsers so every
# workbook format emits identical cell text
from .spreadsheets import (
    _MAX_CELL_COL,
    _MAX_XML_MEMBER_BYTES,
    _XLSX_DATE_FMT_IDS,
    _XLSX_EMPTY_GAP_CAP,
    _is_date_format,
    _num_to_str,
    _serial_to_instant,
)

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
#: serial-number shift between the 1904 and 1900 date systems
_1904_OFFSET_DAYS = 1462

_u16 = struct.Struct("<H").unpack_from
_u32 = struct.Struct("<I").unpack_from
_f64 = struct.Struct("<d").unpack_from


# ---------------------------------------------------------------------------
# CFB (Compound File Binary / OLE2) container
# ---------------------------------------------------------------------------


def _chain(fat: list[int], start: int, cap: int) -> list[int]:
    """Follow a FAT chain with a cycle/length guard."""
    out, s = [], start
    while s != _ENDOFCHAIN and s != _FREESECT:
        out.append(s)
        if len(out) > cap:
            raise ValueError("cfb: sector chain too long or cyclic")
        if s >= len(fat):
            raise ValueError("cfb: sector id out of range")
        s = fat[s]
    return out


def cfb_stream(payload: bytes, names: tuple[str, ...] = ("Workbook", "Book")) -> bytes:
    """Extract the first directory stream whose name matches ``names``
    (case-insensitive) from a CFB container — regular-FAT and mini-FAT
    streams both supported."""
    if payload[:8] != _CFB_MAGIC:
        raise ValueError("cfb: bad magic")
    sec_sz = 1 << _u16(payload, 30)[0]
    mini_sz = 1 << _u16(payload, 32)[0]
    n_fat = _u32(payload, 44)[0]
    dir_start = _u32(payload, 48)[0]
    mini_cutoff = _u32(payload, 56)[0]
    minifat_start = _u32(payload, 60)[0]
    n_minifat = _u32(payload, 64)[0]
    difat_start = _u32(payload, 68)[0]
    n_difat = _u32(payload, 72)[0]

    def sector(i: int) -> bytes:
        off = 512 + i * sec_sz
        if off + sec_sz > len(payload):
            raise ValueError("cfb: sector beyond file end")
        return payload[off : off + sec_sz]

    max_sectors = (len(payload) - 512) // sec_sz + 1

    # DIFAT: 109 header entries + chained DIFAT sectors
    difat: list[int] = [
        _u32(payload, 76 + 4 * i)[0] for i in range(109)
    ]
    s = difat_start
    for _ in range(n_difat):
        if s in (_ENDOFCHAIN, _FREESECT):
            break
        blk = sector(s)
        difat.extend(_u32(blk, 4 * i)[0] for i in range((sec_sz // 4) - 1))
        s = _u32(blk, sec_sz - 4)[0]
    fat_sectors = [x for x in difat[: max(n_fat, 0)] if x != _FREESECT][:n_fat]

    fat: list[int] = []
    for fs in fat_sectors:
        blk = sector(fs)
        fat.extend(_u32(blk, 4 * i)[0] for i in range(sec_sz // 4))

    def read_chain(start: int, size: int) -> bytes:
        data = b"".join(sector(s) for s in _chain(fat, start, max_sectors))
        return data[:size]

    # directory entries (128 bytes each)
    dir_data = b"".join(sector(s) for s in _chain(fat, dir_start, max_sectors))
    entries = []
    for off in range(0, len(dir_data) - 127, 128):
        name_len = _u16(dir_data, off + 64)[0]
        if name_len < 2 or name_len > 64:
            entries.append(None)
            continue
        name = dir_data[off : off + name_len - 2].decode("utf-16-le", "replace")
        entries.append(
            {
                "name": name,
                "type": dir_data[off + 66],
                "start": _u32(dir_data, off + 116)[0],
                "size": _u32(dir_data, off + 120)[0],
            }
        )
    root = next((e for e in entries if e and e["type"] == 5), None)
    target = next(
        (
            e
            for e in entries
            if e and e["type"] == 2 and e["name"].lower() in tuple(n.lower() for n in names)
        ),
        None,
    )
    if target is None:
        raise ValueError(f"cfb: no stream named {names}")
    if target["size"] > _MAX_XML_MEMBER_BYTES:
        raise ValueError(f"cfb: stream too large ({target['size']} bytes)")

    if target["size"] >= mini_cutoff:
        return read_chain(target["start"], target["size"])

    # mini-stream path: the root entry's chain holds the mini sectors
    if root is None:
        raise ValueError("cfb: mini stream without root entry")
    mini_data = read_chain(root["start"], root["size"])
    minifat: list[int] = []
    for ms in _chain(fat, minifat_start, max(n_minifat, max_sectors)):
        blk = sector(ms)
        minifat.extend(_u32(blk, 4 * i)[0] for i in range(sec_sz // 4))
    out = bytearray()
    for ms in _chain(minifat, target["start"], len(minifat) + 1):
        out += mini_data[ms * mini_sz : (ms + 1) * mini_sz]
    return bytes(out[: target["size"]])


# ---------------------------------------------------------------------------
# BIFF8 record stream
# ---------------------------------------------------------------------------


class _Segments:
    """Reader over a record's data plus its CONTINUE segments — shared
    strings routinely span records, and char runs crossing a boundary
    restart with a fresh compression flag byte."""

    def __init__(self, segs: list[bytes]) -> None:
        self.segs = segs
        self.i = 0
        self.pos = 0

    def _avail(self) -> int:
        return len(self.segs[self.i]) - self.pos

    def _bump(self) -> None:
        while self.i < len(self.segs) and self._avail() == 0:
            self.i += 1
            self.pos = 0
            if self.i >= len(self.segs):
                raise ValueError("biff: truncated string data")

    def eof(self) -> bool:
        return self.i >= len(self.segs) or (
            self.i == len(self.segs) - 1 and self._avail() == 0
        )

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n:
            self._bump()
            take = min(n, self._avail())
            out += self.segs[self.i][self.pos : self.pos + take]
            self.pos += take
            n -= take
        return bytes(out)

    def read_chars(self, cch: int, high: bool) -> str:
        parts: list[str] = []
        while cch:
            if self._avail() == 0:
                self._bump()  # may raise on truncation
                # a continued char run begins with a new grbit byte
                high = bool(self.read(1)[0] & 1)
            avail = self._avail()
            n = min(cch, avail // 2 if high else avail)
            if n == 0:
                raise ValueError("biff: unaligned continue boundary")
            raw = self.read(2 * n if high else n)
            parts.append(raw.decode("utf-16-le" if high else "latin-1"))
            cch -= n
        return "".join(parts)


def _read_unicode_string(r: _Segments) -> str:
    """XLUnicodeRichExtendedString (used by SST entries)."""
    cch = _u16(r.read(2), 0)[0]
    flags = r.read(1)[0]
    crun = _u16(r.read(2), 0)[0] if flags & 0x08 else 0
    cbext = _u32(r.read(4), 0)[0] if flags & 0x04 else 0
    s = r.read_chars(cch, bool(flags & 0x01))
    r.read(4 * crun + cbext)  # formatting runs + ext block: skipped
    return s


def _records(stream: bytes, start: int = 0) -> Iterator[tuple[int, bytes]]:
    pos = start
    n = len(stream)
    while pos + 4 <= n:
        opcode = _u16(stream, pos)[0]
        ln = _u16(stream, pos + 2)[0]
        data = stream[pos + 4 : pos + 4 + ln]
        yield opcode, data
        pos += 4 + ln
        if opcode == 0x000A:  # EOF closes the substream
            return


def _rk_value(rk: int) -> float:
    val: float
    if rk & 0x02:  # 30-bit signed integer
        v = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
        val = float(v)
    else:  # top 30 bits of an IEEE double
        val = struct.unpack("<d", b"\x00\x00\x00\x00" + struct.pack("<I", rk & 0xFFFFFFFC))[0]
    return val / 100.0 if rk & 0x01 else val


def parse_xls_rows(payload: bytes) -> Iterator[list[str]]:
    """Yield every raw row of the FIRST sheet as a list of cell strings —
    the exact contract of ``parse_xlsx_rows`` (gaps filled with ``""``,
    row gaps capped, date-styled numerics as ISO instants)."""
    stream = cfb_stream(bytes(payload))

    # -- workbook globals: SST, XF→fmt map, custom formats, sheet offsets
    sst: list[str] = []
    xf_fmts: list[int] = []
    custom_date_ids: set[int] = set()
    sheet_offsets: list[int] = []
    date_1904 = False

    pending_sst: list[bytes] | None = None
    n_unique = 0

    def flush_sst() -> None:
        nonlocal pending_sst
        if pending_sst is None:
            return
        r = _Segments(pending_sst)
        r.read(8)  # cstTotal + cstUnique (already captured)
        for _ in range(n_unique):
            sst.append(_read_unicode_string(r))
        pending_sst = None

    for opcode, data in _records(stream):
        if opcode == 0x00FC:  # SST
            n_unique = _u32(data, 4)[0]
            if n_unique > 10_000_000:
                raise ValueError("biff: implausible SST size")
            pending_sst = [data]
            continue
        if opcode == 0x003C and pending_sst is not None:  # CONTINUE
            pending_sst.append(data)
            continue
        flush_sst()
        if opcode == 0x0085:  # BOUNDSHEET
            sheet_offsets.append(_u32(data, 0)[0])
        elif opcode == 0x041E:  # FORMAT
            ifmt = _u16(data, 0)[0]
            code = _Segments([data[2:]])
            cch = _u16(code.read(2), 0)[0]
            high = bool(code.read(1)[0] & 1)
            if _is_date_format(code.read_chars(cch, high)):
                custom_date_ids.add(ifmt)
        elif opcode == 0x00E0:  # XF
            xf_fmts.append(_u16(data, 2)[0])
        elif opcode == 0x0022:  # DATEMODE
            date_1904 = bool(_u16(data, 0)[0])
    flush_sst()

    if not sheet_offsets:
        raise ValueError("biff: no BOUNDSHEET records")

    def is_date_xf(ixfe: int) -> bool:
        if ixfe >= len(xf_fmts):
            return False
        ifmt = xf_fmts[ixfe]
        return ifmt in _XLSX_DATE_FMT_IDS or ifmt in custom_date_ids

    def render_num(num: float, ixfe: int) -> str:
        if is_date_xf(ixfe):
            serial = num + _1904_OFFSET_DAYS if date_1904 else num
            return _serial_to_instant(serial)
        return _num_to_str(repr(num))

    # -- first worksheet substream
    cells: dict[int, dict[int, str]] = {}

    def put(row: int, col: int, val: str) -> None:
        if col >= _MAX_CELL_COL:
            raise ValueError(f"biff: cell column out of range: {col}")
        cells.setdefault(row, {})[col] = val

    pending_formula: tuple[int, int] | None = None
    for opcode, data in _records(stream, sheet_offsets[0]):
        if opcode == 0x0207 and pending_formula is not None:  # STRING
            r = _Segments([data])
            cch = _u16(r.read(2), 0)[0]
            high = bool(r.read(1)[0] & 1)
            put(*pending_formula, r.read_chars(cch, high))
            pending_formula = None
            continue
        pending_formula = None
        if opcode == 0x00FD:  # LABELSST
            row, col = _u16(data, 0)[0], _u16(data, 2)[0]
            isst = _u32(data, 6)[0]
            put(row, col, sst[isst] if isst < len(sst) else "")
        elif opcode == 0x0203:  # NUMBER
            row, col, ixfe = _u16(data, 0)[0], _u16(data, 2)[0], _u16(data, 4)[0]
            put(row, col, render_num(_f64(data, 6)[0], ixfe))
        elif opcode == 0x027E:  # RK
            row, col, ixfe = _u16(data, 0)[0], _u16(data, 2)[0], _u16(data, 4)[0]
            put(row, col, render_num(_rk_value(_u32(data, 6)[0]), ixfe))
        elif opcode == 0x00BD:  # MULRK
            row, col0 = _u16(data, 0)[0], _u16(data, 2)[0]
            n = (len(data) - 6) // 6
            for j in range(n):
                ixfe = _u16(data, 4 + 6 * j)[0]
                rk = _u32(data, 6 + 6 * j)[0]
                put(row, col0 + j, render_num(_rk_value(rk), ixfe))
        elif opcode == 0x0205:  # BOOLERR
            row, col = _u16(data, 0)[0], _u16(data, 2)[0]
            if data[7] == 0:  # boolean (1 = error code: leave blank)
                put(row, col, "TRUE" if data[6] else "FALSE")
        elif opcode == 0x0204:  # LABEL (inline string)
            row, col = _u16(data, 0)[0], _u16(data, 2)[0]
            r = _Segments([data[6:]])
            cch = _u16(r.read(2), 0)[0]
            high = bool(r.read(1)[0] & 1)
            put(row, col, r.read_chars(cch, high))
        elif opcode == 0x0006:  # FORMULA (cached result)
            row, col, ixfe = _u16(data, 0)[0], _u16(data, 2)[0], _u16(data, 4)[0]
            if data[12:14] == b"\xff\xff":
                kind = data[6]
                if kind == 0:  # string: value arrives in the next STRING
                    pending_formula = (row, col)
                elif kind == 1:
                    put(row, col, "TRUE" if data[8] else "FALSE")
                elif kind == 3:
                    put(row, col, "")
                # kind 2 (error): leave blank like BOOLERR errors
            else:
                put(row, col, render_num(_f64(data, 6)[0], ixfe))

    if not cells:
        return
    prev = -1
    for r in sorted(cells):
        for _ in range(min(r - prev - 1, _XLSX_EMPTY_GAP_CAP)):
            yield []
        prev = r
        row_cells = cells[r]
        width = max(row_cells) + 1
        yield [row_cells.get(c, "") for c in range(width)]
