"""Minimal pure-Python BIFF8 (.xls) cell reader — closes SURVEY §2.1 S4.

The reference ingests its drug catalog with ``pd.read_excel``
(reference dimension.py:62-64), which needs xlrd/openpyxl; neither
ships in this environment, so this module implements just enough of the
two public, long-documented formats involved to read a data sheet:

- the OLE2/CFB compound container (MS-CFB): header → DIFAT → FAT →
  directory → the ``Workbook`` stream;
- the BIFF8 record stream (MS-XLS): BOUNDSHEET for sheet offsets, the
  shared-string table (SST + CONTINUE, with the re-stated option-flags
  byte when character data splits across fragments), and the cell
  records LABELSST / NUMBER / RK / MULRK.

Deliberately NOT a general Excel reader: no formulas, no dates-as-
numbers handling, no mini-FAT streams (data sheets above the 4 KB
cutoff always live in the regular FAT), no write support. Spreadsheets
are a driver-side edge format (nothing about them is splittable); the
returned rows go straight to ``catalog.local_frame`` with an
explicit schema, after which everything is distributed.
"""

from __future__ import annotations

import struct

_OLE_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FAT_END = {0xFFFFFFFE, 0xFFFFFFFF}

# BIFF8 record ids
_SST, _CONTINUE, _BOUNDSHEET, _EOF = 0x00FC, 0x003C, 0x0085, 0x000A
_LABELSST, _NUMBER, _RK, _MULRK = 0x00FD, 0x0203, 0x027E, 0x00BD


def _workbook_stream(data: bytes) -> bytes:
    """Extract the ``Workbook`` stream from the OLE2 container."""
    if data[:8] != _OLE_MAGIC:
        raise ValueError("not an OLE2 (.xls) file")
    shift = struct.unpack("<H", data[30:32])[0]
    if not 6 <= shift <= 16:
        # spec values are 9 (512) or 12 (4096); anything wild is a
        # malformed header, and 1 << 65535 must never be attempted
        raise ValueError(f"implausible OLE2 sector shift {shift}")
    sector_size = 1 << shift
    n_fat = struct.unpack("<I", data[44:48])[0]
    dir_start = struct.unpack("<I", data[48:52])[0]

    def sector(n: int) -> bytes:
        off = 512 + n * sector_size
        return data[off : off + sector_size]

    # DIFAT header slots cover up to 109 FAT sectors (≈ 7 MB file) —
    # far beyond any drug catalog; chained DIFAT sectors unsupported.
    difat = struct.unpack("<109I", data[76:512])[:n_fat]
    fat: list[int] = []
    per = sector_size // 4
    for s in difat:
        sec = sector(s)
        if len(sec) < sector_size:
            raise ValueError("FAT sector beyond end of file")
        fat.extend(struct.unpack(f"<{per}I", sec))

    def chain(start: int) -> bytes:
        out, cur, seen = [], start, set()
        while cur not in _FAT_END and cur < len(fat):
            if cur in seen:
                raise ValueError("cyclic FAT chain")
            seen.add(cur)
            out.append(sector(cur))
            cur = fat[cur]
        return b"".join(out)

    directory = chain(dir_start)
    for i in range(len(directory) // 128):
        e = directory[i * 128 : (i + 1) * 128]
        nlen = struct.unpack("<H", e[64:66])[0]
        name = e[: max(0, nlen - 2)].decode("utf-16-le", "ignore")
        if name in ("Workbook", "Book"):
            start = struct.unpack("<I", e[116:120])[0]
            size = struct.unpack("<I", e[120:124])[0]
            if size < struct.unpack("<I", data[56:60])[0]:
                raise ValueError("workbook in mini-FAT (unsupported)")
            return chain(start)[:size]
    raise ValueError("no Workbook stream found")


def _records(wb: bytes) -> list[tuple[int, int, bytes]]:
    out, pos = [], 0
    while pos + 4 <= len(wb):
        rid, ln = struct.unpack("<HH", wb[pos : pos + 4])
        out.append((rid, pos, wb[pos + 4 : pos + 4 + ln]))
        pos += 4 + ln
    return out


def _parse_sst(recs: list[tuple[int, int, bytes]]) -> list[str]:
    """Shared-string table. The SST record plus its CONTINUE records
    form one logical stream; a string's CHARACTER data restates the
    option-flags byte when it resumes in a new fragment (the header
    fields never do) — the one genuinely tricky rule of BIFF8."""
    frags: list[bytes] = []
    for i, (rid, _, body) in enumerate(recs):
        if rid == _SST:
            frags = [body]
            j = i + 1
            while j < len(recs) and recs[j][0] == _CONTINUE:
                frags.append(recs[j][2])
                j += 1
            break
    if not frags:
        return []
    unique = struct.unpack("<I", frags[0][4:8])[0]
    strings: list[str] = []
    fi, fp = 0, 8

    def span_read(n: int) -> bytes:
        nonlocal fi, fp
        out = b""
        while n:
            if fp >= len(frags[fi]):
                fi, fp = fi + 1, 0
            take = min(n, len(frags[fi]) - fp)
            out += frags[fi][fp : fp + take]
            fp += take
            n -= take
        return out

    while len(strings) < unique:
        cch = struct.unpack("<H", span_read(2))[0]
        flags = span_read(1)[0]
        rich = struct.unpack("<H", span_read(2))[0] if flags & 0x08 else 0
        ext = struct.unpack("<I", span_read(4))[0] if flags & 0x04 else 0
        wide = flags & 0x01
        parts: list[str] = []
        remaining = cch
        while remaining:
            if fp >= len(frags[fi]):
                fi, fp = fi + 1, 1  # fresh flags byte for the remainder
                wide = frags[fi][0] & 0x01
            width = 2 if wide else 1
            take = min(remaining, (len(frags[fi]) - fp) // width)
            if take == 0:
                # a fragment whose remainder can't hold one whole
                # character (dangling odd byte in wide mode) is
                # malformed — valid BIFF8 restarts char data on a char
                # boundary; raising beats looping forever here
                raise ValueError(
                    "malformed SST: fragment breaks a character"
                )
            raw = frags[fi][fp : fp + take * width]
            parts.append(raw.decode("utf-16-le" if wide else "latin-1"))
            fp += take * width
            remaining -= take
        span_read(rich * 4 + ext)  # skip formatting runs / ext text
        strings.append("".join(parts))
    return strings


def _decode_rk(rk: int) -> float:
    """RK = 30-bit number + 2 mode bits (bit1: int vs float-high-bits,
    bit0: value was premultiplied by 100)."""
    if rk & 2:
        v = float(struct.unpack("<i", struct.pack("<I", rk))[0] >> 2)
    else:
        v = struct.unpack(
            "<d", b"\x00\x00\x00\x00" + struct.pack("<I", rk & 0xFFFFFFFC)
        )[0]
    return v / 100.0 if rk & 1 else v


def read_xls_rows(path: str) -> tuple[list[str], list[list[object]]]:
    """Read the first sheet of a BIFF8 .xls → (header, data rows).

    Row 0 is the header (string cells); remaining rows come back as
    dense lists padded with None — the shape ``local_frame`` with an
    explicit schema expects.

    Error contract: malformed/truncated/corrupt input raises
    ``ValueError`` (low-level struct/index/decode errors are wrapped —
    a fuzz test pins that nothing else escapes); a workbook without a
    sheet raises ``IndexError``.
    """
    with open(path, "rb") as f:
        data = f.read()
    try:
        wb = _workbook_stream(data)
        recs = _records(wb)
        strings = _parse_sst(recs)
        sheets = []
        for rid, _, body in recs:
            if rid == _BOUNDSHEET:
                sheets.append(struct.unpack("<I", body[:4])[0])
    except ValueError:
        raise
    except (struct.error, IndexError, OverflowError, UnicodeError) as e:
        raise ValueError(
            f"malformed .xls: {type(e).__name__}: {e}"
        ) from e
    if not sheets:
        raise IndexError("workbook has no sheet")
    try:
        return _read_sheet(wb, strings, sheets[0])
    except (struct.error, IndexError, OverflowError, UnicodeError) as e:
        raise ValueError(
            f"malformed .xls: {type(e).__name__}: {e}"
        ) from e


def _read_sheet(
    wb: bytes, strings: list[str], start: int
) -> tuple[list[str], list[list[object]]]:

    cells: dict[tuple[int, int], object] = {}
    maxrow = maxcol = 0

    def put(r: int, c: int, v: object) -> None:
        nonlocal maxrow, maxcol
        cells[(r, c)] = v
        maxrow, maxcol = max(maxrow, r), max(maxcol, c)

    pos = start
    while pos + 4 <= len(wb):
        rid, ln = struct.unpack("<HH", wb[pos : pos + 4])
        body = wb[pos + 4 : pos + 4 + ln]
        if rid == _EOF:
            break
        if rid == _LABELSST:
            r, c = struct.unpack("<HH", body[:4])
            put(r, c, strings[struct.unpack("<I", body[6:10])[0]])
        elif rid == _NUMBER:
            r, c = struct.unpack("<HH", body[:4])
            put(r, c, struct.unpack("<d", body[6:14])[0])
        elif rid == _RK:
            r, c = struct.unpack("<HH", body[:4])
            put(r, c, _decode_rk(struct.unpack("<I", body[6:10])[0]))
        elif rid == _MULRK:
            r, c0 = struct.unpack("<HH", body[:4])
            for k in range((ln - 6) // 6):
                off = 4 + 6 * k + 2
                put(r, c0 + k, _decode_rk(
                    struct.unpack("<I", body[off : off + 4])[0]
                ))
        pos += 4 + ln

    header = [str(cells.get((0, c), "")) for c in range(maxcol + 1)]
    rows = [
        [cells.get((r, c)) for c in range(maxcol + 1)]
        for r in range(1, maxrow + 1)
    ]
    rows = [row for row in rows if any(v is not None for v in row)]
    return header, rows
