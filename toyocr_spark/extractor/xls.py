"""Legacy binary Excel (.xls, BIFF8 / [MS-XLS]) tokenizer — the
eleventh leg of the magic-byte format dispatch, the second rider on
the CFB container reader (extractor/cfb.py).

Reference analogue: the byte -> array decode seam
(/root/reference/data/dataset_mapper.py:151-155) — the BIFF record
walk feeds the SAME Block stream as every other format; XY-cut,
scoring, islands and span arithmetic are shared. Output semantics
mirror the .xlsx leg exactly (one Block per non-empty row, first row
per sheet = title, bare-numeral chrome rows die by MIN_CHARS), so a
workbook extracts the same whether it arrives as BIFF8 or OOXML.

What is read, spec-faithfully:
  * the Workbook stream as a BIFF record sequence (u16 type, u16 len);
  * the globals substream's SST (0x00FC) INCLUDING CONTINUE (0x003C)
    spills — a string split across the record boundary restarts with
    a fresh flags byte that may CHANGE encoding mid-string (the
    format's most notorious wrinkle, round-tripped in the fixture);
  * BOUNDSHEET (0x0085) names + absolute substream positions, walked
    in record order (= tab order);
  * cell records LABELSST / LABEL / NUMBER / RK / MULRK, assembled
    row-major per sheet; RKs decode the packed integer/x100 forms;
    FORMULA cached numeric results read, string results skipped.

Number rendering is deterministic: integral doubles print as
integers, everything else via repr (shortest round-trip) — the BIFF
twin of the xlsx rule that the stored lexical form IS the value.

Determinism: malformed containers tokenize to [] (the quiet-skip
fuzz contract every codec here carries)."""

from __future__ import annotations

import struct

from toyocr_spark.extractor.cfb import CFB_MAGIC, CfbFile
from toyocr_spark.extractor.tokenizer import Block, make_block

_WORKBOOK_UTF16 = "Workbook".encode("utf-16-le")

_BOF = 0x0809
_EOF = 0x000A
_SST = 0x00FC
_CONTINUE = 0x003C
_BOUNDSHEET = 0x0085
_LABELSST = 0x00FD
_LABEL = 0x0204
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_FORMULA = 0x0006


def is_xls(data: bytes | str | None) -> bool:
    """CFB magic + the Workbook stream name (BIFF8; older BIFF5/7
    'Book' workbooks are out of scope). The directory stores names
    UTF-16LE so the substring test needs no container walk — and it
    discriminates within the CFB family (.doc ships 'WordDocument',
    .ppt 'PowerPoint Document')."""
    return (
        isinstance(data, (bytes, bytearray))
        and bytes(data[:8]) == CFB_MAGIC
        and _WORKBOOK_UTF16 in data
    )


def _records(stream: bytes, pos: int = 0):
    """(type, payload_start, payload_len) walk; stops at truncation."""
    n = len(stream)
    while pos + 4 <= n:
        typ, ln = struct.unpack_from("<HH", stream, pos)
        if pos + 4 + ln > n:
            return
        yield typ, pos + 4, ln
        pos += 4 + ln


class _Chunks:
    """SST payload reader across CONTINUE boundaries. Fixed fields do
    not split (MS-XLS 2.5.293); character arrays may, restarting with
    a fresh flags byte in the continuation."""

    def __init__(self, chunks: list[bytes]) -> None:
        self._chunks = chunks
        self._ci = 0
        self._off = 0

    def _avail(self) -> int:
        return len(self._chunks[self._ci]) - self._off

    def _advance(self) -> bool:
        while self._ci + 1 < len(self._chunks) and self._avail() == 0:
            self._ci += 1
            self._off = 0
        return self._avail() > 0

    def done(self) -> bool:
        return not self._advance()

    def take(self, n: int) -> bytes:
        if not self._advance() or self._avail() < n:
            raise ValueError("SST fixed field split or truncated")
        b = self._chunks[self._ci][self._off : self._off + n]
        self._off += n
        return b

    def chars(self, cch: int, high: bool) -> str:
        """cch characters, re-reading the flags byte at each chunk
        boundary (the encoding may flip mid-string)."""
        out: list[str] = []
        while cch:
            prev_ci = self._ci
            if not self._advance():
                raise ValueError("SST string truncated")
            if self._ci != prev_ci:  # crossed a CONTINUE: fresh flags byte
                high = bool(self.take(1)[0] & 0x01)
            width = 2 if high else 1
            n = min(cch, self._avail() // width)
            if n == 0:
                raise ValueError("SST char split inside a code unit")
            raw = self.take(n * width)
            out.append(raw.decode("utf-16-le" if high else "latin-1", "replace"))
            cch -= n
        return "".join(out)


def _parse_sst(chunks: list[bytes]) -> list[str]:
    rd = _Chunks(chunks)
    rd.take(4)  # cstTotal
    cst_unique = struct.unpack("<I", rd.take(4))[0]
    out: list[str] = []
    for _ in range(min(cst_unique, 1_000_000)):
        if rd.done():
            break
        cch = struct.unpack("<H", rd.take(2))[0]
        flags = rd.take(1)[0]
        high = bool(flags & 0x01)
        c_run = struct.unpack("<H", rd.take(2))[0] if flags & 0x08 else 0
        cb_ext = struct.unpack("<I", rd.take(4))[0] if flags & 0x04 else 0
        out.append(rd.chars(cch, high))
        # rich runs / extended data trail the characters; they may
        # themselves spill across CONTINUEs — consume through chunks
        skip = 4 * c_run + cb_ext
        while skip:
            if rd.done():
                raise ValueError("SST trailer truncated")
            n = min(skip, rd._avail())
            rd.take(n)
            skip -= n
    return out


def _rk_value(v: int) -> float | int:
    if v & 2:  # fInt: signed 30-bit integer
        n = v >> 2
        if n & 0x20000000:
            n -= 0x40000000
        val: float | int = n
    else:  # high 30 bits of an IEEE double
        val = struct.unpack("<d", struct.pack("<Q", (v & 0xFFFFFFFC) << 32))[0]
    if v & 1:  # fX100
        if isinstance(val, int) and val % 100 == 0:
            val //= 100
        else:
            val = val / 100
    return val


def _fmt_num(x: float | int) -> str:
    if isinstance(x, int):
        return str(x)
    if x == int(x) and abs(x) < 2**53:
        return str(int(x))
    return repr(x)


def _inline_label(payload: bytes) -> str:
    """LABEL record: rw/col/ixfe then an XLUnicodeString."""
    cch = struct.unpack_from("<H", payload, 6)[0]
    flags = payload[8]
    raw = payload[9 : 9 + cch * (2 if flags & 1 else 1)]
    return raw.decode("utf-16-le" if flags & 1 else "latin-1", "replace")


def tokenize_xls(data: bytes) -> list[Block]:
    """Parse a BIFF8 workbook into Blocks: sheets in BOUNDSHEET order,
    one Block per non-empty row (cells joined by a single space,
    whitespace-normalized), first row per sheet kind='title'. Returns
    [] for any malformed container (fuzz contract)."""
    try:
        stream = CfbFile(bytes(data)).stream("Workbook")
    except Exception:  # noqa: BLE001 — quiet-skip
        return []
    blocks: list[Block] = []
    try:
        # -- globals substream: SST (+CONTINUE) and sheet positions --
        sst_chunks: list[bytes] = []
        in_sst = False
        sheet_offsets: list[int] = []
        for typ, off, ln in _records(stream):
            if typ == _SST:
                sst_chunks = [stream[off : off + ln]]
                in_sst = True
            elif typ == _CONTINUE and in_sst:
                sst_chunks.append(stream[off : off + ln])
            elif typ == _BOUNDSHEET:
                sheet_offsets.append(struct.unpack_from("<I", stream, off)[0])
                in_sst = False
            elif typ == _EOF:
                break
            else:
                in_sst = False
        shared = _parse_sst(sst_chunks) if sst_chunks else []

        for start in sheet_offsets:
            if start + 4 > len(stream):
                raise ValueError("BOUNDSHEET position out of stream")
            rows: dict[int, list[tuple[int, str]]] = {}

            def put(rw: int, col: int, text: str) -> None:
                if text:
                    rows.setdefault(rw, []).append((col, text))

            for typ, off, ln in _records(stream, start):
                p = stream[off : off + ln]
                if typ == _EOF:
                    break
                if typ == _LABELSST and ln >= 10:
                    rw, col, _ix, isst = struct.unpack_from("<HHHI", p, 0)
                    if isst < len(shared):
                        put(rw, col, shared[isst])
                elif typ == _LABEL and ln >= 9:
                    rw, col = struct.unpack_from("<HH", p, 0)
                    put(rw, col, _inline_label(p))
                elif typ == _NUMBER and ln >= 14:
                    rw, col = struct.unpack_from("<HH", p, 0)
                    put(rw, col, _fmt_num(struct.unpack_from("<d", p, 6)[0]))
                elif typ == _RK and ln >= 10:
                    rw, col = struct.unpack_from("<HH", p, 0)
                    put(rw, col, _fmt_num(_rk_value(struct.unpack_from("<I", p, 6)[0])))
                elif typ == _MULRK and ln >= 12:
                    rw, col0 = struct.unpack_from("<HH", p, 0)
                    n = (ln - 6) // 6
                    for k in range(n):
                        v = struct.unpack_from("<I", p, 4 + 6 * k + 2)[0]
                        put(rw, col0 + k, _fmt_num(_rk_value(v)))
                elif typ == _FORMULA and ln >= 14:
                    rw, col = struct.unpack_from("<HH", p, 0)
                    if struct.unpack_from("<H", p, 12)[0] != 0xFFFF:
                        put(rw, col, _fmt_num(struct.unpack_from("<d", p, 6)[0]))
                    # 0xFFFF = string/bool/error result: skipped

            first_in_sheet = True
            for rw in sorted(rows):
                cells = [t for _c, t in sorted(rows[rw])]
                b = make_block(
                    " ".join(cells),
                    ("xls", "sheet", "row"),
                    "title" if first_in_sheet else "text",
                    0,
                    max(0, len(cells) - 1),
                )
                if b:
                    blocks.append(b)
                    first_in_sheet = False
    except Exception:  # noqa: BLE001 — truncated/inconsistent: quiet-skip
        return []
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks
