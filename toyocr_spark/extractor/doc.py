"""Legacy binary Word (.doc, Word 97-2003 / [MS-DOC]) tokenizer — the
eighth leg of the magic-byte format dispatch, riding the CFB container
reader (extractor/cfb.py).

Reference analogue: the byte -> array decode seam
(/root/reference/data/dataset_mapper.py:151-155) — the piece-table walk
unpacks the container into the SAME Block stream every other format
feeds; XY-cut, scoring, islands and span arithmetic are shared.

What is read, spec-faithfully:
  * FIB parsed by its own length fields (csw/cslw/cbRgFcLcb), not fixed
    offsets, so any nFib revision with the 97 layout parses.
  * The piece table (Clx -> PlcPcd) from the 0Table/1Table stream named
    by FIB.fWhichTblStm — BOTH encodings per piece: fCompressed cp1252
    bytes (fc/2) and UTF-16LE.
  * Only CPs below ccpText are emitted: headers, footers, footnotes and
    annotations live AFTER the main-document range in CP space, so the
    boilerplate exclusion is structural (the docx never-read-the-part
    twin) — no style guessing.
  * Field machinery (0x13/0x14/0x15): instruction text is scanned, not
    emitted, and HYPERLINK fields mark their result text as link chars,
    so .doc navigation dies by the SAME link-density rule as HTML <a>
    and RTF \\fldrslt.
  * Paragraph style istd via PlcfBtePapx -> PAPX FKP pages, mapped to
    built-in style ids through the STSH; sti 1-9 (heading 1-9) emit
    kind="title" (the docx Heading* / PDF 14 pt twin).

n_inline stays 0: character-run fragmentation (CHPX) carries no signal
our scorer uses that survives .doc's run model honestly.

Determinism: any malformed container, stream, FIB, or piece table
tokenizes to [] (the quiet-skip discipline every codec here carries);
a failed STYLE lookup only degrades kind to "text", never drops text.
"""

from __future__ import annotations

import struct

from toyocr_spark.extractor.cfb import CFB_MAGIC, CfbFile
from toyocr_spark.extractor.tokenizer import Block, make_block

_WORD_STREAM_UTF16 = "WordDocument".encode("utf-16-le")

# cp1252 with the five undefined bytes passed through latin-1 — Word
# writers emit them rarely but really; a decode error must never kill a
# page (quiet-skip is for structure, not for odd bytes)
_CP1252_FIX = {}
for _b in range(0x80, 0xA0):
    try:
        bytes([_b]).decode("cp1252")
    except UnicodeDecodeError:
        _CP1252_FIX[_b] = chr(_b)


def _decode_compressed(raw: bytes) -> str:
    try:
        return raw.decode("cp1252")
    except UnicodeDecodeError:
        return "".join(
            _CP1252_FIX.get(b) or bytes([b]).decode("cp1252") for b in raw
        )


def is_doc(data: bytes | str | None) -> bool:
    """CFB magic + the WordDocument stream name (directory entries
    store names UTF-16LE, so the substring test needs no container
    walk — the cheap pre-gate, same shape as is_docx). .xls ships
    'Workbook' and .ppt 'PowerPoint Document', so the gate also
    discriminates within the CFB family."""
    return (
        isinstance(data, (bytes, bytearray))
        and bytes(data[:8]) == CFB_MAGIC
        and _WORD_STREAM_UTF16 in data
    )


class _Fib:
    """The 1997-layout FIB, parsed by its embedded length fields."""

    def __init__(self, word: bytes) -> None:
        if len(word) < 34 or struct.unpack_from("<H", word, 0)[0] != 0xA5EC:
            raise ValueError("not a Word binary FIB")
        flags = struct.unpack_from("<H", word, 0x0A)[0]
        self.table_name = "1Table" if flags & 0x0200 else "0Table"
        csw = struct.unpack_from("<H", word, 32)[0]
        off = 34 + csw * 2
        cslw = struct.unpack_from("<H", word, off)[0]
        lw = off + 2
        if cslw < 8:
            raise ValueError("FIB fibRgLw too short")
        self.ccp_text = struct.unpack_from("<I", word, lw + 12)[0]
        off2 = lw + cslw * 4
        cb = struct.unpack_from("<H", word, off2)[0]
        blob = off2 + 2
        if cb < 34 or blob + cb * 8 > len(word):
            raise ValueError("FIB fibRgFcLcb too short")

        def pair(i: int) -> tuple[int, int]:
            return struct.unpack_from("<II", word, blob + i * 8)

        self.fc_stshf, self.lcb_stshf = pair(1)
        self.fc_plcfbtepapx, self.lcb_plcfbtepapx = pair(13)
        self.fc_clx, self.lcb_clx = pair(33)


def _pieces(clx: bytes) -> list[tuple[int, int, int, bool]]:
    """Clx -> [(cp_start, cp_lim, byte_offset, compressed)]. Prc
    property blocks (clxt 0x01) are skipped; the Pcdt (0x02) carries
    the PlcPcd. fc bit 30 marks fCompressed (cp1252 at fc/2)."""
    i = 0
    while i < len(clx) and clx[i] == 0x01:
        cb = struct.unpack_from("<H", clx, i + 1)[0]
        i += 3 + cb
    if i >= len(clx) or clx[i] != 0x02:
        raise ValueError("Clx has no Pcdt")
    lcb = struct.unpack_from("<I", clx, i + 1)[0]
    plc = clx[i + 5 : i + 5 + lcb]
    if len(plc) < lcb or lcb < 4 or (lcb - 4) % 12:
        raise ValueError("PlcPcd size invalid")
    n = (lcb - 4) // 12
    cps = struct.unpack_from(f"<{n + 1}I", plc, 0)
    out: list[tuple[int, int, int, bool]] = []
    for k in range(n):
        fc_raw = struct.unpack_from("<I", plc, 4 * (n + 1) + 8 * k + 2)[0]
        compressed = bool(fc_raw & 0x40000000)
        fc = fc_raw & 0x3FFFFFFF
        if compressed:
            fc //= 2
        if cps[k + 1] < cps[k]:
            raise ValueError("PlcPcd CPs not monotonic")
        out.append((cps[k], cps[k + 1], fc, compressed))
    return out


def _stsh_sti(table: bytes, fc: int, lcb: int) -> list[int]:
    """STSH -> sti per istd (built-ins: sti 0 Normal, 1-9 heading 1-9).
    Empty-slot LPStds record -1; each LPStd is 2-byte aligned."""
    b = table[fc : fc + lcb]
    cb_stshi = struct.unpack_from("<H", b, 0)[0]
    cstd = struct.unpack_from("<H", b, 2)[0]
    off = 2 + cb_stshi
    stis: list[int] = []
    for _ in range(cstd):
        if off + 2 > len(b):
            break
        cb_std = struct.unpack_from("<H", b, off)[0]
        off += 2
        if cb_std == 0:
            stis.append(-1)
            continue
        stis.append(struct.unpack_from("<H", b, off)[0] & 0x0FFF)
        off += cb_std + (cb_std & 1)
    return stis


class _Papx:
    """PlcfBtePapx + PAPX FKP pages: paragraph-end FC -> istd."""

    def __init__(self, word: bytes, table: bytes, fc: int, lcb: int) -> None:
        b = table[fc : fc + lcb]
        if len(b) < lcb or lcb < 8 or (lcb - 4) % 8:
            raise ValueError("PlcfBtePapx size invalid")
        n = (lcb - 4) // 8
        self._afc = struct.unpack_from(f"<{n + 1}I", b, 0)
        self._pn = [
            struct.unpack_from("<I", b, 4 * (n + 1) + 4 * k)[0] & 0x3FFFFF
            for k in range(n)
        ]
        self._word = word

    def istd(self, fc: int) -> int:
        i = 0
        while i + 1 < len(self._afc) and not (
            self._afc[i] <= fc < self._afc[i + 1]
        ):
            i += 1
        if i >= len(self._pn):
            return 0
        page = self._word[self._pn[i] * 512 : (self._pn[i] + 1) * 512]
        if len(page) < 512:
            return 0
        crun = page[511]
        if crun == 0 or 4 * (crun + 1) + 13 * crun > 511:
            return 0
        rgfc = struct.unpack_from(f"<{crun + 1}I", page, 0)
        for j in range(crun):
            if rgfc[j] <= fc < rgfc[j + 1]:
                boff = page[4 * (crun + 1) + 13 * j]
                if boff == 0:
                    return 0
                po = boff * 2
                cb = page[po]
                istd_off = po + 2 if cb == 0 else po + 1
                if istd_off + 2 > 512:
                    return 0
                return struct.unpack_from("<H", page, istd_off)[0]
        return 0


# paragraph-ending characters: par mark, cell/row mark, page break,
# column break ([MS-DOC] 2.8; the cell mark routes to a table tag_path)
_PAR_END = "\r\x07\x0c\x0e"
# emitted-as-space: tab, line break (VT)
_AS_SPACE = "\t\x0b"


def tokenize_doc(data: bytes) -> list[Block]:
    """Parse a .doc into Blocks in CP order (main document range
    only). Returns [] for any malformed container — the fuzz contract:
    arbitrary bytes behind the CFB magic must never raise."""
    try:
        cfb = CfbFile(bytes(data))
        word = cfb.stream("WordDocument")
        fib = _Fib(word)
        table = cfb.stream(fib.table_name)
        pieces = _pieces(table[fib.fc_clx : fib.fc_clx + fib.lcb_clx])
    except Exception:  # noqa: BLE001 — quiet-skip: struct/Value/KeyError
        return []

    try:
        papx = _Papx(word, table, fib.fc_plcfbtepapx, fib.lcb_plcfbtepapx)
        stis = _stsh_sti(table, fib.fc_stshf, fib.lcb_stshf)
    except Exception:  # noqa: BLE001 — style machinery is optional
        papx, stis = None, []

    def fc_of(cp: int, piece: tuple[int, int, int, bool]) -> int:
        cp0, _cp1, off, compressed = piece
        return off + (cp - cp0) * (1 if compressed else 2)

    blocks: list[Block] = []
    parts: list[str] = []
    link_frags: list[str] = []
    linkbuf: list[str] = []
    # field stack frames: [mode, is_hyperlink, instrbuf]
    fields: list[list] = []

    def flush_link() -> None:
        if linkbuf:
            link_frags.append("".join(linkbuf))
            linkbuf.clear()

    def end_block(fc_mark: int, in_table: bool) -> None:
        flush_link()
        b = make_block(
            "".join(parts),
            ("doc", "tbl", "p") if in_table else ("doc", "p"),
            "text",
            sum(len(" ".join(f.split())) for f in link_frags),
        )
        parts.clear()
        link_frags.clear()
        if b is None:
            return
        if papx is not None and stis:
            istd = papx.istd(fc_mark)
            if 0 <= istd < len(stis) and 1 <= stis[istd] <= 9:
                b.kind = "title"
        blocks.append(b)

    try:
        for piece in pieces:
            cp0, cp1, off, compressed = piece
            lo, hi = max(cp0, 0), min(cp1, fib.ccp_text)
            if hi <= lo:
                continue
            if compressed:
                raw = word[off + (lo - cp0) : off + (hi - cp0)]
                if len(raw) < hi - lo:
                    raise ValueError("piece outruns WordDocument")
                txt = _decode_compressed(raw)
            else:
                b0 = off + 2 * (lo - cp0)
                raw = word[b0 : b0 + 2 * (hi - lo)]
                if len(raw) < 2 * (hi - lo):
                    raise ValueError("piece outruns WordDocument")
                txt = raw.decode("utf-16-le", "replace")
            for k, ch in enumerate(txt):
                o = ord(ch)
                if ch == "\x13":
                    fields.append(["instr", False, []])
                    continue
                if ch == "\x14":
                    if fields:
                        top = fields[-1]
                        instr = "".join(top[2]).strip()
                        top[0] = "result"
                        top[1] = instr[:9].upper() == "HYPERLINK"
                    continue
                if ch == "\x15":
                    if fields:
                        fields.pop()
                    flush_link()
                    continue
                if fields and fields[-1][0] == "instr":
                    fields[-1][2].append(ch)
                    continue
                if ch in _PAR_END:
                    end_block(fc_of(lo + k, piece), ch == "\x07")
                    continue
                if ch in _AS_SPACE:
                    ch = " "
                elif o < 0x20:
                    continue  # pic/object/annotation anchors etc.
                parts.append(ch)
                if any(f[1] for f in fields):
                    linkbuf.append(ch)
                else:
                    flush_link()
    except Exception:  # noqa: BLE001 — truncated text space: quiet-skip
        return []
    if parts:  # unterminated tail paragraph
        end_block(0, False)
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks


def doc_links(data: bytes) -> list[str]:
    """Outbound HYPERLINK field targets in document order, duplicates
    preserved — the .doc leg of outlink mining (docx_links / rtf_links
    are the twins). The instruction grammar is the RTF one: HYPERLINK
    "target" [switches]; \\l bookmark fields and schemeless local
    paths are navigation, not edges. Malformed containers -> []."""
    try:
        cfb = CfbFile(bytes(data))
        word = cfb.stream("WordDocument")
        fib = _Fib(word)
        table = cfb.stream(fib.table_name)
        pieces = _pieces(table[fib.fc_clx : fib.fc_clx + fib.lcb_clx])
    except Exception:  # noqa: BLE001
        return []
    out: list[str] = []
    depth = 0
    instr: list[str] = []
    collecting = False
    try:
        for cp0, cp1, off, compressed in pieces:
            lo, hi = max(cp0, 0), min(cp1, fib.ccp_text)
            if hi <= lo:
                continue
            if compressed:
                txt = _decode_compressed(word[off + (lo - cp0) : off + (hi - cp0)])
            else:
                b0 = off + 2 * (lo - cp0)
                txt = word[b0 : b0 + 2 * (hi - lo)].decode("utf-16-le", "replace")
            for ch in txt:
                if ch == "\x13":
                    depth += 1
                    if depth == 1:
                        instr, collecting = [], True
                    continue
                if ch in "\x14\x15":
                    if ch == "\x15":
                        depth = max(0, depth - 1)
                    if collecting:
                        collecting = False
                        s = "".join(instr).strip()
                        if s[:9].upper() == "HYPERLINK":
                            rest = s[9:].strip()
                            if rest.startswith('"'):
                                tgt = rest[1:].split('"', 1)[0]
                            else:
                                tgt = rest.split(None, 1)[0] if rest else ""
                            if "://" in tgt:
                                out.append(tgt)
                    continue
                if collecting and depth == 1:
                    instr.append(ch)
    except Exception:  # noqa: BLE001
        return []
    return out
