"""Legacy binary PowerPoint (.ppt, [MS-PPT]) tokenizer — the twelfth
leg of the magic-byte format dispatch, the third rider on the CFB
container reader (extractor/cfb.py).

Reference analogue: the byte -> array decode seam
(/root/reference/data/dataset_mapper.py:151-155) — the record-tree
walk feeds the SAME Block stream as every other format. Output
semantics mirror the .pptx leg (title placeholders -> title kind,
speaker notes excluded).

What is read, spec-faithfully:
  * the PowerPoint Document stream as a RecordHeader tree (recVer/
    recInstance u16, recType u16, recLen u32; containers recVer 0xF);
  * outline text from SlideListWithText containers (0x0FF0) with
    recInstance 0 — the SLIDE collection; recInstance 2 is the NOTES
    collection, excluded structurally (the pptx notes-part twin), and
    recInstance 1 (masters) is layout chrome, also excluded;
  * TextHeaderAtom (0x0F9F) typing each following text atom: types 0
    (title) and 6 (centre title) -> kind='title', type 2 (notes)
    always dropped; TextCharsAtom (0x0FA0, UTF-16LE) and
    TextBytesAtom (0x0FA8, one byte per char, high byte zero) both
    decoded; per [MS-PPT] text atoms carry \\r as the paragraph
    separator — each paragraph becomes its own Block (the pptx
    one-block-per-paragraph twin).

Out of scope, documented: text drawn OUTSIDE the outline (OfficeArt
escher textboxes) — the outline SlideListWithText is where conformant
writers put title/body text; the escher drawing layer is the .ppt
analogue of BIFF5 'Book' streams (legacy-of-the-legacy).

Determinism: malformed containers tokenize to [] (the quiet-skip
fuzz contract every codec here carries)."""

from __future__ import annotations

import struct

from toyocr_spark.extractor.cfb import CFB_MAGIC, CfbFile
from toyocr_spark.extractor.tokenizer import Block, make_block

_PPT_STREAM = "PowerPoint Document"
_PPT_STREAM_UTF16 = _PPT_STREAM.encode("utf-16-le")

_SLIDE_LIST_WITH_TEXT = 0x0FF0
_TEXT_HEADER_ATOM = 0x0F9F
_TEXT_CHARS_ATOM = 0x0FA0
_TEXT_BYTES_ATOM = 0x0FA8

_TITLE_TYPES = (0, 6)  # Tx_TYPE_TITLE, Tx_TYPE_CENTERTITLE
_NOTES_TYPE = 2


def is_ppt(data: bytes | str | None) -> bool:
    """CFB magic + the PowerPoint Document stream name (UTF-16LE in
    the directory — the cheap pre-gate; 'WordDocument' and 'Workbook'
    discriminate the siblings)."""
    return (
        isinstance(data, (bytes, bytearray))
        and bytes(data[:8]) == CFB_MAGIC
        and _PPT_STREAM_UTF16 in data
    )


def _walk(stream: bytes, pos: int, end: int, out: list[Block], collect: bool) -> None:
    """Record-tree walk. `collect` is True only inside a slide-
    collection SlideListWithText; text atoms elsewhere (masters,
    notes) are never emitted."""
    cur_type: int | None = None  # pending TextHeaderAtom type
    while pos + 8 <= end:
        ver_inst, rec_type, rec_len = struct.unpack_from("<HHI", stream, pos)
        body = pos + 8
        if body + rec_len > end:
            raise ValueError("PPT record overruns its container")
        if (ver_inst & 0x000F) == 0x000F:  # container record
            inner = collect
            if rec_type == _SLIDE_LIST_WITH_TEXT:
                inner = (ver_inst >> 4) == 0  # instance 0 = slides
            _walk(stream, body, body + rec_len, out, inner)
            cur_type = None
        elif rec_type == _TEXT_HEADER_ATOM and rec_len >= 4:
            cur_type = struct.unpack_from("<I", stream, body)[0]
        elif rec_type in (_TEXT_CHARS_ATOM, _TEXT_BYTES_ATOM):
            if collect and cur_type is not None and cur_type != _NOTES_TYPE:
                raw = stream[body : body + rec_len]
                if rec_type == _TEXT_CHARS_ATOM:
                    txt = raw.decode("utf-16-le", "replace")
                else:
                    txt = raw.decode("latin-1")
                kind = "title" if cur_type in _TITLE_TYPES else "text"
                # \r separates paragraphs inside one text atom
                for para in txt.split("\r"):
                    b = make_block(para, ("ppt", "slide", "p"), kind)
                    if b:
                        out.append(b)
            cur_type = None
        pos = body + rec_len


def tokenize_ppt(data: bytes) -> list[Block]:
    """Parse a .ppt into Blocks: outline text in record order (= slide
    order as written), one Block per paragraph, titles marked; master
    and notes text excluded structurally. Returns [] for any malformed
    container."""
    try:
        stream = CfbFile(bytes(data)).stream(_PPT_STREAM)
    except Exception:  # noqa: BLE001 — quiet-skip
        return []
    blocks: list[Block] = []
    try:
        _walk(stream, 0, len(stream), blocks, collect=False)
    except Exception:  # noqa: BLE001 — truncated/inconsistent tree
        return []
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks
