"""OOXML PresentationML (.pptx) tokenizer — the fifth leg of the
magic-byte format dispatch (HTML / %PDF- / word / xl / ppt).

Reference analogue: the byte -> array decode seam grafted at
/root/reference/data/dataset_mapper.py:151-155 — same shared Block
stream, scoring, islands and span arithmetic as every other format.

PresentationML splits a deck across parts: ppt/presentation.xml's
sldIdLst gives SLIDE ORDER (part names do not — slide10.xml sorts
before slide2.xml lexically), ppt/_rels/presentation.xml.rels maps
each slide id to its part, and text lives in DrawingML runs
(p:sp -> p:txBody -> a:p -> a:r -> a:t). Speaker notes
(ppt/notesSlides/*) are the format's structural boilerplate — never
read, the header/footer exclusion of the deck world. Title
placeholders (p:ph type="title"/"ctrTitle") carry the layout signal
-> kind="title", the pStyle/font-size twin.

Determinism: malformed containers tokenize to [] (the quiet-skip
fuzz contract)."""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree

from toyocr_spark.extractor.tokenizer import Block, XML_ERRORS, make_block

ZIP_MAGIC = b"PK\x03\x04"
_PRES_PART = "ppt/presentation.xml"
_PRES_RELS = "ppt/_rels/presentation.xml.rels"
_P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_R_ID = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)
_PKG_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}Relationship"


def is_pptx(data: bytes | str | None) -> bool:
    """OPC zip magic + the PresentationML main part name appearing
    literally in the container (same cheap pre-gate as is_docx)."""
    return (
        isinstance(data, (bytes, bytearray))
        and data[:4] == ZIP_MAGIC
        and _PRES_PART.encode() in data
    )


def _slide_order(zf: zipfile.ZipFile) -> list[str]:
    """Slide part paths in sldIdLst order via the rels map."""
    try:
        pres = ElementTree.fromstring(zf.read(_PRES_PART))
        rels = ElementTree.fromstring(zf.read(_PRES_RELS))
    except (KeyError, *XML_ERRORS):
        return []
    target_by_id: dict[str, str] = {}
    for rel in rels.iter(_PKG_REL):
        rid, target = rel.get("Id"), rel.get("Target")
        if rid and target and rel.get("Type", "").endswith("/slide"):
            target_by_id[rid] = (
                target if target.startswith("ppt/") else "ppt/" + target.lstrip("/")
            )
    lst = pres.find(f"{_P}sldIdLst")
    if lst is None:
        return []
    out: list[str] = []
    for sld in lst.iterfind(_P + "sldId"):
        rid = sld.get(_R_ID)
        if rid and rid in target_by_id:
            out.append(target_by_id[rid])
    return out


def _is_title_shape(sp) -> bool:
    ph = sp.find(f"{_P}nvSpPr/{_P}nvPr/{_P}ph")
    return ph is not None and ph.get("type", "") in ("title", "ctrTitle", "subTitle")


def tokenize_pptx(data: bytes) -> list[Block]:
    """Parse a .pptx deck into Blocks: slides in sldIdLst order,
    shapes in spTree order, one Block per DrawingML paragraph (a:p)
    — a:br contributes a separator, runs concatenate, whitespace
    normalizes like every other tokenizer. Title placeholders ->
    kind='title'. Speaker notes are never read."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            names = set(zf.namelist())
            parts = [zf.read(p) for p in _slide_order(zf) if p in names]
    except Exception:  # noqa: BLE001 — fuzz contract (see tokenize_docx)
        return []
    blocks: list[Block] = []
    for xml in parts:
        try:
            root = ElementTree.fromstring(xml)
        except XML_ERRORS:
            continue
        tree = root.find(f"{_P}cSld/{_P}spTree")
        if tree is None:
            continue
        for sp in tree.iterfind(_P + "sp"):
            title = _is_title_shape(sp)
            body = sp.find(f"{_P}txBody")
            if body is None:
                continue
            for para in body.iterfind(_A + "p"):
                parts_txt: list[str] = []
                n_runs = 0
                for el in para.iter():
                    if el.tag == _A + "t":
                        parts_txt.append(el.text or "")
                    elif el.tag == _A + "br":
                        parts_txt.append(" ")
                    elif el.tag == _A + "r":
                        n_runs += 1
                b = make_block(
                    "".join(parts_txt),
                    ("pptx", "sp", "p"),
                    "title" if title else "text",
                    0,
                    max(0, n_runs - 1),
                )
                if b:
                    blocks.append(b)
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks
