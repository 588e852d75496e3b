"""OPC package-level metadata — docProps/core.xml, the Dublin-Core
properties part SHARED by all three OOXML formats (docx/xlsx/pptx):
one harvester serves the trio, exactly as the chunk/marker walkers
serve PNG tEXt and JPEG COM (multimodal.media_metadata's discipline:
metadata harvest never pays the content-parse cost — this reads ONE
small zip member and nothing else).

Reference analogue: the dataset-side metadata projection the survey
grafts as q43 (HTML page metadata) and q113 (media metadata); this is
the office-document leg of that family."""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree

from toyocr_spark.extractor.tokenizer import XML_ERRORS

_CORE_PART = "docProps/core.xml"
_DC = "{http://purl.org/dc/elements/1.1/}"
_DCTERMS = "{http://purl.org/dc/terms/}"
_CP = (
    "{http://schemas.openxmlformats.org/package/2006/metadata/core-properties}"
)

# harvested key -> qualified tag (stable output order = this order)
_PROPS: tuple[tuple[str, str], ...] = (
    ("title", _DC + "title"),
    ("creator", _DC + "creator"),
    ("subject", _DC + "subject"),
    ("keywords", _CP + "keywords"),
    ("description", _DC + "description"),
    ("last_modified_by", _CP + "lastModifiedBy"),
    ("revision", _CP + "revision"),
    ("created", _DCTERMS + "created"),
    ("modified", _DCTERMS + "modified"),
)


_PKG_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}Relationship"


def opc_hyperlinks(data: bytes) -> list[str]:
    """External hyperlink relationship targets from EVERY .rels part,
    in zip member order then rels-entry order, duplicates preserved —
    the generic OOXML outlink harvest for formats whose body XML does
    not carry occurrence order we parse (xlsx cell hyperlinks, pptx
    click actions); docx uses its document-ordered docx_links instead.
    Malformed containers -> []."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            rels_parts = [
                zf.read(n) for n in zf.namelist() if n.endswith(".rels")
            ]
    except Exception:  # noqa: BLE001 — quiet-skip fuzz contract
        return []
    out: list[str] = []
    for xml in rels_parts:
        try:
            root = ElementTree.fromstring(xml)
        except XML_ERRORS:
            continue
        for rel in root.iter(_PKG_REL):
            if rel.get("Type", "").endswith("/hyperlink") and rel.get(
                "TargetMode"
            ) == "External":
                target = rel.get("Target")
                if target:
                    out.append(target)
    return out


def opc_core_properties(data: bytes) -> list[tuple[str, str]]:
    """(key, value) pairs from docProps/core.xml in stable key order,
    empty/missing properties omitted; [] for malformed containers or
    packages without the part (it is optional). Values are the stored
    strings — W3CDTF dates stay lexical (no parsing, no timezone
    games: determinism first)."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            xml = zf.read(_CORE_PART)
    except Exception:  # noqa: BLE001 — quiet-skip fuzz contract
        return []
    try:
        root = ElementTree.fromstring(xml)
    except XML_ERRORS:
        return []
    out: list[tuple[str, str]] = []
    for key, tag in _PROPS:
        el = root.find(tag)
        if el is not None and el.text and el.text.strip():
            out.append((key, el.text.strip()))
    return out
