"""EPUB tokenizer — the sixth leg of the magic-byte format dispatch,
and the one that showcases the shared-kernel design: an EPUB is a zip
of XHTML documents, so the container walk resolves READING ORDER
(container.xml -> OPF package -> manifest + spine) and every spine
document runs through the EXISTING HTML tokenizer unchanged. The
EPUB3 nav document is typically a list of links — when it sits in the
spine it dies by the ordinary link-density rule, no special case.

Reference analogue: the same decode seam as the other container
formats (/root/reference/data/dataset_mapper.py:151-155).

Order discipline mirrors pptx: part NAMES are not an order (a spine
can put chapter10 before chapter2); only the spine's idref walk is.

Determinism: malformed containers tokenize to [] (quiet-skip fuzz
contract)."""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
from xml.etree import ElementTree

from toyocr_spark.extractor.tokenizer import Block, XML_ERRORS, tokenize

ZIP_MAGIC = b"PK\x03\x04"
_CONTAINER_PART = "META-INF/container.xml"
_CNT = "{urn:oasis:names:tc:opendocument:xmlns:container}"
_OPF = "{http://www.idpf.org/2007/opf}"


def is_epub(data: bytes | str | None) -> bool:
    """OPC-style pre-gate: zip magic, the OCF container locator part,
    and the epub mimetype string near the head (the OCF spec REQUIRES
    the `mimetype` member first and stored, so its content sits in the
    first ~60 bytes of every conformant file)."""
    return (
        isinstance(data, (bytes, bytearray))
        and data[:4] == ZIP_MAGIC
        and b"application/epub+zip" in data[:128]
        and _CONTAINER_PART.encode() in data
    )


def _spine_parts(zf: zipfile.ZipFile) -> list[str]:
    """Spine document part paths in reading order via container ->
    OPF -> manifest/spine."""
    try:
        container = ElementTree.fromstring(zf.read(_CONTAINER_PART))
    except (KeyError, *XML_ERRORS):
        return []
    rootfile = container.find(f"{_CNT}rootfiles/{_CNT}rootfile")
    if rootfile is None:
        return []
    opf_path = rootfile.get("full-path", "")
    if not opf_path:
        return []
    try:
        opf = ElementTree.fromstring(zf.read(opf_path))
    except (KeyError, *XML_ERRORS):
        return []
    base = posixpath.dirname(opf_path)
    href_by_id: dict[str, str] = {}
    manifest = opf.find(_OPF + "manifest")
    spine = opf.find(_OPF + "spine")
    if manifest is None or spine is None:
        return []
    for item in manifest.iterfind(_OPF + "item"):
        iid, href = item.get("id"), item.get("href")
        mt = item.get("media-type", "")
        if iid and href and ("html" in mt or "xml" in mt):
            href_by_id[iid] = posixpath.normpath(posixpath.join(base, href))
    out: list[str] = []
    for ref in spine.iterfind(_OPF + "itemref"):
        iid = ref.get("idref")
        if iid and iid in href_by_id and ref.get("linear", "yes") != "no":
            out.append(href_by_id[iid])
    return out


_HREF_RE = re.compile(r'(?i)href="([^"]+)"')


def epub_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE links (scheme-qualified hrefs) from spine
    documents in reading order, duplicates preserved — the EPUB leg of
    outlink mining. Intra-book relative hrefs (nav entries, chapter
    cross-references) are navigation, not edges, and are skipped;
    external citations are exactly what the link graph wants from an
    ebook. Malformed containers -> []."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            names = set(zf.namelist())
            parts = [zf.read(p) for p in _spine_parts(zf) if p in names]
    except Exception:  # noqa: BLE001 — quiet-skip fuzz contract
        return []
    out: list[str] = []
    for body in parts:
        try:
            text = body.decode("utf-8")
        except UnicodeDecodeError:
            text = body.decode("latin-1")
        for m in _HREF_RE.finditer(text):
            href = m.group(1)
            if "://" in href:
                out.append(href)
    return out


def tokenize_epub(data: bytes) -> list[Block]:
    """Parse an EPUB into Blocks: spine documents in reading order,
    each through the ordinary HTML tokenizer (byte-identical HTML
    semantics inside the book); ordinals renumber across the whole
    book so islands can span chapter boundaries exactly like page
    sections."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            names = set(zf.namelist())
            parts = [zf.read(p) for p in _spine_parts(zf) if p in names]
    except Exception:  # noqa: BLE001 — fuzz contract (see tokenize_docx)
        return []
    blocks: list[Block] = []
    for body in parts:
        blocks.extend(tokenize(body))
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks
