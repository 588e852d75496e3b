"""Generic ZIP bundle tokenizer — the twenty-fifth leg of the format
dispatch and tar's twin for the OTHER multi-document bundle crawls
carry in bulk (site exports, dataset dumps, source releases,
documentation bundles). Before this leg a zip that was not one of the
SPECIFIC zip containers (OOXML trio, EPUB, ODF trio) fell through to
the HTML tokenizer, which surfaced raw local-file headers and stored
bytes as garbage "text" — the exact failure this leg closes.

Reference analogue: the byte -> array decode seam shared by every
container leg (/root/reference/data/dataset_mapper.py:151-155).

Shared-kernel design, the tar pattern: the archive walk only resolves
WHICH bytes are documents; each member re-enters the ordinary format
dispatch (core.dispatch_blocks), so an HTML member tokenizes via the
HTML tokenizer, a README via the markdown leg, a PDF via the
content-stream machine — one chain, one rule set.

GATE DISCIPLINE: `PK\\x03\\x04` magic AND none of the specific
zip-container gates claim it — position-independent, so the walkers
can reuse it to classify nested members.

Boundedness (the zip-bomb discipline): at most MAX_MEMBERS members
walk, each member READ is capped at MAX_MEMBER_BYTES (zipfile
decompresses on demand, so the cap bounds inflate work per member —
the pngcodec IDAT rule), and NESTED GENERIC WALKERS NEVER RECURSE:
a tar or zip member inside a zip is skipped (and tarleg reciprocally
skips generic-zip members) — without this mutual guard a
42.zip-style recursive bomb multiplies 64^depth walks out of
kilobytes of input. Specific containers (an OOXML doc inside a site
export) still dispatch: their parsers read fixed parts, never walk.
A member that matches no known format and is not strict-UTF-8 text
is an opaque resource that must never reach the HTML tokenizer's
lossy-decode path.

Determinism: malformed archives tokenize to whatever the bounded
walk yields — same bytes, same blocks, never an exception."""

from __future__ import annotations

import io

MAX_MEMBERS = 64
MAX_MEMBER_BYTES = 4 * 1024 * 1024

_ZIP_MAGIC = b"PK\x03\x04"


def is_zip_bundle(data: bytes | str | None) -> bool:
    """PK magic and NOT a specific zip container (OOXML/EPUB/ODF) —
    position-independent, reusable by the walkers for nested-member
    classification."""
    if not isinstance(data, (bytes, bytearray)):
        return False
    if bytes(data[:4]) != _ZIP_MAGIC:
        return False
    from toyocr_spark.extractor.docx import is_docx
    from toyocr_spark.extractor.epub import is_epub
    from toyocr_spark.extractor.odp import is_odp
    from toyocr_spark.extractor.ods import is_ods
    from toyocr_spark.extractor.odt import is_odt
    from toyocr_spark.extractor.pptx import is_pptx
    from toyocr_spark.extractor.xlsx import is_xlsx

    return not (
        is_docx(data)
        or is_xlsx(data)
        or is_pptx(data)
        or is_epub(data)
        or is_odt(data)
        or is_ods(data)
        or is_odp(data)
    )


def _members(data: bytes):
    """Yield each regular member's (bounded) bytes in archive order —
    the shared walk under tokenize_zip/zip_links. Nested generic
    walkables (tar, any zip) are skipped whole (see module
    docstring); envelope-compressed members strip like tar's."""
    import zipfile
    import zlib

    from toyocr_spark.extractor import core
    from toyocr_spark.extractor.tarleg import is_tar

    try:
        zf = zipfile.ZipFile(io.BytesIO(bytes(data)))
    except (zipfile.BadZipFile, OSError, EOFError, ValueError, NotImplementedError):
        # NotImplementedError: a central-directory entry needs a newer
        # zip version than zipfile reads
        return
    try:
        n = 0
        for info in zf.infolist():
            if n >= MAX_MEMBERS:
                break
            if info.is_dir():
                continue
            n += 1
            try:
                with zf.open(info) as f:
                    payload = f.read(MAX_MEMBER_BYTES)
            except (zipfile.BadZipFile, OSError, EOFError, ValueError,
                    zlib.error, NotImplementedError, RuntimeError):
                # corrupt streams / unsupported compression methods /
                # encrypted members (RuntimeError: password required):
                # member-local quiet skip
                continue
            if is_tar(payload) or bytes(payload[:4]) == _ZIP_MAGIC:
                continue  # no generic-walker recursion (depth 1)
            unwrapped = core._unwrap(payload, 1)
            if unwrapped is None:
                continue  # corrupt envelope
            payload = unwrapped[0]
            if is_tar(payload) or bytes(payload[:4]) == _ZIP_MAGIC:
                continue
            yield payload
    finally:
        zf.close()


def tokenize_zip(data: bytes) -> list:
    """Walk the archive: each member re-enters the ordinary format
    dispatch (tarleg._member_blocks — the shared opaque-resource
    gate included), ordinals renumbered across members (the tar
    discipline). Malformed archives tokenize to []."""
    from toyocr_spark.extractor.tarleg import _member_blocks

    blocks: list = []
    for payload in _members(data):
        try:
            blocks.extend(_member_blocks(payload))
        except Exception:  # noqa: BLE001 — member-local quiet skip
            continue
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks


def zip_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE links from the archive's document members in
    archive order, duplicates preserved — the zip leg of outlink
    mining, routed per format exactly like tar_links. Malformed
    archives -> []."""
    from toyocr_spark.extractor.tarleg import _member_links

    out: list[str] = []
    for payload in _members(data):
        try:
            out.extend(_member_links(payload))
        except Exception:  # noqa: BLE001 — member-local quiet skip
            continue
    return out
