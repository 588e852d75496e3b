"""TAR archive tokenizer — the sixteenth leg of the format dispatch,
covering the multi-document bundles crawls carry in bulk (arXiv source
tarballs, dataset dumps, site exports). A `.tar.gz` / `.tar.bz2` /
`.tar.xz` arrives here for free: the transfer-envelope strip
(extractor/core.py) removes the compression before dispatch sees the
`ustar` magic.

Reference analogue: the byte -> array decode seam shared by every
container leg (/root/reference/data/dataset_mapper.py:151-155).

Shared-kernel design, the EPUB/MHTML pattern: the archive walk only
resolves WHICH bytes are documents; each member then re-enters the
ordinary format dispatch (core.dispatch_blocks), so a PDF member
tokenizes via the content-stream machine, an HTML member via the HTML
tokenizer, a README via the markdown leg, an arXiv .tex source via
the LaTeX leg — one chain, one rule set.

Boundedness (the zip-bomb discipline every container leg carries):
at most MAX_MEMBERS members walk, each member read is capped at
MAX_MEMBER_BYTES, nested tars do NOT recurse (depth 1 — a tar member
inside a tar is skipped), and a member that matches no known format
and is not strict-UTF-8 text is an opaque resource (images, pickles)
that must never reach the HTML tokenizer's lossy-decode path. The
caps are the security property; they are MEMBER-local and not
surfaced in ExtractResult.truncated (which still reports the
page-level bound: an archive over MAX_HTML_BYTES, or a whole-archive
envelope inflating past it, flags as before — only a small archive
whose in-archive .gz member inflates past the bound trims silently).

Determinism: malformed archives tokenize to whatever the truncated
walk yields — same bytes, same blocks, never an exception."""

from __future__ import annotations

import io

from toyocr_spark.extractor.tokenizer import ABS_HREF_RE, utf8_textish

# POSIX ustar: magic at offset 257 is "ustar\0" (PAX/POSIX.1-1988) or
# "ustar  \0"-ish (old GNU). Combined with the 512-byte header-checksum
# verification below this is unforgeable by prose or markup.
_MAGIC_OFFSET = 257

MAX_MEMBERS = 64
MAX_MEMBER_BYTES = 4 * 1024 * 1024


def _checksum_ok(header: bytes) -> bool:
    """Verify the ustar header checksum (bytes 148:156 hold the octal
    sum of the header with the checksum field read as spaces)."""
    try:
        stored = int(header[148:156].replace(b"\x00", b" ").strip() or b"0", 8)
    except ValueError:
        return False
    calc = sum(header[:148]) + 8 * 0x20 + sum(header[156:512])
    return stored == calc


def is_tar(data: bytes | str | None) -> bool:
    if not isinstance(data, (bytes, bytearray)) or len(data) < 512:
        return False
    magic = bytes(data[_MAGIC_OFFSET : _MAGIC_OFFSET + 5])
    if magic != b"ustar":
        return False
    return _checksum_ok(bytes(data[:512]))


def _member_blocks(payload: bytes) -> list:
    """Dispatch one member's bytes through the shared format chain,
    with the opaque-resource gate: known formats always tokenize;
    unknown bytes tokenize only if their head is strict UTF-8 text."""
    from toyocr_spark.extractor import core

    probe = payload[:4096]
    known = (
        probe[:5] in (b"%PDF-", b"{\\rtf")
        or probe[:4] == b"PK\x03\x04"
        or probe[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    )
    if not known and not utf8_textish(payload):
        return []  # opaque resource: never lossy-decoded
    return core.dispatch_blocks(payload)


_TAR_HREF = ABS_HREF_RE


def _member_links(payload: bytes) -> list[str]:
    """Per-member link routing shared by the generic bundle walkers
    (tar_links, zipleg.zip_links): members route per format
    (markdown_links for READMEs, pdf_links for PDFs, latex_links for
    arXiv-style .tex sources, ipynb_links for notebooks, href regex
    for markup/text), opaque resources contribute nothing."""
    from toyocr_spark.extractor.docx import docx_links, is_docx
    from toyocr_spark.extractor.eml import eml_links, is_eml
    from toyocr_spark.extractor.icsleg import ics_links, is_ics
    from toyocr_spark.extractor.ipynb import ipynb_links, is_ipynb
    from toyocr_spark.extractor.latexleg import is_latex, latex_links
    from toyocr_spark.extractor.markdown import is_markdown, markdown_links
    from toyocr_spark.extractor.mbox import is_mbox, mbox_links
    from toyocr_spark.extractor.pdf import is_pdf, pdf_links
    from toyocr_spark.extractor.psleg import is_ps, ps_links
    from toyocr_spark.extractor.wikitext import is_wikitext, wikitext_links

    if is_pdf(payload):
        return pdf_links(payload)
    if is_ps(payload):
        return ps_links(payload)
    if is_docx(payload):
        return docx_links(payload)
    if is_mbox(payload):
        return mbox_links(payload)
    if is_eml(payload):
        return eml_links(payload)
    if is_ics(payload):
        return ics_links(payload)
    if is_ipynb(payload):
        return ipynb_links(payload)
    if is_latex(payload):
        return latex_links(payload)
    if is_wikitext(payload):
        return wikitext_links(payload)
    if is_markdown(payload):
        return markdown_links(payload)
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError:
        return []  # opaque resource
    return [m.group(1) for m in _TAR_HREF.finditer(text)]


def tar_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE links from an archive's document members in
    archive order, duplicates preserved — the tar leg of outlink
    mining. Relative targets inside a bundle point at packaged
    siblings (the epub_links contract); members route per format via
    _member_links, opaque resources and nested archives contribute
    nothing. Malformed archives -> []."""
    out: list[str] = []
    for payload in _members(data):
        try:
            out.extend(_member_links(payload))
        except Exception:  # noqa: BLE001 — member-local quiet skip
            continue
    return out


def _members(data: bytes):
    """Yield each regular member's (envelope-stripped, bounded) bytes
    in archive order — the shared walk under tokenize_tar/tar_links."""
    import tarfile

    from toyocr_spark.extractor import core

    try:
        tf = tarfile.open(fileobj=io.BytesIO(bytes(data)), mode="r:")
    except (tarfile.TarError, OSError, EOFError, ValueError):
        return
    try:
        n = 0
        while n < MAX_MEMBERS:
            try:
                member = tf.next()
            except (tarfile.TarError, OSError, EOFError, ValueError):
                break
            if member is None:
                break
            if not member.isreg():
                continue
            n += 1
            try:
                f = tf.extractfile(member)
                if f is None:
                    continue
                payload = f.read(MAX_MEMBER_BYTES)
            except (tarfile.TarError, OSError, EOFError, ValueError):
                continue
            if is_tar(payload) or _nested_generic_zip(payload):
                continue  # no generic-walker recursion (depth 1)
            # the core._unwrap contract: a corrupt gzip/bz2/xz member
            # is skipped, a prose member forging the zlib gate
            # ('x^ ...') dispatches as-is
            unwrapped = core._unwrap(payload, 1)
            if unwrapped is None:
                continue
            payload = unwrapped[0]
            if is_tar(payload) or _nested_generic_zip(payload):
                continue
            yield payload
    finally:
        tf.close()


def _nested_generic_zip(payload: bytes) -> bool:
    """True for a GENERIC zip member (site export) — skipped by the
    generic walkers' mutual no-recursion guard. Specific zip
    containers (OOXML/EPUB/ODF) still dispatch: their parsers read
    fixed parts, never walk members."""
    from toyocr_spark.extractor.zipleg import is_zip_bundle

    return is_zip_bundle(payload)


def tokenize_tar(data: bytes) -> list:
    """Walk a tar archive into Blocks: each regular-file member through
    the ordinary format dispatch in archive order, ordinals renumbered
    across the whole archive (the EPUB discipline, so islands can span
    member boundaries). Malformed archives tokenize to []."""
    blocks: list = []
    for payload in _members(data):
        try:
            blocks.extend(_member_blocks(payload))
        except Exception:  # noqa: BLE001 — one bad member never
            continue  # poisons the archive's other documents
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks
