"""extract(html) — the frozen deterministic extraction kernel.

This is BOTH the engine kernel (run batched inside mapInArrow) and the
reference oracle used to populate the fixture ``text`` column — the
same construction as the reference vendoring the official ICDAR scorer
verbatim (/root/reference/evaluation/text_eval.py:171-172): sharing the
kernel makes byte-identity a test of the *pipeline* (partitioning,
batching, serialization, resume), which is what can actually break at
cluster scale.

Pipeline per page (the inference_on_images trace, SURVEY.md S3.2):
  tokenize -> [XY-cut reading order if layout page] -> score+select
  -> join block texts with '\\n' -> spans in final-text char offsets
  (the inverse-transform step, /root/reference/modeling/decoders/
  centernet_decode.py:71-91, here a 1-D prefix-sum).
"""

from __future__ import annotations

from dataclasses import dataclass

from toyocr_spark.extractor.doc import is_doc, tokenize_doc
from toyocr_spark.extractor.docx import is_docx, tokenize_docx
from toyocr_spark.extractor.epub import is_epub, tokenize_epub
from toyocr_spark.extractor.layout import reading_order
from toyocr_spark.extractor.csvleg import is_csv, tokenize_csv
from toyocr_spark.extractor.docbookleg import is_docbook, tokenize_docbook
from toyocr_spark.extractor.fb2leg import is_fb2, tokenize_fb2
from toyocr_spark.extractor.gemtextleg import is_gemtext, tokenize_gemtext
from toyocr_spark.extractor.icsleg import is_ics, tokenize_ics
from toyocr_spark.extractor.mobileg import is_mobi, tokenize_mobi
from toyocr_spark.extractor.adocleg import is_adoc, tokenize_adoc
from toyocr_spark.extractor.bibleg import is_bibtex, tokenize_bibtex
from toyocr_spark.extractor.manleg import is_man, tokenize_man
from toyocr_spark.extractor.mdocleg import is_mdoc, tokenize_mdoc
from toyocr_spark.extractor.msleg import is_ms, tokenize_ms
from toyocr_spark.extractor.ndjsonleg import is_ndjson, tokenize_ndjson
from toyocr_spark.extractor.orgleg import is_org, tokenize_org
from toyocr_spark.extractor.rstleg import is_rst, tokenize_rst
from toyocr_spark.extractor.ipynb import is_ipynb, tokenize_ipynb
from toyocr_spark.extractor.latexleg import is_latex, tokenize_latex
from toyocr_spark.extractor.markdown import is_markdown, tokenize_markdown
from toyocr_spark.extractor.subtitles import is_subtitle, tokenize_subtitles
from toyocr_spark.extractor.wikitext import is_wikitext, tokenize_wikitext
from toyocr_spark.extractor.eml import is_eml, tokenize_eml
from toyocr_spark.extractor.mbox import is_mbox, tokenize_mbox
from toyocr_spark.extractor.mhtml import is_mhtml, tokenize_mhtml
from toyocr_spark.extractor.tarleg import is_tar, tokenize_tar
from toyocr_spark.extractor.texinfoleg import is_texinfo, tokenize_texinfo
from toyocr_spark.extractor.ttmlleg import is_ttml, tokenize_ttml
from toyocr_spark.extractor.odp import is_odp, tokenize_odp
from toyocr_spark.extractor.ods import is_ods, tokenize_ods
from toyocr_spark.extractor.odt import is_odt, tokenize_odt
from toyocr_spark.extractor.pdf import is_pdf, tokenize_pdf
from toyocr_spark.extractor.poleg import is_po, tokenize_po
from toyocr_spark.extractor.ppt import is_ppt, tokenize_ppt
from toyocr_spark.extractor.psleg import is_ps, tokenize_ps
from toyocr_spark.extractor.pptx import is_pptx, tokenize_pptx
from toyocr_spark.extractor.rtf import is_rtf, tokenize_rtf
from toyocr_spark.extractor.xls import is_xls, tokenize_xls
from toyocr_spark.extractor.xlsx import is_xlsx, tokenize_xlsx
from toyocr_spark.extractor.zipleg import is_zip_bundle, tokenize_zip
from toyocr_spark.extractor.select import select_blocks
from toyocr_spark.extractor.tokenizer import tokenize

SEP = "\n"
MAX_HTML_BYTES = 4 * 1024 * 1024  # pathological-page guard (SURVEY.md S4
# spill control): truncate, never OOM an executor; truncation is itself
# deterministic so byte-identity still holds end-to-end.

GZIP_MAGIC = b"\x1f\x8b"
XZ_MAGIC = b"\xfd7zXZ\x00"
# bz2 stream = 'BZh' + level digit + the 48-bit block magic (pi) or the
# 48-bit end-of-stream magic (sqrt(pi), an empty stream). Requiring all
# ten bytes keeps a plain-text page that merely STARTS with the
# printable 'BZh9' out of the envelope path (gzip/xz magics contain
# control bytes no text page can start with; bz2's is fully printable,
# so the gate must be the whole header).
_BZ2_BLOCK = (b"\x31\x41\x59\x26\x53\x59", b"\x17\x72\x45\x38\x50\x90")


def _is_bz2(data) -> bool:
    return (
        bytes(data[:3]) == b"BZh"
        and 0x31 <= data[3] <= 0x39
        and bytes(data[4:10]) in _BZ2_BLOCK
    )


def _ungzip(data: bytes) -> tuple[bytes, bool] | None:
    """One gzip envelope, inflated with output BOUNDED by the same
    pathological-page guard as plain pages (a 1 KB bomb claiming
    gigabytes costs at most MAX_HTML_BYTES of work — the pngcodec IDAT
    discipline). Returns (payload, truncated) or None when the stream
    is malformed."""
    import zlib

    try:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out = d.decompress(data, MAX_HTML_BYTES + 1)
    except zlib.error:
        return None
    if len(out) > MAX_HTML_BYTES:
        return out[:MAX_HTML_BYTES], True
    return out, False


def _unbz2(data: bytes) -> tuple[bytes, bool] | None:
    """One bzip2 envelope (Wikipedia-dump-style payloads), same
    output-bounded contract as _ungzip."""
    import bz2

    try:
        d = bz2.BZ2Decompressor()
        out = d.decompress(data, MAX_HTML_BYTES + 1)
    except OSError:
        return None
    if len(out) > MAX_HTML_BYTES:
        return out[:MAX_HTML_BYTES], True
    return out, False


def _unxz(data: bytes) -> tuple[bytes, bool] | None:
    """One xz envelope. Output bounded like _ungzip; the decoder's
    memlimit additionally caps the LZMA dictionary a hostile header can
    demand (a filter chain declaring a 1.5 GB dictionary would
    otherwise cost that much RSS before the first output byte)."""
    import lzma

    try:
        d = lzma.LZMADecompressor(
            format=lzma.FORMAT_XZ, memlimit=64 * 1024 * 1024
        )
        out = d.decompress(data, MAX_HTML_BYTES + 1)
    except lzma.LZMAError:
        return None
    if len(out) > MAX_HTML_BYTES:
        return out[:MAX_HTML_BYTES], True
    return out, False


def _is_zlib(data) -> bool:
    """RFC 1950 header check: CM=8 (deflate), CINFO<=7, FCHECK valid,
    no preset dictionary (FDICT would need out-of-band bytes we can
    never have). Two bytes is a WEAK gate — 'x^' (0x78 0x5E) is
    printable prose a page can legally start with — so unlike
    gzip/bz2/xz the zlib gate alone never condemns a page: acceptance
    additionally requires the full adler32-verified decode in
    _unzlib, and a gate-passing-but-invalid stream falls back to
    prose dispatch (see _unwrap)."""
    if len(data) < 2:
        return False
    cmf, flg = data[0], data[1]
    return (
        (cmf & 0x0F) == 8
        and (cmf >> 4) <= 7
        and ((cmf << 8) | flg) % 31 == 0
        and (flg & 0x20) == 0
    )


def _unzlib(data: bytes) -> tuple[bytes, bool] | None:
    """One zlib envelope (HTTP `Content-Encoding: deflate` residue —
    RFC 9110 deflate means RFC 1950 zlib). Output bounded like
    _ungzip, but STRICTER acceptance: the stream must reach eof (the
    trailing adler32 checked) unless the output bound was hit, because
    the 2-byte header gate has real false positives on prose. Raw
    (headerless) deflate — the famous misconfigured-server variant —
    has no magic at all and is a documented non-goal: with bodies
    only (no Content-Encoding header column) it is unsniffable."""
    import zlib

    try:
        d = zlib.decompressobj(zlib.MAX_WBITS)
        out = d.decompress(data, MAX_HTML_BYTES + 1)
    except zlib.error:
        return None
    if len(out) > MAX_HTML_BYTES:
        return out[:MAX_HTML_BYTES], True
    if not d.eof:
        return None
    return out, False


def _envelope_codec(data):
    """The transfer-encoding codec whose magic starts `data`, or None."""
    head = bytes(data[:6])
    if head[:2] == GZIP_MAGIC:
        return _ungzip
    if head == XZ_MAGIC:
        return _unxz
    if len(data) >= 10 and _is_bz2(data):
        return _unbz2
    if _is_zlib(data):
        return _unzlib
    return None


@dataclass(frozen=True)
class ExtractResult:
    text: str
    spans: tuple[tuple[int, int, str], ...]  # (start, end, kind) per block
    n_blocks: int  # total tokenized blocks
    n_kept: int  # blocks in the extracted text
    truncated: bool


_EMPTY = ExtractResult("", (), 0, 0, False)


# The dispatch order is the contract: the first row whose gate claims the
# page tokenizes it. A `fall_through` row whose tokenizer returns no
# blocks (mangled XML, or markup merely quoting the root tag) hands the
# page on to the next row instead of zeroing it. Rows hold NAMES, looked
# up in this module's globals on every call, so a rebound global (a
# timer wrapped around a leg) is the function that runs.
_LEGS = (
    ("is_pdf", "tokenize_pdf", False),
    ("is_ps", "tokenize_ps", False),  # PDF's ancestor grammar
    ("is_rtf", "tokenize_rtf", False),
    ("is_docx", "tokenize_docx", False),
    ("is_xlsx", "tokenize_xlsx", False),
    ("is_pptx", "tokenize_pptx", False),
    ("is_epub", "tokenize_epub", False),
    ("is_odt", "tokenize_odt", False),
    ("is_ods", "tokenize_ods", False),
    ("is_odp", "tokenize_odp", False),
    ("is_doc", "tokenize_doc", False),
    ("is_xls", "tokenize_xls", False),
    ("is_ppt", "tokenize_ppt", False),
    # after every specific zip container (OOXML trio, EPUB, ODF trio):
    # what remains with PK magic is a generic bundle, walked like tar
    ("is_zip_bundle", "tokenize_zip", False),
    ("is_mhtml", "tokenize_mhtml", False),
    # the mail container before the single message: an asctime postmark
    # first line has no colon, so no header-shaped gate can claim it
    ("is_mbox", "tokenize_mbox", False),
    # after MHTML: multipart/related outranks mail
    ("is_eml", "tokenize_eml", False),
    ("is_tar", "tokenize_tar", False),
    ("is_mobi", "tokenize_mobi", False),  # 'BOOKMOBI' at offset 60
    ("is_ics", "tokenize_ics", False),  # mandated BEGIN:VCALENDAR line
    # the '<'-led XML family, each gate anchored on its root element
    ("is_fb2", "tokenize_fb2", True),
    ("is_docbook", "tokenize_docbook", True),
    ("is_ttml", "tokenize_ttml", True),
    # HTML fast path: every gate below rejects a '<' first significant
    # byte, so a markup-led page (the dominant crawl case) skips their
    # 4 KB head decodes. BOM-led pages keep the full chain.
    ("_markup_led", "tokenize", False),
    # near-magic sniffs outrank the no-magic structural ones below
    ("is_subtitle", "tokenize_subtitles", False),  # WEBVTT / SRT opener
    ("is_man", "tokenize_man", False),  # mandated .TH
    ("is_mdoc", "tokenize_mdoc", False),  # .Dd, never in man(7)
    ("is_ms", "tokenize_ms", False),  # .TL, never in man or mdoc
    # '{'-led JSON: a notebook's markdown cells must never reach the
    # markdown leg, and a notebook is never read as JSON Lines
    ("is_ipynb", "tokenize_ipynb", False),
    ("is_ndjson", "tokenize_ndjson", False),
    # no-magic structural sniffs, each anchored on a construct that
    # markdown, CSV and prose do not carry, so they outrank those two
    ("is_latex", "tokenize_latex", False),  # \documentclass first line
    ("is_adoc", "tokenize_adoc", False),  # '= Title' first line
    ("is_org", "tokenize_org", False),  # '#+KEYWORD:' lines
    ("is_texinfo", "tokenize_texinfo", False),  # '\input texinfo'
    ("is_bibtex", "tokenize_bibtex", False),  # '@type{key,' heads
    ("is_po", "tokenize_po", False),  # paired msgid/msgstr
    ("is_gemtext", "tokenize_gemtext", False),  # '=>' link lines
    ("is_wikitext", "tokenize_wikitext", False),  # == Heading == + links
    # an rst-exclusive marker keeps setext-Markdown READMEs out
    ("is_rst", "tokenize_rst", False),
    # markdown and CSV have no magic, so they come last; a pipe table
    # inside a README stays markdown
    ("is_markdown", "tokenize_markdown", False),
    ("is_csv", "tokenize_csv", False),
)


def _markup_led(html: bytes | str) -> bool:
    """True when the first significant character is '<'."""
    if isinstance(html, str):
        return html[:256].lstrip()[:1] == "<"
    return bytes(html[:256]).lstrip()[:1] == b"<"


def dispatch_blocks(html: bytes | str) -> list:
    """Format dispatch (the north rule's "HTML boilerplate strip,
    PDF/layout parse"): the first `_LEGS` row whose gate claims the page
    tokenizes it, and a page no row claims is HTML. Everything
    downstream (XY-cut, scoring, islands) is shared. Shared by _run and
    the tar/zip member walks (each member re-enters once)."""
    names = globals()
    for gate, tokenizer, fall_through in _LEGS:
        if names[gate](html):
            blocks = names[tokenizer](html)
            if blocks or not fall_through:
                return blocks
    return tokenize(html)


def _unwrap(data, depth: int) -> tuple[bytes | str, bool] | None:
    """Strip up to `depth` transfer envelopes (any mix of gzip/bz2/xz/
    zlib): crawls carry bodies stored still compressed. Returns
    (payload, truncated), or None for a corrupt envelope. gzip/bz2/xz
    magics are unforgeable, so their failed decode is a corrupt
    envelope; the 2-byte zlib gate is forgeable by prose, so its failed
    decode means "never was an envelope" and the bytes pass through as
    they are. Stops early on an empty payload. `_envelope_codec` and
    `_unzlib` are read from the module globals at call time (see
    `_LEGS`)."""
    truncated = False
    while depth and isinstance(data, (bytes, bytearray)):
        codec = _envelope_codec(data)
        if codec is None:
            break
        unz = codec(bytes(data))
        if unz is None:
            if codec is _unzlib:
                break
            return None
        data, t = unz
        truncated = truncated or t
        depth -= 1
        if len(data) == 0:
            break
    return data, truncated


def _run(html: bytes | str | None, selector) -> ExtractResult:
    if html is None or len(html) == 0:
        return _EMPTY
    unwrapped = _unwrap(html, 2)
    if unwrapped is None or len(unwrapped[0]) == 0:
        return _EMPTY  # the container quiet-skip contract
    html, truncated = unwrapped
    if len(html) > MAX_HTML_BYTES:
        html = html[:MAX_HTML_BYTES]
        truncated = True
    blocks = dispatch_blocks(html)
    if not blocks:
        return ExtractResult("", (), 0, 0, truncated)
    ordered = reading_order(blocks)
    if ordered is not blocks:
        for i, b in enumerate(ordered):
            b.ordinal = i
    kept = selector(ordered)
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for b in kept:
        if parts:
            pos += len(SEP)
        start = pos
        parts.append(b.text)
        pos += len(b.text)
        spans.append((start, pos, b.kind))
    return ExtractResult(SEP.join(parts), tuple(spans), len(blocks), len(kept), truncated)


def extract(html: bytes | str | None) -> ExtractResult:
    """Pure function of the page bytes. No RNG, no global state.
    THE frozen kernel: selector is the density rule set, always."""
    return _run(html, select_blocks)


def extract_with(html: bytes | str | None, strategy: str) -> ExtractResult:
    """Registry-dispatched variant (the META_ARCH_REGISTRY graft —
    see extractor/registry.py). strategy='density' is byte-identical
    to extract()."""
    from toyocr_spark.extractor.registry import get_extractor

    return _run(html, get_extractor(strategy))
