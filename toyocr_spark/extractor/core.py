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
    prose dispatch (see the loop in _run)."""
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


def dispatch_blocks(html: bytes | str) -> list:
    """Magic-byte format dispatch (the north rule's "HTML boilerplate
    strip, PDF/layout parse"): PDFs tokenize via the content-stream
    machine, OOXML containers via the OPC walks (WordprocessingML
    .docx, SpreadsheetML .xlsx); everything downstream — XY-cut,
    scoring, islands — is shared. Existing HTML behavior is untouched
    (no HTML page starts with %PDF- or PK\\x03\\x04), so the frozen
    kernel's byte-identity contract holds. Shared by _run and the tar
    archive walk (each member re-enters the same chain once)."""
    if is_pdf(html):
        return tokenize_pdf(html)
    if is_ps(html):
        # PDF's ancestor grammar, same positioned-block product
        return tokenize_ps(html)
    if is_rtf(html):
        return tokenize_rtf(html)
    if is_docx(html):
        return tokenize_docx(html)
    if is_xlsx(html):
        return tokenize_xlsx(html)
    if is_pptx(html):
        return tokenize_pptx(html)
    if is_epub(html):
        return tokenize_epub(html)
    if is_odt(html):
        return tokenize_odt(html)
    if is_ods(html):
        return tokenize_ods(html)
    if is_odp(html):
        return tokenize_odp(html)
    if is_doc(html):
        return tokenize_doc(html)
    if is_xls(html):
        return tokenize_xls(html)
    if is_ppt(html):
        return tokenize_ppt(html)
    if is_zip_bundle(html):
        # AFTER every specific zip container (OOXML trio, EPUB, ODF
        # trio): what remains with PK magic is a generic bundle (site
        # export, dataset dump) — walked like tar, never lossy-decoded
        return tokenize_zip(html)
    if is_mhtml(html):
        return tokenize_mhtml(html)
    if is_mbox(html):
        # the mail family's CONTAINER, before the single message: an
        # asctime postmark first line (no colon — structurally
        # disjoint from every header-shaped gate) + mail headers
        return tokenize_mbox(html)
    if is_eml(html):
        # after MHTML (multipart/related outranks mail): header-shaped
        # first line + line-anchored From/Subject/Date headers — the
        # block prose cannot fake
        return tokenize_eml(html)
    if is_tar(html):
        return tokenize_tar(html)
    if is_mobi(html):
        # PDB type/creator 'BOOKMOBI' at offset 60 is a true 8-byte
        # magic (Kindle-era e-books, the twenty-eighth leg): container
        # strip + PalmDOC decompress, then the HTML re-enters the
        # shared tokenizer
        return tokenize_mobi(html)
    if is_ics(html):
        # near-magic: RFC 5545 mandates BEGIN:VCALENDAR as the first
        # line — prose cannot start with it (the WEBVTT rule)
        return tokenize_ics(html)
    if is_fb2(html):
        # a FictionBook ROOT element (after prologue/comments) is a
        # de-facto magic for the '<'-led family: no other dispatched
        # format names its root that (e-book XML, the twenty-seventh
        # leg). If the gate matched but nothing tokenized (mangled
        # XML, or markup merely leading with the quoted tag), fall
        # through to the HTML tokenizer rather than zero the page.
        fb2 = tokenize_fb2(html)
        if fb2:
            return fb2
    if is_docbook(html):
        # root-anchored '<'-led gate (the FictionBook rule): the root
        # element must BE a DocBook division with DocBook evidence in
        # the head; malformed XML tokenizes empty and falls through
        # to the HTML tokenizer rather than zeroing the page
        db = tokenize_docbook(html)
        if db:
            return db
    if is_ttml(html):
        # namespace-anchored <tt> root (the fb2/docbook rule):
        # broadcast caption XML; malformed XML tokenizes empty and
        # falls through to the HTML tokenizer
        tt = tokenize_ttml(html)
        if tt:
            return tt
    lead = bytes(html[:256]).lstrip()
    if lead[:1] == b"<":
        # HTML fast path (a pure short-circuit, not a behavior
        # change): every remaining gate rejects a '<' first
        # significant byte — subtitles demand WEBVTT/a digit line,
        # ipynb/ndjson demand '{', latex/texinfo a backslash line,
        # man/mdoc/org/wikitext/rst/adoc/markdown/csv all test and
        # reject '<' explicitly — so a markup-led page (the dominant
        # crawl case) skips ~14 gates' 4 KB head decodes and goes
        # straight to the HTML tokenizer. BOM-led pages keep the
        # full chain (the gates see the BOM differently).
        return tokenize(html)
    if is_subtitle(html):
        # near-magic sniffs: WebVTT's mandated "WEBVTT" header is a
        # de-facto magic; SRT's counter+timing two-line opener is
        # structure prose cannot fake — both outrank the weaker
        # structural sniffs below
        return tokenize_subtitles(html)
    if is_man(html):
        # near-magic: man(7) mandates .TH as the first macro, and the
        # line-anchored dot-macro surface is structure prose cannot
        # fake — outranks every no-magic structural sniff below
        return tokenize_man(html)
    if is_mdoc(html):
        # the BSD half of the manual-page family: mdoc mandates the
        # .Dd prologue macro man(7) pages never carry, so the two
        # near-magic gates are disjoint by construction
        return tokenize_mdoc(html)
    if is_ms(html):
        # the troff trio's third mandated macro: papers lead with
        # .TL, which .TH-gated man and .Dd-gated mdoc never carry
        return tokenize_ms(html)
    if is_ipynb(html):
        # JSON-structured: '{'-led head carrying the nbformat keys.
        # Runs before markdown so a notebook whose markdown cells
        # hold ATX headings can never leak to the markdown leg.
        return tokenize_ipynb(html)
    if is_ndjson(html):
        # JSON-Lines dataset shards ('{'-led first line = complete
        # object with a text-ish string field) — after ipynb so a
        # notebook never leaks, before every non-'{' structural sniff
        # (the twenty-ninth leg)
        return tokenize_ndjson(html)
    if is_latex(html):
        # first of the no-magic structural sniffs: the gate demands a
        # \documentclass-shaped first significant line, which no
        # markdown/CSV/prose page has, so it outranks both. ArXiv
        # .tex-in-.tar bundles reach here via the tar member walk.
        return tokenize_latex(html)
    if is_adoc(html):
        # second no-magic structural sniff, anchored at the FIRST
        # significant line ('= Title', the AsciiDoc doc-header
        # convention no other dispatched format leads with) plus
        # section/attribute/delimiter evidence
        return tokenize_adoc(html)
    if is_org(html):
        # anchored no-magic sniff: line-anchored '#+KEYWORD:' lines
        # ('#'-led but never ATX — '#'+non-space fails markdown's
        # heading gate) are org-exclusive, so cross-claims are
        # impossible in either direction
        return tokenize_org(html)
    if is_texinfo(html):
        # de-facto magic: every conforming Texinfo file begins with
        # the '\input texinfo' bootstrap line (disjoint from latex's
        # \documentclass-led gate)
        return tokenize_texinfo(html)
    if is_bibtex(html):
        # line-anchored @type{key, entry heads are bib-exclusive;
        # titles + abstracts are the prose a corpus wants
        return tokenize_bibtex(html)
    if is_po(html):
        # paired line-anchored msgid/msgstr keywords are PO-exclusive;
        # translated, non-fuzzy msgstr prose is the content
        return tokenize_po(html)
    if is_gemtext(html):
        # '=>' link lines are gemtext-exclusive (fence-aware count),
        # so the capsule gate outranks the weaker heading sniffs
        return tokenize_gemtext(html)
    if is_wikitext(html):
        # third no-magic structural sniff: == Heading == lines plus
        # wikilink/template evidence — constructs neither markdown
        # (ATX-gated) nor prose carries, so it outranks both
        return tokenize_wikitext(html)
    if is_rst(html):
        # fourth no-magic structural sniff: an underlined section title
        # plus at least one rst-EXCLUSIVE marker (directive / field
        # list / '::' literal intro / `x <u>`_ reference) — the
        # exclusivity clause keeps setext-Markdown READMEs out, so
        # this may safely outrank the ATX-gated markdown sniff
        return tokenize_rst(html)
    if is_markdown(html):
        # LAST gates before the HTML fallback: markdown and CSV have
        # no magic, so every tagged/binary format wins first and the
        # structural-evidence sniffs (extractor/markdown.py,
        # extractor/csvleg.py) only claim pages that previously fell
        # through to the one-big-text-block path. Markdown outranks
        # CSV: a pipe table inside a README stays markdown.
        return tokenize_markdown(html)
    if is_csv(html):
        return tokenize_csv(html)
    return tokenize(html)


def _run(html: bytes | str | None, selector) -> ExtractResult:
    if html is None or len(html) == 0:
        return _EMPTY
    truncated = False
    # transfer-encoding residue: crawls carry bodies stored still
    # compressed (Content-Encoding survived the capture, or the page
    # came out of a bz2/xz dump shard). Strip up to two envelopes —
    # any mix of gzip/bz2/xz — before dispatch; every inflate is
    # output-bounded above, malformed streams yield the empty result
    # deterministically (the container quiet-skip contract), and no
    # real format starts with any of the three magics so existing
    # byte-identity is untouched.
    envelopes = 0
    while isinstance(html, (bytes, bytearray)) and envelopes < 2:
        codec = _envelope_codec(html)
        if codec is None:
            break
        unz = codec(bytes(html))
        if unz is None:
            # gzip/bz2/xz magics are unforgeable, so a failed decode
            # means a genuinely corrupt envelope: quiet-skip. The
            # 2-byte zlib gate is forgeable by prose, so its failure
            # means "never was an envelope": dispatch the bytes as-is.
            if codec is _unzlib:
                break
            return _EMPTY
        html, t = unz
        truncated = truncated or t
        envelopes += 1
        if len(html) == 0:
            return _EMPTY
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
