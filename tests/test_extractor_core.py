"""Unit tests for the frozen extraction kernel (no Spark).

Mirrors the reference's format-validation-as-test approach
(/root/reference/evaluation/rrc_evaluation_funcs.py:95-126): every
invariant the pipeline depends on is asserted at the kernel level.
"""

from __future__ import annotations

from toyocr_spark.extractor import extract
from toyocr_spark.extractor.layout import reading_order
from toyocr_spark.extractor.select import select_blocks
from toyocr_spark.extractor.tokenizer import tokenize
from toyocr_spark.fixtures import gen_pages


def test_empty_and_none():
    assert extract(b"").text == ""
    assert extract(None).text == ""
    assert extract(b"<html><body></body></html>").text == ""


def test_strips_script_style_comments():
    h = b"<html><body><p>Keep this paragraph of content words here okay.</p><script>drop();</script><style>p{}</style><!-- drop --></body></html>"
    r = extract(h)
    assert "drop" not in r.text
    assert r.text == "Keep this paragraph of content words here okay."


def test_entities_and_unicode():
    h = "<html><body><p>café &amp; bar &#8212; 中文 content of this block</p></body></html>".encode()
    r = extract(h)
    assert "café & bar — 中文" in r.text


def test_whitespace_collapsed():
    h = b"<html><body><p>a  lot \n\t of   spaced words in this one block here</p></body></html>"
    assert "  " not in extract(h).text


def test_link_dense_block_rejected():
    nav = b"<ul>" + b"".join(
        b'<li><a href="/x">menu item</a></li>' for _ in range(8)
    ) + b"</ul>"
    h = b"<html><body>" + nav + b"<p>Real content sentence with enough words to pass the scorer easily.</p></body></html>"
    r = extract(h)
    assert "menu item" not in r.text
    assert r.text.startswith("Real content")


def test_boilerplate_tag_paths_rejected():
    h = (
        b"<html><body><nav><p>short nav text</p></nav>"
        b"<header><p>site header words</p></header>"
        b"<article><p>The actual main body of the page with plenty of words to keep.</p></article>"
        b"<footer><p>copyright footer line</p></footer></body></html>"
    )
    r = extract(h)
    assert r.text == "The actual main body of the page with plenty of words to keep."


def test_spans_cover_text_exactly():
    pages = gen_pages(60, seed=3)
    for p in pages:
        r = extract(p.html)
        # spans tile the text with single-\n separators (D5 prefix-sum)
        rebuilt = "\n".join(r.text[s:e] for s, e, _ in r.spans)
        assert rebuilt == r.text
        for s, e, _k in r.spans:
            assert 0 <= s < e <= len(r.text)


def test_determinism_repeated_calls():
    pages = gen_pages(30, seed=9)
    for p in pages:
        a, b = extract(p.html), extract(bytes(p.html))
        assert a.text == b.text and a.spans == b.spans


def test_generator_oracle_agreement():
    """The quality gate: on non-pathological grammar pages the kernel
    recovers exactly the generator-intended main content."""
    for seed in (1, 42):
        pages = gen_pages(250, seed=seed)
        for p in pages:
            if p.expected_main is not None:
                assert extract(p.html).text == p.expected_main, p.url


def test_generator_oracle_agreement_office_formats():
    """The quality gate extended across every dispatch leg: on
    office/container pages (docx/xlsx/pptx/epub/rtf/doc/mht/odt
    cycling randomly) the kernel recovers EXACTLY the generator-
    intended main content — format-native chrome (header/footer/notes
    parts, nav fields, numeral sheets, inline ODF notes, MIME resource
    parts) all dropped."""
    for seed in (3, 42):
        pages = gen_pages(200, seed=seed, office_frac=0.6)
        offices = [p for p in pages if p.kind == "office"]
        assert len(offices) > 80  # the mix really exercises the legs
        for p in pages:
            if p.expected_main is not None:
                assert extract(p.html).text == p.expected_main, p.url


def test_mixed_format_corpus_pipeline_identity(spark, tmp_path):
    """End-to-end: a corpus cycling ALL TEN formats (HTML article/
    layout/pathological, PDF incl. encrypted, docx, xlsx, pptx, epub,
    rtf, legacy .doc, .mht, .odt), a third of it behind gzip
    transfer-encoding envelopes, through the full resumable pipeline —
    byte-identity 1.0 and a second run that executes nothing."""
    from toyocr_spark.fixtures import write_pages_parquet
    from toyocr_spark.pipeline import identity_report, read_result, resumable_run
    from toyocr_spark.sources import read_pages

    src = str(tmp_path / "mixed_pages")
    out = str(tmp_path / "mixed_out")
    n = write_pages_parquet(
        src,
        n=180,
        seed=1234,
        office_frac=0.45,
        pdf_frac=0.1,
        encrypt_frac=0.5,
        gzip_frac=0.33,
    )
    pages = read_pages(spark, src)
    first = resumable_run(spark, pages, out, n_chunks=4)
    assert first["executed"] == [0, 1, 2, 3]
    rep = identity_report(read_result(spark, out), pages).collect()[0]
    assert rep["pass_rate"] == 1.0 and rep["n_urls"] == n
    again = resumable_run(spark, pages, out, n_chunks=4)
    assert again["executed"] == [] and again["skipped"] == [0, 1, 2, 3]


def test_truncation_guard():
    from toyocr_spark.extractor.core import MAX_HTML_BYTES

    big = b"<html><body><p>" + b"word " * (MAX_HTML_BYTES // 4) + b"</p></body></html>"
    r = extract(big)
    assert r.truncated
    assert len(r.text) > 0


def test_xycut_reading_order():
    blocks = tokenize(
        "<html><body>"
        '<div style="position:absolute;left:400px;top:100px;width:200px;height:50px">right col top block text</div>'
        '<div style="position:absolute;left:50px;top:120px;width:200px;height:50px">left col bottom block text</div>'
        '<div style="position:absolute;left:50px;top:40px;width:200px;height:50px">left col top block text</div>'
        "</body></html>"
    )
    ordered = reading_order(blocks)
    texts = [b.text for b in ordered]
    assert texts == [
        "left col top block text",
        "left col bottom block text",
        "right col top block text",
    ]


def test_island_absorbs_short_gap():
    h = (
        b"<html><body><article>"
        b"<p>First long paragraph with plenty of real words to be kept by scoring.</p>"
        b"<p>tiny</p>"  # short reject, absorbable
        b"<p>Second long paragraph with plenty of real words to be kept as well.</p>"
        b"</article></body></html>"
    )
    r = extract(h)
    assert "tiny" in r.text and r.n_kept == 3


def test_hard_boundary_splits_islands():
    ad = b'<div><a href="/ad">click this advert now</a></div>'
    h = (
        b"<html><body>"
        b"<p>First long paragraph with plenty of real words to be kept by scoring.</p>" + ad +
        b"<p>Second long paragraph with plenty of real words to be kept as well.</p>"
        b"</body></html>"
    )
    r = extract(h)
    assert "advert" not in r.text and r.n_kept == 2


def test_select_empty():
    assert select_blocks([]) == []


def test_charset_sniffing_decodes_non_utf8():
    """Latin-1/cp1252 via <meta charset>, utf-16 via BOM: the accented
    main text must survive decode verbatim (mojibake would fail the
    containment check). VERDICT round-1 missing #1."""
    from toyocr_spark.extractor import extract

    body = "<article><h2>Any Title Words Here</h2><p>café Zürich désormais règle.</p></article>"
    cases = [
        (f'<html><head><meta charset="iso-8859-1"></head><body>{body}</body></html>'.encode("latin-1")),
        (f'<html><head><meta charset="windows-1252"></head><body>{body}</body></html>'.encode("cp1252")),
        (f"<html><body>{body}</body></html>".encode("utf-16")),  # LE BOM
        (f"<html><body>{body}</body></html>".encode("utf-16-be")),  # no BOM via codec
    ]
    # utf-16-be without BOM is undetectable by design; prepend the BOM
    cases[3] = b"\xfe\xff" + cases[3]
    for raw in cases:
        txt = extract(raw).text
        assert "café Zürich désormais règle." in txt, raw[:40]
    # meta-declared charset inside html-escaped text must not trigger
    # (regex runs on raw head bytes only; also: unknown labels fall back)
    fallback = '<html><head><meta charset="no-such-enc"></head><body><p>plain ascii body here okay.</p></body></html>'.encode()
    assert "plain ascii body here okay." in extract(fallback).text


def test_charset_fixture_identity(spark, tmp_path):
    """End-to-end: a fixture set containing charset-variant pages must
    extract byte-identically (oracle co-evolves by construction) AND
    the charset pages' accented content must appear in the output."""
    from toyocr_spark.fixtures import write_pages_parquet
    from toyocr_spark.fixtures.genpages import gen_pages
    from toyocr_spark.pipeline import extract_pages, identity_report
    from toyocr_spark.sources import read_pages

    d = str(tmp_path / "charset_pages")
    write_pages_parquet(d, n=120, seed=555, charset_frac=0.5)
    kinds = [p.kind for p in gen_pages(n=120, seed=555, charset_frac=0.5)]
    assert kinds.count("charset") > 20  # the variant actually fires
    pages = read_pages(spark, d)
    rep = identity_report(extract_pages(pages), pages).collect()[0]
    assert rep["pass_rate"] == 1.0 and rep["n_urls"] == 120


def test_gzip_envelope_strips_before_dispatch():
    """Transfer-encoding residue: a gzip-wrapped page extracts
    byte-identically to its plain twin through EVERY dispatch path
    (HTML and PDF), one and two envelopes deep; a third envelope is
    past the strip budget (deterministic, not an error); malformed
    streams and bombs obey the quiet-skip / bounded-work contracts."""
    import gzip

    from toyocr_spark.extractor.core import MAX_HTML_BYTES
    from toyocr_spark.fixtures.genpdf import build_pdf, paragraph_ops, text_stream

    html = (
        b"<html><body><nav><a href='/a'>one link</a><a href='/b'>two</a></nav>"
        b"<article><p>A real paragraph with enough content words to keep "
        b"for the density scorer to accept it.</p></article></body></html>"
    )
    pdf = build_pdf(
        [text_stream([paragraph_ops(72, 740, 11, 13, ["pdf body line", "two"])])]
    )
    for plain in (html, pdf):
        want = extract(plain)
        assert want.text  # the fixture must be non-trivial
        one = gzip.compress(plain, 9, mtime=0)
        two = gzip.compress(one, 9, mtime=0)
        assert extract(one) == want
        assert extract(two) == want
        # three envelopes: two strips leave gzip bytes -> the HTML
        # tokenizer sees binary, deterministically
        three = gzip.compress(two, 9, mtime=0)
        assert extract(three) == extract(three)

    # malformed stream: quiet-skip to the empty result, deterministic
    broken = bytearray(gzip.compress(html, 9, mtime=0))
    broken[12] ^= 0xFF
    assert extract(bytes(broken)).text == ""
    assert extract(b"\x1f\x8b") .text == ""

    # bomb: tiny input claiming >MAX output does bounded work and
    # reports truncation
    bomb = gzip.compress(b"<p>x</p>" + b" " * (MAX_HTML_BYTES + 2_000_000), 9, mtime=0)
    assert len(bomb) < 8_000_000
    r = extract(bomb)
    assert r.truncated

    # an empty payload is the empty result
    assert extract(gzip.compress(b"", 9, mtime=0)).text == ""
    # raw-deflate bytes that happen to start 1f 8b are vanishingly
    # unlikely, but a gzip header with a deflate error must not raise
    assert extract(b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\x03garbage").text == ""


def test_bz2_xz_envelopes_strip_before_dispatch():
    """The other two dump/transfer codecs (bz2, xz) strip exactly like
    gzip: byte-identity through single, double, and MIXED double
    envelopes; malformed streams quiet-skip; bombs do bounded work;
    and a plain-text page that merely STARTS with the printable 'BZh9'
    is NOT treated as an envelope (the 10-byte bz2 gate)."""
    import bz2
    import gzip
    import lzma

    from toyocr_spark.extractor.core import MAX_HTML_BYTES

    html = (
        b"<html><body><nav><a href='/a'>one link</a><a href='/b'>two</a></nav>"
        b"<article><p>A real paragraph with enough content words to keep "
        b"for the density scorer to accept it.</p></article></body></html>"
    )
    want = extract(html)
    assert want.text

    xz = lambda b: lzma.compress(b, format=lzma.FORMAT_XZ)  # noqa: E731
    for comp in (lambda b: bz2.compress(b, 9), xz):
        assert extract(comp(html)) == want
        assert extract(comp(comp(html))) == want
    # mixed nesting, both orders, plus gzip-over-bz2
    assert extract(xz(bz2.compress(html, 9))) == want
    assert extract(bz2.compress(xz(html), 9)) == want
    assert extract(gzip.compress(bz2.compress(html, 9), 9, mtime=0)) == want

    # malformed: flip a byte past the header -> quiet-skip, deterministic
    for blob in (bz2.compress(html, 9), xz(html)):
        broken = bytearray(blob)
        broken[16] ^= 0xFF
        assert extract(bytes(broken)).text == ""
    # bare magics must not raise
    assert extract(b"\xfd7zXZ\x00").text == ""
    assert extract(b"BZh9\x31\x41\x59\x26\x53\x59").text == ""

    # a text page starting with printable 'BZh9' is NOT an envelope:
    # the 48-bit block magic cannot follow in real prose
    prose = (
        b"<html><body><article><p>BZh9 is how every bzip2 stream begins, "
        b"a fact worth keeping in the extracted text.</p></article>"
        b"</body></html>"
    )
    assert b"BZh9" in prose[:200] and extract(prose).text.startswith("BZh9 is")
    # ...and even raw prose bytes starting exactly 'BZh9' stay prose
    raw = b"BZh9 begins bzip2 streams " + prose
    assert extract(raw).text  # tokenized as markup/text, not emptied

    # bombs: tiny inputs claiming >MAX output do bounded work
    filler = b"<p>x</p>" + b" " * (MAX_HTML_BYTES + 2_000_000)
    for comp in (lambda b: bz2.compress(b, 9), xz):
        bomb = comp(filler)
        assert len(bomb) < 8_000_000
        assert extract(bomb).truncated

    # empty payloads are the empty result
    assert extract(bz2.compress(b"", 9)).text == ""
    assert extract(xz(b"")).text == ""


def test_zlib_deflate_envelope_strips_before_dispatch():
    """HTTP `Content-Encoding: deflate` residue is RFC 1950 zlib; it
    strips exactly like gzip — but its 2-byte header gate is forgeable
    by prose ('x^' = 0x78 0x5E passes the FCHECK), so acceptance
    requires the adler32-verified decode and a gate-passing-but-
    invalid stream falls back to PROSE dispatch, never quiet-skips."""
    import bz2
    import gzip
    import zlib

    from toyocr_spark.extractor.core import MAX_HTML_BYTES, _is_zlib

    html = (
        b"<html><body><nav><a href='/a'>one link</a><a href='/b'>two</a></nav>"
        b"<article><p>A real paragraph with enough content words to keep "
        b"for the density scorer to accept it.</p></article></body></html>"
    )
    want = extract(html)
    assert want.text

    z = lambda b: zlib.compress(b, 9)  # noqa: E731
    assert extract(z(html)) == want
    assert extract(z(z(html))) == want
    # mixed nesting with the unforgeable-magic codecs, both orders
    assert extract(gzip.compress(z(html), 9, mtime=0)) == want
    assert extract(z(gzip.compress(html, 9, mtime=0))) == want
    assert extract(bz2.compress(z(html), 9)) == want

    # prose that merely starts with a valid zlib header ('x^') stays
    # prose: the decode fails, and zlib failures fall back to dispatch
    prose = (
        b"x^ marks a curious byte pair <html><body><article><p>that any "
        b"page may legally begin with, and it must stay readable text "
        b"for the density scorer to keep.</p></article></body></html>"
    )
    assert _is_zlib(prose)
    got = extract(prose)
    assert "marks a curious byte pair" in got.text or got.n_blocks > 0

    # a TRUNCATED genuine zlib stream never reaches eof -> also prose
    # fallback (deterministic; the junk bytes tokenize to little/nothing)
    cut = z(html)[: len(z(html)) // 2]
    if _is_zlib(cut):
        extract(cut)  # must not raise; either empty or junk, never crash

    # a corrupted-tail stream (valid header, broken adler32) -> prose
    # fallback, not quiet-skip
    broken = bytearray(z(html))
    broken[-2] ^= 0xFF
    extract(bytes(broken))  # must not raise

    # FDICT bit set -> not an envelope (we can never have the dict)
    assert not _is_zlib(b"\x78\xbb" + b"\x00" * 16)

    # bomb: tiny input claiming >MAX output does bounded work
    filler = b"<p>x</p>" + b" " * (MAX_HTML_BYTES + 2_000_000)
    bomb = z(filler)
    assert len(bomb) < 8_000_000
    assert extract(bomb).truncated

    # empty payload is the empty result
    assert extract(z(b"")).text == ""


def test_tokenizer_block_state_semantics():
    """Pin the flush/reset semantics the locals-based tokenizer must
    preserve: recorded tag path = path at the last block-tag event,
    counter and box resets on empty-collapse flushes, '<' fragments in
    the final element, and link-char accounting inside anchors."""
    from toyocr_spark.extractor.tokenizer import tokenize

    # path recorded at block START, not at flush: the <li> content gets
    # path (html, body, ul, li) even though </li></ul> close before EOF
    blocks = tokenize(b"<html><body><ul><li>item one</li></ul></body></html>")
    assert [(b.text, b.tag_path[-1], b.kind) for b in blocks] == [
        ("item one", "li", "list")
    ]

    # whitespace-only run flushes empty -> counters must reset, the next
    # block must not inherit the anchor's n_inline/link_chars
    blocks = tokenize(
        b"<div><a href='/x'>nav</a></div><div>   \t</div><div>plain text</div>"
    )
    assert [(b.text, b.link_chars, b.n_inline) for b in blocks] == [
        ("nav", 3, 1),
        ("plain text", 0, 0),
    ]

    # '<' with no '>' after it lands in the FINAL element: fragments
    # between '<'s are separate pieces concatenated with NO inserted
    # separator (the original char-walk skipped just the '<' bytes)
    blocks = tokenize(b"<p>tail a<b 1<c 2")
    assert [b.text for b in blocks] == ["tail ab 1c 2"]

    # ordinals number only emitted blocks, in document order
    blocks = tokenize(b"<p>one</p><p> </p><p>two</p>")
    assert [(b.ordinal, b.text) for b in blocks] == [(0, "one"), (1, "two")]


def test_str_page_extracts_like_its_utf8_bytes():
    """extract() takes str as well as bytes: a str page dispatches like
    its UTF-8 encoding (markup, prose, and JSON Lines, the one text leg
    whose gate reads str)."""
    pages = [
        "<html><body><h1>Str page title</h1><p>A markup page passed as str "
        "with enough words in it for the scorer to keep.</p></body></html>",
        "Plain prose page with no markup at all, just sentences long enough "
        "for the density scorer to keep them.",
        '{"title": "A record", "text": "First JSON Lines record with enough prose to keep."}\n'
        '{"title": "B", "text": "Second record body prose that is long enough to keep."}\n',
    ]
    for s in pages:
        r = extract(s)
        assert r.text
        assert r == extract(s.encode())
