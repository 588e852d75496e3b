"""Real-PDF leg of the extraction kernel: content-stream text machine,
XY-cut layout ordering, fixture round-trip, and pipeline identity."""

from __future__ import annotations

import random
import re

from toyocr_spark.extractor import extract
from toyocr_spark.extractor.pdf import is_pdf, tokenize_pdf
from toyocr_spark.fixtures.genpages import _pdf_page, gen_pages
from toyocr_spark.fixtures.genpdf import build_pdf, paragraph_ops, text_stream


def _one(ops: str, compress: bool = True) -> bytes:
    return build_pdf([text_stream([ops])], compress=compress)


def test_magic_dispatch():
    assert is_pdf(b"%PDF-1.4 ...")
    assert not is_pdf(b"<html>") and not is_pdf("%PDF-1.4") and not is_pdf(None)
    # an HTML page containing the literal text "%PDF-" is NOT a pdf
    assert extract(b"<html><body><p>see %PDF-1.4 spec for details</p></body></html>").text


def test_literal_string_escapes():
    ops = r"BT /F1 12 Tf 50 700 Td (paren \( pair \) back\\slash octal \101\102 end) Tj ET"
    t = extract(_one(ops)).text
    assert t == "paren ( pair ) back\\slash octal AB end"


def test_hex_and_utf16_strings():
    # hex: 'Hi' = 4869; odd-length pads a trailing 0
    ops = "BT /F1 12 Tf 50 700 Td <48692068657820737472696e6773206465636f6465> Tj ET"
    assert extract(_one(ops)).text == "Hi hex strings decode"
    # UTF-16BE BOM inside a hex string: 'caf\xe9' = feff 0063 0061 0066 00e9
    ops2 = "BT /F1 12 Tf 50 700 Td <feff00630061006600e9002000e90074006100690074002000690063006900200065007400200063002700e90074006100690074> Tj ET"
    assert extract(_one(ops2)).text == "café était ici et c'était"


def test_tj_kerning_word_breaks():
    # adjustments <= -180/1000 em imply a word break; smaller ones do not
    ops = "BT /F1 12 Tf 50 700 Td [(kerned) -250 (words) -40 (glued) -1000 (far)] TJ ET"
    assert extract(_one(ops)).text == "kerned wordsglued far"


def test_multiline_td_tstar_quote():
    ops = (
        "BT /F1 12 Tf 14 TL 50 700 Td (first line of the paragraph) Tj "
        "T* (second line follows here) Tj (third via quote op) ' ET"
    )
    assert (
        extract(_one(ops)).text
        == "first line of the paragraph second line follows here third via quote op"
    )


def test_uncompressed_stream_and_tm():
    ops = "BT /F1 6 Tf 2 0 0 2 50 700 Tm (scaled by text matrix rules) Tj ET"
    blocks = tokenize_pdf(_one(ops, compress=False))
    assert len(blocks) == 1
    assert blocks[0].text == "scaled by text matrix rules"
    # effective size = Tf 6 * Tm d 2 = 12 -> "text", not "title"
    assert blocks[0].kind == "text"


def test_title_classification_by_size():
    big = "BT /F1 18 Tf 50 740 Td (A Heading Of Standing) Tj ET"
    small = "BT /F1 11 Tf 50 700 Td (body paragraph text runs longer here) Tj ET"
    blocks = tokenize_pdf(_one(big + "\n" + small))
    assert [b.kind for b in blocks] == ["title", "text"]


def test_multipage_keeps_page_order():
    p1 = text_stream(["BT /F1 12 Tf 50 700 Td (page one body paragraph with enough text) Tj ET"])
    p2 = text_stream(["BT /F1 12 Tf 50 700 Td (page two body paragraph with enough text) Tj ET"])
    t = extract(build_pdf([p1, p2])).text
    assert t.index("page one") < t.index("page two")


def test_malformed_pdfs_are_deterministic_and_quiet():
    assert extract(b"%PDF-1.4\ngarbage with no streams").text == ""
    # truncated flate stream: skipped, not raised
    whole = _one("BT /F1 12 Tf 50 700 Td (will be truncated away) Tj ET")
    assert extract(whole[: len(whole) // 2]).text == extract(whole[: len(whole) // 2]).text
    # stream with /Length lying beyond EOF
    assert extract(b"%PDF-1.4\n1 0 obj << /Length 99999 >> stream\nBT Tj ET").text == ""


def test_non_numeric_text_operands_skip_the_operator():
    # a string, array or garbled number where a Tf/TL/Td/TD/Tm operand
    # belongs used to raise out of extract(); the operator is skipped
    line = "(a line that survives the bad operator) Tj ET"
    clean = _one(f"BT /F1 12 Tf 50 700 Td {line}")
    for bad in ("50 (x) Td", "(big) Tf", "[1] TL", "(a) (b) TD", "1 0 0 (s) 50 700 Tm"):
        pdf = _one(f"BT /F1 12 Tf 50 700 Td {bad} {line}")
        assert tokenize_pdf(pdf) == tokenize_pdf(clean), bad
        assert extract(pdf).text == "a line that survives the bad operator"
    # a malformed /MediaBox number falls back to the default page height
    bad_box = clean.replace(b"/MediaBox [0 0", b"/MediaBox [0 1.2.3", 1)
    assert tokenize_pdf(bad_box) == tokenize_pdf(clean)


def test_generator_xycut_round_trip():
    for seed in range(25):
        pdf, intended = _pdf_page(random.Random(seed))
        r = extract(pdf)
        assert r.text == intended, f"seed {seed}"
        assert r.spans[0][2] == "title"


def test_gen_pages_pdf_mix_is_deterministic():
    a = gen_pages(60, seed=11, pdf_frac=0.3)
    b = gen_pages(60, seed=11, pdf_frac=0.3)
    assert [p.html for p in a] == [p.html for p in b]
    kinds = {p.kind for p in a}
    assert "pdf" in kinds
    for p in a:
        if p.kind == "pdf":
            assert p.html[:5] == b"%PDF-" and p.text == p.expected_main


def test_pipeline_identity_with_pdf_pages(spark, tmp_path):
    """PDFs ride the full batch pipeline: byte-identity 1.0 end-to-end."""
    from toyocr_spark.fixtures import write_pages_parquet
    from toyocr_spark.pipeline import identity_report, read_result, resumable_run
    from toyocr_spark.sources import read_pages

    d = str(tmp_path / "pdfpages")
    write_pages_parquet(d, n=80, seed=303, pdf_frac=0.4)
    pages = read_pages(spark, d)
    out = str(tmp_path / "pdfout")
    resumable_run(spark, pages, out, n_chunks=3)
    rep = identity_report(read_result(spark, out), pages).collect()[0]
    assert rep["pass_rate"] == 1.0 and rep["n_urls"] == 80


def test_pdf_parser_never_raises_fuzz():
    """Robustness contract: arbitrary bytes behind a %PDF- magic must
    extract deterministically without raising (truncations, bit flips,
    random garbage) — crawl PDFs are routinely corrupt."""
    rng = random.Random(1234)
    whole, _ = _pdf_page(random.Random(7))
    corpora = []
    for _ in range(120):
        mode = rng.randrange(3)
        if mode == 0:  # random garbage
            corpora.append(b"%PDF-" + bytes(rng.randrange(256) for _ in range(rng.randrange(400))))
        elif mode == 1:  # truncation
            corpora.append(whole[: rng.randrange(len(whole))])
        else:  # bit flips
            b = bytearray(whole)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            corpora.append(bytes(b))
    for data in corpora:
        a = extract(data)
        b = extract(data)
        assert a.text == b.text and a.spans == b.spans


def test_tounicode_cmap_subset_font_identity():
    """Embedded-subset-font PDFs (glyph-code strings + /ToUnicode CMap)
    extract the original text exactly — the LaTeX/word-processor shape.
    Without the CMap the bytes are ciphertext, so this proves the CMap
    path is live, and a second parse proves it is deterministic."""
    from toyocr_spark.extractor import extract
    from toyocr_spark.extractor.pdf import tokenize_pdf
    from toyocr_spark.fixtures.genpdf import build_pdf_subset_font

    paras = [
        ["The quick brown fox", "jumps over the lazy dog."],
        ["A second paragraph, remapped", "through the embedded CMap!"],
    ]
    want = [" ".join(p) for p in paras]
    pdf = build_pdf_subset_font(paras)
    got = [b.text for b in tokenize_pdf(pdf)]
    assert got == want
    assert extract(pdf).text == "\n".join(want)
    assert tokenize_pdf(pdf) == tokenize_pdf(pdf) or [b.text for b in tokenize_pdf(pdf)] == want

    # uncompressed CMap stream takes the same path
    got2 = [b.text for b in tokenize_pdf(build_pdf_subset_font(paras, compress=False))]
    assert got2 == want


def test_cmap_bfrange_and_two_byte_codes():
    """bfrange scalar + array destinations, and 2-byte codespace."""
    from toyocr_spark.extractor.pdf import _decode_with_cmap, _parse_cmap

    cmap = b"""
    /CIDInit /ProcSet findresource begin
    begincmap
    1 begincodespacerange
    <0000> <FFFF>
    endcodespacerange
    1 beginbfchar
    <0003> <0041>
    endbfchar
    2 beginbfrange
    <0010> <0012> <0061>
    <0020> <0021> [<0058> <0059>]
    endbfrange
    endcmap
    """
    parsed = _parse_cmap(cmap)
    assert parsed is not None
    width, table = parsed
    assert width == 2
    assert table[0x0003] == "A"
    assert (table[0x10], table[0x11], table[0x12]) == ("a", "b", "c")
    assert (table[0x20], table[0x21]) == ("X", "Y")
    # 2-byte decode consumes code pairs; unmapped -> replacement char
    s = _decode_with_cmap(b"\x00\x03\x00\x11\x00\x99", (width, table))
    assert s == "Ab�"


def test_cmap_absent_keeps_legacy_decode_byte_identical():
    """PDFs with no /ToUnicode must take the exact pre-CMap path: the
    standard fixture corpus extracts identically with the CMap machinery
    present (guard against decode-path drift)."""
    from toyocr_spark.extractor import extract
    from toyocr_spark.fixtures.genpages import gen_pages

    pages = [p for p in gen_pages(200, seed=31, pdf_frac=1.0)]
    assert pages
    for p in pages:
        r = extract(p.html)
        assert r.text == extract(p.html).text  # deterministic
        if p.text is not None:
            assert r.text == p.text  # fixture oracle unchanged


def test_differences_encoding_font_identity():
    """Simple-font PDFs with an /Encoding /Differences array (no
    ToUnicode) extract the original text exactly: AGL names and the
    algorithmic uniXXXX family both resolve, inline-vs-indirect
    /Encoding both parse, and unmapped codes keep Latin-1 passthrough."""
    from toyocr_spark.extractor import extract
    from toyocr_spark.extractor.pdf import tokenize_pdf
    from toyocr_spark.fixtures.genpdf import build_pdf_differences_font

    paras = [
        ["Café résumé — daß grüße", "œuvre for 5€, plain ascii."],
        ["Second paragraph stays latin-1:", "no remapped bytes at all here."],
    ]
    want = [" ".join(p) for p in paras]
    pdf = build_pdf_differences_font(paras)
    got = [b.text for b in tokenize_pdf(pdf)]
    assert got == want
    assert extract(pdf).text == "\n".join(want)
    # determinism across parses
    assert [b.text for b in tokenize_pdf(pdf)] == want


def test_glyph_name_resolution_table():
    from toyocr_spark.extractor.pdf import _glyph_char

    assert _glyph_char("eacute") == "é"
    assert _glyph_char("emdash") == "—"
    assert _glyph_char("seven") == "7"
    assert _glyph_char("Q") == "Q"
    assert _glyph_char("uni20AC") == "€"
    assert _glyph_char("u1F600") == "\U0001f600"
    assert _glyph_char("g42") is None  # subset glyph: unresolvable
    assert _glyph_char("notaname") is None


def test_tounicode_wins_over_differences():
    """When a font has BOTH maps, ToUnicode is authoritative: the
    Differences array must not shadow it (build a subset-font PDF and
    inject a bogus Differences dict alongside — text is unchanged)."""
    from toyocr_spark.extractor.pdf import tokenize_pdf
    from toyocr_spark.fixtures.genpdf import build_pdf_subset_font

    paras = [["Mapped through the CMap only."]]
    pdf = build_pdf_subset_font(paras)
    # splice a /Differences into the font object: ToUnicode still wins
    pdf2 = pdf.replace(
        b"/ToUnicode 6 0 R",
        b"/Encoding << /Differences [33 /A /B /C] >> /ToUnicode 6 0 R",
    )
    assert [b.text for b in tokenize_pdf(pdf2)] == [" ".join(paras[0])]


def test_truetype_fontfile2_identity():
    """Embedded-TrueType PDFs with NO ToUnicode and NO Differences —
    string bytes are subset glyph codes recoverable only through the
    font program's cmap+post tables — extract the original text
    exactly, across cmap format 6 (1,0), format 4 (3,1), the symbolic
    (3,0) 0xF000 convention, and compressed/uncompressed programs.
    Non-ASCII characters route through custom uniXXXX post names."""
    from toyocr_spark.extractor import extract
    from toyocr_spark.extractor.pdf import tokenize_pdf
    from toyocr_spark.fixtures.genpdf import build_pdf_truetype_font

    paras = [
        ["The quick brown fox", "jumps over the lazy dog."],
        ["Café résumé — grüße for 5€,", "digits 0123456789 caps XYZ!?"],
    ]
    want = [" ".join(p) for p in paras]
    for fmt in (6, 4):
        for symbolic in (False, True):
            pdf = build_pdf_truetype_font(paras, cmap_format=fmt, symbolic=symbolic)
            got = [b.text for b in tokenize_pdf(pdf)]
            assert got == want, (fmt, symbolic, got)
            # determinism across parses
            assert [b.text for b in tokenize_pdf(pdf)] == want
    assert extract(build_pdf_truetype_font(paras)).text == "\n".join(want)
    got2 = [b.text for b in tokenize_pdf(build_pdf_truetype_font(paras, compress=False))]
    assert got2 == want


def test_tounicode_wins_over_fontfile2():
    """Precedence: a font shipping BOTH a ToUnicode CMap and a
    FontFile2 program decodes through the CMap (authoritative)."""
    from toyocr_spark.extractor.pdf import _font_cmaps, tokenize_pdf
    from toyocr_spark.fixtures.genpdf import build_pdf_truetype_font

    paras = [["Mapped through which table?"]]
    pdf = build_pdf_truetype_font(paras)
    # splice a bogus ToUnicode pointing at the content stream (obj 5 is
    # not a CMap -> parse fails -> falls through to FontFile2): text ok
    pdf_bad_cmap = pdf.replace(
        b"/FontDescriptor 6 0 R", b"/ToUnicode 5 0 R /FontDescriptor 6 0 R"
    )
    assert [b.text for b in tokenize_pdf(pdf_bad_cmap)] == [" ".join(paras[0])]


def test_truetype_fuzz_is_deterministic_and_total():
    """Bit-flipped / truncated font programs must never raise and must
    decode deterministically (the malformed-input discipline every
    crawl-facing parser in the repo follows)."""
    import random

    from toyocr_spark.extractor import extract
    from toyocr_spark.fixtures.genpdf import build_pdf_truetype_font

    paras = [["fuzz target text body", "with two lines present."]]
    base = build_pdf_truetype_font(paras, compress=False)
    rng = random.Random(1234)
    for _ in range(40):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        data = bytes(b)
        r1 = extract(data)
        r2 = extract(data)
        assert r1.text == r2.text and r1.spans == r2.spans
    for cut in (len(base) // 3, len(base) // 2, len(base) - 40):
        data = base[:cut]
        assert extract(data).text == extract(data).text


def test_cff_fontfile3_identity():
    """Embedded-CFF (Type1C) PDFs with NO ToUnicode and NO Differences
    extract the original text exactly: custom Encoding -> gid, charset
    -> SID, standard-strings ASCII block + custom uniXXXX strings for
    non-ASCII. Compressed and raw programs both decode."""
    from toyocr_spark.extractor import extract
    from toyocr_spark.extractor.pdf import tokenize_pdf
    from toyocr_spark.fixtures.genpdf import build_pdf_cff_font

    paras = [
        ["The quick brown fox", "jumps over the lazy dog."],
        ["Café résumé — grüße for 5€,", "digits 0123456789 caps XYZ!?"],
    ]
    want = [" ".join(p) for p in paras]
    pdf = build_pdf_cff_font(paras)
    got = [b.text for b in tokenize_pdf(pdf)]
    assert got == want
    assert [b.text for b in tokenize_pdf(pdf)] == want  # deterministic
    assert extract(pdf).text == "\n".join(want)
    got2 = [b.text for b in tokenize_pdf(build_pdf_cff_font(paras, compress=False))]
    assert got2 == want


def test_cff_fuzz_is_deterministic_and_total():
    """Bit-flipped / truncated CFF programs never raise and decode
    deterministically."""
    import random

    from toyocr_spark.extractor import extract
    from toyocr_spark.fixtures.genpdf import build_pdf_cff_font

    base = build_pdf_cff_font([["fuzz target text body", "second line here."]],
                              compress=False)
    rng = random.Random(4321)
    for _ in range(40):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        data = bytes(b)
        r1, r2 = extract(data), extract(data)
        assert r1.text == r2.text and r1.spans == r2.spans
    for cut in (len(base) // 3, len(base) // 2, len(base) - 40):
        data = base[:cut]
        assert extract(data).text == extract(data).text


def test_objstm_compressed_font_dict_identity():
    """PDF 1.5 compressed object streams: the font dict (with its
    /ToUnicode reference) lives inside a /Type /ObjStm member —
    reachable only by expanding the stream. Extraction is exact; a
    top-level object with the same number would win (first-definition
    discipline); fuzz stays deterministic."""
    import random

    from toyocr_spark.extractor import extract
    from toyocr_spark.extractor.pdf import _object_bodies, tokenize_pdf
    from toyocr_spark.fixtures.genpdf import build_pdf_objstm_font

    paras = [
        ["The quick brown fox", "jumps over the lazy dog."],
        ["Compressed object stream", "holds the font dictionary!"],
    ]
    want = [" ".join(p) for p in paras]
    for comp in (True, False):
        pdf = build_pdf_objstm_font(paras, compress=comp)
        assert [b.text for b in tokenize_pdf(pdf)] == want, comp
    pdf = build_pdf_objstm_font(paras)
    objs = _object_bodies(pdf)
    assert 8 in objs and b"/ToUnicode 6 0 R" in objs[8]  # expanded member
    assert 9 in objs and b"Producer" in objs[9]          # multi-member offsets

    base = build_pdf_objstm_font(paras, compress=False)
    rng = random.Random(77)
    for _ in range(30):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 5)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        data = bytes(b)
        r1, r2 = extract(data), extract(data)
        assert r1.text == r2.text and r1.spans == r2.spans


def test_inline_image_bytes_cannot_alias_text_ops():
    """BI..ID..EI inline-image binary is skipped wholesale: image bytes
    containing '(' , 'BT' or 'Tj' sequences must not inject text."""
    import zlib as _zlib

    from toyocr_spark.extractor.pdf import tokenize_pdf
    from toyocr_spark.fixtures.genpdf import build_pdf, paragraph_ops, text_stream

    evil = b"\x00BT (ghost text) Tj ET\x00\xff(\xfe"
    ops = (
        "BT /F1 11 Tf 13 TL 72 740 Td (real text line) Tj ET\n"
        "BI /W 4 /H 2 /BPC 8 /CS /G ID "
    ).encode("latin-1") + evil + b" EI\nBT /F1 11 Tf 72 700 Td (second line) Tj ET"
    pdf = build_pdf([ops], compress=False)
    got = [b.text for b in tokenize_pdf(pdf)]
    assert got == ["real text line", "second line"]
    # compressed path identical
    got2 = [b.text for b in tokenize_pdf(build_pdf([ops], compress=True))]
    assert got2 == got


def test_pdf_links_extracts_uri_actions():
    """/URI actions surface as outlinks — top-level annotations and
    ObjStm members both; escapes unescape through the string reader."""
    from toyocr_spark.extractor.pdf import pdf_links
    from toyocr_spark.fixtures.genpdf import (
        build_pdf, build_pdf_objstm_font, paragraph_ops, text_stream,
    )

    pdf = build_pdf(
        [text_stream([paragraph_ops(72, 740, 11, 13, ["hello world"])])],
        compress=False,
    )
    ann = (
        b"9 0 obj\n<< /Type /Annot /Subtype /Link /A << /S /URI "
        b"/URI (https://ex.example/a\\(1\\)) >> >>\nendobj\n"
        b"10 0 obj\n<< /Type /Annot /Subtype /Link /A << /S /URI "
        b"/URI (https://ex.example/b?x=1&y=2) >> >>\nendobj\n"
    )
    idx = pdf.find(b"xref")
    assert pdf_links(pdf[:idx] + ann + pdf[idx:]) == [
        "https://ex.example/a(1)",
        "https://ex.example/b?x=1&y=2",
    ]
    assert pdf_links(pdf) == []  # no annotations -> no links

    # a URI inside a COMPRESSED ObjStm member is found only through the
    # expansion (the raw bytes contain no '/URI' substring)
    import zlib as _zlib

    member = b"<< /Type /Annot /A << /S /URI /URI (https://objstm.example/z) >> >>"
    header = b"11 0 "
    stm = _zlib.compress(header + member)
    objstm = (
        b"9 0 obj\n<< /Type /ObjStm /N 1 /First %d /Length %d /Filter /FlateDecode >>\n"
        b"stream\n%s\nendstream\nendobj\n" % (len(header), len(stm), stm)
    )
    idx2 = pdf.find(b"xref")
    spliced = pdf[:idx2] + objstm + pdf[idx2:]
    assert b"objstm.example" not in spliced  # only exists inflated
    assert pdf_links(spliced) == ["https://objstm.example/z"]

    base = build_pdf_objstm_font([["body text here"]], compress=True)
    assert pdf_links(base) == []  # ObjStm present, no URI members


def test_encrypted_pdf_extraction_identity():
    """Standard-RC4 encrypted fixtures (R2/40, R3/40, R3/128) extract
    BYTE-IDENTICALLY to their plaintext twins — across the plain
    fixture class, an embedded-subset-font class (ToUnicode CMap
    stream must decrypt before it can map), and through the kernel's
    magic dispatch."""
    from toyocr_spark.fixtures.genpdf import (
        build_pdf_subset_font,
        encrypt_pdf,
        wrap_words,
    )

    ops = paragraph_ops(
        72, 700, 12, 14,
        wrap_words("the quick brown fox jumps over the lazy dog again", 28),
    )
    plain = build_pdf([text_stream([ops])])
    subset = build_pdf_subset_font(
        [["encrypted subset font line one", "and line two"]]
    )
    for base in (plain, subset):
        want = [(b.text, b.box) for b in tokenize_pdf(base)]
        assert want
        for r, bits in ((2, 40), (3, 40), (3, 128)):
            enc = encrypt_pdf(base, r=r, length_bits=bits)
            assert enc != base
            got = [(b.text, b.box) for b in tokenize_pdf(enc)]
            assert got == want, (r, bits)
        # and through the kernel dispatch (extract() takes raw bytes)
        assert extract(encrypt_pdf(base)).text == extract(base).text


def test_unsupported_encryption_is_a_quiet_skip():
    """Schemes outside the live set (RC4 R2/R3, AESV2 R4, AESV3 R6)
    stay out of scope: a V4/R4 header WITHOUT an /AESV2 crypt filter,
    and a V5/R6 header WITHOUT an /AESV3 one (or, tested separately,
    without a valid empty-user-password /U), are left untouched and
    extraction yields no text — deterministic, silent, never
    garbage."""
    from toyocr_spark.extractor.pdf import decrypt_pdf
    from toyocr_spark.fixtures.genpdf import encrypt_pdf

    base = build_pdf([text_stream([paragraph_ops(72, 700, 12, 14, ["secret"])])])
    enc = encrypt_pdf(base, r=3, length_bits=128)
    for repl in (b"/V 4 /R 4", b"/V 5 /R 6"):
        odd = enc.replace(b"/V 2 /R 3", repl)
        assert decrypt_pdf(odd) == odd
        assert tokenize_pdf(odd) == []
        assert tokenize_pdf(odd) == tokenize_pdf(odd)


def test_aes256_identity_stream_filter_is_not_decrypted():
    """A V5 dict whose /StmF (or /StrF) routes through /Identity keeps
    streams/strings PLAINTEXT per spec — the decrypt pre-pass must
    leave the file untouched rather than CBC-'decrypting' plaintext
    (which silently corrupts any stream whose tail parses as valid
    PKCS#7 padding). Round-4 ADVICE item: the branch used to key off
    '/AESV3' appearing anywhere in the dict."""
    from toyocr_spark.extractor.pdf import decrypt_pdf
    from toyocr_spark.fixtures.genpdf import encrypt_pdf_aes256

    base = build_pdf([text_stream([paragraph_ops(72, 700, 12, 14, ["secret"])])])
    enc = encrypt_pdf_aes256(base)
    assert b"/StmF /StdCF /StrF /StdCF" in enc
    for odd in (
        enc.replace(b"/StmF /StdCF", b"/StmF /Identity"),
        enc.replace(b"/StrF /StdCF", b"/StrF /Identity"),
        enc.replace(b"/StmF /StdCF /StrF /StdCF ", b""),  # spec default: Identity
    ):
        assert decrypt_pdf(odd) == odd
        assert tokenize_pdf(odd) == tokenize_pdf(odd)  # deterministic skip
    # the untouched fixture still decrypts (the gate admits StdCF)
    assert tokenize_pdf(enc) == tokenize_pdf(base)


def test_encrypted_pdf_fuzz_deterministic():
    """Bit-flipped encrypted files decode deterministically (possibly
    to nothing) — the fuzz discipline extended to the decryption
    pre-pass."""
    from toyocr_spark.fixtures.genpdf import encrypt_pdf

    base = encrypt_pdf(
        build_pdf([text_stream([paragraph_ops(72, 700, 12, 14, ["abc def"])])])
    )
    rng = random.Random(83)
    for _ in range(150):
        blob = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            blob[rng.randrange(len(blob))] = rng.randrange(256)
        payload = bytes(blob)
        try:
            first = [(b.text, b.box) for b in tokenize_pdf(payload)]
        except ValueError:
            continue
        assert [(b.text, b.box) for b in tokenize_pdf(payload)] == first


def test_pipeline_identity_with_encrypted_pdf_pages(spark, tmp_path):
    """End-to-end: a corpus whose PDF pages are ~half RC4-encrypted
    extracts at identity 1.0 through the real Spark pipeline — the
    decryption pre-pass is transparent to the whole machine."""
    import os

    from toyocr_spark.fixtures.genpages import write_pages_parquet
    from toyocr_spark.pipeline import identity_report, run_extraction
    from toyocr_spark.sources.pages import read_pages

    d = str(tmp_path / "enc_pages")
    write_pages_parquet(d, n=120, seed=1234, pdf_frac=0.5, encrypt_frac=0.5)
    # the fixture really does contain encrypted members
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(d, "pages.parquet"), columns=["html"])
    n_enc = sum(
        1 for h in tbl.column(0).to_pylist()
        if h[:5] == b"%PDF-" and b"/Encrypt" in h
    )
    assert n_enc >= 10, n_enc
    pages = read_pages(spark, d)
    rep = identity_report(run_extraction(pages, num_partitions=4), pages)
    assert rep.collect()[0]["pass_rate"] == 1.0


def test_encrypted_objstm_font_identity():
    """Encryption x ObjStm interplay: the ObjStm stream decrypts as a
    whole and its member font dict then reads plaintext (spec: ObjStm
    members are never separately encrypted) — the ToUnicode chain
    works end-to-end on an encrypted PDF 1.5-style file."""
    from toyocr_spark.fixtures.genpdf import build_pdf_objstm_font, encrypt_pdf

    base = build_pdf_objstm_font([["objstm member font line", "second line here"]])
    want = [(b.text, b.box) for b in tokenize_pdf(base)]
    assert want and any("objstm member font line" in t for t, _ in want)
    for r in (2, 3):
        got = [(b.text, b.box) for b in tokenize_pdf(encrypt_pdf(base, r=r))]
        assert got == want, r


def test_encrypted_pdf_links_round_trip():
    """Real encrypted PDFs RC4 their dict strings too: the fixture
    encryptor now ciphers /URI strings with their object's key (and
    re-escapes the ciphertext), and pdf_links decrypts them on demand
    — links from an encrypted file equal the plaintext file's,
    including an ObjStm-member URI (plaintext inside the decrypted
    stream, per spec) and an escaped-paren URI."""
    import zlib as _zlib

    from toyocr_spark.extractor.pdf import pdf_links
    from toyocr_spark.fixtures.genpdf import encrypt_pdf

    pdf = build_pdf(
        [text_stream([paragraph_ops(72, 740, 11, 13, ["hello world"])])],
        compress=False,
    )
    ann = (
        b"9 0 obj\n<< /Type /Annot /Subtype /Link /A << /S /URI "
        b"/URI (https://ex.example/a\\(1\\)) >> >>\nendobj\n"
    )
    member = b"<< /Type /Annot /A << /S /URI /URI (https://objstm.example/z) >> >>"
    header = b"11 0 "
    stm = _zlib.compress(header + member)
    objstm = (
        b"10 0 obj\n<< /Type /ObjStm /N 1 /First %d /Length %d /Filter /FlateDecode >>\n"
        b"stream\n%s\nendstream\nendobj\n" % (len(header), len(stm), stm)
    )
    idx = pdf.find(b"xref")
    base = pdf[:idx] + ann + objstm + pdf[idx:]
    want = pdf_links(base)
    assert want == ["https://ex.example/a(1)", "https://objstm.example/z"]
    for r in (2, 3):
        enc = encrypt_pdf(base, r=r)
        assert b"https://ex.example" not in enc  # string really ciphered
        assert pdf_links(enc) == want, r
        # and text extraction still matches
        assert [b.text for b in tokenize_pdf(enc)] == [
            b.text for b in tokenize_pdf(base)
        ]


def test_rc4_key_derivation_known_answers():
    """Known-answer lock on Algorithms 2 and 1 (spec 7.6.3.3): the
    fixture encryptor imports the extractor's key helpers, so the
    round-trip tests prove self-consistency only — these literals were
    derived from an INDEPENDENT inline transcription of the spec
    (md5(PAD + O + P_le_signed + ID0), 50-round R>=3 loop on the first
    n bytes; per-object key = md5(key + num_le[:3] + gen_le[:2])), so
    a derivation bug in either helper breaks here even though both
    sides of the round-trip would agree."""
    from toyocr_spark.extractor.pdf import _PAD, _obj_key, _std_file_key

    # spec Table-given padding string, byte-for-byte
    assert _PAD == bytes(
        [
            0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
            0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
            0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
            0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
        ]
    )
    o = bytes(range(32))
    p = -44
    id0 = bytes.fromhex("00112233445566778899aabbccddeeff")
    assert _std_file_key(o, p, id0, 2, 40).hex() == "701779e058"
    assert _std_file_key(o, p, id0, 3, 40).hex() == "0d81dd948f"
    fk = _std_file_key(o, p, id0, 3, 128)
    assert fk.hex() == "9ccccb67332808399f8ca5c9ecd15ebe"
    assert _obj_key(fk, 7, 0).hex() == "a5354f6260a9b4454d676c0e33670fd8"


def test_bogus_obj_header_inside_ciphertext_cannot_corrupt_streams():
    """A 'N G obj ... stream' byte pattern occurring INSIDE stream
    ciphertext must not trigger a second (wrong-key) RC4 pass over an
    already-decrypted real stream: spans decrypt at most once, first
    match wins, and headers must start a line."""
    from toyocr_spark.extractor.pdf import (
        _FULL_OBJ_RE,
        _encryption_params,
        _obj_key,
        _rc4,
        _stream_span,
        decrypt_pdf,
    )
    from toyocr_spark.fixtures.genpdf import encrypt_pdf

    ops = paragraph_ops(72, 700, 12, 14, ["guard line one", "guard line two"])
    enc = encrypt_pdf(build_pdf([text_stream([ops])]), r=3, length_bits=128)
    file_key, enc_num, method = _encryption_params(enc)
    assert method == "rc4"
    target = None
    for m in _FULL_OBJ_RE.finditer(enc):
        num, gen = int(m.group(1)), int(m.group(2))
        if num == enc_num:
            continue
        end = enc.find(b"endobj", m.end())
        span = _stream_span(enc[m.end() : end if end != -1 else len(enc)])
        if span is not None:
            target = (num, gen, m.end() + span[0], m.end() + span[1])
            break
    assert target is not None
    num, gen, lo, hi = target
    bogus = b"\n9 0 obj\n<< /Length 4 >>\nstream\nXXXX\nendstream\n"
    assert hi - lo > len(bogus) + 16, "fixture stream too small to splice into"
    k = lo + 8
    # overwrite IN PLACE (same length: offsets and /Length stay valid)
    spliced = enc[:k] + bogus + enc[k + len(bogus) :]
    got = decrypt_pdf(spliced)
    # the real stream must be decrypted exactly once, with ITS key —
    # a wrong-key second pass over the bogus sub-span would differ
    assert got[lo:hi] == _rc4(_obj_key(file_key, num, gen), spliced[lo:hi])


def test_aes_block_cipher_known_answers():
    """FIPS-197 appendix + NIST SP800-38A vectors pin the pure-stdlib
    AES (tables are derived, not typed — a derivation bug breaks
    here)."""
    from toyocr_spark.aescipher import (
        cbc_decrypt,
        cbc_encrypt,
        decrypt_block,
        encrypt_block,
    )

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    cases = [  # FIPS-197 C.1 / C.2 / C.3
        ("000102030405060708090a0b0c0d0e0f", "69c4e0d86a7b0430d8cdb78070b4c55a"),
        (
            "000102030405060708090a0b0c0d0e0f1011121314151617",
            "dda97ca4864cdfe06eaf70a0ec0d7191",
        ),
        (
            "000102030405060708090a0b0c0d0e0f"
            "101112131415161718191a1b1c1d1e1f",
            "8ea2b7ca516745bfeafc49904b496089",
        ),
    ]
    for khex, chex in cases:
        key = bytes.fromhex(khex)
        ct = encrypt_block(key, pt)
        assert ct.hex() == chex
        assert decrypt_block(key, ct) == pt
    # FIPS-197 appendix B (distinct key/plaintext pair)
    assert (
        encrypt_block(
            bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c"),
            bytes.fromhex("3243f6a8885a308d313198a2e0370734"),
        ).hex()
        == "3925841d02dc09fbdc118597196a0b32"
    )
    # NIST SP800-38A F.2.1 CBC-AES128 block 1
    k = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    p1 = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    assert (
        cbc_encrypt(k, iv, p1)[16:32].hex() == "7649abac8119b246cee98e9b12e9197d"
    )
    # round trip with padding at every tail length
    for n in range(1, 33):
        msg = bytes(range(n))
        assert cbc_decrypt(k, cbc_encrypt(k, iv, msg)) == msg
    # malformed: bad length / corrupt padding reject cleanly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cbc_decrypt(k, b"\x00" * 24)
    blob = bytearray(cbc_encrypt(k, iv, b"x" * 20))
    blob[-1] ^= 0xFF
    with _pytest.raises(ValueError):
        cbc_decrypt(k, bytes(blob))


def test_aes_encrypted_pdf_extraction_identity():
    """AESV2 (V4/R4) fixtures extract byte-identically to their
    plaintext twins across the plain, subset-font (ToUnicode CMap
    stream must decrypt before it can map), and ObjStm classes;
    /EncryptMetadata false changes the file key and must still round
    trip; the kernel dispatch (extract over raw bytes) is
    transparent."""
    from toyocr_spark.fixtures.genpdf import (
        build_pdf_objstm_font,
        build_pdf_subset_font,
        encrypt_pdf_aes,
    )

    plain = build_pdf(
        [text_stream([paragraph_ops(72, 700, 12, 14, ["aes secret", "line two"])])]
    )
    subset = build_pdf_subset_font([["aes subset font line one", "and line two"]])
    objstm = build_pdf_objstm_font([["aes objstm body text"]])
    for base in (plain, subset, objstm):
        want = [(b.text, b.box) for b in tokenize_pdf(base)]
        assert want
        for kwargs in ({}, {"encrypt_metadata": False}):
            enc = encrypt_pdf_aes(base, **kwargs)
            assert enc != base and b"/AESV2" in enc
            got = [(b.text, b.box) for b in tokenize_pdf(enc)]
            assert got == want, kwargs
    assert extract(encrypt_pdf_aes(plain)).text == extract(plain).text


def test_aes_encrypted_pdf_links_round_trip():
    """AES files cipher their dict strings too — and unlike RC4 the
    decrypt REBUILD shifts offsets, so top-level /URI strings must be
    located and decrypted against the ORIGINAL bytes (the regression
    this test pins); ObjStm-member URIs arrive via the decrypted
    stream."""
    import zlib as _zlib

    from toyocr_spark.extractor.pdf import pdf_links
    from toyocr_spark.fixtures.genpdf import encrypt_pdf_aes

    pdf = build_pdf(
        [text_stream([paragraph_ops(72, 740, 11, 13, ["hello world"])])],
        compress=False,
    )
    ann = (
        b"9 0 obj\n<< /Type /Annot /Subtype /Link /A << /S /URI "
        b"/URI (https://ex.example/a\\(1\\)) >> >>\nendobj\n"
    )
    member = b"<< /Type /Annot /A << /S /URI /URI (https://objstm.example/z) >> >>"
    header = b"11 0 "
    stm = _zlib.compress(header + member)
    objstm = (
        b"10 0 obj\n<< /Type /ObjStm /N 1 /First %d /Length %d /Filter /FlateDecode >>\n"
        b"stream\n%s\nendstream\nendobj\n" % (len(header), len(stm), stm)
    )
    idx = pdf.find(b"xref")
    base = pdf[:idx] + ann + objstm + pdf[idx:]
    want = pdf_links(base)
    assert want == ["https://ex.example/a(1)", "https://objstm.example/z"]
    enc = encrypt_pdf_aes(base)
    assert b"https://ex.example" not in enc  # string really ciphered
    assert pdf_links(enc) == want
    assert [b.text for b in tokenize_pdf(enc)] == [b.text for b in tokenize_pdf(base)]


def test_aes_encrypted_pdf_fuzz_deterministic():
    """Bit-flipped AES files decode deterministically (possibly to
    nothing): CBC padding/length failures degrade to
    leave-it-encrypted, never raise past the kernel contract."""
    from toyocr_spark.fixtures.genpdf import encrypt_pdf_aes

    base = encrypt_pdf_aes(
        build_pdf([text_stream([paragraph_ops(72, 700, 12, 14, ["abc def"])])])
    )
    rng = random.Random(907)
    for _ in range(60):
        blob = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            blob[rng.randrange(len(blob))] = rng.randrange(256)
        payload = bytes(blob)
        try:
            first = [(b.text, b.box) for b in tokenize_pdf(payload)]
        except ValueError:
            continue
        assert [(b.text, b.box) for b in tokenize_pdf(payload)] == first


def test_aes_fast_path_equals_reference_implementation():
    """The T-table 'equivalent inverse cipher' must agree bit-for-bit
    with the straightforward per-step reference on random blocks for
    every key size (the FIPS vectors pin absolute correctness; this
    pins the OPTIMIZATION against the reference)."""
    import random as _r

    from toyocr_spark.aescipher import (
        _dec_schedule,
        _decrypt_block_fast,
        _decrypt_block_rk,
        _round_keys,
        encrypt_block,
    )

    from toyocr_spark.aescipher import _enc_schedule, _encrypt_block_fast

    rng = _r.Random(42)
    for klen in (16, 24, 32):
        key = bytes(rng.randrange(256) for _ in range(klen))
        rounds = _dec_schedule(key)
        erounds = _enc_schedule(key)
        rks = _round_keys(key)
        for _ in range(100):
            blk = bytes(rng.randrange(256) for _ in range(16))
            assert _decrypt_block_fast(rounds, blk) == _decrypt_block_rk(rks, blk)
            assert _decrypt_block_fast(rounds, encrypt_block(key, blk)) == blk
            # forward T-tables (the R6-KDF-hot direction) vs reference
            assert _encrypt_block_fast(erounds, blk) == encrypt_block(key, blk)


def test_aes256_hash_2b_matches_independent_transcription():
    """Algorithm 2.B (the R6 SHA-2 password hash) re-transcribed here
    from the spec text with a DIFFERENT loop structure — a derivation
    slip in the extractor would have to be made twice, independently,
    to pass. The AES and SHA-2 primitives underneath are pinned
    separately (FIPS-197 vectors; hashlib)."""
    import hashlib

    from toyocr_spark.aescipher import _round_keys, _encrypt_block_rk
    from toyocr_spark.extractor.pdf import _hash_2b

    def transcription(pwd, salt, udata):
        k = hashlib.sha256(pwd + salt + udata).digest()
        rnd = 0
        while True:
            block = pwd + k + udata
            k1 = block * 64
            # inline CBC (no library call): key=K[:16], iv=K[16:32]
            rks = _round_keys(k[:16])
            prev = k[16:32]
            e = bytearray()
            for off in range(0, len(k1), 16):
                x = bytes(a ^ b for a, b in zip(k1[off : off + 16], prev))
                prev = _encrypt_block_rk(rks, x)
                e += prev
            e = bytes(e)
            r = e[0]
            for b in e[1:16]:
                r += b
            k = [hashlib.sha256, hashlib.sha384, hashlib.sha512][r % 3](e).digest()
            rnd += 1
            if rnd >= 64 and e[len(e) - 1] <= rnd - 32:
                return k[:32]

    cases = [
        (b"", b"\x00" * 8, b""),
        (b"", b"saltsalt", b""),
        (b"owner", b"12345678", b"U" * 48),
        (b"\xe2\x82\xac pw", b"\xff" * 8, b""),
    ]
    for pwd, salt, udata in cases:
        assert _hash_2b(pwd, salt, udata) == transcription(pwd, salt, udata)


def test_aes256_encrypted_pdf_extraction_identity():
    """AESV3 (V5/R6) fixtures extract byte-identically to their
    plaintext twins across the plain, subset-font, and ObjStm classes;
    /EncryptMetadata plays no role in the R6 key (unlike R4) but both
    dict variants must parse; the kernel dispatch is transparent."""
    from toyocr_spark.fixtures.genpdf import (
        build_pdf_objstm_font,
        build_pdf_subset_font,
        encrypt_pdf_aes256,
    )

    plain = build_pdf(
        [text_stream([paragraph_ops(72, 700, 12, 14, ["r6 secret", "line two"])])]
    )
    subset = build_pdf_subset_font([["r6 subset font line one", "and line two"]])
    objstm = build_pdf_objstm_font([["r6 objstm body text"]])
    for base in (plain, subset, objstm):
        want = [(b.text, b.box) for b in tokenize_pdf(base)]
        assert want
        for kwargs in ({}, {"encrypt_metadata": False}):
            enc = encrypt_pdf_aes256(base, **kwargs)
            assert enc != base and b"/AESV3" in enc and b"/R 6" in enc
            got = [(b.text, b.box) for b in tokenize_pdf(enc)]
            assert got == want, kwargs
    assert extract(encrypt_pdf_aes256(plain)).text == extract(plain).text


def test_aes256_encrypted_pdf_links_round_trip():
    """R6 ciphers dict strings with the FILE key (no per-object
    salting); /URI strings must still be located in the ORIGINAL
    bytes because the CBC rebuild shifts offsets."""
    import zlib as _zlib

    from toyocr_spark.extractor.pdf import pdf_links
    from toyocr_spark.fixtures.genpdf import encrypt_pdf_aes256

    pdf = build_pdf(
        [text_stream([paragraph_ops(72, 740, 11, 13, ["hello world"])])],
        compress=False,
    )
    ann = (
        b"9 0 obj\n<< /Type /Annot /Subtype /Link /A << /S /URI "
        b"/URI (https://ex.example/r6\\(2\\)) >> >>\nendobj\n"
    )
    member = b"<< /Type /Annot /A << /S /URI /URI (https://objstm.example/r6) >> >>"
    header = b"11 0 "
    stm = _zlib.compress(header + member)
    objstm = (
        b"10 0 obj\n<< /Type /ObjStm /N 1 /First %d /Length %d /Filter /FlateDecode >>\n"
        b"stream\n%s\nendstream\nendobj\n" % (len(header), len(stm), stm)
    )
    idx = pdf.find(b"xref")
    base = pdf[:idx] + ann + objstm + pdf[idx:]
    want = pdf_links(base)
    assert want == ["https://ex.example/r6(2)", "https://objstm.example/r6"]
    enc = encrypt_pdf_aes256(base)
    assert b"https://ex.example" not in enc
    assert pdf_links(enc) == want
    assert [b.text for b in tokenize_pdf(enc)] == [b.text for b in tokenize_pdf(base)]


def test_aes256_wrong_user_password_is_a_quiet_skip():
    """A V5/R6 file whose /U validation hash does not match the empty
    user password (i.e. it genuinely requires a password) is left
    untouched — deterministic skip, never garbage."""
    from toyocr_spark.extractor.pdf import decrypt_pdf
    from toyocr_spark.fixtures.genpdf import encrypt_pdf_aes256

    base = build_pdf([text_stream([paragraph_ops(72, 700, 12, 14, ["secret"])])])
    enc = encrypt_pdf_aes256(base)
    # corrupt the validation-hash half of /U (hex in the Encrypt dict)
    um = re.search(rb"/U <([0-9a-f]{96})>", enc)
    assert um is not None
    bad = bytearray(enc)
    bad[um.start(1)] = ord("0") if enc[um.start(1) : um.start(1) + 1] != b"0" else ord("1")
    bad = bytes(bad)
    assert decrypt_pdf(bad) == bad
    assert tokenize_pdf(bad) == []


def test_aes256_encrypted_pdf_fuzz_deterministic():
    """Bit-flipped R6 files decode deterministically (possibly to
    nothing) — the fuzz discipline extended to the AESV3 pre-pass."""
    from toyocr_spark.fixtures.genpdf import encrypt_pdf_aes256

    base = encrypt_pdf_aes256(
        build_pdf([text_stream([paragraph_ops(72, 700, 12, 14, ["abc def"])])])
    )
    rng = random.Random(1209)
    for _ in range(40):
        blob = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            blob[rng.randrange(len(blob))] = rng.randrange(256)
        payload = bytes(blob)
        try:
            first = [(b.text, b.box) for b in tokenize_pdf(payload)]
        except ValueError:
            continue
        assert [(b.text, b.box) for b in tokenize_pdf(payload)] == first


def test_aesv3_file_key_known_answer_literals():
    """Algorithm 2.A (U validation + UE decryption -> file key) pinned
    by FROZEN hex literals for BOTH AESV3 revisions. The literals were
    generated once from a spec transcription using only hashlib and the
    FIPS-197-pinned AES primitive (inline CBC) — neither genpdf's
    encryptor nor the extractor's _hash_2b/_r6_file_key touched them,
    so a derivation slip shared between encryptor and decoder (they
    share _hash_2b by design) cannot silently agree past this test.
    Inputs: empty user password, validation salt 0123456789abcdef, key
    salt fedcba9876543210, file key = bytes(range(32))."""
    from toyocr_spark.extractor.pdf import _R6_KEY_CACHE, _r6_file_key

    key = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    vectors = {
        5: (
            "55c53f5d490297900cefa825d0c8e8e9532ee8a118abe7d8570762cd38be9818"
            "0123456789abcdeffedcba9876543210",
            "a0141494e6cf47f9c77c2030f510cb0313acce7484dc5e0b07e95ae55f9164b0",
        ),
        6: (
            "1e500e81ef817eb3becc79aa210ae9a4b51cab5b51d1cc3772d51b1e8807af57"
            "0123456789abcdeffedcba9876543210",
            "ac249286b235bfe185c5d7b8bbe05c600a3518beedf0befb05f1716733439d01",
        ),
    }
    _R6_KEY_CACHE.clear()
    for r, (u_hex, ue_hex) in vectors.items():
        u, ue = bytes.fromhex(u_hex), bytes.fromhex(ue_hex)
        assert _r6_file_key(u, ue, r) == key, f"R{r} KDF drifted"
        # the revision parameter is load-bearing: hashing an R5 /U with
        # the R6 KDF (or vice versa) must fail validation, not derive
        _R6_KEY_CACHE.clear()
        assert _r6_file_key(u, ue, 11 - r) is None
        _R6_KEY_CACHE.clear()


def test_aes256_r5_draft_revision_identity():
    """V5/R5 (the pre-ISO Acrobat-9 AESV3 draft): same entry layout
    and file-key-direct CBC as R6, but a single-SHA-256 KDF — both
    revisions must extract byte-identically, a corrupted /U must skip
    quietly, and the two revisions' files must NOT decrypt with each
    other's derivation (the r parameter is load-bearing)."""
    from toyocr_spark.extractor.pdf import decrypt_pdf
    from toyocr_spark.fixtures.genpdf import (
        build_pdf_subset_font,
        encrypt_pdf_aes256,
    )

    plain = build_pdf(
        [text_stream([paragraph_ops(72, 700, 12, 14, ["r5 secret", "line two"])])]
    )
    subset = build_pdf_subset_font([["r5 subset font line one", "and line two"]])
    for base in (plain, subset):
        want = [(b.text, b.box) for b in tokenize_pdf(base)]
        assert want
        enc = encrypt_pdf_aes256(base, r=5)
        assert b"/R 5" in enc and b"/AESV3" in enc
        assert [(b.text, b.box) for b in tokenize_pdf(enc)] == want
    enc = encrypt_pdf_aes256(plain, r=5)
    # flipping the declared revision to 6 makes the 2.B validation
    # fail against R5's single-SHA-256 /U -> quiet skip, not garbage
    swapped = enc.replace(b"/V 5 /R 5", b"/V 5 /R 6")
    assert decrypt_pdf(swapped) == swapped
    assert tokenize_pdf(swapped) == []
    # corrupted validation hash -> quiet skip
    um = re.search(rb"/U <([0-9a-f]{96})>", enc)
    bad = bytearray(enc)
    bad[um.start(1)] = ord("0") if enc[um.start(1) : um.start(1) + 1] != b"0" else ord("1")
    bad = bytes(bad)
    assert decrypt_pdf(bad) == bad and tokenize_pdf(bad) == []


def test_content_stream_token_dispatch_edges():
    """First-byte token dispatch in _runs: bare signs, leading-dot and
    trailing-dot numbers, operators containing digits/stars, and a sign
    not followed by digits must all tokenize exactly as before."""
    from toyocr_spark.extractor.pdf import _runs

    # ".5 3. Td" moves; "-" alone is skipped; "T*" newline; number then Tj
    content = (
        b"BT /F1 12 Tf 14 TL .5 3. Td - (A) Tj T* +2 -0.5 Td (B) Tj ET"
    )
    objs = _runs(content)
    assert len(objs) == 1
    lines = objs[0]
    texts = ["".join(ln.parts) for ln in lines]
    assert texts == ["A", "B"]
    # line 1 at (.5, 3.); T* drops by leading 14, then Td(+2, -0.5)
    assert (lines[0].x, lines[0].y) == (0.5, 3.0)
    assert (lines[1].x, lines[1].y) == (0.5 + 2, 3.0 - 14 - 0.5)
