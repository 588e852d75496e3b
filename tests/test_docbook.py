"""DocBook extraction: the root-anchored + evidence gate and its
traps, DB4-vs-DB5 title placement (direct child vs inside <info>),
division depth, list/table/listing semantics, the chrome battery
(info metadata, admonitions, footnotes, indexterms, comments), ulink
scoring, link mining, fuzz determinism, dispatch precedence — the
same contract battery every format carries (reference analogue: the
byte -> array decode seam at
/root/reference/data/dataset_mapper.py:151-155)."""

import random

import pytest

from toyocr_spark.extractor.core import dispatch_blocks, extract
from toyocr_spark.extractor.docbookleg import (
    docbook_links,
    is_docbook,
    tokenize_docbook,
)
from toyocr_spark.extractor.fb2leg import is_fb2
from toyocr_spark.fixtures.gendocbook import build_docbook

_PARAS = [
    "the first paragraph keeps going long enough to clear the threshold here",
    "second paragraph also long enough to clear every keep threshold easily",
]


def _doc(**kw) -> bytes:
    return build_docbook("Docs Page Title Here", _PARAS, **kw)


# --- gate -----------------------------------------------------------------


@pytest.mark.parametrize("version", [4, 5])
def test_gate_accepts_both_docbook_versions(version):
    assert is_docbook(_doc(version=version))


def test_gate_rejects_html_prose_and_other_xml():
    assert not is_docbook(b"plain prose with no markup at all\nmore prose")
    # an HTML page's root is <html>, never a DocBook division
    assert not is_docbook(b"<html><body><article><p>x</p></article></body></html>")
    # a bare <article> of some OTHER dialect (no DocBook evidence)
    assert not is_docbook(b'<article><heading>x</heading><body>y</body></article>')
    # an HTML article QUOTING DocBook in text is still root-anchored out
    assert not is_docbook(b"<html><body>see &lt;para&gt; docbook.org</body></html>")
    # FictionBook stays FictionBook
    fb = b"<FictionBook><description/><body><section><p>x</p></section></body></FictionBook>"
    assert not is_docbook(fb) and is_fb2(fb)
    assert not is_docbook(None)


def test_malformed_xml_tokenizes_empty_for_html_fallback():
    truncated = _doc()[: len(_doc()) // 2]
    assert tokenize_docbook(truncated) == []


def test_undecodable_xml_encoding_falls_through_to_html():
    """An encoding declaration expat cannot use (unknown, not a text
    codec, multi-byte) is malformed XML: the leg yields nothing and the
    page goes to the HTML tokenizer instead of raising."""
    from toyocr_spark.extractor.tokenizer import tokenize

    for enc in (b"no-such-codec", b"rot13", b"utf-32"):
        doc = _doc().replace(b'encoding="UTF-8"', b'encoding="' + enc + b'"', 1)
        assert enc in doc
        assert tokenize_docbook(doc) == []
        assert dispatch_blocks(doc) == tokenize(doc)
        assert extract(doc).text


# --- structure / chrome ---------------------------------------------------


@pytest.mark.parametrize("version", [4, 5])
def test_title_paragraphs_extract_and_chrome_dies(version):
    r = extract(_doc(version=version))
    lines = r.text.split("\n")
    assert lines[0] == "Docs Page Title Here"
    assert lines[1:3] == _PARAS  # emphasis resolves, footnote strips
    assert r.spans[0][2] == "title"
    assert "Planted Author Chrome" not in r.text  # info author
    assert "planted abstract chrome" not in r.text  # abstract + legalnotice
    assert "planted note chrome" not in r.text  # <note> admonition
    assert "planted footnote chrome" not in r.text  # <footnote>
    assert "planted index chrome" not in r.text  # <indexterm>
    assert "Home" not in r.text  # ulink nav by link density


def test_section_depth_lists_listing_and_tables():
    r = extract(
        _doc(
            section="Section Heading Content Here",
            items=[
                "first list item long enough to keep",
                "second list item long enough too",
            ],
            listing=["int main(void) {", "  return 0;", "}"],
            table_rows=[
                ["alpha cell text", "beta cell text"],
                ["gamma cell text", "delta cell text"],
            ],
        )
    )
    assert "Section Heading Content Here" in r.text
    assert "first list item long enough to keep" in r.text
    assert "int main(void) { return 0; }" in r.text  # listing is content
    assert "alpha cell text beta cell text" in r.text  # row cells join
    kinds = [s[2] for s in r.spans]
    assert "list" in kinds and "table" in kinds
    # sect1 titles land at h3 under the article's h1
    blocks = tokenize_docbook(_doc(section="Section Heading Content Here"))
    heads = [(b.tag_path, b.text) for b in blocks if b.kind == "title"]
    assert (("db", "h1"), "Docs Page Title Here") in heads
    assert (("db", "h3"), "Section Heading Content Here") in heads


def test_db5_recursive_sections_deepen():
    src = (
        b'<article xmlns="http://docbook.org/ns/docbook">'
        b"<info><title>Top Title Line</title></info>"
        b"<section><info><title>Level Two Title</title></info>"
        b"<section><info><title>Level Three Title</title></info>"
        b"<para>body paragraph long enough to keep around here</para>"
        b"</section></section></article>"
    )
    heads = [
        (b.tag_path, b.text) for b in tokenize_docbook(src) if b.kind == "title"
    ]
    assert heads == [
        (("db", "h1"), "Top Title Line"),
        (("db", "h2"), "Level Two Title"),
        (("db", "h3"), "Level Three Title"),
    ]


def test_ulink_text_is_link_chars():
    src = (
        b"<article><title>T</title>"
        b'<para><ulink url="https://a.example/">alpha beta</ulink> '
        b'<ulink url="https://b.example/">gamma delta</ulink> tail</para>'
        b"<para>evidence para</para></article>"
    )
    b = next(x for x in tokenize_docbook(src) if x.tag_path == ("db", "p"))
    assert b.link_chars == len("alpha beta") + len("gamma delta")
    assert b.text == "alpha beta gamma delta tail"


# --- link mining ----------------------------------------------------------


@pytest.mark.parametrize("version", [4, 5])
def test_links_ulinks_mined_footnotes_excluded(version):
    d = build_docbook(
        "T",
        ["para with an external link kept"],
        version=version,
        links=[("ext link", "https://x.example/e")],
    )
    links = docbook_links(d)
    assert "https://x.example/e" in links
    assert "https://nav.example/" in links  # nav plant mines (not extraction)


def test_db5_xlink_href_mines():
    src = (
        b'<article xmlns="http://docbook.org/ns/docbook" '
        b'xmlns:xlink="http://www.w3.org/1999/xlink">'
        b"<info><title>T</title></info>"
        b'<para>see <link xlink:href="https://x.example/five">the guide</link>'
        b"</para></article>"
    )
    assert docbook_links(src) == ["https://x.example/five"]


# --- fuzz / determinism ---------------------------------------------------


def test_fuzz_determinism_truncation_and_bitflips():
    base = _doc()
    rng = random.Random(37)
    for _ in range(60):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        cut = bytes(buf[: rng.randrange(1, len(buf))])
        assert extract(cut) == extract(cut)
