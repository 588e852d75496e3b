"""FictionBook 2 leg (extractor/fb2leg.py): gate precision against the
rest of the '<'-led family, structural exclusions (description
metadata, named note bodies, binary covers), verse-line joining, title
kinds, link accounting, and the quiet-skip fuzz contract."""

from __future__ import annotations

from toyocr_spark.extractor.core import dispatch_blocks, extract
from toyocr_spark.extractor.fb2leg import is_fb2, tokenize_fb2
from toyocr_spark.fixtures.genfb2 import build_fb2


def _book(**kw):
    return build_fb2(
        kw.pop("book_title", "Meta Title"),
        kw.pop("chapter_title", "Chapter One Heading"),
        kw.pop(
            "paragraphs",
            ["prose paragraph with plenty of words to clear every keep threshold easily"],
        ),
        **kw,
    )


def test_gate_hits_fb2_only():
    assert is_fb2(_book())
    # prologue + comment before the root still gates (256-byte head)
    assert is_fb2(b'<?xml version="1.0"?><!-- x -->\n<FictionBook>')
    # the rest of the '<'-led family must not gate
    assert not is_fb2(b"<html><body><p>FictionBook mentioned in prose</p></body></html>")
    assert not is_fb2(b'<?xml version="1.0"?><rss version="2.0"></rss>')
    assert not is_fb2("plain text FictionBook mention far away " + "x" * 300 + "<FictionBook>")
    assert not is_fb2(None)
    assert not is_fb2(b"")


def test_structural_exclusions_and_kinds():
    blocks = tokenize_fb2(_book(stanza_lines=["line one of verse", "line two of verse"]))
    texts = [b.text for b in blocks]
    kinds = [b.kind for b in blocks]
    assert texts[0] == "Chapter One Heading"
    assert kinds[0] == "title"
    # description metadata and the notes body never surface
    joined = " ".join(texts)
    assert "Meta Title" not in joined
    assert "Metadata" not in joined
    assert "popup footnote" not in joined
    # stanza verse lines join with a space, one block per stanza
    assert "line one of verse line two of verse" in texts
    # the catalog nav paragraph is tokenized but link-dominated
    nav = [b for b in blocks if "catalog link" in b.text]
    assert len(nav) == 1
    assert nav[0].link_chars >= nav[0].n_chars - 1


def test_nav_dies_by_link_density_through_extract():
    r = extract(_book())
    assert "catalog link" not in r.text
    assert r.text.startswith("Chapter One Heading\n")
    assert r.n_kept == r.text.count("\n") + 1


def test_quiet_skip_on_malformed():
    assert tokenize_fb2(b"<FictionBook><body><p>unclosed") == []
    assert tokenize_fb2(b"<NotABook/>") == []
    # mangled XML behind the gate falls through to the HTML tokenizer
    # (never raises, never silently zeroes a page with visible prose)
    r = extract(b"<FictionBook><body><p>unclosed but visible prose")
    assert "visible prose" in r.text


def test_undecodable_xml_encoding_falls_through_to_html():
    """An encoding declaration expat cannot use (unknown, not a text
    codec, multi-byte) is malformed XML: the leg yields nothing and the
    page goes to the HTML tokenizer instead of raising."""
    from toyocr_spark.extractor.tokenizer import tokenize

    for enc in (b"no-such-codec", b"rot13", b"utf-32"):
        doc = _book().replace(b'encoding="utf-8"', b'encoding="' + enc + b'"', 1)
        assert enc in doc
        assert tokenize_fb2(doc) == []
        assert dispatch_blocks(doc) == tokenize(doc)
        assert extract(doc).text


def test_gate_false_positive_page_survives():
    """An HTML article quoting '<FictionBook' as its LEADING markup
    cannot lose its content: the root-anchored gate refuses pages
    whose first element is not FictionBook, and even a gate hit with
    unparseable XML falls through to the HTML tokenizer."""
    page = (
        b"<html><body><p>all about the &lt;FictionBook&gt; format, with "
        b"plenty of prose to keep the scorer content here.</p>"
        b"<pre><FictionBook xmlns='x'></pre></body></html>"
    )
    assert not is_fb2(page)
    r = extract(page)
    assert "plenty of prose" in r.text


def test_leaf_text_never_dropped():
    """Table cells, attribution lines, poem titles and unknown text
    leaves all surface as blocks (the silent-loss regression)."""
    xml = (
        b"<FictionBook><body><section>"
        b"<table><tr><td>cell one text</td><th>cell two text</th></tr></table>"
        b"<poem><title><p>Poem Title Line</p></title>"
        b"<stanza><v>verse alpha</v><v>verse beta</v></stanza>"
        b"<text-author>A. Author</text-author></poem>"
        b"<strange-leaf>stray prose leaf</strange-leaf>"
        b"</section></body></FictionBook>"
    )
    blocks = tokenize_fb2(xml)
    got = {b.text: b.kind for b in blocks}
    assert got["cell one text"] == "table"
    assert got["cell two text"] == "table"
    assert got["Poem Title Line"] == "title"
    assert got["verse alpha verse beta"] == "text"
    assert got["A. Author"] == "text"
    assert got["stray prose leaf"] == "text"


def test_dispatch_routes_fb2_not_html():
    blocks = dispatch_blocks(_book())
    assert blocks and blocks[0].tag_path[0] == "fb2"
    html = b"<html><body><p>an ordinary page about FictionBook files</p></body></html>"
    hb = dispatch_blocks(html)
    assert hb and hb[0].tag_path[0] != "fb2"


def test_inline_markup_and_links_inside_paragraphs():
    xml = (
        b'<FictionBook xmlns:l="http://www.w3.org/1999/xlink"><body><section>'
        b"<p>plain <emphasis>styled</emphasis> tail and "
        b'<a l:href="#n1">note ref</a> end</p>'
        b"</section></body></FictionBook>"
    )
    blocks = tokenize_fb2(xml)
    assert len(blocks) == 1
    b = blocks[0]
    assert b.text == "plain styled tail and note ref end"
    assert b.link_chars == len("note ref")
    assert b.n_inline == 2
