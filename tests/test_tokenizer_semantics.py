"""The tokenizer's tag/text partition, pinned against the reference
regex form it replaced, and the caches and fast paths of its walk.

``tokenize`` splits the decoded source with ``_TAG_SPLIT_RE.split``
(``(<[^>]*>)``) into alternating text and tag runs; a text run holding
a '<' (only the last can: that '<' has no '>' after it) is split on
'<' into separate pieces. Its contract is byte-equivalence with
``<[^>]*>|[^<]+`` (a tag runs from '<' to the FIRST '>', embedded '<'
included; an unclosed '<' is skipped and the remainder rescans as
text). These tests keep that contract checkable without git
archaeology: the reference regex tokenization of the same source must
partition it into the same tag/text runs the kernel acts on, across
adversarial fuzz inputs.
"""

from __future__ import annotations

import random
import re
import sys

from toyocr_spark.extractor import tokenizer

_REF_TOK = re.compile(r"<[^>]*>|[^<]+", re.S)
_FIELDS = ("text", "tag_path", "n_chars", "link_chars", "n_inline", "kind", "box", "ordinal")


def _kernel_tokens(src: str) -> list[str]:
    """The runs ``tokenize`` acts on: ``_TAG_SPLIT_RE.split`` alternates
    text (even elements) and tags (odd), and a text element is split
    on '<' into its pieces, as the tokenizer's loop does."""
    out: list[str] = []
    for i, seg in enumerate(tokenizer._TAG_SPLIT_RE.split(src)):
        if i % 2:
            out.append(seg)
        else:
            out.extend(seg.split("<"))
    return out


def _regex_tokens(src: str) -> list[str]:
    return _REF_TOK.findall(src)


def _normalize(tokens: list[str]) -> list[str]:
    # both forms can emit adjacent text runs (after a skipped '<'): the
    # state machine appends them to the same open block, so compare at
    # that granularity
    out: list[str] = []
    for t in tokens:
        if not t:
            continue
        if out and t[0] != "<" and out[-1][0] != "<":
            out[-1] += t
        else:
            out.append(t)
    return out


def _fields(blocks) -> list[tuple]:
    return [tuple(getattr(b, f) for f in _FIELDS) for b in blocks]


def test_scanner_matches_regex_on_edge_shapes():
    cases = [
        "a<b", "<<p>x", "<p", "x>y", "<a<b>c", "tail<", "<>", "a < b>c",
        "<abc<def", "<p>hi</p", "", "<", ">", "<p><p>", "a<b<c>d<e",
        "<p att='x>y'>z",  # '>' inside attr ends the tag (regex semantics)
    ]
    for s in cases:
        assert _normalize(_kernel_tokens(s)) == _normalize(_regex_tokens(s)), repr(s)


def test_scanner_matches_regex_fuzz():
    rng = random.Random(2024)
    alphabet = "<>ab /=\"'\n"
    for _ in range(20000):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        assert _normalize(_kernel_tokens(s)) == _normalize(_regex_tokens(s)), repr(s)


def test_scanner_loop_is_the_shipped_one():
    """Every field of tokenize()'s blocks on a page with every edge
    shape: the partition above, entities, anchors and inline tags,
    layout classes, an absolute box, a void block tag, broken nesting
    and an unclosed final block."""
    src = (
        "<h1>Title</h1>"
        '<p>a &amp; <a href="u">b  c</a> <b>d</b></p>'
        '<div style="position:absolute;left:1px;top:2px">c < d</div>'
        "<ul><li>x</li></ul><br><td>cell</p>tail"
    )
    # '< d</div>' is ONE tag token (name 'd', unknown -> dropped) under
    # the first-'>' rule, so the '<' swallows ' d</div>' and the div
    # stays open — exactly what the reference regex did; '</p>' closes
    # no open p and leaves the path as it is
    assert _fields(tokenizer.tokenize(src)) == [
        ("Title", ("h1",), 5, 0, 0, "title", None, 0),
        ("a & b c d", ("p",), 9, 3, 2, "text", None, 1),
        ("c", ("div",), 1, 0, 0, "text", (1, 2, 100, 20), 2),
        ("x", ("div", "ul", "li"), 1, 0, 0, "list", None, 3),
        ("cell", ("div", "td"), 4, 0, 0, "table", None, 4),
        ("tail", ("div", "td"), 4, 0, 0, "table", None, 5),
    ]


def test_transition_memo_is_bounded_and_exact(monkeypatch):
    """A page with more distinct tag paths than the node table holds,
    more distinct tag tokens under one node than the tag cache or a
    node's step memo holds, and more distinct transitions than the
    step budget: the walk gives the same blocks with empty caches and
    with full ones, and no cache outgrows its cap."""
    cap = tokenizer._PATH_CACHE_CAP
    names = sorted(tokenizer.BLOCK_TAGS - tokenizer._VOID_TAGS)[:26]
    assert len(names) ** 3 > cap
    page = (
        "<p>"
        + "".join(f'<span data-i="{i}">w</span>' for i in range(cap + 1))
        + "</p>"
        + "".join(f"<{a}><{b}><{c}>t</{c}></{b}></{a}>" for a in names for b in names for c in names)
    )
    for cache in ("_NODES", "_TAG_CACHE"):
        monkeypatch.setattr(tokenizer, cache, {})
    monkeypatch.setattr(tokenizer, "_n_steps", 0)
    cold = _fields(tokenizer.tokenize(page))
    assert len(tokenizer._NODES) == cap
    warm = _fields(tokenizer.tokenize(page))
    assert cold == warm
    assert len(cold) == 1 + len(names) ** 3
    assert len(tokenizer._NODES) <= cap
    assert len(tokenizer._TAG_CACHE) <= cap
    steps = [len(n.steps) for n in tokenizer._NODES.values()]
    assert max(steps) == tokenizer._STEP_CAP
    assert sum(steps) == tokenizer._n_steps == cap


def test_position_box_case_insensitive():
    """_POS_RE is re.I, so the fast-path guard must be too: uppercase /
    mixed-case style attributes are legal HTML and must yield the same
    box as lowercase (round-2 ADVICE: a case-sensitive 'position' in tok
    guard silently dropped boxes, changing XY-cut reading order)."""
    from toyocr_spark.extractor.tokenizer import tokenize

    variants = [
        '<div style="position:absolute;left:10px;top:20px;width:280px;height:60px">t</div>',
        '<DIV STYLE="POSITION:ABSOLUTE;LEFT:10px;TOP:20px;WIDTH:280px;HEIGHT:60px">t</DIV>',
        '<div style="PoSiTiOn:AbSoLuTe;LeFt:10px;ToP:20px;WiDtH:280px;HeIgHt:60px">t</div>',
    ]
    boxes = [tokenize(h)[0].box for h in variants]
    assert boxes == [(10, 20, 280, 60)] * 3


def test_position_box_defaults_and_closing_tags():
    from toyocr_spark.extractor.tokenizer import tokenize

    # width/height default when absent
    b = tokenize('<div style="position:absolute;left:-3px;top:7px">x</div>')
    assert b[0].box == (-3, 7, 100, 20)
    # a closing tag never carries a box even if its token matches _POS_RE
    b = tokenize('<div>x</div style="position:absolute;left:1px;top:2px">y')
    assert all(blk.box is None for blk in b)


def test_make_block_collapses_exactly_as_str_split():
    """NBSP, the ideographic space and the C0 separators \\x1c-\\x1f are
    whitespace to str.split() (unlike the ASCII-only rule of an HTML
    parser): make_block collapses them, and nothing else. Text that
    collapses to nothing is no block."""
    from toyocr_spark.extractor.tokenizer import make_block

    # the fast path's premise: printable text holds no whitespace but ' '
    spaces = [c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()]
    assert [c for c in spaces if c.isprintable()] == [" "]
    for raw, want in (
        ("", ""),
        ("\t\n\r \x85", ""),
        ("\xa0\u3000\x1c\x1d\x1e\x1f", ""),
        ("a\xa0b", "a b"),
        ("a\u3000\u3000b", "a b"),
        ("\x1ca\x1c\x1db\x1f", "a b"),
        ("  a \n\t b  ", "a b"),
        ("a\u200bb", "a\u200bb"),  # zero-width space is not whitespace
    ):
        assert want == " ".join(raw.split()), repr(raw)
        b = make_block(raw, ("p",), "text", 3, 2)
        if not want:
            assert b is None, repr(raw)
        else:
            assert (b.text, b.n_chars) == (want, len(want)), repr(raw)
    # already collapsed text comes back as it is
    for text in ("a", "a b", "x\u200by z", "naïve — 中文 text"):
        assert make_block(text, (), "text").text == text


def test_make_block_clamps_link_chars_and_keeps_the_rest():
    from toyocr_spark.extractor.tokenizer import make_block

    b = make_block(" ab  c ", ("div", "p"), "title", 99, 4, (1, 2, 3, 4))
    assert (b.text, b.tag_path, b.n_chars, b.link_chars) == ("ab c", ("div", "p"), 4, 4)
    assert (b.n_inline, b.kind, b.box, b.ordinal) == (4, "title", (1, 2, 3, 4), 0)
    assert make_block("ab", (), "text", 2).link_chars == 2
    assert make_block("ab", (), "text", 1).link_chars == 1
