"""The scanner's token-stream semantics, pinned against the reference
regex form it replaced.

The tokenizer's hot loop is a str.find scanner; its contract is
byte-equivalence with ``<[^>]*>|[^<]+`` (a tag runs from '<' to the
FIRST '>', embedded '<' included; an unclosed '<' is skipped and the
remainder rescans as text). This test keeps that contract checkable
forever without git archaeology: a reference regex tokenization of the
same source must partition it into the same tag/text runs the scanner
acts on, across adversarial fuzz inputs.
"""

from __future__ import annotations

import random
import re

_REF_TOK = re.compile(r"<[^>]*>|[^<]+", re.S)


def _scanner_tokens(src: str) -> list[str]:
    """The exact scan loop from tokenizer.tokenize, emitting raw tokens."""
    out: list[str] = []
    find = src.find
    i, n = 0, len(src)
    while i < n:
        if src[i] != "<":
            j = find("<", i)
            if j == -1:
                j = n
            out.append(src[i:j])
            i = j
            continue
        j = find(">", i + 1)
        if j == -1:
            i += 1
            continue
        out.append(src[i : j + 1])
        i = j + 1
    return out


def _regex_tokens(src: str) -> list[str]:
    # the regex skips an unmatched '<' one char at a time, which splits
    # the following text run; rejoin adjacent text runs so both forms
    # compare at the "what the state machine consumes" granularity
    toks = _REF_TOK.findall(src)
    out: list[str] = []
    for t in toks:
        if out and t[0] != "<" and out[-1][0] != "<":
            out[-1] += t
        else:
            out.append(t)
    return out


def _normalize(tokens: list[str]) -> list[str]:
    # scanner can also emit adjacent text runs (after a skipped '<');
    # normalize identically on both sides
    out: list[str] = []
    for t in tokens:
        if not t:
            continue
        if out and t[0] != "<" and out[-1][0] != "<":
            out[-1] += t
        else:
            out.append(t)
    return out


def test_scanner_matches_regex_on_edge_shapes():
    cases = [
        "a<b", "<<p>x", "<p", "x>y", "<a<b>c", "tail<", "<>", "a < b>c",
        "<abc<def", "<p>hi</p", "", "<", ">", "<p><p>", "a<b<c>d<e",
        "<p att='x>y'>z",  # '>' inside attr ends the tag (regex semantics)
    ]
    for s in cases:
        assert _normalize(_scanner_tokens(s)) == _normalize(_regex_tokens(s)), repr(s)


def test_scanner_matches_regex_fuzz():
    rng = random.Random(2024)
    alphabet = "<>ab /=\"'\n"
    for _ in range(20000):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        assert _normalize(_scanner_tokens(s)) == _normalize(_regex_tokens(s)), repr(s)


def test_scanner_loop_is_the_shipped_one():
    """Guard against the test and the kernel drifting apart: the token
    boundaries implied by tokenize()'s Block output must be consistent
    with _scanner_tokens on a page with every edge shape."""
    from toyocr_spark.extractor.tokenizer import tokenize

    src = "<p>a &amp; b</p><div>c < d</div><ul><li>x</li></ul><p>tail"
    blocks = tokenize(src)
    texts = [b.text for b in blocks]
    # '< d</div>' is ONE tag token (name 'd', unknown -> dropped) under
    # the first-'>' rule, so the '<' swallows ' d</div>' and the div
    # stays open — exactly what the reference regex did
    assert texts == ["a & b", "c", "x", "tail"]
    assert blocks[3].tag_path == ("div", "p")


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


def test_make_block_clamps_link_chars_and_keeps_the_rest():
    from toyocr_spark.extractor.tokenizer import make_block

    b = make_block(" ab  c ", ("div", "p"), "title", 99, 4, (1, 2, 3, 4))
    assert (b.text, b.tag_path, b.n_chars, b.link_chars) == ("ab c", ("div", "p"), 4, 4)
    assert (b.n_inline, b.kind, b.box, b.ordinal) == (4, "title", (1, 2, 3, 4), 0)
    assert make_block("ab", (), "text", 2).link_chars == 2
    assert make_block("ab", (), "text", 1).link_chars == 1
