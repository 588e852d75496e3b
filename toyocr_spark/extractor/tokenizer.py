"""Deterministic HTML tokenizer: bytes -> list[Block].

Hand-rolled scanner state machine (no lxml/bs4 — version-stable by
construction, SURVEY.md S7 "What's hard"). Plays the role of the
reference's image decode + DatasetMapper per-record map
(/root/reference/data/dataset_mapper.py:140-303): raw bytes in, a
normalized per-record structure out, fully deterministic.

A Block is one run of text between block-level tag boundaries, with the
signals the scorer needs: char count, anchor-text char count, inline tag
count, the tag path at the block start, an optional absolute-position
box (for the XY-cut layout pass), and a coarse layout class
(``kind`` in {text,title,list,table,figure} — the reference's 5 layout
classes, /root/reference/data/dataset/layout_analysis.py:10).

The walk: ``_TAG_SPLIT_RE.split`` cuts the source into alternating text
and tag runs in one C pass, and the open-block path moves over interned
path nodes (``_Node``). Each node holds its path tuple and layout class
and memoizes, per tag token, the step out of it (next node, what the
tag does to the run, the box it opens), so a tag seen before under the
same path costs one dict hit. The node table, each node's steps and
all steps together are capped; past a cap the walk stays exact and
stops memoizing.

Blocks are built by ``make_block``, which owns the block contract. Most
HTML block texts are already collapsed (one ' ' between words, none at
the edges, no other whitespace), and for those it skips the collapse.
"""

from __future__ import annotations

import html as _htmlmod
import re
from dataclasses import dataclass
from xml.etree import ElementTree


# What ElementTree.fromstring raises on bytes it cannot read as XML:
# malformed markup (ParseError), or an encoding declaration naming a
# codec it does not know (LookupError) or one expat cannot use, such as
# a multi-byte codec (ValueError, UnicodeError). The XML legs treat all
# of them as "not this format".
XML_ERRORS = (ElementTree.ParseError, LookupError, ValueError)


# --- precompiled patterns (module-level: compiled once per executor) ---

# strip comments / script / style wholesale before tag walking
_STRIP_RE = re.compile(
    r"<!--.*?-->|<script\b[^>]*>.*?</script\s*>|<style\b[^>]*>.*?</style\s*>",
    re.S | re.I,
)
_TAG_NAME_RE = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9]*)")
_TAG_TOKEN_RE = re.compile(r"<[^>]*>")
# absolute href target — the ONE definition shared by every
# absolute-only mining leg (tar members, markdown inline HTML, the
# kernel-gate fallback in linkmine); keeping a single compiled object
# means a scheme/quoting fix can never diverge the legs
ABS_HREF_RE = re.compile(r'(?i)href="(https?://[^"]+)"')


def utf8_textish(data: bytes, probe_bytes: int = 4096) -> bool:
    """True iff the head is strict-UTF-8 text with no NUL — the shared
    'may this blob be treated as text' gate (tar member dispatch,
    kernel-fallback href mining). Trims a trailing partial sequence
    before the strict decode."""
    probe = bytes(data[:probe_bytes])
    if b"\x00" in probe:
        return False
    for cut in range(4):
        try:
            probe[: len(probe) - cut].decode("utf-8")
            return True
        except UnicodeDecodeError:
            continue
    return False


def text_head(data: bytes | str | None) -> str | None:
    """The first 4 KB of a text page, replace-decoded: what the
    structural text-format gates sniff. None unless `data` is bytes
    that pass `utf8_textish`."""
    if not isinstance(data, (bytes, bytearray)) or not utf8_textish(data):
        return None
    return bytes(data[:4096]).decode("utf-8", errors="replace")


_TAG_SPLIT_RE = re.compile(r"(<[^>]*>)")
# style="position:absolute;left:10px;top:20px;width:100px;height:30px"
_POS_RE = re.compile(
    r"position\s*:\s*absolute[^\"']*?left\s*:\s*(-?\d+)px\s*;\s*top\s*:\s*(-?\d+)px"
    r"(?:\s*;\s*width\s*:\s*(\d+)px)?(?:\s*;\s*height\s*:\s*(\d+)px)?",
    re.I,
)

# tags that end/begin a block of text
BLOCK_TAGS = frozenset(
    """html body main article section div p h1 h2 h3 h4 h5 h6 ul ol li dl dt dd
       table thead tbody tfoot tr td th blockquote pre figure figcaption
       header footer nav aside form fieldset title br hr option select
       textarea caption""".split()
)
# container tags that stay on the path stack (self-closing-ish tags don't)
_VOID_TAGS = frozenset("br hr img input meta link area base col embed source track wbr".split())
# inline tags counted as "markup weight" inside a block
_INLINE_TAGS = frozenset("a span b i em strong u small sup sub code abbr mark q s".split())

_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6 title".split())
_LIST_TAGS = frozenset("li dt dd".split())
_TABLE_TAGS = frozenset("td th caption".split())
_FIGURE_TAGS = frozenset("figure figcaption".split())
# boilerplate containers (Boilerpipe-style tag-path prior)
BOILER_TAGS = frozenset("nav header footer aside form select option".split())


@dataclass(slots=True)
class Block:
    """One text block plus its scoring signals (the graft of the
    reference's per-instance row: box+class+score -> path+density).

    Every leg emits blocks under one contract, the graft of the
    reference's per-record map plus ``filter_empty_instances``: the
    text is whitespace-collapsed (``" ".join(x.split())``) and never
    empty, ``n_chars == len(text)`` and ``0 <= link_chars <= n_chars``.
    Legs build blocks through ``make_block``, which owns that contract."""

    text: str = ""
    tag_path: tuple[str, ...] = ()
    n_chars: int = 0
    link_chars: int = 0
    n_inline: int = 0  # inline tag count inside the block
    kind: str = "text"
    box: tuple[int, int, int, int] | None = None  # (x, y, w, h) if positioned
    ordinal: int = 0  # position among non-empty blocks, set by tokenize

    @property
    def in_boiler(self) -> bool:
        p = self.tag_path
        v = _BOILER_CACHE.get(p)
        if v is None:
            v = any(t in BOILER_TAGS for t in p)
            if len(_BOILER_CACHE) < _PATH_CACHE_CAP:
                _BOILER_CACHE[p] = v
        return v


def make_block(
    text: str,
    path: tuple[str, ...],
    kind: str,
    link_chars: int = 0,
    n_inline: int = 0,
    box: tuple[int, int, int, int] | None = None,
) -> Block | None:
    """The Block of raw `text` under the block contract: the text
    collapsed, None when nothing is left, `n_chars` taken from the text
    and `link_chars` clamped to it."""
    # most block texts are already collapsed: printable text holds no
    # whitespace but ' ' (every other str.isspace() code point is
    # non-printable), so with no '  ' and no edge space the collapse is
    # the identity and is skipped
    if not (text.isprintable() and "  " not in text and text[:1] != " " and text[-1:] != " "):
        # == re.sub(r"\s+", " ", text).strip() for every codepoint, ~3x faster
        text = " ".join(text.split())
    if not text:
        return None
    n = len(text)
    return Block(text, path, n, link_chars if link_chars < n else n, n_inline, kind, box)


# tag paths repeat heavily within and across pages of a crawl; memoizing
# the pure path->label maps removes the per-block path walk from the hot
# loop. Capped so adversarial pages with unbounded distinct paths cannot
# grow worker memory (same spill-control stance as MAX_HTML_BYTES).
_PATH_CACHE_CAP = 1 << 14
_BOILER_CACHE: dict[tuple[str, ...], bool] = {}
# tag-token -> (name, closing, box|None, cat) | None-for-malformed; 0 is
# the miss sentinel (a valid entry is never 0). The box is parsed here,
# at token-cache-fill time, so the "position" pre-check can afford a
# case-fold: _POS_RE is re.I, and a case-sensitive fast-path guard would
# silently drop boxes on <DIV STYLE="POSITION:ABSOLUTE;..."> (legal
# HTML) — lost boxes change XY-cut reading order, a byte-identity break.
# ``cat`` pre-resolves the scanner's set-membership chain ONCE per
# distinct token instead of on every occurrence:
#   0 = ignored tag, 1 = block (stack-tracked), 2 = anchor,
#   3 = other inline, 4 = void block (br/hr — flush but never stack)
_TAG_CACHE: dict[
    str, tuple[str, bool, tuple[int, int, int, int] | None, int] | None
] = {}


def _parse_tag(
    tok: str,
) -> tuple[str, bool, tuple[int, int, int, int] | None, int] | None:
    nm = _TAG_NAME_RE.match(tok)
    if nm is None:
        return None  # malformed tag: drop (deterministic)
    name = nm.group(1)
    if not name.islower():
        name = name.lower()
    closing = tok[1] == "/"
    box = None
    if not closing and ("position" in tok or "position" in tok.lower()):
        pm = _POS_RE.search(tok)
        if pm is not None:
            x, y = int(pm.group(1)), int(pm.group(2))
            w = int(pm.group(3)) if pm.group(3) else 100
            h = int(pm.group(4)) if pm.group(4) else 20
            box = (x, y, w, h)
    if name in BLOCK_TAGS:
        cat = 4 if name in _VOID_TAGS else 1
    elif name == "a":
        cat = 2
    elif name in _INLINE_TAGS:
        cat = 3
    else:
        cat = 0
    return (name, closing, box, cat)


# <meta charset=...> / <meta http-equiv content="...charset=..."> and
# XML-prologue encoding sniffers, run over the first KiB of raw bytes
# (the WHATWG prescan region). ASCII-superset encodings only: a meta
# tag readable as ASCII cannot be declaring UTF-16/32.
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]{0,256}?charset\s*=\s*[\"']?\s*([A-Za-z0-9][A-Za-z0-9._\-]{0,30})",
    re.I,
)
_XML_ENC_RE = re.compile(
    rb"^\s*<\?xml[^>]{0,128}?encoding\s*=\s*[\"']([A-Za-z0-9._\-]{1,31})[\"']", re.I
)
_SNIFF_BYTES = 1024


def _sniffed_codec(head: bytes) -> str | None:
    m = _META_CHARSET_RE.search(head) or _XML_ENC_RE.match(head)
    if m is None:
        return None
    import codecs

    try:
        name = codecs.lookup(m.group(1).decode("ascii")).name
    except (LookupError, UnicodeDecodeError):
        return None  # unknown label: fall through to utf-8
    if name == "utf-8" or name.startswith(("utf-16", "utf-32")):
        # utf-8 is the default anyway; a utf-16/32 label inside
        # ASCII-readable markup is self-contradictory (WHATWG says
        # treat it as utf-8)
        return None
    return name


def _decode(html: bytes | str) -> str:
    """Charset-sniffing byte decode, deterministic and lossy-safe — the
    format-trap normalization analogue of
    /root/reference/utils/img_utils.py:9-31 (EXIF/PNG surprises).

    Priority (WHATWG encoding-sniffing order): BOM > <meta charset> /
    XML prologue (first KiB, ASCII-superset encodings only) > lossy
    UTF-8. A real crawl is several percent non-UTF-8; without this every
    such page extracts mojibake."""
    if isinstance(html, str):
        return html
    if html[:3] == b"\xef\xbb\xbf":
        return html[3:].decode("utf-8", "replace")
    if html[:4] == b"\xff\xfe\x00\x00":
        return html[4:].decode("utf-32-le", "replace")
    if html[:4] == b"\x00\x00\xfe\xff":
        return html[4:].decode("utf-32-be", "replace")
    if html[:2] == b"\xff\xfe":
        return html[2:].decode("utf-16-le", "replace")
    if html[:2] == b"\xfe\xff":
        return html[2:].decode("utf-16-be", "replace")
    codec = _sniffed_codec(html[:_SNIFF_BYTES])
    if codec is not None:
        try:
            return html.decode(codec, "replace")
        except Exception:  # non-text codec smuggled through a label
            pass
    return html.decode("utf-8", "replace")


def _classify_walk(tag_path: tuple[str, ...]) -> str:
    # innermost classification wins: walk the path from the leaf
    for t in reversed(tag_path):
        if t in _HEADING_TAGS:
            return "title"
        if t in _LIST_TAGS:
            return "list"
        if t in _TABLE_TAGS:
            return "table"
        if t in _FIGURE_TAGS:
            return "figure"
    return "text"


class _Node:
    """One open-block path of the tag walk, interned in `_NODES`: the
    path tuple, its layout class, and `steps`, the memoized transitions
    out of it (tag token -> `_step`'s (next node, category, box))."""

    __slots__ = ("path", "kind", "steps", "interned")

    def __init__(self, path: tuple[str, ...], interned: bool) -> None:
        self.path = path
        self.kind = _classify_walk(path)
        self.steps: dict[str, tuple[_Node, int, tuple[int, int, int, int] | None]] = {}
        self.interned = interned


# path -> node, capped at _PATH_CACHE_CAP nodes. Steps are capped at
# _STEP_CAP per node and at _PATH_CACHE_CAP over all nodes (`_n_steps`
# counts them), so the memo keeps at most that many token strings alive
# past _TAG_CACHE's. Past a cap the walk stays exact and just stops
# memoizing: a node made past the table cap is never interned, and a
# step is memoized only between interned nodes, so nothing uncached is
# kept alive.
_NODES: dict[tuple[str, ...], _Node] = {}
_STEP_CAP = 256
_n_steps = 0


def _node(path: tuple[str, ...]) -> _Node:
    node = _NODES.get(path)
    if node is None:
        interned = len(_NODES) < _PATH_CACHE_CAP
        node = _Node(path, interned)
        if interned:
            _NODES[path] = node
    return node


# step categories: what one tag token does to the walk
_IGNORE, _BLOCK, _OPEN_A, _CLOSE_A, _OPEN_INLINE = range(5)


def _step(node: _Node, tok: str) -> tuple[_Node, int, tuple[int, int, int, int] | None]:
    """The transition out of `node` on tag token `tok`, memoized on
    `node`: (next node, category, box of the block the tag opens)."""
    global _n_steps
    hit = _TAG_CACHE.get(tok, 0)
    if hit == 0:
        hit = _parse_tag(tok)
        if len(_TAG_CACHE) < _PATH_CACHE_CAP:
            _TAG_CACHE[tok] = hit
    nxt, cat, box = node, _IGNORE, None
    if hit is not None:
        name, closing, tag_box, tag_cat = hit
        if tag_cat == 1:  # block: closes the run; opens or closes a path level
            cat, box = _BLOCK, tag_box  # a closing tag has no box
            path = node.path
            if not closing:
                nxt = _node(path + (name,))
            elif name in path:
                # pop to the innermost matching open tag (tolerant of
                # broken nesting); an unmatched close keeps the path
                i = len(path) - 1
                while path[i] != name:
                    i -= 1
                nxt = _node(path[:i])
        elif tag_cat == 4:  # void block (br/hr): closes the run, never stacks
            cat = _BLOCK
        elif tag_cat == 2:
            cat = _CLOSE_A if closing else _OPEN_A
        elif tag_cat == 3 and not closing:
            cat = _OPEN_INLINE
    step = (nxt, cat, box)
    steps = node.steps
    if node.interned and nxt.interned and len(steps) < _STEP_CAP and _n_steps < _PATH_CACHE_CAP:
        steps[tok] = step
        _n_steps += 1
    return step


def tokenize(html: bytes | str) -> list[Block]:
    """Parse HTML into a list of non-empty text blocks, in document order.

    Pure function of the bytes: stable across processes, partitions and
    batch boundaries (the byte-identity requirement of BASELINE.json).
    """
    src = _decode(html)
    if not src:
        return []
    src = _STRIP_RE.sub(" ", src)

    blocks: list[Block] = []
    # a block is emitted under the node current when its run closes
    node = _node(())
    steps_get = node.steps.get
    link_depth = 0
    # open-block state lives in LOCALS (not attributes of a reusable
    # Block): local loads/stores are several times cheaper than slots
    # attribute access in this loop, and a Block object is allocated
    # only when a block is actually emitted.
    parts: list[str] = []
    link_chars = 0
    n_inline = 0
    cur_box: tuple[int, int, int, int] | None = None

    # scanner over _TAG_SPLIT_RE (r"(<[^>]*>)").split: ONE C pass yields
    # [text, tag, text, ..., tag, text] directly — no match objects, no
    # per-token start/end/group calls, no Python-level find/slice pair.
    # A tag runs from '<' to the FIRST '>' (embedded '<' included —
    # [^>]* cannot cross one). Every text element except the final one
    # is '<'-free by construction (a '<' either starts a tag match or
    # has no '>' anywhere after it, which forces it into the LAST
    # element — handled by the '<'-split branch). Byte-equivalence with
    # the original char-walk is gauntleted over every fixture class + an
    # HTML-soup fuzz corpus.
    parts_append = parts.append  # parts is cleared in place, never rebound
    blocks_append = blocks.append
    unescape = _htmlmod.unescape
    segs = _TAG_SPLIT_RE.split(src)
    seg_iter = iter(segs)
    head = next(seg_iter)
    if head:
        # a '<' inside a text element means it has no '>' anywhere after
        # (possible only in the final element): the original char-walk
        # skipped each such '<' and appended the fragments between them
        # as SEPARATE pieces — replicate by splitting on '<'
        for frag in head.split("<") if "<" in head else (head,):
            if frag:
                piece = unescape(frag) if "&" in frag else frag
                parts_append(piece)
                if link_depth > 0:
                    # count anchor-text chars after whitespace collapse
                    # parity: collapse here too so link_chars <= n_chars
                    link_chars += len(" ".join(piece.split()))
    for tok, text in zip(seg_iter, seg_iter):
        step = steps_get(tok)
        if step is None:
            step = _step(node, tok)
        nxt, cat, box = step
        if cat == _BLOCK:  # close the run
            if parts:
                # most blocks hold exactly one run: skip the concat
                b = make_block(
                    parts[0] if len(parts) == 1 else "".join(parts),
                    node.path, node.kind, link_chars, n_inline, cur_box,
                )
                if b is not None:
                    blocks_append(b)
                parts.clear()
                link_chars = 0
                n_inline = 0
            elif link_chars or n_inline:
                link_chars = 0
                n_inline = 0
            cur_box = box
            if nxt is not node:
                node = nxt
                steps_get = node.steps.get
        elif cat == _OPEN_A:
            link_depth += 1
            n_inline += 1
        elif cat == _CLOSE_A:
            if link_depth:
                link_depth -= 1
        elif cat == _OPEN_INLINE:
            n_inline += 1
        if text:
            if "<" in text:  # only possible in the final element
                for frag in text.split("<"):
                    if frag:
                        piece = unescape(frag) if "&" in frag else frag
                        parts_append(piece)
                        if link_depth > 0:
                            link_chars += len(" ".join(piece.split()))
            else:  # hot path
                piece = unescape(text) if "&" in text else text
                parts_append(piece)
                if link_depth > 0:
                    link_chars += len(" ".join(piece.split()))
    if parts:  # final flush
        b = make_block("".join(parts), node.path, node.kind, link_chars, n_inline, cur_box)
        if b is not None:
            blocks_append(b)

    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks
