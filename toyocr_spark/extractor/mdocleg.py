"""mdoc (BSD man-page macros) tokenizer — the thirty-sixth leg of the
format dispatch, completing the manual-page family: man(7) covers the
GNU/Linux corpus (extractor/manleg.py), mdoc(7) covers the BSD one
(FreeBSD/OpenBSD/NetBSD man trees, macOS manuals — all semantic-macro
pages with no .TH).

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: mdoc mandates the ``.Dd`` document-date macro as
the first macro of every page (the prologue: .Dd, .Dt, .Os), so the
gate demands strict-UTF-8, a line-anchored ``.Dd `` in the head, and
>= 2 further mdoc macro lines (``.Sh``/``.Nm``/``.Nd``/``.Bl``…).
The man(7) gate keys on ``.TH`` which mdoc pages never carry, so the
two gates are disjoint by construction.

What is content and what is chrome:
- the ``.Dd``/``.Dt``/``.Os`` prologue is METADATA (the .TH rule:
  header+footer chrome, never read); ``.Sh``/``.Ss`` section
  headings -> title blocks; free text and rendered parsed-macro
  lines join the current paragraph; ``.Pp``/``.Lp`` break
  paragraphs.
- ``.Bl``…``.El`` lists emit one list block per ``.It`` item (the
  item's tag renders inline with its body, the .TP rule).
- ``.Bd -literal``…``.Ed`` display blocks keep their text as ONE
  block (the fenced-code rule); ``.D1``/``.Dl`` one-line displays
  are text.
- semantic inline macros render by a bounded vocabulary: ``.Fl x``
  -> ``-x``, ``.Op …`` -> ``[…]``, ``.Dq/.Qq …`` -> double-quoted,
  ``.Sq/.Ql …`` -> single-quoted, ``.Xr page sec`` -> ``page(sec)``,
  ``.Nm`` remembers and repeats the page name, ``.Nd`` renders
  ``- description``; other known semantic macros (Ar/Cm/Ev/Pa/Em/
  Sy/Li/Dv/Er/Ic/Va/Ft/Fn/Vt/An/Mt/Lk…) keep their arguments as
  plain text with markup weight counted. ``.Lk url text`` counts
  its label as link chars (the true <a> analogue). Trailing
  punctuation args pass through; callable-macro chaining inside a
  line renders left-to-right. Unknown request lines drop (the troff
  rule), and comments (``.\\"``) drop.

Boundedness: one line walk; all text is a subset of the page-capped
input. Determinism: malformed macros tokenize to whatever the
truncated walk yields — same bytes, same blocks, never an
exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head


_DD_RE = re.compile(r"(?m)^\.Dd\s+\S")
_MACRO_RE = re.compile(r"(?m)^\.(Sh|Ss|Nm|Nd|Os|Dt|Pp|Bl|It|El|Bd|Ed|Fl|Ar|Op|Xr)(\s|$)")
_COMMENT_TAIL_RE = re.compile(r'\\".*$')

# parsed (callable) macros rendered inline, left-to-right
_PLAIN = {
    "Ar", "Cm", "Ev", "Pa", "Em", "Sy", "Li", "Dv", "Er", "Ic", "Va",
    "Ft", "Fn", "Fa", "Vt", "An", "Mt", "Ad", "Ms", "St", "Ux", "Bx",
    "Fx", "Nx", "Ox", "At", "No", "Tn",
}
_PUNCT = {".", ",", ";", ":", "?", "!", ")", "(", "[", "]"}


def is_mdoc(data: bytes | str | None) -> bool:
    """Prologue gate (see module docstring): strict-UTF-8 head, a
    line-anchored `.Dd `, >= 2 further mdoc macro lines."""
    head = text_head(data)
    if head is None:
        return False
    if head.lstrip()[:1] == "<":
        # a markup page QUOTING mdoc source stays markup — the
        # wikitext/rst first-byte rule
        return False
    if not _DD_RE.search(head):
        return False
    return len(_MACRO_RE.findall(head)) >= 2


class _Ctx:
    __slots__ = ("name", "link_chars", "n_inline")

    def __init__(self) -> None:
        self.name = ""
        self.link_chars = 0
        self.n_inline = 0


def _split_args(rest: str) -> list[str]:
    """mdoc argument split: double-quoted args keep spaces."""
    args: list[str] = []
    i, n = 0, len(rest)
    while i < n:
        while i < n and rest[i] in " \t":
            i += 1
        if i >= n:
            break
        if rest[i] == '"':
            j = rest.find('"', i + 1)
            if j < 0:
                args.append(rest[i + 1 :])
                break
            args.append(rest[i + 1 : j])
            i = j + 1
        else:
            j = i
            while j < n and rest[j] not in " \t":
                j += 1
            args.append(rest[i:j])
            i = j
    return args


def _render_macro_line(body: str, ctx: _Ctx) -> str:
    """Render one parsed-macro line's tokens left-to-right into plain
    text: macro names consume following args per their convention;
    non-macro tokens pass through."""
    toks = _split_args(body)
    out: list[str] = []
    i, n = 0, len(toks)

    def take_until_macro(j: int) -> tuple[list[str], int]:
        taken: list[str] = []
        while j < n and not (len(toks[j]) == 2 and toks[j][0].isupper() and toks[j][1].islower()):
            taken.append(toks[j])
            j += 1
        return taken, j

    while i < n:
        t = toks[i]
        is_macro = len(t) == 2 and t[0].isupper() and t[1].islower()
        if not is_macro:
            out.append(t)
            i += 1
            continue
        ctx.n_inline += 1
        if t == "Nm":
            nxt = toks[i + 1] if i + 1 < n else ""
            if nxt and not (len(nxt) == 2 and nxt[0].isupper() and nxt[1].islower()) and nxt not in _PUNCT:
                if not ctx.name:
                    ctx.name = nxt
                out.append(nxt)
                i += 2
            else:
                out.append(ctx.name)
                i += 1
            continue
        if t == "Nd":
            out.append("-")
            i += 1
            continue
        if t == "Fl":
            j = i + 1
            while j < n and not (len(toks[j]) == 2 and toks[j][0].isupper() and toks[j][1].islower()) and toks[j] not in _PUNCT:
                out.append("-" + toks[j])
                j += 1
            if j == i + 1:
                out.append("-")
            i = j
            continue
        if t == "Op":
            # .Op encloses the REST of the line (mdoc's line-scoped
            # enclosure): render it recursively and bracket it
            rendered = _render_macro_line(" ".join(toks[i + 1 :]), ctx)
            out.append(f"[{rendered}]")
            return " ".join(x for x in out if x)
        if t in ("Dq", "Qq"):
            inner, j = take_until_macro(i + 1)
            out.append('"' + " ".join(inner) + '"')
            i = j
            continue
        if t in ("Sq", "Ql"):
            inner, j = take_until_macro(i + 1)
            out.append("'" + " ".join(inner) + "'")
            i = j
            continue
        if t == "Xr":
            page = toks[i + 1] if i + 1 < n else ""
            sec = toks[i + 2] if i + 2 < n else ""
            if sec and sec not in _PUNCT:
                out.append(f"{page}({sec})")
                i += 3
            else:
                out.append(page)
                i += 2
            continue
        if t == "Lk":
            url = toks[i + 1] if i + 1 < n else ""
            label, j = take_until_macro(i + 2)
            shown = " ".join(label) or url
            ctx.link_chars += len(shown)
            out.append(shown)
            i = j
            continue
        if t in _PLAIN:
            i += 1
            continue
        # unknown two-letter token that LOOKS like a macro: treat as
        # prose (never silently eat words)
        out.append(t)
        i += 1
    return " ".join(x for x in out if x)


def tokenize_mdoc(data: bytes) -> list[Block]:
    """Parse mdoc(7) source into Blocks: one per section heading /
    paragraph / .It list item / .Bd display block, the prologue and
    comments dropped, sharing the HTML leg's kinds so XY-cut, scoring
    and islands apply unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    i, n = 0, len(lines)
    blocks: list[Block] = []
    para: list[str] = []
    ctx = _Ctx()
    in_list = 0

    def flush(path=("mdoc", "p"), kind="text") -> None:
        if para:
            b = make_block(" ".join(para), path, kind, ctx.link_chars, ctx.n_inline)
            if b:
                blocks.append(b)
            para.clear()
        ctx.link_chars = 0
        ctx.n_inline = 0

    while i < n:
        raw = lines[i]
        if raw.startswith(('.\\"', "'\\\"")):
            i += 1
            continue
        if raw.startswith((".", "'")):
            body = _COMMENT_TAIL_RE.sub("", raw[1:]).rstrip()
            parts = body.split(None, 1)
            macro = parts[0] if parts else ""
            rest = parts[1] if len(parts) > 1 else ""
            if macro in ("Dd", "Dt", "Os"):
                flush()
                i += 1
                continue
            if macro in ("Sh", "Ss"):
                flush()
                title = " ".join(_split_args(rest))
                b = make_block(title, ("mdoc", "sh" if macro == "Sh" else "ss"), "title")
                if b:
                    blocks.append(b)
                i += 1
                continue
            if macro in ("Pp", "Lp", "br", "sp"):
                flush()
                i += 1
                continue
            if macro == "Bl":
                flush()
                in_list += 1
                i += 1
                continue
            if macro == "El":
                flush(("mdoc", "li"), "list") if in_list else flush()
                in_list = max(0, in_list - 1)
                i += 1
                continue
            if macro == "It":
                flush(("mdoc", "li"), "list") if in_list else flush()
                rendered = _render_macro_line(rest, ctx)
                if rendered:
                    para.append(rendered)
                i += 1
                continue
            if macro == "Bd":
                flush()
                i += 1
                code: list[str] = []
                while i < n:
                    ln = lines[i]
                    if ln.startswith((".", "'")):
                        cb = _COMMENT_TAIL_RE.sub("", ln[1:]).rstrip()
                        if cb.split(None, 1)[0:1] == ["Ed"]:
                            i += 1
                            break
                        i += 1
                        continue
                    code.append(ln.strip())
                    i += 1
                b = make_block(" ".join(code), ("mdoc", "pre"), "text")
                if b:
                    blocks.append(b)
                continue
            if macro in ("D1", "Dl"):
                flush()
                rendered = _render_macro_line(rest, ctx)
                b = make_block(rendered, ("mdoc", "pre"), "text", 0, ctx.n_inline)
                ctx.n_inline = 0
                if b:
                    blocks.append(b)
                i += 1
                continue
            if len(macro) == 2 and macro[0].isupper() and macro[1].islower():
                rendered = _render_macro_line(body, ctx)
                if rendered:
                    para.append(rendered)
                i += 1
                continue
            # any other request (.de/.if/...) is machinery: drop
            flush()
            i += 1
            continue
        if not raw.strip():
            flush(("mdoc", "li"), "list") if in_list else flush()
            i += 1
            continue
        para.append(raw.strip())
        i += 1
    flush(("mdoc", "li"), "list") if in_list else flush()
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def mdoc_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets (`.Lk url …` arguments),
    document order, duplicates preserved — the mdoc leg of outlink
    mining. Display blocks hold code (the fence rule) and comments
    drop with their lines."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    out: list[str] = []
    in_bd = False
    for raw in bytes(data).decode("utf-8", errors="replace").split("\n"):
        if raw.startswith(('.\\"', "'\\\"")):
            continue
        if raw.startswith((".", "'")):
            body = _COMMENT_TAIL_RE.sub("", raw[1:]).rstrip()
            parts = body.split()
            if parts[:1] == ["Bd"]:
                in_bd = True
                continue
            if parts[:1] == ["Ed"]:
                in_bd = False
                continue
            if in_bd:
                continue
            for k, t in enumerate(parts):
                if t == "Lk" and k + 1 < len(parts):
                    url = parts[k + 1]
                    if url.startswith(("http://", "https://")):
                        out.append(url)
    return out
