"""man-page (troff/groff man(7) macros) tokenizer — the thirty-first
leg of the format dispatch, covering the Unix manual corpus (man7.org,
linux.die.net mirrors, distro doc trees, software tarball man/ dirs) —
dense, heavily-curated technical reference prose.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: man source has a near-magic — the mandatory `.TH
NAME SECTION` title macro (man(7) requires it as the first macro of
every page) — plus the line-anchored dot-macro surface prose cannot
fake. The gate demands strict-UTF-8, a line-anchored `.TH ` within
the head, and >= 2 further macro lines (`.SH`/`.PP`/`.TP`/`.B`…).
Scope is man(7); mdoc(7) pages (`.Dd`/`.Sh`) have no `.TH` and fall
through to prose rather than half-parse (the quiet-skip rule).

What is content and what is chrome:
- `.TH cmd sec date source manual` is METADATA (the docProps
  discipline: footer-line chrome, never read). `.SH`/`.SS` section
  headings -> title blocks; free text lines and `.B`/`.I`/`.BR`…
  font-macro lines join the current paragraph; `.PP`/`.LP`/`.P`
  break paragraphs; `.TP`/`.IP` introduce tagged list items (tag and
  body join as one item).
- `.nf`…`.fi` no-fill regions keep their text as ONE block (the
  fenced-code rule — synopsis/code is content).
- `.UR url`…`.UE` hyperlinks resolve to the enclosed label with
  label chars counted as link chars (the true <a> analogue);
  `.MT`…`.ME` mail links likewise.
- `.\\"` comments, `.de`/`.if`/`.ig` and every other unknown request
  line drop (requests are renderer machinery, not prose).
- `\\fB…\\fR` font escapes strip; `\\-` -> '-', `\\(em`/`\\(en`/
  `\\(oq`/`\\(cq`/`\\(lq`/`\\(rq`/`\\(bu` map to their glyphs;
  `\\&` (non-printing) and `\\%` (break hint) drop; `\\e` -> '\\'.

Boundedness: one line walk; all text is a subset of the page-capped
input. Determinism: malformed macros tokenize to whatever the
truncated walk yields — same bytes, same blocks, never an
exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head


_TH_RE = re.compile(r"(?m)^\.TH\s+\S+")
_MACRO_RE = re.compile(r"(?m)^\.(SH|SS|PP|LP|P|TP|IP|B|I|BR|RB|BI|IB|RI|IR|nf|fi)(\s|$)")

_GLYPHS = {
    r"\(em": "\u2014",
    r"\(en": "\u2013",
    r"\(oq": "\u2018",
    r"\(cq": "\u2019",
    r"\(lq": "\u201c",
    r"\(rq": "\u201d",
    r"\(bu": "\u2022",
    r"\(co": "\u00a9",
    r"\(aq": "'",
    r"\(dq": '"',
}
_FONT_RE = re.compile(r"\\f(?:\[[^\]]*\]|\(..|.)")
_COMMENT_TAIL_RE = re.compile(r'\\".*$')

# font alternation macros: .BR a b -> "ab" rendered, but prose-wise
# the arguments just join with spaces (we never render fonts anyway)
_FONT_MACROS = {"B", "I", "BR", "RB", "BI", "IB", "RI", "IR", "SM", "SB"}
_PARA_MACROS = {"PP", "LP", "P"}


def is_man(data: bytes | str | None) -> bool:
    """Near-magic gate (see module docstring): strict-UTF-8 head, a
    line-anchored `.TH name`, >= 2 further man-macro lines."""
    head = text_head(data)
    if head is None:
        return False
    if head.lstrip()[:1] == "<":
        # a markup page QUOTING man source (a <pre> man mirror) stays
        # markup — the wikitext/rst first-byte rule
        return False
    if not _TH_RE.search(head):
        return False
    return len(_MACRO_RE.findall(head)) >= 2


def _unescape(text: str, *, n_inline: list[int] | None = None) -> str:
    """Resolve troff escapes to plain text (no font rendering: font
    switches strip, glyph names map, hints drop)."""
    out = text
    stripped, n = _FONT_RE.subn("", out)
    if n and n_inline is not None:
        n_inline[0] += n
    out = stripped
    for k, v in _GLYPHS.items():
        out = out.replace(k, v)
    out = out.replace(r"\-", "-").replace(r"\&", "").replace(r"\%", "")
    out = out.replace(r"\e", "\\")
    return out


def _split_args(rest: str) -> list[str]:
    """troff macro argument split: double-quoted args keep spaces."""
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


def tokenize_man(data: bytes) -> list[Block]:
    """Parse man(7) source into Blocks: one per section heading /
    paragraph / tagged list item / no-fill region, .TH metadata and
    comments/requests dropped, sharing the HTML leg's kinds so
    XY-cut, scoring and islands apply unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    i, n = 0, len(lines)
    blocks: list[Block] = []
    para: list[str] = []
    ninl = [0]
    link_chars = [0]
    pending_link: list[str] | None = None  # inside .UR/.MT … .UE/.ME

    def flush(kind: str = "text", path: tuple[str, ...] = ("man", "p")) -> None:
        if para:
            b = make_block(" ".join(para), path, kind, link_chars[0], ninl[0])
            if b:
                blocks.append(b)
            para.clear()
        ninl[0] = 0
        link_chars[0] = 0

    while i < n:
        raw = lines[i]
        if raw.startswith(('.\\"', "'\\\"")):  # comment line
            i += 1
            continue
        if raw.startswith((".", "'")):
            body = _COMMENT_TAIL_RE.sub("", raw[1:]).rstrip()
            parts = body.split(None, 1)
            macro = parts[0] if parts else ""
            rest = parts[1] if len(parts) > 1 else ""
            if macro == "TH":
                # title metadata: name/section/date/source/manual are
                # header+footer chrome, never read
                flush()
                i += 1
                continue
            if macro in ("SH", "SS"):
                flush()
                args = _split_args(rest)
                title = _unescape(" ".join(args))
                b = make_block(title, ("man", "sh" if macro == "SH" else "ss"), "title")
                if b:
                    blocks.append(b)
                i += 1
                continue
            if macro in _PARA_MACROS or macro == "br" or macro == "sp":
                flush()
                i += 1
                continue
            if macro in ("TP", "IP", "HP"):
                # tagged paragraph: optional .IP "tag", then (for .TP)
                # the NEXT line is the tag; body lines join the item
                flush()
                tag = ""
                if macro == "IP":
                    args = _split_args(rest)
                    if args:
                        tag = args[0]
                i += 1
                if macro == "TP" and i < n:
                    t = lines[i]
                    if t.startswith((".", "'")):
                        tb = _COMMENT_TAIL_RE.sub("", t[1:]).rstrip()
                        tp = tb.split(None, 1)
                        if tp and tp[0] in _FONT_MACROS:
                            ninl[0] += 1
                            tag = " ".join(_split_args(tp[1] if len(tp) > 1 else ""))
                            i += 1
                    else:
                        tag = t.strip()
                        i += 1
                item: list[str] = [] if not tag else [_unescape(tag, n_inline=ninl)]
                while i < n:
                    ln = lines[i]
                    if ln.startswith((".", "'")):
                        lb = _COMMENT_TAIL_RE.sub("", ln[1:]).rstrip()
                        lp = lb.split(None, 1)
                        if lp and lp[0] in _FONT_MACROS:
                            ninl[0] += 1
                            item.append(
                                _unescape(
                                    " ".join(_split_args(lp[1] if len(lp) > 1 else "")),
                                    n_inline=ninl,
                                )
                            )
                            i += 1
                            continue
                        break
                    if not ln.strip():
                        i += 1
                        break
                    item.append(_unescape(ln.strip(), n_inline=ninl))
                    i += 1
                b = make_block(" ".join(item), ("man", "li"), "list", 0, ninl[0])
                ninl[0] = 0
                if b:
                    blocks.append(b)
                continue
            if macro == "nf":
                # no-fill region: one literal block (the fenced-code rule)
                flush()
                i += 1
                code: list[str] = []
                while i < n:
                    ln = lines[i]
                    if ln.startswith((".", "'")):
                        cb = _COMMENT_TAIL_RE.sub("", ln[1:]).rstrip()
                        if cb.split(None, 1)[0:1] == ["fi"]:
                            i += 1
                            break
                        i += 1
                        continue
                    code.append(_unescape(ln.strip()))
                    i += 1
                b = make_block(" ".join(code), ("man", "pre"), "text")
                if b:
                    blocks.append(b)
                continue
            if macro in ("UR", "MT"):
                pending_link = []
                i += 1
                continue
            if macro in ("UE", "ME"):
                if pending_link is not None:
                    label = " ".join(" ".join(pending_link).split())
                    if label:
                        para.append(label)
                        link_chars[0] += len(label)
                        ninl[0] += 1
                    pending_link = None
                if rest:
                    para.append(_unescape(rest, n_inline=ninl))
                i += 1
                continue
            if macro in _FONT_MACROS:
                ninl[0] += 1
                args = _split_args(rest)
                rendered = _unescape(" ".join(args), n_inline=ninl)
                if rendered:
                    (pending_link if pending_link is not None else para).append(
                        rendered
                    )
                i += 1
                continue
            # every other request (.de/.if/.ig/.RS/.RE/.ad/...) is
            # renderer machinery: drop the line
            i += 1
            continue
        if not raw.strip():
            flush()
            i += 1
            continue
        target = pending_link if pending_link is not None else para
        target.append(_unescape(raw.strip(), n_inline=ninl))
        i += 1
    flush()
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def man_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets (`.UR url` / `.MT addr`
    arguments), document order, duplicates preserved — the man leg of
    outlink mining. No-fill regions are prose-free synopsis/code, so
    their text never carries .UR macros anyway; comments drop."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    out: list[str] = []
    for raw in bytes(data).decode("utf-8", errors="replace").split("\n"):
        if raw.startswith((".\\\"", "'\\\"")):
            continue
        if raw.startswith((".", "'")):
            body = _COMMENT_TAIL_RE.sub("", raw[1:]).rstrip()
            parts = body.split(None, 1)
            if parts and parts[0] == "UR" and len(parts) > 1:
                url = _split_args(parts[1])[:1]
                if url and url[0].startswith(("http://", "https://")):
                    out.append(url[0])
    return out
