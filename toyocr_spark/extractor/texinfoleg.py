"""Texinfo tokenizer — the thirty-fourth leg of the format dispatch,
covering GNU manual sources (.texi: the documentation format of the
entire GNU toolchain, mirrored across software-archive crawls) — the
third member of the troff/LaTeX technical-docs family.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: Texinfo has a de-facto magic — every conforming
file begins ``\\input texinfo`` (the processor bootstrap line, which
prose/LaTeX/markdown never lead with; LaTeX's own gate demands
``\\documentclass`` so the two backslash-led gates are disjoint).
The gate demands strict-UTF-8 and that bootstrap as the FIRST
significant line, plus >= 2 line-anchored ``@``-command lines.

What is content and what is chrome:
- ``@settitle`` renders as the document title (the org-#+TITLE rule:
  the one header command that IS content); ``@chapter``/``@section``/
  ``@subsection``/``@unnumbered``/``@appendix``/``@heading`` ->
  title blocks at their depths; free-text lines -> paragraphs;
  ``@itemize``/``@enumerate`` ``@item`` lines -> list blocks;
  ``@multitable`` ``@item``/``@tab`` rows -> table blocks.
- ``@menu``…``@end menu`` and ``@node`` lines are NAVIGATION (the
  one format whose nav is declared structurally — dropped wholesale,
  no density rule needed); ``@c``/``@comment`` lines,
  ``@ignore``…``@end ignore`` blocks, header machinery
  (``@setfilename``/``@documentencoding``/``@copying``…``@end
  copying``/``@titlepage``…``@end titlepage``/``@dircategory``/
  ``@direntry``…) and ``@bye`` drop (the docProps discipline).
- ``@example``/``@lisp``/``@verbatim``/``@smallexample`` blocks keep
  their text as ONE block (the fenced-code rule); ``@quotation``
  delimiters are structure (inner lines parse normally).
- inline: ``@uref{url, label}``/``@url{url, label}`` resolve to the
  label (or the url when no label) with label chars counted as link
  chars (the true <a> analogue); ``@code{}``/``@var{}``/``@emph{}``/
  ``@strong{}``/``@file{}``/``@samp{}``/``@dfn{}``/``@kbd{}``/
  ``@option{}``/``@command{}``/``@env{}``/``@acronym{}`` keep inner
  text; ``@xref``-family cross references and ``@footnote{}`` drop;
  ``@@``/``@{``/``@}`` unescape; ``@dots{}``/``@minus{}``/
  ``@copyright{}``/``@result{}`` map to their glyphs.

Boundedness: one line walk, @end-bounded block consumption, one
innermost-out brace-command pass with a fixed round bound; all text
is a subset of the page-capped input. Determinism: malformed markup
tokenizes to whatever the truncated walk yields — same bytes, same
blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head

MAX_BRACE_ROUNDS = 12  # innermost-out @cmd{...} resolution bound

_BOOTSTRAP_RE = re.compile(r"^\\input\s+texinfo\b")
_AT_LINE_RE = re.compile(r"(?m)^@\w+")

_HEADINGS = {
    "chapter": 2,
    "unnumbered": 2,
    "appendix": 2,
    "majorheading": 2,
    "chapheading": 2,
    "section": 3,
    "unnumberedsec": 3,
    "appendixsec": 3,
    "heading": 3,
    "subsection": 4,
    "unnumberedsubsec": 4,
    "subheading": 4,
    "subsubsection": 5,
    "subsubheading": 5,
}
_VERBATIM_BLOCKS = {"example", "smallexample", "lisp", "smalllisp", "verbatim", "display", "format"}
_DROP_BLOCKS = {"menu", "ignore", "copying", "titlepage", "direntry", "tex", "detailmenu", "macro"}
_STRUCT_BLOCKS = {"quotation", "itemize", "enumerate", "table", "vtable", "ftable", "group", "cartouche", "flushleft", "flushright", "indentedblock"}
_DROP_LINES = {
    "node", "c", "comment", "setfilename", "documentencoding", "documentlanguage",
    "setchapternewpage", "headings", "finalout", "contents", "shortcontents",
    "summarycontents", "dircategory", "printindex", "syncodeindex", "synindex",
    "defindex", "defcodeindex", "cindex", "findex", "vindex", "kindex", "pindex",
    "tindex", "bye", "page", "sp", "need", "vskip", "author", "subtitle", "title",
    "top", "center", "exdent", "noindent", "refill", "paragraphindent",
    "firstparagraphindent", "exampleindent", "include", "lowersections",
    "raisesections", "part", "insertcopying", "shorttitlepage",
}

_KEEP_INNER = (
    "code", "var", "emph", "strong", "file", "samp", "dfn", "kbd", "option",
    "command", "env", "acronym", "abbr", "sc", "t", "r", "i", "b", "w", "cite",
    "verb", "key", "indicateurl", "math", "asis",
)
_KEEP_INNER_RE = re.compile(r"@(?:%s)\{([^{}]*)\}" % "|".join(_KEEP_INNER))
_UREF_RE = re.compile(r"@(?:uref|url)\{([^{},]*)(?:,\s*([^{},]*))?(?:,\s*[^{}]*)?\}")
_DROP_INLINE_RE = re.compile(r"@(?:xref|ref|pxref|inforef|footnote|anchor|image)\{[^{}]*\}")
_GLYPHS_RE = (
    (re.compile(r"@dots\{\}"), "…"),
    (re.compile(r"@minus\{\}"), "−"),
    (re.compile(r"@copyright\{\}"), "©"),
    (re.compile(r"@registeredsymbol\{\}"), "®"),
    (re.compile(r"@result\{\}"), "⇒"),
    (re.compile(r"@arrow\{\}"), "→"),
    (re.compile(r"@bullet\{\}"), "•"),
    (re.compile(r"@TeX\{\}"), "TeX"),
    (re.compile(r"@error\{\}"), "error→"),
)


def is_texinfo(data: bytes | str | None) -> bool:
    """De-facto-magic gate (see module docstring): strict-UTF-8 head,
    ``\\input texinfo`` as the first significant line, >= 2 further
    ``@``-command lines."""
    head = text_head(data)
    if head is None:
        return False
    first = next((ln for ln in head.split("\n") if ln.strip()), "")
    if not _BOOTSTRAP_RE.match(first.strip()):
        return False
    return len(_AT_LINE_RE.findall(head)) >= 2


def _render_block(raw: str, path: tuple[str, ...], kind: str) -> Block | None:
    """`make_block` of `raw` with inline @-commands resolved to plain
    text and its scorer signals counted (the shared _render_block
    contract)."""
    n_inline = 0
    link_chars = 0
    # escapes first, via sentinels so later passes can't re-match
    text = raw.replace("@@", "\x00").replace("@{", "\x01").replace("@}", "\x02")

    def _uref(m: re.Match) -> str:
        nonlocal n_inline, link_chars
        n_inline += 1
        label = " ".join((m.group(2) or m.group(1)).split())
        if m.group(2):
            link_chars += len(label)
        return label

    text, n = _DROP_INLINE_RE.subn("", text)
    n_inline += n
    text = _UREF_RE.sub(_uref, text)
    for rx, glyph in _GLYPHS_RE:
        text = rx.sub(glyph, text)
    for _ in range(MAX_BRACE_ROUNDS):
        text, n = _KEEP_INNER_RE.subn(lambda m: m.group(1), text)
        if not n:
            break
        n_inline += n
    return make_block(
        text.replace("\x00", "@").replace("\x01", "{").replace("\x02", "}"),
        path, kind, link_chars, n_inline,
    )


def tokenize_texinfo(data: bytes) -> list[Block]:
    """Parse Texinfo bytes into Blocks: one per title / paragraph /
    @item / @multitable row / verbatim block, with menus, nodes,
    comments, header machinery and index entries dropped, sharing the
    HTML leg's kinds so XY-cut, scoring and islands apply
    unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    i, n = 0, len(lines)
    blocks: list[Block] = []
    para: list[str] = []
    in_multitable = False

    def flush() -> None:
        if para:
            b = _render_block(" ".join(para), ("texi", "p"), "text")
            if b:
                blocks.append(b)
            para.clear()

    while i < n:
        line = lines[i]
        stripped = line.strip()
        if not stripped:
            flush()
            i += 1
            continue
        if i == 0 and _BOOTSTRAP_RE.match(stripped):
            i += 1
            continue
        if stripped.startswith("@") and not re.match(r"@\w+\{", stripped):
            # a line-leading @cmd{...} is INLINE markup opening a
            # paragraph, not a line command — fall through to prose
            parts = stripped[1:].split(None, 1)
            cmd = parts[0] if parts else ""
            rest = parts[1] if len(parts) > 1 else ""
            if cmd in _DROP_BLOCKS:
                flush()
                i += 1
                while i < n and lines[i].strip() != f"@end {cmd}":
                    i += 1
                i += 1
                continue
            if cmd in _VERBATIM_BLOCKS:
                flush()
                i += 1
                code: list[str] = []
                while i < n and lines[i].strip() != f"@end {cmd}":
                    code.append(lines[i].strip())
                    i += 1
                i += 1
                b = make_block(" ".join(code), ("texi", "pre"), "text")
                if b:
                    blocks.append(b)
                continue
            if cmd == "settitle":
                flush()
                b = _render_block(rest, ("texi", "h1"), "title")
                if b:
                    blocks.append(b)
                i += 1
                continue
            if cmd in _HEADINGS:
                flush()
                b = _render_block(
                    rest, ("texi", f"h{_HEADINGS[cmd]}"), "title"
                )
                if b:
                    blocks.append(b)
                i += 1
                continue
            if cmd == "multitable":
                flush()
                in_multitable = True
                i += 1
                continue
            if cmd == "item" or cmd == "itemx":
                flush()
                if in_multitable:
                    # @tab separates cells on the same @item line
                    cells = [c.strip() for c in rest.split("@tab")]
                    b = _render_block(
                        " ".join(c for c in cells if c), ("texi", "tr"), "table"
                    )
                else:
                    b = _render_block(rest, ("texi", "li"), "list")
                if b:
                    blocks.append(b)
                i += 1
                continue
            if cmd == "end":
                flush()
                if rest.strip() == "multitable":
                    in_multitable = False
                i += 1
                continue
            if cmd in _STRUCT_BLOCKS or cmd in _DROP_LINES or cmd == "tab":
                flush()
                i += 1
                continue
            # unknown @-command line: machinery, drop (the troff rule)
            flush()
            i += 1
            continue
        para.append(stripped)
        i += 1
    flush()
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def texinfo_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets (``@uref{url,…}``/``@url{}``
    first arguments), document order, duplicates preserved — the
    Texinfo leg of outlink mining. Verbatim/example blocks, @menu
    navigation, @ignore bodies and comment lines are excluded with
    their constructs (the markdown fence rule)."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    out: list[str] = []
    lines = bytes(data).decode("utf-8", errors="replace").split("\n")
    i, n = 0, len(lines)
    skip_until: str | None = None
    while i < n:
        stripped = lines[i].strip()
        if skip_until is not None:
            if stripped == skip_until:
                skip_until = None
            i += 1
            continue
        if stripped.startswith("@"):
            cmd = stripped[1:].split(None, 1)[0].split("{")[0] if len(stripped) > 1 else ""
            if cmd in _DROP_BLOCKS or cmd in _VERBATIM_BLOCKS:
                skip_until = f"@end {cmd}"
                i += 1
                continue
            if cmd in ("c", "comment"):
                i += 1
                continue
        for m in _UREF_RE.finditer(stripped):
            url = m.group(1).strip()
            if url.startswith(("http://", "https://")):
                out.append(url)
        i += 1
    return out
