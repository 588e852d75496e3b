"""LaTeX tokenizer — the eighteenth leg of the format dispatch,
covering the source markup of the scientific web (arXiv e-print
sources, course notes, thesis repositories). arXiv alone serves
millions of ``.tex``-in-``.tar`` bundles, and the tar leg re-enters
this dispatch per member, so this gate makes arXiv-shaped archives
extract end-to-end through the shared kernel.

Scope (the CommonMark-core discipline of extractor/markdown.py):
preamble/metadata skip, ``\\maketitle`` title rendering, sectioning,
itemize/enumerate items, tabular rows, verbatim, display math,
figure captions, and inline resolution (``\\href``/``\\url`` ->
link chars, style commands -> markup weight, escapes, inline math).
Accent commands (``\\'e``) and user macros resolve to their argument
text via the generic command-drop + brace-unwrap rules — a
documented simplification, not a crash path.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the zlib precedent, extractor/core.py:_unzlib):
LaTeX is plain text with no magic bytes, so the gate demands strong
structural evidence — strict-UTF-8 head, and the FIRST significant
line (skipping ``%`` comments) must be ``\\documentclass`` /
``\\RequirePackage`` / ``\\begin{document}``, plus >= 2 more
structural markers in the head. Prose QUOTING LaTeX mid-page stays
prose; a markdown README about LaTeX keeps its ``#`` first line and
stays markdown; an HTML page embedding a listing stays HTML — all
trap-pinned in tests/test_latexleg.py.

Boilerplate dies by the SHARED rules, mapped faithfully: ``\\href``
link text counts as link chars (a ``\\href{..}{Home} | ...`` nav
line is link-dominated exactly like HTML <a> crumbs), resolved
inline constructs count as markup weight, and preamble metadata
(``\\author``, ``\\date``, comments) is structural, never read (the
styles.xml / docProps discipline). Malformed input tokenizes to
whatever the truncated walk yields — same bytes, same blocks, never
an exception.
"""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block

# --- structural line patterns ---
_COMMENT_RE = re.compile(r"(?<!\\)%.*")
_BEGIN_RE = re.compile(r"\\begin\s*\{([a-zA-Z]+\*?)\}")
_END_RE = re.compile(r"\\end\s*\{([a-zA-Z]+\*?)\}")
_SEC_RE = re.compile(r"\\(chapter|section|subsection|subsubsection|paragraph)\*?\s*(?=\{)")
_ITEM_RE = re.compile(r"\\item(?:\[[^\]]*\])?\s*(.*)")
_RULE_RE = re.compile(r"\\(?:hline|toprule|midrule|bottomrule|cline\{[^{}]*\})")
_SEC_LEVEL = {
    "chapter": "h1",
    "section": "h2",
    "subsection": "h3",
    "subsubsection": "h4",
    "paragraph": "h5",
}
_MATH_ENVS = frozenset(
    "equation equation* align align* gather gather* eqnarray eqnarray* "
    "displaymath math multline multline*".split()
)
_VERBATIM_ENVS = frozenset("verbatim verbatim* lstlisting alltt".split())

# --- inline patterns (applied in _render_block, in order) ---
_HREF_RE = re.compile(r"\\href\s*\{([^{}]*)\}\s*\{([^{}]*)\}")
_URL_RE = re.compile(r"\\url\s*\{([^{}]*)\}")
_FOOTNOTE_RE = re.compile(r"\\footnote\s*\{([^{}]*)\}")
_STYLE_RE = re.compile(
    r"\\(?:textbf|textit|emph|texttt|textsc|textsf|textrm|textsl|textup"
    r"|underline|uline|mbox|text)\s*\{([^{}]*)\}"
)
# commands whose ARGUMENT is structural, never text
_DROP_ARG_RE = re.compile(
    r"\\(?:cite[pt]?\*?|ref|eqref|autoref|pageref|label|includegraphics"
    r"|input|include|usepackage|documentclass|bibliography"
    r"|bibliographystyle|vspace|hspace|author|date|thanks|caption"
    r"|title|newcommand|renewcommand|setlength|pagestyle|bibitem)"
    r"\*?\s*(?:\[[^\]]*\])?\s*\{[^{}]*\}"
)
_DISPLAY_DOLLARS_RE = re.compile(r"\$\$(.+?)\$\$", re.S)
_INLINE_DOLLAR_RE = re.compile(r"\$([^$]+)\$")
_INLINE_PAREN_RE = re.compile(r"\\\((.+?)\\\)", re.S)
_LINEBREAK_RE = re.compile(r"\\\\(?:\[[^\]]*\])?")
_CMD_RE = re.compile(r"\\[a-zA-Z]+\*?")
_LABEL_RE = re.compile(r"\\label\s*\{[^{}]*\}|\\nonumber\b")

# sniff evidence patterns (over the decoded head)
_EV_MARKERS = (
    re.compile(r"\\begin\s*\{"),
    re.compile(r"\\end\s*\{"),
    re.compile(r"\\(?:sub)*section\*?\s*\{"),
    re.compile(r"\\usepackage\b"),
    re.compile(r"\\item\b"),
    re.compile(r"\\title\s*\{"),
    re.compile(r"\\maketitle\b"),
)
_FIRST_LINE_OK = ("\\documentclass", "\\RequirePackage", "\\begin{document}")

_SNIFF_BYTES = 4096


def is_latex(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, the first significant (non-blank, non-comment) line starts a
    LaTeX document, and >= 2 more structural markers in the head."""
    if not isinstance(data, (bytes, bytearray)):
        return False
    head = bytes(data[:_SNIFF_BYTES])
    if b"\x00" in head:
        return False
    # trim a trailing partial UTF-8 sequence before the strict decode
    for cut in range(4):
        try:
            text = head[: len(head) - cut].decode("utf-8")
            break
        except UnicodeDecodeError:
            continue
    else:
        return False
    first = ""
    for line in text.split("\n"):
        s = line.strip()
        if s and not s.startswith("%"):
            first = s
            break
    if not first.startswith(_FIRST_LINE_OK):
        return False
    evidence = 0
    for pat in _EV_MARKERS:
        evidence += min(2, len(pat.findall(text)))
        if evidence >= 2:
            return True
    return False


def _arg(s: str, i: int) -> tuple[str, int]:
    """Balanced-brace argument starting at s[i] == '{'; returns
    (content, index-after-closing-brace). Unclosed braces run to the
    end of the string (truncation-deterministic, never an error)."""
    depth = 0
    for j in range(i, len(s)):
        c = s[j]
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return s[i + 1 : j], j + 1
    return s[i + 1 :], len(s)


def _render_block(raw: str, path: tuple[str, ...], kind: str) -> Block | None:
    """`make_block` of `raw` with inline LaTeX resolved to plain text
    and the scorer's signals counted: \\href/\\url text -> link chars (the <a>
    analogue), every resolved construct -> one unit of markup
    weight. Escapes survive command-dropping via sentinels."""
    n_inline = 0
    link_chars = 0

    # protect escaped specials so command/math/brace passes can't see
    # them ('\$5' must not open inline math; '\{' is a literal brace)
    text = (
        raw.replace("\\%", "\x00")
        .replace("\\&", "\x01")
        .replace("\\_", "\x02")
        .replace("\\#", "\x03")
        .replace("\\$", "\x04")
        .replace("\\{", "\x05")
        .replace("\\}", "\x06")
    )

    def _href(m: re.Match) -> str:
        nonlocal n_inline, link_chars
        n_inline += 1
        link_chars += len(" ".join(m.group(2).split()))
        return m.group(2)

    def _url(m: re.Match) -> str:
        nonlocal n_inline, link_chars
        n_inline += 1
        link_chars += len(" ".join(m.group(1).split()))
        return m.group(1)

    def _drop(m: re.Match) -> str:
        nonlocal n_inline
        n_inline += 1
        return ""

    def _keep1(m: re.Match) -> str:
        nonlocal n_inline
        n_inline += 1
        return m.group(1)

    text = _HREF_RE.sub(_href, text)
    text = _URL_RE.sub(_url, text)
    text = _FOOTNOTE_RE.sub(_drop, text)
    # style commands can nest one level (\textbf{.. \emph{x} ..}): two passes
    text = _STYLE_RE.sub(_keep1, text)
    text = _STYLE_RE.sub(_keep1, text)
    text = _DROP_ARG_RE.sub("", text)
    text = _DISPLAY_DOLLARS_RE.sub(_keep1, text)
    text = _INLINE_DOLLAR_RE.sub(_keep1, text)
    text = _INLINE_PAREN_RE.sub(_keep1, text)
    text = _LINEBREAK_RE.sub(" ", text)
    text = text.replace("~", " ")
    # remaining commands are structure (\centering, \small, accents,
    # user macros): dropped without markup weight; leftover braces
    # unwrap their content
    text = _CMD_RE.sub("", text)
    text = text.replace("{", "").replace("}", "")
    text = (
        text.replace("\x00", "%")
        .replace("\x01", "&")
        .replace("\x02", "_")
        .replace("\x03", "#")
        .replace("\x04", "$")
        .replace("\x05", "{")
        .replace("\x06", "}")
    )
    return make_block(text, path, kind, link_chars, n_inline)


def _strip_comment(line: str) -> str:
    return _COMMENT_RE.sub("", line)


def tokenize_latex(data: bytes) -> list[Block]:
    """Parse LaTeX bytes into Blocks: one per heading / paragraph /
    list item / tabular row / verbatim / display-math / caption,
    sharing the HTML leg's kinds so XY-cut, scoring and islands apply
    unchanged. The preamble is structural metadata — only ``\\title``
    is read, and only when ``\\maketitle`` renders it."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    lines = text.split("\n")
    n = len(lines)

    # split preamble/body at \begin{document}; a bare fragment with no
    # document env is walked whole (the markdown no-front-matter case)
    body_start = 0
    title_src: str | None = None
    for i, line in enumerate(lines):
        if "\\begin{document}" in _strip_comment(line):
            body_start = i + 1
            preamble = "\n".join(_strip_comment(x) for x in lines[:i])
            t = re.search(r"\\title\s*(?=\{)", preamble)
            if t is not None:
                j = preamble.index("{", t.end())
                title_src = _arg(preamble, j)[0]
            break

    blocks: list[Block] = []
    para: list[str] = []

    def flush() -> None:
        if para:
            b = _render_block(" ".join(para), ("tex", "p"), "text")
            if b:
                blocks.append(b)
            para.clear()

    i = body_start
    while i < n:
        line = _strip_comment(lines[i])
        s = line.strip()
        if not s:
            flush()
            i += 1
            continue
        if "\\end{document}" in s:
            break
        m = _BEGIN_RE.match(s)
        if m:
            env = m.group(1)
            if env in _VERBATIM_ENVS:
                flush()
                i += 1
                code: list[str] = []
                while i < n:
                    e = _END_RE.match(lines[i].strip() or " ")
                    if e and e.group(1) == env:
                        break
                    code.append(lines[i])  # raw: comments are literal here
                    i += 1
                i += 1  # past \end{verbatim} (or EOF)
                b = make_block(" ".join(code), ("tex", "pre"), "text")
                if b:
                    blocks.append(b)
                continue
            if env == "tabular":
                flush()
                rest = s[m.end() :]
                # skip the column-spec argument if present
                if rest.startswith("{"):
                    _, after = _arg(rest, 0)
                    rest = rest[after:]
                rows_src: list[str] = [rest]
                i += 1
                while i < n:
                    ln = _strip_comment(lines[i])
                    e = _END_RE.search(ln)
                    if e and e.group(1) == "tabular":
                        rows_src.append(ln[: e.start()])
                        i += 1
                        break
                    rows_src.append(ln)
                    i += 1
                body = _RULE_RE.sub("", "\n".join(rows_src))
                for row in re.split(r"\\\\", body):
                    cells = [b.text for c in row.split("&") if (b := _render_block(c, (), "table"))]
                    b = _render_block(" ".join(cells), ("tex", "tr"), "table")
                    if b:
                        blocks.append(b)
                continue
            if env in _MATH_ENVS:
                flush()
                i += 1
                math: list[str] = []
                while i < n:
                    ln = _strip_comment(lines[i])
                    e = _END_RE.search(ln)
                    if e and e.group(1) == env:
                        math.append(ln[: e.start()])
                        i += 1
                        break
                    math.append(ln)
                    i += 1
                b = make_block(_LABEL_RE.sub("", " ".join(math)), ("tex", "eq"), "text")
                if b:
                    blocks.append(b)
                continue
            if env in ("figure", "figure*"):
                flush()
                i += 1
                fig: list[str] = []
                while i < n:
                    ln = _strip_comment(lines[i])
                    e = _END_RE.search(ln)
                    if e and e.group(1) == env:
                        fig.append(ln[: e.start()])
                        i += 1
                        break
                    fig.append(ln)
                    i += 1
                src = "\n".join(fig)
                c = re.search(r"\\caption\s*(?=\{)", src)
                if c is not None:
                    j = src.index("{", c.end())
                    b = _render_block(_arg(src, j)[0], ("tex", "figcaption"), "figure")
                    if b:
                        blocks.append(b)
                continue
            # transparent env (abstract, center, quote, table, ...):
            # a structure boundary — flush, keep walking inside
            flush()
            rest = s[m.end() :].strip()
            if rest:
                para.append(rest)
            i += 1
            continue
        if _END_RE.match(s):
            flush()
            i += 1
            continue
        sec = _SEC_RE.match(s)
        if sec:
            flush()
            j = s.index("{", sec.end())
            head, after = _arg(s, j)
            b = _render_block(head, ("tex", _SEC_LEVEL[sec.group(1)]), "title")
            if b:
                blocks.append(b)
            rest = s[after:].strip()
            if rest:
                para.append(rest)
            i += 1
            continue
        if s.startswith("\\maketitle"):
            flush()
            if title_src:
                b = _render_block(title_src, ("tex", "h1"), "title")
                if b:
                    blocks.append(b)
            i += 1
            continue
        it = _ITEM_RE.match(s)
        if it:
            flush()
            item = [it.group(1)]
            i += 1
            while i < n:
                nxt = _strip_comment(lines[i]).strip()
                if (
                    not nxt
                    or nxt.startswith("\\item")
                    or _BEGIN_RE.match(nxt)
                    or _END_RE.match(nxt)
                    or _SEC_RE.match(nxt)
                ):
                    break
                item.append(nxt)
                i += 1
            b = _render_block(" ".join(item), ("tex", "li"), "list")
            if b:
                blocks.append(b)
            continue
        if s.startswith("\\["):
            flush()
            math = [s[2:]]
            while i < n and "\\]" not in math[-1]:
                i += 1
                if i < n:
                    math.append(_strip_comment(lines[i]))
            last = math[-1]
            cut = last.find("\\]")
            if cut >= 0:
                math[-1] = last[:cut]
            i += 1
            b = make_block(_LABEL_RE.sub("", " ".join(math)), ("tex", "eq"), "text")
            if b:
                blocks.append(b)
            continue
        para.append(s)
        i += 1
    flush()
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def latex_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets (\\href{url}{text} and
    \\url{url}), duplicates preserved, grouped BY PATTERN FAMILY
    (all hrefs, then urls; within a family, document order) — the
    LaTeX leg of outlink mining (the markdown_links contract).
    Comments and verbatim bodies are excluded: a URL in commented-out
    source or a code listing is quotation, not linkage."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    out_lines: list[str] = []
    in_verb = False
    verb_env = ""
    for line in text.split("\n"):
        s = line.strip()
        if in_verb:
            e = _END_RE.match(s or " ")
            if e and e.group(1) == verb_env:
                in_verb = False
            continue
        m = _BEGIN_RE.match(s or " ")
        if m and m.group(1) in _VERBATIM_ENVS:
            in_verb, verb_env = True, m.group(1)
            continue
        out_lines.append(_strip_comment(line))
    body = "\n".join(out_lines)
    out: list[str] = []
    for m in _HREF_RE.finditer(body):
        if "://" in m.group(1):
            out.append(m.group(1))
    for m in _URL_RE.finditer(body):
        if "://" in m.group(1):
            out.append(m.group(1))
    return out
