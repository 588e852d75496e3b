"""BibTeX tokenizer — the fortieth leg of the format dispatch,
covering bibliography databases (.bib: shipped on practically every
academic homepage, journal site and paper-artifact repo a crawl
touches) — titles and abstracts are first-class scientific-register
training text.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: BibTeX has no magic bytes, but its line-anchored
``@type{key,`` entry heads are bib-exclusive among dispatched formats
(Texinfo's ``@``-commands never carry a brace-plus-key shape at line
start, and its gate demands the ``\\input texinfo`` bootstrap anyway).
The gate demands strict-UTF-8, a non-'<' first byte, >= 2 entry
heads, and at least one ``field = value`` assignment in the head.

What is content and what is chrome:
- each entry's ``title`` field renders as a title block and its
  ``abstract`` as text blocks (one per blank-line paragraph, the
  ndjson rule) — the two prose fields a corpus wants; every other
  field (author/year/journal/doi/pages/publisher/…) is bibliographic
  metadata (the docProps discipline, never read), and ``@string``
  macro definitions, ``@preamble`` and ``@comment`` entries drop
  wholesale.
- values decode through the real grammar: brace-balanced ``{…}`` and
  ``"…"`` delimiters, ``#`` concatenation pieces joined, protective
  braces stripped, ``~`` as a non-breaking space, ``--``/``---`` as
  dashes, ``\\&``/``\\%``/``\\_``/``\\$`` unescaped, and the standard
  accent commands (``\\"o`` -> ö, ``\\'e`` -> é, ``\\ss`` -> ß, …)
  resolved through a bounded table — the LaTeX-ism cleanup every
  real .bib needs; unknown ``\\commands`` drop their backslash word
  (the latexleg rule).

Boundedness: one char walk with brace-depth tracking; all text is a
subset of the page-capped input. Determinism: malformed entries
tokenize to whatever the truncated walk yields — same bytes, same
blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, text_head


_ENTRY_RE = re.compile(r"(?m)^@(\w+)\s*\{")
_FIELD_EV_RE = re.compile(r"\w+\s*=\s*[{\"0-9]")

_ACCENTS = {
    '"': {"a": "ä", "e": "ë", "i": "ï", "o": "ö", "u": "ü", "y": "ÿ",
          "A": "Ä", "E": "Ë", "I": "Ï", "O": "Ö", "U": "Ü"},
    "'": {"a": "á", "e": "é", "i": "í", "o": "ó", "u": "ú", "y": "ý",
          "c": "ć", "n": "ń", "s": "ś", "z": "ź",
          "A": "Á", "E": "É", "I": "Í", "O": "Ó", "U": "Ú"},
    "`": {"a": "à", "e": "è", "i": "ì", "o": "ò", "u": "ù",
          "A": "À", "E": "È", "I": "Ì", "O": "Ò", "U": "Ù"},
    "^": {"a": "â", "e": "ê", "i": "î", "o": "ô", "u": "û",
          "A": "Â", "E": "Ê", "I": "Î", "O": "Ô", "U": "Û"},
    "~": {"a": "ã", "n": "ñ", "o": "õ", "A": "Ã", "N": "Ñ", "O": "Õ"},
    "c": {"c": "ç", "C": "Ç"},
    "v": {"c": "č", "s": "š", "z": "ž", "C": "Č", "S": "Š", "Z": "Ž"},
    "u": {"g": "ğ", "G": "Ğ"},
    "k": {"a": "ą", "e": "ę"},
    "=": {"a": "ā", "e": "ē", "i": "ī", "o": "ō", "u": "ū"},
}
_WORD_MACROS = {"ss": "ß", "o": "ø", "O": "Ø", "l": "ł", "L": "Ł",
                "ae": "æ", "AE": "Æ", "oe": "œ", "OE": "Œ", "aa": "å",
                "AA": "Å", "i": "ı", "&": "&", "%": "%", "_": "_",
                "$": "$", "#": "#"}

_PROSE_FIELDS = ("title", "abstract")


def is_bibtex(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, non-'<' first byte, >= 2 @type{ entry heads, >= 1 field
    assignment."""
    text = text_head(data)
    if text is None:
        return False
    stripped = text.lstrip()
    if not stripped or stripped[0] == "<":
        return False
    heads = [
        m for m in _ENTRY_RE.finditer(text)
        if m.group(1).lower() not in ("comment",)
    ]
    if len(heads) < 2:
        return False
    return bool(_FIELD_EV_RE.search(text))


def _delatex(raw: str) -> str:
    """Resolve the LaTeX-isms of a BibTeX value to plain text: accent
    commands through the bounded table, escapes, dash ligatures, ~
    spacing, protective braces stripped, unknown commands dropped."""
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c == "\\" and i + 1 < n:
            nxt = raw[i + 1]
            if nxt in _ACCENTS:
                # \"o or \"{o} — but ONLY when the accented letter is
                # actually in the table; otherwise fall through so a
                # \u...-style unknown COMMAND is dropped as a word,
                # not mangled by eating two chars
                j = i + 2
                if j < n and raw[j] == "{":
                    letter = raw[j + 1 : j + 2]
                    close = raw.find("}", j)
                    repl = _ACCENTS[nxt].get(letter)
                    if repl and close == j + 2:
                        out.append(repl)
                        i = close + 1
                        continue
                elif j < n and raw[j] in _ACCENTS[nxt]:
                    out.append(_ACCENTS[nxt][raw[j]])
                    i = j + 1
                    continue
                if not nxt.isalpha():
                    i += 2  # unmatched symbol accent: drop the pair
                    continue
            m = re.match(r"[A-Za-z]+", raw[i + 1 :])
            if m and m.group(0) in _WORD_MACROS:
                out.append(_WORD_MACROS[m.group(0)])
                i += 1 + len(m.group(0))
                continue
            if nxt in _WORD_MACROS:
                out.append(_WORD_MACROS[nxt])
                i += 2
                continue
            if m:
                i += 1 + len(m.group(0))  # unknown command: drop word
                continue
            i += 2
            continue
        if c in "{}":
            i += 1
            continue
        if c == "~":
            out.append(" ")
            i += 1
            continue
        if c == "-" and raw[i : i + 3] == "---":
            out.append("—")
            i += 3
            continue
        if c == "-" and raw[i : i + 2] == "--":
            out.append("–")
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _parse_entries(data: bytes):
    """Walk the database into (type, {field: rawvalue}) tuples with
    brace-balanced value scanning and # concatenation joined."""
    text = bytes(data).decode("utf-8", errors="replace")
    entries: list[tuple[str, dict[str, str]]] = []
    for m in _ENTRY_RE.finditer(text):
        etype = m.group(1).lower()
        i = m.end()
        n = len(text)
        depth = 1
        # key: up to the first comma at depth 1
        fields: dict[str, str] = {}
        # skip the cite key
        while i < n and text[i] not in ",}":
            i += 1
        if i < n and text[i] == "}":
            entries.append((etype, fields))
            continue
        i += 1
        while i < n and depth > 0:
            # field name
            while i < n and not (text[i].isalnum() or text[i] in "_-}"):
                i += 1
            if i >= n or text[i] == "}":
                break
            j = i
            while j < n and (text[j].isalnum() or text[j] in "_-"):
                j += 1
            name = text[i:j].lower()
            i = j
            while i < n and text[i] in " \t\r\n":
                i += 1
            if i >= n or text[i] != "=":
                # not a field (stray token): skip to next comma/close
                while i < n and text[i] not in ",}":
                    i += 1
                if i < n and text[i] == ",":
                    i += 1
                continue
            i += 1
            # value: concatenation of pieces
            pieces: list[str] = []
            while i < n:
                while i < n and text[i] in " \t\r\n":
                    i += 1
                if i >= n:
                    break
                c = text[i]
                if c == "{":
                    d = 1
                    j = i + 1
                    while j < n and d > 0:
                        if text[j] == "{":
                            d += 1
                        elif text[j] == "}":
                            d -= 1
                        elif text[j] == "\\" and j + 1 < n:
                            j += 1
                        j += 1
                    pieces.append(text[i + 1 : j - 1])
                    i = j
                elif c == '"':
                    j = i + 1
                    while j < n and text[j] != '"':
                        if text[j] == "\\" and j + 1 < n:
                            j += 1
                        j += 1
                    pieces.append(text[i + 1 : j])
                    i = j + 1
                else:
                    j = i
                    while j < n and text[j] not in ",}#\n":
                        j += 1
                    pieces.append(text[i:j].strip())
                    i = j
                while i < n and text[i] in " \t\r\n":
                    i += 1
                if i < n and text[i] == "#":
                    i += 1
                    continue
                break
            fields[name] = "".join(pieces)
            if i < n and text[i] == ",":
                i += 1
            elif i < n and text[i] == "}":
                break
        entries.append((etype, fields))
    return entries


def tokenize_bibtex(data: bytes) -> list[Block]:
    """Parse a BibTeX database into Blocks: one title block + abstract
    text blocks per entry, every other field and @string/@preamble/
    @comment machinery dropped, sharing the HTML leg's kinds."""
    blocks: list[Block] = []
    for etype, fields in _parse_entries(data):
        if etype in ("string", "preamble", "comment"):
            continue
        title = fields.get("title")
        if title:
            b = make_block(_delatex(title), ("bib", "title"), "title")
            if b:
                blocks.append(b)
        abstract = fields.get("abstract")
        if abstract:
            for para in re.split(r"\n\s*\n", abstract):
                b = make_block(_delatex(para), ("bib", "abstract"), "text")
                if b:
                    blocks.append(b)
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks
