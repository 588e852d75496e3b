"""RTF tokenizer — the seventh leg of the magic-byte format dispatch,
covering the legacy word-processor format crawls still carry in bulk.

Reference analogue: the byte -> array decode seam shared by every
container leg (/root/reference/data/dataset_mapper.py:151-155).

RTF is a brace-grouped control-word stream (Word 1.x-era spec, public
and frozen): this walker keeps exactly the state the text needs —
a group stack carrying {skip-destination, \\uc fallback count, current
\\fs, inside-hyperlink}, paragraph flushing on \\par/\\sect/\\page,
and the three escape families (\\'hh codepage bytes as cp1252, \\uN
signed Unicode with \\uc fallback skipping, control-symbol literals).
Boilerplate is structural where the format makes it so: header/footer/
footnote/info destinations are never read (the docx-parts twin), and
{\\field} hyperlinks count their \\fldrslt text as link chars so the
shared link-density rule sees RTF navigation exactly like HTML <a>.

Title signal: \\fs is half-points; a paragraph whose text ran at
>= 28 half-points (14 pt, the PDF TITLE_MIN_SIZE) -> kind='title'.

Determinism: malformed input tokenizes to whatever the truncated walk
yields — same bytes, same blocks, never an exception."""

from __future__ import annotations

from toyocr_spark.extractor.tokenizer import Block, make_block

RTF_MAGIC = b"{\\rtf"

_TITLE_FS = 28  # half-points; 14 pt == extractor.pdf.TITLE_MIN_SIZE

# destinations whose content is NEVER text (structural boilerplate or
# tables); any {\*\...} destination is skipped as the spec directs
# readers that don't understand it
_SKIP_DESTS = frozenset(
    (
        b"fonttbl colortbl stylesheet info pict object header footer "
        b"headerl headerr headerf footerl footerr footerf footnote "
        b"annotation xe tc"
    ).split()
)

# control words/symbols contributing fixed text
_TEXT_WORDS: dict[bytes, str] = {
    b"tab": " ",
    b"line": " ",
    b"emdash": "—",
    b"endash": "–",
    b"bullet": "•",
    b"lquote": "‘",
    b"rquote": "’",
    b"ldblquote": "“",
    b"rdblquote": "”",
    b"emspace": " ",
    b"enspace": " ",
    b"qmspace": " ",
}


def is_rtf(data: bytes | str | None) -> bool:
    return isinstance(data, (bytes, bytearray)) and data[:5] == RTF_MAGIC


class _Para:
    __slots__ = ("parts", "link_chars", "fs_max", "n_runs")

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.link_chars = 0
        self.fs_max = 0
        self.n_runs = 0


def tokenize_rtf(data: bytes) -> list[Block]:
    """Parse RTF bytes into Blocks, one per paragraph."""
    if not is_rtf(data):
        return []
    blocks: list[Block] = []
    para = _Para()

    def emit(text: str, st: dict) -> None:
        if not text:
            return
        para.parts.append(text)
        if st["link"]:
            para.link_chars += len(" ".join(text.split()))
        if st["fs"] > para.fs_max:
            para.fs_max = st["fs"]

    def flush() -> None:
        nonlocal para
        b = make_block(
            "".join(para.parts),
            ("rtf", "p"),
            "title" if para.fs_max >= _TITLE_FS else "text",
            para.link_chars,
            max(0, para.n_runs - 1),
        )
        if b:
            blocks.append(b)
        para = _Para()

    # group-stack states; each entry is its own dict (copy-on-push)
    st = {"skip": False, "uc": 1, "fs": 0, "link": False, "pending_link": False}
    stack: list[dict] = []
    i, n = 0, len(data)
    pending_skip = 0  # \uc fallback bytes to swallow after \uN
    while i < n:
        c = data[i]
        if c == 0x7B:  # {
            stack.append(st)
            st = dict(st)
            st["pending_link"] = False
            i += 1
            # starred destination: {\*\word ...} — skip unless fldinst,
            # which we scan (not emit) to detect HYPERLINK fields
            if data[i : i + 2] == b"\\*":
                j = i + 2
                if data[j : j + 1] == b"\\":
                    k = j + 1
                    while k < n and 0x61 <= data[k] <= 0x7A:
                        k += 1
                    word = data[j + 1 : k]
                    if word == b"fldinst":
                        # find the destination's raw span (balanced braces)
                        depth, m = 1, k
                        while m < n and depth:
                            if data[m] == 0x7B:
                                depth += 1
                            elif data[m] == 0x7D:
                                depth -= 1
                            elif data[m] == 0x5C:
                                m += 1
                            m += 1
                        if b"HYPERLINK" in data[k:m]:
                            # mark the ENCLOSING field group: its later
                            # \fldrslt text is anchor text
                            if stack:
                                stack[-1]["pending_link"] = True
                st["skip"] = True
            continue
        if c == 0x7D:  # }
            if stack:
                st = stack.pop()
            i += 1
            continue
        if c != 0x5C:  # plain text byte
            j = i
            while j < n and data[j] not in (0x5C, 0x7B, 0x7D, 0x0D, 0x0A):
                j += 1
            if not st["skip"]:
                chunk = data[i:j].decode("cp1252", "replace")
                if pending_skip:
                    drop = min(pending_skip, len(chunk))
                    chunk = chunk[drop:]
                    pending_skip -= drop
                emit(chunk, st)
            if j < n and data[j] in (0x0D, 0x0A):
                j += 1  # raw CR/LF are ignorable per spec
            i = j
            continue
        # control word or symbol
        i += 1
        if i >= n:
            break
        c = data[i]
        if c == 0x27:  # \'hh hex escape
            hx = data[i + 1 : i + 3]
            i += 3
            if not st["skip"]:
                if pending_skip:
                    pending_skip -= 1
                else:
                    try:
                        emit(bytes([int(hx, 16)]).decode("cp1252", "replace"), st)
                    except ValueError:
                        pass
            continue
        if not (0x61 <= c <= 0x7A or 0x41 <= c <= 0x5A):
            # control symbol: literals and the nbsp/soft-hyphen family
            if not st["skip"]:
                sym = chr(c)
                if sym in "\\{}":
                    emit(sym, st)
                elif sym == "~":
                    emit(" ", st)
                # \- (soft hyphen) and \* handled elsewhere: no text
            i += 1
            continue
        j = i
        while j < n and (0x61 <= data[j] <= 0x7A or 0x41 <= data[j] <= 0x5A):
            j += 1
        word = data[i:j]
        param = None
        k = j
        neg = False
        if k < n and data[k] == 0x2D:
            neg = True
            k += 1
        ds = k
        while k < n and 0x30 <= data[k] <= 0x39:
            k += 1
        if k > ds:
            param = int(data[ds:k])
            if neg:
                param = -param
        if k < n and data[k] == 0x20:
            k += 1  # the single delimiting space is consumed
        i = k
        # interpret
        if word in _SKIP_DESTS:
            st["skip"] = True
            continue
        if word == b"fldrslt":
            # anchor text of a field whose fldinst said HYPERLINK
            if stack and stack[-1].get("pending_link"):
                st["link"] = True
            continue
        if st["skip"]:
            if word == b"bin" and param and param > 0:
                i += param  # raw binary payload: skip exactly N bytes
            continue
        if word == b"par" or word == b"sect" or word == b"page":
            flush()
        elif word == b"pard":
            pass  # paragraph-format reset carries no text
        elif word == b"uc":
            st["uc"] = param if param is not None and param >= 0 else 1
        elif word == b"u":
            if param is not None:
                cp = param if param >= 0 else param + 65536
                emit(chr(cp) if 0 <= cp < 0x110000 else "�", st)
                pending_skip = st["uc"]
        elif word == b"fs":
            if param is not None and param > 0:
                st["fs"] = param
        elif word == b"plain":
            st["fs"] = 0
        elif word == b"bin":
            if param and param > 0:
                i += param
        elif word in _TEXT_WORDS:
            emit(_TEXT_WORDS[word], st)
        elif word == b"b" or word == b"i":
            para.n_runs += 1  # formatting toggles fragment runs
        # every other control word is formatting: no text
    flush()
    for idx, b in enumerate(blocks):
        b.ordinal = idx
    return blocks


def _unescape_field(raw: bytes) -> str:
    """Decode the RTF escapes a field-instruction literal can carry
    (\\\\, \\{, \\}, \\'hh) into text; anything else backslashed is a
    control word and ends the literal upstream."""
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c == 0x5C and i + 1 < n:
            nxt = raw[i + 1]
            if nxt in (0x5C, 0x7B, 0x7D):
                out.append(chr(nxt))
                i += 2
                continue
            if nxt == 0x27 and i + 3 < n:
                try:
                    out.append(bytes([int(raw[i + 2 : i + 4], 16)]).decode("cp1252", "replace"))
                except ValueError:
                    pass
                i += 4
                continue
        out.append(chr(c) if c < 128 else bytes([c]).decode("cp1252", "replace"))
        i += 1
    return "".join(out)


def rtf_links(data: bytes) -> list[str]:
    """Outlink targets from {\\*\\fldinst HYPERLINK ...} fields, in
    document order, duplicates preserved (the docx_links contract).
    ABSOLUTE targets only — \\l bookmark switches and local file paths
    are intra-document navigation, not crawl edges (the epub_links
    rationale). Quoted and bare-token targets both parse; RTF escapes
    inside the literal decode via cp1252."""
    if not is_rtf(data):
        return []
    links: list[str] = []
    i, n = 0, len(data)
    while True:
        i = data.find(b"\\fldinst", i)
        if i == -1:
            break
        # balanced-brace span of the destination (escape-aware)
        depth, m = 1, i + 8
        while m < n and depth:
            c = data[m]
            if c == 0x7B:
                depth += 1
            elif c == 0x7D:
                depth -= 1
            elif c == 0x5C:
                m += 1
            m += 1
        span = data[i + 8 : m]
        i = m
        h = span.find(b"HYPERLINK")
        if h == -1:
            continue
        j = h + 9
        while j < len(span) and span[j : j + 1] in (b" ", b"\t"):
            j += 1
        if span[j : j + 2] == b"\\l":
            continue  # bookmark: intra-document
        if span[j : j + 1] == b'"':
            end = span.find(b'"', j + 1)
            raw = span[j + 1 : end if end != -1 else len(span)]
        else:
            end = j
            while end < len(span) and span[end] not in b' \t{}\\"':
                end += 1
            raw = span[j:end]
        target = _unescape_field(raw).strip()
        if "://" in target:
            links.append(target)
    return links
