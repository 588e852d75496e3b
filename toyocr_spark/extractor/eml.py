"""Email tokenizer (.eml, RFC 5322 + MIME) — the twenty-second leg of
the format dispatch, covering the mailing-list and newsgroup archives
crawls carry in bulk (pipermail/mbox exports, patch review lists,
support forums) — long-form technical discussion, a classic training
source.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: email has no magic bytes, so the gate demands the
header block prose cannot fake — a header-shaped FIRST line (the
MHTML rule) plus line-anchored From:, Subject: and Date:/Message-ID:
headers in the head. The MHTML gate (multipart/related) runs FIRST in
the dispatch chain, so a saved web page never reclassifies as mail.

What is content and what is chrome:
- The SUBJECT is the post's title — the one header that is content.
  RFC 2047 encoded-words decode; every other header (From/To/Received/
  List-Id/...) is routing metadata, never read (the docProps rule).
- Body parts walk the MIME tree: inside multipart/alternative exactly
  ONE alternative renders (text/plain preferred, else text/html — the
  same content twice is not twice the content); elsewhere every
  text/plain part becomes paragraph blocks and every text/html part
  re-enters the ordinary HTML tokenizer (the MHTML discipline).
  Transfer encodings (quoted-printable/base64) and part charsets
  decode per MIME metadata.
- In plain-text bodies, '>'-quoted lines are the PREVIOUS message
  (mailing-list chrome — keeping them would duplicate every thread
  upward) and the signature block from the '-- ' delimiter line to
  the end of the part is boilerplate; both drop. Attachments and
  non-text parts are opaque (walk-don't-decode).

Boundedness: at most MAX_PARTS parts walk; all text is a subset of
the page-capped input. Determinism: the stdlib parser degrades to
defects instead of raising; malformed payloads quiet-skip — same
bytes, same blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block, tokenize

MAX_PARTS = 64

# header-shaped first line (the MHTML rule): printable token + colon
_HDR_LINE = re.compile(rb"^[!-9;-~]+:[ \t]")
_EV_FROM = re.compile(rb"(?mi)^from:[ \t]")
_EV_SUBJECT = re.compile(rb"(?mi)^subject:[ \t]")
_EV_DATE = re.compile(rb"(?mi)^(date|message-id):[ \t]")
_SIG_DELIM = re.compile(r"^-- ?$")
_URL_RE = re.compile(r"https?://[^\s<>()\"\']+")
_HREF_RE = re.compile(r'(?i)href="([^"]+)"')


def is_eml(data: bytes | str | None) -> bool:
    """Structural gate (see module docstring): header-shaped first
    line plus line-anchored From:/Subject: and Date:/Message-ID: in
    the head. The MHTML gate outranks this in the dispatch chain."""
    if not isinstance(data, (bytes, bytearray)):
        return False
    head = bytes(data[:4096])
    if not _HDR_LINE.match(head):
        return False
    return bool(
        _EV_FROM.search(head)
        and _EV_SUBJECT.search(head)
        and _EV_DATE.search(head)
    )


def _decode_subject(msg) -> str:
    """RFC 2047 encoded-word-aware subject decode, '' on anything
    malformed (quiet-skip)."""
    raw = msg.get("Subject")
    if not raw:
        return ""
    try:
        from email.header import decode_header

        out = []
        for frag, charset in decode_header(raw):
            if isinstance(frag, bytes):
                out.append(frag.decode(charset or "ascii", errors="replace"))
            else:
                out.append(frag)
        return "".join(out)
    except Exception:  # noqa: BLE001
        return str(raw)


MAX_NESTING = 8  # multipart tree depth bound: a crafted message with
# thousands of nested multiparts must trim deterministically, never
# blow the recursion limit inside the kernel (the zip-bomb discipline)


def _body_parts(msg, depth: int = 0) -> list:
    """The renderable leaf parts in tree order, with the
    multipart/alternative pick-one rule applied and nesting bounded."""
    if depth >= MAX_NESTING:
        return []
    if msg.is_multipart():
        children = msg.get_payload()
        if not isinstance(children, list):
            return []
        if msg.get_content_subtype() == "alternative":
            # exactly one alternative renders: text/plain preferred
            for want in ("text/plain", "text/html"):
                for c in children:
                    if c.get_content_type() == want:
                        return _body_parts(c, depth + 1)
            return []
        out = []
        for c in children[:MAX_PARTS]:
            out.extend(_body_parts(c, depth + 1))
            if len(out) >= MAX_PARTS:
                break
        return out[:MAX_PARTS]
    return [msg]


def _decoded_payload(part):
    """(kind, text_or_bytes) for a leaf part, or None for chrome:
    attachments and non-text types are opaque."""
    ctype = part.get_content_type()
    if ctype not in ("text/plain", "text/html"):
        return None
    disp = str(part.get("Content-Disposition") or "")
    if disp.lower().startswith("attachment"):
        return None
    try:
        payload = part.get_payload(decode=True)
    except Exception:  # noqa: BLE001 — quiet-skip fuzz contract
        return None
    if payload is None:
        return None
    charset = part.get_content_charset()
    if charset:
        try:
            return ctype, payload.decode(charset)
        except (LookupError, UnicodeDecodeError):
            pass  # bogus label: raw bytes fall through to sniffing
    if ctype == "text/plain":
        return ctype, payload.decode("utf-8", errors="replace")
    return ctype, payload  # html: the tokenizer's own sniffing applies


def _plain_blocks(text: str) -> list[Block]:
    """Paragraph blocks from a plain-text body: '>'-quoted lines and
    the '-- ' signature block drop, blank lines split paragraphs."""
    blocks: list[Block] = []
    para: list[str] = []

    def flush() -> None:
        if para:
            b = make_block(" ".join(para), ("eml", "p"), "text")
            if b:
                blocks.append(b)
            para.clear()

    for line in text.replace("\r\n", "\n").replace("\r", "\n").split("\n"):
        if _SIG_DELIM.match(line):
            break  # signature: from the delimiter to the end of part
        s = line.strip()
        if not s:
            flush()
            continue
        if s.startswith(">"):
            continue  # quoted previous message
        para.append(s)
    flush()
    return blocks


def tokenize_eml(data: bytes) -> list[Block]:
    """Parse an email into Blocks: the decoded Subject as the title,
    then each rendered body part — plain text through the quote/sig
    stripper, HTML through the ordinary tokenizer — ordinals
    renumbered across parts (the MHTML discipline). Malformed
    messages tokenize to []."""
    import email
    from email import policy

    try:
        msg = email.message_from_bytes(bytes(data), policy=policy.compat32)
    except Exception:  # noqa: BLE001
        return []
    blocks: list[Block] = []
    subject = make_block(_decode_subject(msg), ("eml", "subject"), "title")
    if subject:
        blocks.append(subject)
    for part in _body_parts(msg):
        got = _decoded_payload(part)
        if got is None:
            continue
        ctype, body = got
        if ctype == "text/plain":
            blocks.extend(_plain_blocks(body))
        else:
            blocks.extend(tokenize(body))
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks


def eml_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE links in part order, duplicates preserved —
    the email leg of outlink mining: href targets from rendered HTML
    parts (the mhtml_links contract) plus BARE http(s) URLs from
    rendered plain-text parts (how mailing lists actually carry
    links), with '>'-quoted lines and signatures excluded with their
    construct. Malformed messages -> []."""
    import email
    from email import policy

    try:
        msg = email.message_from_bytes(bytes(data), policy=policy.compat32)
    except Exception:  # noqa: BLE001
        return []
    out: list[str] = []
    for part in _body_parts(msg):
        got = _decoded_payload(part)
        if got is None:
            continue
        ctype, body = got
        if ctype == "text/plain":
            kept_lines = []
            for line in body.replace("\r\n", "\n").split("\n"):
                if _SIG_DELIM.match(line):
                    break
                if line.strip().startswith(">"):
                    continue
                kept_lines.append(line)
            out.extend(_URL_RE.findall("\n".join(kept_lines)))
        else:
            if isinstance(body, bytes):
                body = body.decode("utf-8", errors="replace")
            out.extend(
                m.group(1) for m in _HREF_RE.finditer(body) if "://" in m.group(1)
            )
    return out
