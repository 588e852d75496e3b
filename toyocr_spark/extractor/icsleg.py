"""iCalendar tokenizer (.ics, RFC 5545) — the twenty-fourth leg of
the format dispatch, covering the event/calendar feeds crawls carry
in bulk (venue programmes, conference schedules, university course
calendars, public-holiday feeds): per-event titles and long-form
descriptions, a real text source wrapped in a property grammar.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE: RFC 5545 mandates `BEGIN:VCALENDAR` as the FIRST
line, so the gate is a de-facto magic (the WEBVTT rule) — no
structural-evidence scoring needed, prose cannot start with it.

What is content and what is chrome:
- Per displayable component (VEVENT/VTODO/VJOURNAL): SUMMARY is the
  title and DESCRIPTION is the body. Everything else is structured
  metadata, never read — DTSTART/DTEND/UID/ORGANIZER/ATTENDEE/RRULE/
  LOCATION/STATUS (the docProps rule), PRODID/VERSION/CALSCALE
  calendar headers, whole VTIMEZONE components, and whole VALARM
  sub-components (an alarm's DESCRIPTION is reminder chrome, not the
  event's prose).
- The property grammar decodes before any text is read: CRLF+space
  line UNFOLDING first (RFC 5545 §3.1 — long lines fold mid-word),
  then parameters strip (`DESCRIPTION;LANGUAGE=en:...`), then TEXT
  unescaping (\\n newline, \\, comma, \\; semicolon, \\\\ backslash).
  Escaped newlines in a DESCRIPTION split paragraphs (blank-line
  rule), each paragraph whitespace-collapsed.

Boundedness: at most MAX_COMPONENTS components walk. Determinism:
malformed calendars tokenize to whatever the bounded walk yields —
same bytes, same blocks, never an exception."""

from __future__ import annotations

import re

from toyocr_spark.extractor.tokenizer import Block, make_block

MAX_COMPONENTS = 64

_UNFOLD = re.compile(r"\r?\n[ \t]")
_URL_RE = re.compile(r"https?://[^\s<>()\"\']+")
# displayable components whose SUMMARY/DESCRIPTION are content
_DISPLAYABLE = ("VEVENT", "VTODO", "VJOURNAL")


def is_ics(data: bytes | str | None) -> bool:
    """De-facto-magic gate: RFC 5545 mandates BEGIN:VCALENDAR as the
    first line (leading whitespace tolerated, the WEBVTT discipline)."""
    if not isinstance(data, (bytes, bytearray)):
        return False
    return bytes(data[:64]).lstrip().startswith(b"BEGIN:VCALENDAR")


def _unescape(value: str) -> str:
    """RFC 5545 TEXT unescaping, single pass left-to-right so an
    escaped backslash can never re-trigger (\\\\n is a backslash
    then an 'n', not a newline)."""
    out: list[str] = []
    i, n = 0, len(value)
    while i < n:
        c = value[i]
        if c == "\\" and i + 1 < n:
            nxt = value[i + 1]
            if nxt in ("n", "N"):
                out.append("\n")
            elif nxt in (",", ";", "\\"):
                out.append(nxt)
            else:  # unknown escape: keep both (quiet-skip, lossless)
                out.append(c)
                out.append(nxt)
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _components(text: str):
    """Yield (name, [(prop_name, value)]) for each top-level
    displayable component, bounded; nested sub-components (VALARM)
    are skipped whole — their properties are chrome."""
    comp: str | None = None
    props: list[tuple[str, str]] = []
    skip_depth = 0
    n_seen = 0
    for line in text.split("\n"):
        line = line.rstrip("\r")
        if not line:
            continue
        name, sep, value = line.partition(":")
        if not sep:
            continue  # not a content line: quiet-skip
        pname = name.split(";", 1)[0].strip().upper()
        if pname == "BEGIN":
            target = value.strip().upper()
            if comp is None and target in _DISPLAYABLE:
                if n_seen >= MAX_COMPONENTS:
                    return
                comp, props = target, []
                n_seen += 1
            elif comp is not None:
                skip_depth += 1  # VALARM etc.: chrome wholesale
            continue
        if pname == "END":
            if skip_depth:
                skip_depth -= 1
            elif comp is not None and value.strip().upper() == comp:
                yield comp, props
                comp = None
            continue
        if comp is not None and not skip_depth:
            props.append((pname, value))


def tokenize_ics(data: bytes) -> list[Block]:
    """Parse a calendar into Blocks: per displayable component the
    unescaped SUMMARY as a title block, then each paragraph of the
    unescaped DESCRIPTION (escaped \\n splits; whitespace collapsed).
    Malformed calendars tokenize to []."""
    try:
        text = bytes(data).decode("utf-8", errors="replace")
    except Exception:  # noqa: BLE001
        return []
    text = _UNFOLD.sub("", text)
    blocks: list[Block] = []
    for _comp, props in _components(text):
        for pname, value in props:
            if pname == "SUMMARY":
                b = make_block(_unescape(value), ("ics", "summary"), "title")
                if b:
                    blocks.append(b)
            elif pname == "DESCRIPTION":
                for para in _unescape(value).split("\n"):
                    b = make_block(para, ("ics", "p"), "text")
                    if b:
                        blocks.append(b)
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks


def ics_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE links in component order, duplicates
    preserved — the ics leg of outlink mining: URL property values
    plus bare http(s) URLs inside unescaped DESCRIPTIONs (chrome
    properties and skipped sub-components contribute nothing).
    Malformed calendars -> []."""
    try:
        text = bytes(data).decode("utf-8", errors="replace")
    except Exception:  # noqa: BLE001
        return []
    text = _UNFOLD.sub("", text)
    out: list[str] = []
    for _comp, props in _components(text):
        for pname, value in props:
            if pname == "URL":
                v = _unescape(value).strip()
                if v.startswith(("http://", "https://")):
                    out.append(v)
            elif pname == "DESCRIPTION":
                out.extend(_URL_RE.findall(_unescape(value)))
    return out
