"""Jupyter notebook tokenizer — the nineteenth leg of the format
dispatch, covering the .ipynb JSON documents code-hosting crawls carry
in bulk (GitHub, Kaggle kernels, documentation sites) — one of the
densest sources of code+prose training data on the web.

Reference analogue: the byte -> array decode seam shared by every
format leg (/root/reference/data/dataset_mapper.py:151-155).

SNIFF DISCIPLINE (the markdown/csv forgeable-surface rule): .ipynb has
no magic bytes, so the gate demands structure prose cannot fake — a
strict-UTF-8 head whose first significant byte is '{' AND the nbformat
serialization's two load-bearing keys: `"cells"` in the head and
`"nbformat"` anywhere in head or tail (nbformat writes keys in order
cells, metadata, nbformat — the version key lands at the END of the
file, so the gate probes both ends instead of demanding a full parse).
A generic JSON config has neither key; a JSON-LD page is embedded in
HTML and starts with '<'. The gate runs BEFORE the no-magic structural
sniffs (latex/markdown/csv) in the dispatch chain: a notebook whose
markdown cells contain ATX headings must not leak to the markdown leg.

Shared-kernel design (the EPUB/tar pattern): the JSON walk only
resolves WHICH text is a document cell; markdown cells then re-enter
the one markdown tokenizer (extractor/markdown.py) so headings, lists,
tables, link density and inline resolution follow the exact same rules
as a README — one chain, one rule set. Code cells and their textual
outputs (stream text, execute_result/display_data text/plain) become
blocks of their own: in a notebook, code IS content. Everything else
is chrome, never read: notebook/kernel metadata (kernelspec,
language_info — the docProps discipline), error-output tracebacks,
non-text output mime types (image/png base64 payloads — the
walk-don't-decode stance: no pixel decode on the petabyte path), raw
cells (nbconvert passthrough payloads aimed at another format), and
execution counters.

Boundedness: at most MAX_CELLS cells walk and MAX_OUTPUTS outputs per
code cell; all text is a subset of the (already page-capped) input, so
no expansion is possible. Determinism: malformed JSON — including the
page-level MAX_HTML_BYTES truncation upstream — tokenizes to [], same
bytes same blocks, never an exception."""

from __future__ import annotations

import json

from toyocr_spark.extractor.markdown import markdown_links, tokenize_markdown
from toyocr_spark.extractor.tokenizer import Block, make_block, utf8_textish

_SNIFF_BYTES = 4096
_TAIL_BYTES = 1024
MAX_CELLS = 2000
MAX_OUTPUTS = 32


def is_ipynb(data: bytes | str | None) -> bool:
    """Structural-evidence gate (see module docstring): strict-UTF-8
    head, first significant byte '{', `"cells"` key in the head,
    `"nbformat"` key in head or tail."""
    if not isinstance(data, (bytes, bytearray)) or not utf8_textish(data):
        return False
    head = bytes(data[:_SNIFF_BYTES])
    stripped = head.lstrip()
    if not stripped or stripped[:1] != b"{":
        return False
    if b'"cells"' not in head:
        return False
    return b'"nbformat"' in head or b'"nbformat"' in bytes(data[-_TAIL_BYTES:])


def _source_text(src) -> str:
    """nbformat stores cell source as either one string or a list of
    line strings (both spec-legal); normalize to one string."""
    if isinstance(src, str):
        return src
    if isinstance(src, list):
        return "".join(s for s in src if isinstance(s, str))
    return ""


def _cells(nb) -> list:
    """The cell list across nbformat majors: v4 top-level `cells`,
    v3 `worksheets[0].cells`."""
    if not isinstance(nb, dict):
        return []
    cells = nb.get("cells")
    if isinstance(cells, list):
        return cells
    ws = nb.get("worksheets")
    if isinstance(ws, list) and ws and isinstance(ws[0], dict):
        cells = ws[0].get("cells")
        if isinstance(cells, list):
            return cells
    return []


def _output_text(o: dict) -> str:
    """The textual payload of one code-cell output, '' for chrome:
    stream text, execute_result/display_data (v3: pyout) text/plain;
    error/pyerr tracebacks and non-text mime types contribute
    nothing."""
    ot = o.get("output_type")
    if ot == "stream":
        return _source_text(o.get("text"))
    if ot in ("execute_result", "display_data", "pyout"):
        d = o.get("data")
        if isinstance(d, dict):
            return _source_text(d.get("text/plain"))
        return _source_text(o.get("text"))  # v3 carried text inline
    return ""


def tokenize_ipynb(data: bytes) -> list[Block]:
    """Parse notebook JSON into Blocks: markdown cells re-enter the
    markdown tokenizer (paths re-rooted under 'ipynb'), code cells and
    their textual outputs become pre/out blocks, sharing the HTML
    leg's kinds so XY-cut, scoring and islands apply unchanged."""
    text = bytes(data).decode("utf-8", errors="replace")  # never raises
    try:
        nb = json.loads(text)
    except Exception:  # noqa: BLE001 — malformed/truncated JSON
        return []
    blocks: list[Block] = []
    for cell in _cells(nb)[:MAX_CELLS]:
        if not isinstance(cell, dict):
            continue
        ct = cell.get("cell_type")
        if ct == "markdown":
            src = _source_text(cell.get("source"))
            for b in tokenize_markdown(src.encode("utf-8")):
                # re-root ('md', x) -> ('ipynb', x): same scoring
                # semantics, but the path says which leg produced it
                b.tag_path = ("ipynb",) + b.tag_path[1:]
                blocks.append(b)
        elif ct == "code":
            # v4 stores code under `source`, v3 under `input`
            src = _source_text(cell.get("source") or cell.get("input"))
            b = make_block(src, ("ipynb", "pre"), "text")
            if b:
                blocks.append(b)
            outs = cell.get("outputs")
            if isinstance(outs, list):
                for o in outs[:MAX_OUTPUTS]:
                    if not isinstance(o, dict):
                        continue
                    b = make_block(_output_text(o), ("ipynb", "out"), "text")
                    if b:
                        blocks.append(b)
        # raw cells: nbconvert passthrough aimed at another format —
        # structural chrome, never read (the docProps discipline)
    for k, b in enumerate(blocks):
        b.ordinal = k
    return blocks


def ipynb_links(data: bytes) -> list[str]:
    """Outbound ABSOLUTE link targets from MARKDOWN cells only, in
    cell order, duplicates preserved — the notebook leg of outlink
    mining, delegating per cell to markdown_links (so fenced code
    stays excluded and the three pattern families keep their order
    within a cell). Code cells and outputs are quotation, not an
    assertion of linkage (the markdown fenced-code contract).
    Malformed JSON -> []."""
    if not isinstance(data, (bytes, bytearray)):
        return []
    try:
        nb = json.loads(bytes(data).decode("utf-8", errors="replace"))
    except Exception:  # noqa: BLE001
        return []
    out: list[str] = []
    for cell in _cells(nb)[:MAX_CELLS]:
        if isinstance(cell, dict) and cell.get("cell_type") == "markdown":
            src = _source_text(cell.get("source"))
            out.extend(markdown_links(src.encode("utf-8")))
    return out
