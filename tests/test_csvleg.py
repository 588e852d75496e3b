"""CSV/TSV extraction: constant-delimiter-count structural sniff and
its traps, quoting (doubled quotes AND quoted delimiters), header
title kind, chrome-row drop, record cap, fuzz determinism, dispatch
precedence — the same contract battery every format carries
(reference analogue: the byte -> array decode seam at
/root/reference/data/dataset_mapper.py:151-155)."""

import random

from toyocr_spark.extractor.core import extract
from toyocr_spark.extractor.csvleg import MAX_RECORDS, is_csv, tokenize_csv
from toyocr_spark.fixtures.gencsv import build_csv

_ROWS = [
    ["alpha record", "first payload text long enough to keep"],
    ["beta record", "second payload text long enough to keep"],
    ["gamma record", "third payload text long enough to keep"],
]


def _doc(delim: str = "\t") -> bytes:
    return build_csv(["record title column", "payload column"], _ROWS, delim=delim)


# --- gate -----------------------------------------------------------------


def test_gate_accepts_tsv_and_semicolon():
    assert is_csv(_doc("\t"))
    assert is_csv(_doc(";"))


def test_gate_comma_needs_three_columns_and_extra_evidence():
    """Prose can hold a constant SINGLE comma per line ('a, b' lists),
    so two-column comma files stay prose — the conservative failure."""
    assert not is_csv(_doc(","))  # two columns, one comma per line
    wide = build_csv(
        ["c one", "c two", "c three"],
        [["a val", "b val", "c val"]] * 4,
        delim=",",
    )
    assert is_csv(wide)


def test_gate_rejects_prose_and_markup():
    assert not is_csv(
        b"plain prose, with commas, appearing at random\n"
        b"another line with none\nthird line, one here"
    )
    assert not is_csv(b"<html><td>a\tb</td>\nc\td\ne\tf</html>")
    assert not is_csv(b"a\tb")  # too few lines
    assert not is_csv(None)
    assert not is_csv(b"\x00bin\tary\nrows\there\nmore\tdata")


def test_markdown_outranks_csv():
    md = (
        b"# Head line\n\n| a | b |\n|---|---|\n| c | d |\n\n"
        b"[l](https://x.example/) and [m](https://y.example/)\n"
    )
    r = extract(md)
    # the pipe table went through the MARKDOWN leg (md table blocks),
    # not the csv leg — tokenize_csv never saw it
    assert not any(b.tag_path == ("csv", "tr") for b in __import__(
        "toyocr_spark.extractor.markdown", fromlist=["tokenize_markdown"]
    ).tokenize_markdown(md))
    assert r.n_blocks > 0


# --- structure / quoting -----------------------------------------------------


def test_header_is_title_and_rows_extract_in_order():
    r = extract(_doc())
    lines = r.text.split("\n")
    assert lines[0] == "record title column payload column"
    assert [s[2] for s in r.spans][:2] == ["title", "table"]
    assert lines[1].startswith("alpha record")
    assert lines[3].startswith("gamma record")


def test_doubled_quotes_unquote():
    blob = build_csv(
        ["record title column", "payload column"],
        [["entry one", 'text with a literal "quote" inside kept long enough']],
    )
    # need 3+ lines for the gate: add rows
    blob = build_csv(
        ["record title column", "payload column"],
        [
            ["entry one", 'text with a literal "quote" inside kept long enough'],
            ["entry two", "plain second payload text long enough"],
        ],
    )
    r = extract(blob)
    assert 'a literal "quote" inside' in r.text
    assert '""' not in r.text


def test_quoted_delimiter_honored_when_counts_balance():
    """A quoted field CONTAINING the delimiter normally breaks the
    constant-count sniff (safe failure); when every line carries the
    same raw count anyway, the gate passes and the reader must keep
    the quoted tab inside ONE cell — a naive split shears it."""
    raw = (
        '"record\ttitle"\t"payload column"\n'
        '"entry\tone"\t"payload text long enough to be kept"\n'
        '"entry\ttwo"\t"second payload text long enough here"\n'
    ).encode()
    assert is_csv(raw)
    blocks = tokenize_csv(raw)
    assert blocks[1].text == "entry one payload text long enough to be kept"


def test_bare_numeral_chrome_rows_die():
    blob = build_csv(
        ["record title column", "payload column"],
        [*_ROWS, ["1", "2"], ["3", "4"]],
    )
    r = extract(blob)
    assert "1 2" not in r.text
    assert r.n_kept == 1 + len(_ROWS)


def test_record_cap_bounds_the_walk():
    rows = [["r", f"row payload number {i} long enough"] for i in range(MAX_RECORDS + 50)]
    blob = build_csv(["h one", "h two"], rows)
    assert len(tokenize_csv(blob)) == MAX_RECORDS


def test_oversized_field_keeps_records_read_so_far():
    # a gated CSV whose last field outgrows the stdlib reader's field
    # limit: the walk stops there instead of raising out of extract()
    lines = "".join(f"a{i},b,c\n" for i in range(5)).encode()
    blob = lines + b'x,y,"' + b"z" * 200_000 + b'"'
    assert is_csv(blob)
    assert [b.text for b in tokenize_csv(blob)] == [f"a{i} b c" for i in range(5)]
    assert extract(blob) == extract(blob)


# --- fuzz / determinism -------------------------------------------------------


def test_fuzz_determinism_truncation_and_bitflips():
    base = _doc()
    rng = random.Random(5)
    for _ in range(60):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        cut = bytes(buf[: rng.randrange(1, len(buf))])
        assert extract(cut) == extract(cut)
