"""TAR bundle extraction: ustar magic + checksum gate, member walk in
archive order through the shared format dispatch, in-archive envelope
strip, opaque-resource / nested-tar / non-regular-member skips,
boundedness caps, whole-archive .tar.gz, fuzz determinism — the same
contract battery every other format carries (reference analogue: the
byte -> array decode seam at
/root/reference/data/dataset_mapper.py:151-155)."""

import gzip
import random

from toyocr_spark.extractor.core import extract
from toyocr_spark.extractor.tarleg import (
    MAX_MEMBERS,
    is_tar,
    tokenize_tar,
)
from toyocr_spark.fixtures.genmd import build_md
from toyocr_spark.fixtures.gentar import build_tar

_NAV = (
    '<nav><ul><li><a href="/a">one link</a></li>'
    '<li><a href="/b">two link</a></li></ul></nav>'
)
_BODY = "Body text long enough to be kept by the shared scoring rules here."
_PAGE = f"<html><body>{_NAV}<h1>Archive page heading</h1><p>{_BODY}</p></body></html>".encode()


def _bundle() -> bytes:
    md = build_md(
        "Readme heading long enough",
        ["Readme paragraph long enough to be kept by the scorer."],
    )
    return build_tar(
        [
            ("page.html", _PAGE),
            ("README.md.gz", gzip.compress(md, 9, mtime=0)),
            ("res/logo.png", b"\x89PNG\r\n\x1a\n" + bytes(range(256))),
            ("inner.tar", build_tar([("x.txt", b"nested never recurses " * 3)])),
        ],
        with_dir=True,
        with_symlink=True,
    )


def test_is_tar_gates_on_magic_and_checksum():
    blob = _bundle()
    assert is_tar(blob)
    assert not is_tar(blob[:400])  # too short
    assert not is_tar(None)
    assert not is_tar(b"x" * 1024)
    # right magic, corrupted checksum -> rejected (prose can't forge both)
    bad = bytearray(blob)
    bad[148:156] = b"0000000\x00"
    assert not is_tar(bytes(bad))


def test_members_extract_in_archive_order_through_shared_dispatch():
    r = extract(_bundle())
    assert r.text == (
        "Archive page heading\n" + _BODY + "\nReadme heading long enough\n"
        "Readme paragraph long enough to be kept by the scorer."
    )
    assert r.n_kept == 4
    assert [s[2] for s in r.spans] == ["title", "text", "title", "text"]


def test_whole_archive_gzip_is_identical():
    blob = _bundle()
    assert extract(gzip.compress(blob, 9, mtime=0)) == extract(blob)


def test_opaque_resources_never_lossy_decode():
    """A binary member with no known magic and invalid UTF-8 must not
    surface noise blocks via the HTML tokenizer's lossy path."""
    junk = bytes(range(128, 256)) * 64
    blob = build_tar([("page.html", _PAGE), ("blob.bin", junk)])
    assert extract(blob).text == extract(build_tar([("page.html", _PAGE)])).text


def test_nested_tar_does_not_recurse():
    inner = build_tar([("deep.html", _PAGE)])
    blob = build_tar([("inner.tar", inner), ("page.html", _PAGE)])
    r = extract(blob)
    assert r.text.count("Archive page heading") == 1


def test_member_cap_bounds_the_walk():
    members = [
        (f"p{i}.html", _PAGE) for i in range(MAX_MEMBERS + 16)
    ]
    blocks = tokenize_tar(build_tar(members))
    per_member = len(tokenize_tar(build_tar(members[:1])))
    assert len(blocks) == MAX_MEMBERS * per_member


def test_zlib_forged_prose_member_dispatches_as_is():
    """A text member starting 'x^' passes the forgeable 2-byte zlib
    gate but is not a zlib stream: the core._unwrap contract says
    'never was an envelope — dispatch as-is', and the tar walk must
    honor it rather than dropping the member."""
    prose = b"x^2 + y^2 = z^2 holds for the planted pythagorean text here."
    blob = build_tar([("math.txt", prose)])
    assert "x^2 + y^2 = z^2" in extract(blob).text


def test_plain_text_member_tokenizes():
    blob = build_tar(
        [("notes.txt", b"Plain prose member long enough to be kept by scoring.")]
    )
    assert "Plain prose member" in extract(blob).text


def test_fuzz_determinism_truncation_and_bitflips():
    base = _bundle()
    rng = random.Random(99)
    for _ in range(50):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        cut = bytes(buf[: rng.randrange(1, len(buf))])
        a = extract(cut)
        b = extract(cut)
        assert a == b  # same bytes -> same result, never an exception
