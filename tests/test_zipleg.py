"""Generic-ZIP bundle extraction: the residual gate (PK magic minus
every specific container), the bounded member walk with per-member
dispatch re-entry, STORED+DEFLATED decode, the mutual no-recursion
guard between the generic walkers (zip<->tar), opaque-resource
skips, link mining, fuzz determinism — the container contract battery
the tar leg carries (reference analogue: the byte -> array decode
seam at /root/reference/data/dataset_mapper.py:151-155)."""

import gzip
import random

from toyocr_spark.extractor.core import extract
from toyocr_spark.extractor.docx import is_docx
from toyocr_spark.extractor.tarleg import tar_links, tokenize_tar
from toyocr_spark.extractor.zipleg import (
    MAX_MEMBERS,
    is_zip_bundle,
    tokenize_zip,
    zip_links,
)
from toyocr_spark.fixtures import gendocx, genepub
from toyocr_spark.fixtures.genmd import build_md
from toyocr_spark.fixtures.gentar import build_tar
from toyocr_spark.fixtures.genzip import build_zip

_PAGE = (
    b"<html><body><h1>Zip Page Heading</h1>"
    b"<p>zip member body paragraph long enough to keep around</p>"
    b'<a href="https://zipped.example/x">link</a></body></html>'
)
_MD = build_md(
    "Zip Readme Heading Long Enough",
    ["readme body paragraph long enough to keep in the output"],
)
_PNG = b"\x89PNG\r\n\x1a\n" + bytes(range(256))


def _bundle(**kw) -> bytes:
    return build_zip(
        [("page.html", _PAGE), ("README.md", _MD), ("res/logo.png", _PNG)],
        with_dir=True,
        **kw,
    )


# --- gate -----------------------------------------------------------------


def test_gate_claims_generic_zips_only():
    assert is_zip_bundle(_bundle())
    # every SPECIFIC zip container stays on its own leg
    dx = gendocx.build_docx(body_xml=[gendocx.paragraph("T", style="Heading1")])
    assert is_docx(dx) and not is_zip_bundle(dx)
    ep = genepub.build_epub(["<html><body><p>chapter text</p></body></html>"])
    assert not is_zip_bundle(ep)
    assert not is_zip_bundle(b"PK\x03\x03 not a zip magic")
    assert not is_zip_bundle(None)
    assert not is_zip_bundle("string input")


# --- walk -------------------------------------------------------------------


def test_members_dispatch_in_archive_order_opaque_skipped():
    blocks = tokenize_zip(_bundle())
    texts = [b.text for b in blocks]
    # raw walk: page blocks (incl. the md nav plant, which the
    # SELECTION stage drops) in archive order, ordinals renumbered,
    # opaque PNG contributing nothing
    assert [b.ordinal for b in blocks] == list(range(len(blocks)))
    assert not any("PNG" in t or "PK" in t for t in texts)
    # selection output: content only, member order preserved
    r = extract(_bundle())
    assert r.text.split("\n") == [
        "Zip Page Heading",
        "zip member body paragraph long enough to keep around",
        "Zip Readme Heading Long Enough",
        "readme body paragraph long enough to keep in the output",
    ]


def test_stored_and_deflated_both_decode():
    # alternate_methods puts page.html STORED and README.md DEFLATED
    r = extract(_bundle())
    assert "Zip Page Heading" in r.text
    assert "Zip Readme Heading Long Enough" in r.text


def test_no_more_garbage_text_for_generic_zips():
    """The regression this leg closes: raw local-file headers must
    never surface as extracted text."""
    r = extract(_bundle())
    assert "PK" not in r.text and "page.html" not in r.text


def test_envelope_stripped_zip_dispatches():
    r = extract(gzip.compress(_bundle(), 9, mtime=0))
    assert "Zip Page Heading" in r.text


def test_mutual_no_recursion_guard():
    inner_zip = build_zip([("i.html", b"<html><body><p>inner zip text must never appear</p></body></html>")])
    inner_tar = build_tar([("t.html", b"<html><body><p>inner tar text must never appear</p></body></html>")])
    outer_zip = build_zip(
        [("a.zip", inner_zip), ("b.tar", inner_tar), ("ok.html", _PAGE)]
    )
    assert "never appear" not in extract(outer_zip).text
    assert "Zip Page Heading" in extract(outer_zip).text
    # and the reciprocal direction: a generic zip inside a tar is skipped,
    # while a SPECIFIC container (docx) inside a tar still dispatches
    dx = gendocx.build_docx(
        body_xml=[gendocx.paragraph("Docx In Tar Heading", style="Heading1")]
    )
    outer_tar = build_tar(
        [("a.zip", inner_zip), ("doc.docx", dx), ("ok.html", _PAGE)]
    )
    t = "\n".join(b.text for b in tokenize_tar(outer_tar))
    assert "never appear" not in t
    assert "Docx In Tar Heading" in t and "Zip Page Heading" in t


def test_member_cap_bounds_the_walk():
    many = build_zip(
        [
            (f"d{i}.html", f"<html><body><p>member paragraph {i} long enough to keep</p></body></html>".encode())
            for i in range(MAX_MEMBERS + 16)
        ]
    )
    blocks = tokenize_zip(many)
    assert len(blocks) == MAX_MEMBERS


# --- links ------------------------------------------------------------------


def test_links_route_per_member_format():
    md = build_md(
        "Readme Heading Long Enough",
        ["intro paragraph long enough", "see [l](https://md.example/y) here"],
    )
    zp = build_zip([("page.html", _PAGE), ("README.md", md), ("x.png", _PNG)])
    # html member: href regex; md member: markdown_links (its absolute
    # nav plant included — the q152 contract); png: nothing
    assert zip_links(zp) == [
        "https://zipped.example/x",
        "https://nav.example/",
        "https://nav.example/about",
        "https://nav.example/contact",
        "https://md.example/y",
    ]
    # tar_links refuses the generic-zip member wholesale
    assert tar_links(build_tar([("a.zip", zp)])) == []


# --- unreadable archives and members --------------------------------------


def _central_entry(data: bytes, name: bytes) -> int:
    """Offset of ``name``'s central-directory header."""
    k = data.find(b"PK\x01\x02")
    while data[k + 46 : k + 46 + int.from_bytes(data[k + 28 : k + 30], "little")] != name:
        k = data.find(b"PK\x01\x02", k + 4)
    return k


def test_unsupported_zip_version_is_a_quiet_skip():
    # "version needed to extract" 9.8: zipfile refuses the whole archive
    # (NotImplementedError) as it reads the central directory
    buf = bytearray(_bundle())
    buf[_central_entry(buf, b"README.md") + 6] = 98
    assert tokenize_zip(bytes(buf)) == []
    assert zip_links(bytes(buf)) == []
    assert extract(bytes(buf)).text == ""


def test_encrypted_member_is_skipped_and_the_rest_extracts():
    # general-purpose flag bit 0 marks page.html encrypted: opening it
    # needs a password (RuntimeError); the README still extracts
    buf = bytearray(_bundle())
    buf[_central_entry(buf, b"page.html") + 8] |= 0x01
    assert extract(bytes(buf)).text.split("\n") == [
        "Zip Readme Heading Long Enough",
        "readme body paragraph long enough to keep in the output",
    ]
    links = zip_links(_bundle())
    assert "https://zipped.example/x" in links
    assert zip_links(bytes(buf)) == [u for u in links if u != "https://zipped.example/x"]


# --- fuzz ---------------------------------------------------------------------


def test_fuzz_determinism_truncation_and_bitflips():
    base = _bundle()
    rng = random.Random(20240170)
    for _ in range(40):
        buf = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        cut = rng.randrange(len(buf))
        for payload in (bytes(buf), bytes(buf[:cut])):
            a = extract(payload)
            b = extract(payload)
            assert a.text == b.text and a.n_kept == b.n_kept
