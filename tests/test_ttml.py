"""TTML caption extraction: the namespace-anchored <tt> root gate and
its traps, cue rendering (<br/> joins, <span> styling, cue-level
metadata), <head> chrome exclusion, MIN_CHARS sound-effect deaths
(the WebVTT-consistent rule), fuzz determinism, dispatch precedence —
the same contract battery every format carries (reference analogue:
the byte -> array decode seam at
/root/reference/data/dataset_mapper.py:151-155)."""

import random

import pytest

from toyocr_spark.extractor.core import dispatch_blocks, extract
from toyocr_spark.extractor.docbookleg import is_docbook
from toyocr_spark.extractor.fb2leg import is_fb2
from toyocr_spark.extractor.ttmlleg import is_ttml, tokenize_ttml
from toyocr_spark.fixtures.genttml import build_ttml

_CUES = [
    "the first caption cue keeps going long enough to clear the threshold here",
    "second caption cue also long enough to clear every keep threshold easily",
]


def _doc(**kw) -> bytes:
    return build_ttml(_CUES, **kw)


# --- gate -----------------------------------------------------------------


@pytest.mark.parametrize("legacy", [False, True])
def test_gate_accepts_both_namespaces(legacy):
    assert is_ttml(_doc(legacy_ns=legacy))


def test_gate_rejects_html_other_xml_and_prose():
    assert not is_ttml(b"plain prose with no markup at all\nmore prose")
    assert not is_ttml(b"<html><body><tt>teletype text</tt></body></html>")
    # a root <tt> WITHOUT the TTML namespace is some other dialect
    assert not is_ttml(b"<tt><body><div><p>x</p></div></body></tt>")
    # other root-anchored XML legs stay theirs
    fb = b"<FictionBook><description/><body><section><p>x</p></section></body></FictionBook>"
    assert not is_ttml(fb) and is_fb2(fb)
    db = b"<article><title>T</title><para>docbook body</para></article>"
    assert not is_ttml(db) and is_docbook(db)
    assert not is_ttml(None)


def test_malformed_xml_tokenizes_empty_for_html_fallback():
    truncated = _doc()[: len(_doc()) // 2]
    assert tokenize_ttml(truncated) == []


def test_undecodable_xml_encoding_falls_through_to_html():
    """An encoding declaration expat cannot use (unknown, not a text
    codec, multi-byte) is malformed XML: the leg yields nothing and the
    page goes to the HTML tokenizer instead of raising."""
    from toyocr_spark.extractor.tokenizer import tokenize

    for enc in (b"no-such-codec", b"rot13", b"utf-32"):
        doc = _doc().replace(b'encoding="UTF-8"', b'encoding="' + enc + b'"', 1)
        assert enc in doc
        assert tokenize_ttml(doc) == []
        assert dispatch_blocks(doc) == tokenize(doc)
        assert extract(doc).text


# --- structure / chrome ---------------------------------------------------


@pytest.mark.parametrize("legacy", [False, True])
def test_cues_extract_and_head_chrome_dies(legacy):
    r = extract(_doc(legacy_ns=legacy, with_spans=True, with_br=True))
    lines = r.text.split("\n")
    assert lines[0] == _CUES[0]  # span + br resolve to plain text
    assert lines[1] == _CUES[1]
    assert "Planted title chrome" not in r.text  # head metadata
    assert "planted copyright chrome" not in r.text
    assert "planted chrome font" not in r.text  # styling
    assert "80%" not in r.text  # layout regions
    assert "0.000s" not in r.text  # timing attributes


def test_short_sound_effect_cues_die():
    src = build_ttml(["[Music]", "[Applause]", *_CUES])
    r = extract(src)
    assert "[Music]" not in r.text  # MIN_CHARS at island edges
    assert _CUES[0] in r.text


# --- fuzz / determinism ---------------------------------------------------


def test_fuzz_determinism_truncation_and_bitflips():
    base = _doc()
    rng = random.Random(53)
    for _ in range(60):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        cut = bytes(buf[: rng.randrange(1, len(buf))])
        assert extract(cut) == extract(cut)
