"""The format dispatch table ``extractor.core._LEGS`` (no Spark).

Rows name their gate and tokenizer as strings looked up in ``core`` at
call time, so a misspelt or dropped name surfaces only as a KeyError
out of ``extract()`` on the pages that reach that row: these tests pin
the names, and route one fixture document per leg to its own
tokenizer, whose blocks must keep the block contract."""

from __future__ import annotations

from toyocr_spark.extractor import core


def _tokenizer_names() -> set[str]:
    return {n for n in vars(core) if n == "tokenize" or n.startswith("tokenize_")}


def test_every_row_names_callables_in_core():
    for gate, tokenizer, fall_through in core._LEGS:
        assert callable(getattr(core, gate)), gate
        assert callable(getattr(core, tokenizer)), tokenizer
        assert isinstance(fall_through, bool)


def test_table_covers_every_tokenizer_once():
    rows = [tokenizer for _, tokenizer, _ in core._LEGS]
    assert len(rows) == len(set(rows))
    assert _tokenizer_names() == set(rows) | {"tokenize"}


def test_each_leg_page_lands_on_its_own_tokenizer(leg_pages, broken_block, monkeypatch):
    assert set(leg_pages) == _tokenizer_names()
    calls: list[str] = []
    depth = [0]

    def recorder(name, fn):
        def wrapped(*a, **kw):
            if depth[0] == 0:
                calls.append(name)  # outermost calls only: a tar member's leg is the tar's work
            depth[0] += 1
            try:
                return fn(*a, **kw)
            finally:
                depth[0] -= 1

        return wrapped

    for name in _tokenizer_names():
        monkeypatch.setattr(core, name, recorder(name, getattr(core, name)))
    for name, page in sorted(leg_pages.items()):
        calls.clear()
        result = core.extract(page)
        assert calls == [name], (name, calls)
        assert result.text, name
        assert broken_block(core.dispatch_blocks(page)) is None, name
