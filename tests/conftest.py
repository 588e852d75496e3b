from __future__ import annotations

import pytest

from toyocr_spark.fixtures import write_pages_parquet
from toyocr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="toyocr_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_dir(tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("pages_smoke"))
    write_pages_parquet(d, n=150, seed=42)
    return d


@pytest.fixture(scope="session")
def sf_dir() -> str:
    import os

    return os.environ.get("TOYOCR_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def leg_pages() -> dict[str, bytes]:
    """One small fixture document per dispatch leg, keyed by the name of
    the ``extractor.core`` tokenizer it must land on (``tokenize`` is
    the HTML leg)."""
    import json

    from toyocr_spark.fixtures import (
        genadoc, genbib, gencsv, gendoc, gendocbook, gendocx, genepub,
        genfb2, gengemtext, genical, genipynb, genlatex, genmail, genman,
        genmd, genmdoc, genmht, genmobi, genms, genodp, genods, genodt,
        genorg, genpdf, genpo, genppt, genpptx, genps, genrst, genrtf,
        gensub, gentar, gentexinfo, genttml, genwiki, genxls, genxlsx,
        genzip,
    )

    title = "Fixture document title for the leg"
    paras = [
        "The first paragraph carries enough plain prose words for the scorer to keep it.",
        "A second paragraph adds more ordinary sentences so every leg has a body to read.",
    ]
    html = (
        f"<html><body><h1>{title}</h1>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</body></html>"
    )
    rows = [[title], *[[p] for p in paras]]
    return {
        "tokenize": html.encode(),
        "tokenize_pdf": genpdf.build_pdf(
            [genpdf.text_stream([genpdf.paragraph_ops(50, 740, 11, 13, paras)])]
        ),
        "tokenize_ps": genps.build_ps([genps.paragraph_ps(50, 740, 11, 13, paras)]),
        "tokenize_rtf": genrtf.build_rtf([genrtf.paragraph(p) for p in [title, *paras]]),
        "tokenize_docx": gendocx.build_docx(paragraphs=[title, *paras]),
        "tokenize_xlsx": genxlsx.build_xlsx({"report": rows}),
        "tokenize_pptx": genpptx.build_pptx(
            slides=[[genpptx.shape([title], title=True), genpptx.shape(paras)]]
        ),
        "tokenize_epub": genepub.build_epub([genepub.chapter_html(title, paras)]),
        "tokenize_odt": genodt.build_odt(paragraphs=[title, *paras]),
        "tokenize_ods": genods.build_ods({"report": rows}),
        "tokenize_odp": genodp.build_odp(slides=[{"title": title, "body": paras}]),
        "tokenize_doc": gendoc.build_doc([gendoc.para(p) for p in [title, *paras]]),
        "tokenize_xls": genxls.build_xls({"report": rows}),
        "tokenize_ppt": genppt.build_ppt(slides=[{"title": title, "body": paras}]),
        "tokenize_zip": genzip.build_zip([("page.html", html.encode())]),
        "tokenize_mhtml": genmht.build_mht(html),
        "tokenize_mbox": genmail.build_mbox([genmail.build_eml(title, paras)]),
        "tokenize_eml": genmail.build_eml(title, paras),
        "tokenize_tar": gentar.build_tar([("page.html", html.encode())]),
        "tokenize_mobi": genmobi.build_mobi(html.encode()),
        "tokenize_ics": genical.build_ics([(title, p) for p in paras]),
        "tokenize_fb2": genfb2.build_fb2(title, title, paras),
        "tokenize_docbook": gendocbook.build_docbook(title, paras),
        "tokenize_ttml": genttml.build_ttml([title, *paras]),
        "tokenize_subtitles": gensub.build_vtt([title, *paras]),
        "tokenize_man": genman.build_man(title, paras),
        "tokenize_mdoc": genmdoc.build_mdoc(title, paras),
        "tokenize_ms": genms.build_ms(title, paras),
        "tokenize_ipynb": genipynb.build_ipynb(title, paras),
        "tokenize_ndjson": "\n".join(
            json.dumps({"title": title, "text": p}) for p in paras
        ).encode(),
        "tokenize_latex": genlatex.build_latex(title, paras),
        "tokenize_adoc": genadoc.build_adoc(title, paras),
        "tokenize_org": genorg.build_org(title, paras),
        "tokenize_texinfo": gentexinfo.build_texinfo(title, paras),
        "tokenize_bibtex": genbib.build_bib([(title, "\n\n".join(paras))]),
        "tokenize_po": genpo.build_po([(f"source {i}", p) for i, p in enumerate(paras)]),
        "tokenize_gemtext": gengemtext.build_gemtext(title, paras),
        "tokenize_wikitext": genwiki.build_wikitext(title, paras),
        "tokenize_rst": genrst.build_rst(title, paras),
        "tokenize_markdown": genmd.build_md(title, paras),
        "tokenize_csv": gencsv.build_csv([title, ""], [[p, ""] for p in paras]),
    }


@pytest.fixture(scope="session")
def broken_block():
    """A function returning the first block of a list that breaks the
    block contract ``tokenizer.make_block`` owns (text collapsed and
    non-empty, ``n_chars == len(text)``, ``0 <= link_chars <=
    n_chars``), or None."""

    def first_broken(blocks):
        for b in blocks:
            if not (
                b.text
                and b.text == " ".join(b.text.split())
                and b.n_chars == len(b.text)
                and 0 <= b.link_chars <= b.n_chars
            ):
                return b
        return None

    return first_broken
