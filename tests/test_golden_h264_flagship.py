"""Round-5 golden test (VERDICT r4 item #2): the FULL flagship chain on
REAL H.264-spec pages.

The synthetic corpus exercises the flagship end-to-end, but its geometry
is generated; this test feeds the reference's own golden page set
(reference/tests/fixtures/test_h264_toc_pages.json — six real pages of
the H.264 spec, extracted by the reference's pdfplumber path:
page 5 pre-TOC prose + pages 6-10 the hierarchical TOC) through
words-injection -> C1 lines -> C3/C4 segments -> A1/W1/W2 -> P1 ->
A6/A7 rules -> C6 blocks -> H1/H2/H5 boundaries -> body text, and
asserts the Spark outputs 1:1 against a pure-Python pyref run of the
SAME injected words, plus pinned literals so a regression in either
side is caught even if both drift together.

Words-injection: one word per fixture text_segment (the segment bbox,
font and reported size are real extraction output; reference fixture
line shape documented at docs/output-files.md:48-75). Both sides see
identical words, so every downstream divergence is an engine bug.

Pinned goldens (computed once from the pyref run, round 5):
  341 non-blank lines, 87 blocks {5:14, 6:32, 7:8, 8:6, 9:8, 10:19},
  header_bottom 90.82463999999993, footer_top 806.36064,
  body 39705 chars, md5 7b22af5f43b61ade84db97c42dbe57de.
"""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from pdf_plumber_util_spark.operators import (
    assemble_lines,
    assign_line_ids,
    body_text,
    build_segments,
    contextual_spacing_rules,
    drop_blank_lines,
    final_boundaries,
    form_blocks,
    header_footer_candidates,
)
from pdf_plumber_util_spark.oracle import pyref

pytestmark = pytest.mark.requires_reference

FIXTURE = "/root/reference/tests/fixtures/test_h264_toc_pages.json"
PAGE_W, PAGE_H = 612.0, 792.0  # fixture document_info.page_dimensions

N_LINES = 341
BLOCKS_PER_PAGE = {5: 14, 6: 32, 7: 8, 8: 6, 9: 8, 10: 19}
HEADER_BOTTOM = 90.82463999999993
FOOTER_TOP = 806.36064
BODY_CHARS = 39705
BODY_MD5 = "7b22af5f43b61ade84db97c42dbe57de"


def _fixture_words():
    with open(FIXTURE) as f:
        d = json.load(f)
    by_page: dict[int, list[dict]] = {}
    for p in d["pages"]:
        ws = by_page.setdefault(p["page"], [])
        for blk in p["blocks"]:
            for ln in blk["lines"]:
                for seg in ln["text_segments"]:
                    ws.append({
                        "page": p["page"], "word_idx": len(ws),
                        "text": seg["text"],
                        "x0": seg["bbox"]["x0"], "x1": seg["bbox"]["x1"],
                        "top": seg["bbox"]["top"],
                        "bottom": seg["bbox"]["bottom"],
                        "fontname": seg["font"],
                        "size": seg["reported_size"],
                        "upright": seg["direction"] == "upright",
                    })
    return by_page


@pytest.fixture(scope="module")
def golden(spark):
    by_page = _fixture_words()
    rows = [
        ("h264", w["page"], w["word_idx"], w["text"], w["x0"], w["x1"],
         w["top"], w["bottom"], w["fontname"], w["size"], w["upright"],
         False, "p", PAGE_W, PAGE_H)
        for ws in by_page.values() for w in ws
    ]
    words = spark.createDataFrame(
        rows,
        "url string, page int, word_idx long, text string, x0 double, "
        "x1 double, top double, bottom double, fontname string, "
        "size double, upright boolean, is_link boolean, tag string, "
        "page_width double, page_height double",
    )
    dims = words.groupBy("url", "page").agg(
        F.first("page_width").alias("page_width"),
        F.first("page_height").alias("page_height"),
    )
    wl = assign_line_ids(words)
    segs = build_segments(wl)
    flines = drop_blank_lines(assemble_lines(wl, segs, dims)).cache()
    rules = contextual_spacing_rules(flines)

    # pyref twin over the SAME injected words
    raw_pages = [
        pyref.build_lines(ws, p, PAGE_W, PAGE_H)
        for p, ws in sorted(by_page.items())
    ]
    return flines, segs, rules, raw_pages


def test_golden_h264_lines(golden):
    flines, _, _, raw_pages = golden
    want_pages = pyref.drop_blank_lines(raw_pages)
    want = [
        (p["page"], ln["line_number"], ln["text"], ln["predominant_size"])
        for p in want_pages for ln in p["lines"]
    ]
    got = [
        (r["page"], r["line_number"], r["text"], r["predominant_size"])
        for r in flines.select(
            "page", "line_number", "text", "predominant_size"
        ).orderBy("page", "line_number").collect()
    ]
    assert len(want) == N_LINES
    assert got == want


def test_golden_h264_blocks(golden):
    flines, segs, rules, raw_pages = golden
    pages = pyref.drop_blank_lines(raw_pages)
    all_lines = [ln for p in pages for ln in p["lines"]]
    wr = pyref.spacing_rules(pyref.collect_contextual_gaps(all_lines))
    want_pages = pyref.form_blocks(pages, wr)
    want_per_page = {p["page"]: len(p["blocks"]) for p in want_pages}
    assert want_per_page == BLOCKS_PER_PAGE

    got = form_blocks(flines, rules, segments=segs).orderBy(
        "page", "block_id"
    ).collect()
    got_per_page: dict[int, int] = {}
    for r in got:
        got_per_page[r["page"]] = got_per_page.get(r["page"], 0) + 1
    assert got_per_page == BLOCKS_PER_PAGE

    want_blocks = [b for p in want_pages for b in p["blocks"]]
    assert len(got) == len(want_blocks)
    for g, w in zip(got, want_blocks):
        assert g["text"] == w["text"]
        assert g["predominant_size"] == w["predominant_size"]
        assert (g["bbox"]["top"], g["bbox"]["bottom"]) == (
            w["bbox"]["top"], w["bbox"]["bottom"])


def test_golden_h264_boundaries_and_body(golden):
    flines, _, rules, raw_pages = golden
    cands = header_footer_candidates(flines)
    doc_bottom = flines.groupBy("url").agg(
        F.max(F.col("bbox")["bottom"]).alias("doc_bottom")
    )
    bounds = final_boundaries(cands, doc_bottom)
    row = bounds.collect()[0]
    assert row["header_bottom"] == HEADER_BOTTOM
    assert row["footer_top"] == FOOTER_TOP

    body = body_text(form_blocks(flines, rules), bounds).collect()[0]
    got = body["body_text"]
    want = pyref.extract_body_text([dict(p) for p in raw_pages])
    assert got == want  # byte-identity on real extracted content
    assert len(got) == BODY_CHARS
    assert hashlib.md5(got.encode()).hexdigest() == BODY_MD5
