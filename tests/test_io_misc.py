"""Stage sinks, page-range scan, report render, O7 TOC heuristic, S5
object scan analog."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pdf_plumber_util_spark.plans.io import (
    extraction_info,
    filter_page_range,
    is_toc_line,
    parse_page_range,
    read_lines_stage,
    render_report,
    write_stage,
)


def test_parse_page_range():
    assert parse_page_range("1-3,5", 10) == [1, 2, 3, 5]
    assert parse_page_range("8-", 10) == [8, 9, 10]
    assert parse_page_range("-2", 10) == [1, 2]
    assert parse_page_range("4,4,2", 3) == [2]


def test_stage_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([Row(url="u", page=1, x=1.5)])
    p = write_stage(df, str(tmp_path), "doc", "lines")
    back = read_lines_stage(spark, p, required=())  # generic stage read
    assert back.collect() == df.collect()
    assert p.endswith("doc_lines")


def test_filter_page_range(spark):
    df = spark.createDataFrame([Row(url="u", page=p) for p in range(1, 8)])
    got = sorted(r.page for r in filter_page_range(df, "2-3,6", 7).collect())
    assert got == [2, 3, 6]


def test_toc_heuristic(spark):
    rows = [
        Row(t="1.1 Introduction ........ 5"),
        Row(t="Figure 3 shows..."),
        Row(t="Annex A ... 12"),
        Row(t="no dots here 5"),
    ]
    df = spark.createDataFrame(rows)
    got = [r.o for r in df.select(is_toc_line(F.col("t")).alias("o")).collect()]
    assert got == [True, False, True, False]


def test_extraction_info(spark):
    lines = spark.createDataFrame(
        [Row(url="u", page=1), Row(url="u", page=1), Row(url="u", page=2)]
    )
    words = spark.createDataFrame([Row(url="u")] * 7)
    r = extraction_info(lines, words).collect()[0]
    assert (r.total_pages, r.total_lines, r.total_words) == (2, 3, 7)


def test_render_report():
    txt = render_report(
        {"url": "u", "most_common_font": "F", "most_common_size": 10.0,
         "total_segments": 5},
        [{"context_size": 10.0, "most_common_gap": 2.0, "range_hi": 2.4,
          "para_spacing_max": 11.0, "total_gaps": 4, "total_lines": 5}],
        {"header_bottom": 44.0, "footer_top": 748.0},
    )
    assert "Most common font: F" in txt and "header_bottom=44.0" in txt


def test_s5_object_scan(spark):
    """S5 analog (get_vectors.py:36-111): non-text objects = link words,
    globally ordered by vertical position."""
    from pdf_plumber_util_spark.sources.pages import synth_pages
    from pdf_plumber_util_spark.sources.tokenizer import tokenize_pages

    words = tokenize_pages(synth_pages(spark, 6))
    links = words.filter(F.col("is_link")).orderBy("url", "page", "top", "x0")
    rows = links.limit(20).collect()
    assert len(rows) > 0
    assert all(r.fontname.endswith("-Link") for r in rows)


def test_s5_objects_hand_derived(spark):
    """S5 objects: geometry asserted from the documented box model, not a
    snapshot. p-block after h1: top = 72 + 24(h1 gap) + 21.6(h1 line) +
    6(p gap) = 123.6; 'Intro'(5ch*5pt) at 72-97, 'with' 100-120, link run
    'link text' 123-166. Image 144x72 directly after the p line; hr line
    4pt below the image with 1pt thickness."""
    from pdf_plumber_util_spark.sources.tokenizer import extract_objects

    html = ("<h1>Title Here</h1><p>Intro with <a>link text</a> inside.</p>"
            "<img/><hr/>").encode()
    pages = spark.createDataFrame([("u", html)], "url string, html binary")
    objs = {(r["obj_type"], r["obj_idx"]): r for r in extract_objects(pages).collect()}

    link = objs[("hyperlink", 0)]
    assert (link["x0"], link["x1"]) == (123.0, 166.0)
    assert round(link["top"], 1) == 123.6 and round(link["bottom"], 1) == 133.6

    img = [r for r in objs.values() if r["obj_type"] == "image"][0]
    assert (img["x0"], img["x1"]) == (72.0, 216.0)
    assert round(img["bottom"] - img["top"], 1) == 72.0

    edges = [r for r in objs.values() if r["obj_type"] == "edge"]
    assert len(edges) == 4
    assert sorted(e["meta"] for e in edges) == ["h", "h", "v", "v"]

    line = [r for r in objs.values() if r["obj_type"] == "line"][0]
    assert (line["x0"], line["x1"]) == (72.0, 540.0)
    assert round(line["top"] - img["bottom"], 1) == 4.0

    # per-page y0 ordering (get_vectors.py:111)
    tops = [r["top"] for r in sorted(objs.values(), key=lambda r: r["obj_idx"])]
    assert tops == sorted(tops)
