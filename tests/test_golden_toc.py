"""Golden-fixture test: O7 TOC heuristic + R1/R2 pattern scan on REAL
H.264-spec heading/TOC text (VERDICT r3 #5 — the synthetic corpus never
exercises these on realistic text).

Fixture: reference/tests/fixtures/test_h264_toc_pages.json — six real
pages from the H.264 spec (page 5: pre-TOC prose, the golden negative;
pages 6-10: the hierarchical TOC). The reference's golden JSONs pin the
page-level polarity (expected_toc_structure_analysis_accuracy.json:
has_toc true for the 6-page set; test_info.expected_toc_structure:
page 5 has_toc false) — asserted here 1:1. The reference's entry COUNTS
come from an LLM pass (out of scope per SURVEY §2.13), so the per-page /
per-pattern counts below are this engine's own deterministic goldens,
computed once from the fixture text and pinned.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.requires_reference

FIXTURE = "/root/reference/tests/fixtures/test_h264_toc_pages.json"

# deterministic goldens (pure-Python twin over the fixture text)
TOC_LINES_PER_PAGE = {5: 0, 6: 55, 7: 62, 8: 60, 9: 60, 10: 57}
MATCHES_PER_TYPE = {"toc_title": 1, "section": 271, "toc_entry": 81}
MATCHES_PER_NAME = {
    "decimal_no_space_numeric": 219,
    "decimal_no_space_letter_prefix": 49,
    "toc_entry_simple": 47,
    "toc_entry_dotted": 34,
    "annex_heading": 3,
    "toc_title_contents": 1,
}


@pytest.fixture(scope="module")
def fixture_lines(spark):
    with open(FIXTURE) as f:
        d = json.load(f)
    rows = [
        ("h264", p["page"], ln["line_number"], ln["text"])
        for p in d["pages"]
        for blk in p["blocks"]
        for ln in blk["lines"]
    ]
    assert len(rows) == 341
    return spark.createDataFrame(
        rows, "url string, page long, line_number long, text string"
    )


def test_golden_toc_heuristic_page_polarity(fixture_lines):
    """O7 on real TOC text: page 5 (pre-TOC prose) yields ZERO entries,
    pages 6-10 (the real TOC) are dense — matching the reference
    golden's has_toc polarity exactly, with our own pinned counts."""
    from pdf_plumber_util_spark.plans.io import is_toc_line

    per_page = {
        r["page"]: r["n"]
        for r in fixture_lines.groupBy("page")
        .agg(F.sum(is_toc_line(F.col("text")).cast("long")).alias("n"))
        .collect()
    }
    assert per_page == TOC_LINES_PER_PAGE
    assert per_page[5] == 0          # golden negative: has_toc false
    assert all(per_page[p] > 0 for p in (6, 7, 8, 9, 10))  # has_toc true


def test_golden_pattern_scan_counts(fixture_lines):
    """R1/R2 on real heading text: per-type and per-pattern match counts
    pinned; TOC-entry patterns fire only on the TOC pages."""
    from pdf_plumber_util_spark.operators.patterns import scan_patterns

    matches = scan_patterns(
        fixture_lines, id_cols=("url", "page", "line_number")
    ).cache()
    per_type = {
        r["pattern_type"]: r["n"]
        for r in matches.groupBy("pattern_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert per_type == MATCHES_PER_TYPE
    per_name = {
        r["pattern_name"]: r["n"]
        for r in matches.groupBy("pattern_name").count()
        .withColumnRenamed("count", "n").collect()
    }
    for name, n in MATCHES_PER_NAME.items():
        assert per_name.get(name, 0) == n, name
    toc_pages = {
        r["page"]
        for r in matches.filter(F.col("pattern_type") == "toc_entry")
        .select("page").distinct().collect()
    }
    assert toc_pages == {6, 7, 8, 9, 10}
    matches.unpersist()
