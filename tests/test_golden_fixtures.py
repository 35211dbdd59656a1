"""Golden fixtures ported from the reference's own test suite (the
byte-identity oracle demanded by BASELINE.json).

Sources:
  - 8 spacing-reconstruction cases:
      /root/reference/tests/fixtures/test_spacing_reconstruction.json,
      asserted in tests/unit/test_spacing_reconstruction.py:32-256
  - gap-classification boundaries: tests/unit/test_analyzer.py:56-116
  - helper functions: tests/unit/test_helpers.py:26-131
  - pattern corpus: tests/unit/test_pattern_comprehensive.py:13-110
"""

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pdf_plumber_util_spark.operators.lines import line_texts_from_segments
from pdf_plumber_util_spark.operators.spacing import (
    classify_gaps,
    contextual_spacing_rules,
)
from pdf_plumber_util_spark.oracle import pyref

FIXTURE = "/root/reference/tests/fixtures/test_spacing_reconstruction.json"


def _load_cases():
    with open(FIXTURE) as fh:
        data = json.load(fh)
    return data["test_cases"] if isinstance(data, dict) and "test_cases" in data else data


def _seg_rows(case_segments):
    rows = []
    for i, s in enumerate(case_segments, 1):
        bbox = s.get("bbox", {})
        rows.append(
            Row(
                url="u",
                page=1,
                line_id=0,
                seg_id=i,
                font=s.get("font", "F"),
                reported_size=float(s.get("reported_size", s.get("rounded_size", 10.0)) or 0.0),
                rounded_size=float(s.get("rounded_size", 0.0) or 0.0),
                direction="upright",
                # reference injects segment dicts directly; C4 strips, so
                # strip here the same way
                text=(s.get("text") or "").strip(),
                bbox=Row(
                    x0=float(bbox.get("x0", 0.0)),
                    top=float(bbox.get("top", 0.0)),
                    x1=float(bbox.get("x1", 0.0)),
                    bottom=float(bbox.get("bottom", 0.0)),
                ),
                seg_width=float(bbox.get("x1", 0.0)) - float(bbox.get("x0", 0.0)),
            )
        )
    return rows


@pytest.mark.requires_reference
def test_spacing_reconstruction_golden(spark):
    cases = _load_cases()
    assert len(cases) >= 8
    for case in cases:
        segs = (case.get("input") or {}).get("text_segments") or case.get(
            "input_segments"
        ) or case.get("segments")
        expected = case.get("expected") or case
        rows = _seg_rows(segs)
        df = spark.createDataFrame(rows)
        got = line_texts_from_segments(df).collect()
        # oracle from the same inputs
        want = pyref.proportional_spacing(
            [
                {
                    "text": r.text,
                    "rounded_size": r.rounded_size,
                    "reported_size": r.reported_size,
                    "bbox": {"x0": r.bbox.x0, "x1": r.bbox.x1},
                }
                for r in rows
            ]
        )
        name = case.get("name") or case.get("case_id") or "?"
        if not rows or all(r.text == "" for r in rows):
            # all-empty lines collapse to no segments -> engine emits one
            # empty-text row or none; oracle says empty text
            assert want["text"] == ""
            continue
        assert len(got) == 1, name
        g = got[0]
        assert g.text == want["text"], name
        assert g.text_proportional == want["text_proportional"], name
        ginfo = [
            (i.normalized_text_index, i.raw_gap_pt, i.estimated_space_width_pt,
             i.proportional_spaces)
            for i in g.proportional_spacing_info
        ]
        winfo = [
            (i["normalized_text_index"], i["raw_gap_pt"], i["estimated_space_width_pt"],
             i["proportional_spaces"])
            for i in want["proportional_spacing_info"]
        ]
        assert ginfo == winfo, name
        # cross-check against the fixture's own expected values when present
        exp_text = expected.get("expected_text") or expected.get("text")
        if exp_text is not None:
            assert g.text == exp_text, name


def test_gap_classification_boundaries(spark):
    """test_analyzer.py:78-93: at 12pt context with mode 6.0 ->
    range (4.8, 7.2), para_max 13.2: 6.0->Line, 12.0->Paragraph,
    18.0->Section; unknown context + empty rules -> Line."""
    # build lines whose contextual gaps produce mode 6.0 at size 12.0
    lines = []
    top = 50.0
    gaps = [6.0, 6.0, 6.0, 12.0, 18.0]
    ln = 1
    lines.append(Row(url="u", page=1, line_number=ln, line_id=ln,
                     predominant_size=12.0, gap_before=50.0, text="x"))
    for g in gaps:
        ln += 1
        lines.append(Row(url="u", page=1, line_number=ln, line_id=ln,
                         predominant_size=12.0, gap_before=g, text="x"))
    df = spark.createDataFrame(lines)
    rules = contextual_spacing_rules(df)
    r = rules.collect()
    assert len(r) == 1
    rr = r[0]
    assert rr["most_common_gap"] == 6.0
    assert rr["range_hi"] == 6.0 * 1.2
    assert abs(rr["para_spacing_max"] - 13.2) < 1e-9

    out = {x["line_number"]: x["gap_type"] for x in classify_gaps(df, rules).collect()}
    # lines with gap 6->Line, 12->Paragraph, 18->Section
    by_gap = {}
    for row in lines[1:]:
        by_gap.setdefault(row.gap_before, out[row.line_number])
    assert by_gap[6.0] == "Line"
    assert by_gap[12.0] == "Paragraph"
    assert by_gap[18.0] == "Section"


def test_classifier_empty_rules_defaults_line(spark):
    df = spark.createDataFrame(
        [Row(url="u", page=1, line_number=1, line_id=1,
             predominant_size=9.0, gap_before=99.0, text="x")]
    )
    empty_rules = contextual_spacing_rules(df.filter("1=0"))
    out = classify_gaps(df, empty_rules).collect()
    assert out[0]["gap_type"] == "Line"


def test_helper_functions(spark):
    from pdf_plumber_util_spark.functions.text import normalize_line

    df = spark.createDataFrame([Row(s="word1    word2\t\tword3"), Row(s="   \t ")])
    got = [r.o for r in df.select(normalize_line(F.col("s")).alias("o")).collect()]
    assert got == ["word1 word2 word3", ""]


# The reference's 5 document-type corpora
# (tests/unit/test_pattern_comprehensive.py:13-110), each string mapped to
# a pattern that must match it in the full R1 registry.
PATTERN_CORPUS = {
    # Academic Paper
    "decimal_simple": ["1 Introduction", "2.1 Background", "3.2 Analysis Framework"],
    # Technical Standard (H.264-style)
    "decimal_no_space_numeric": ["9.3.4.6Byte stuffing process"],
    "decimal_no_space_letter_prefix": ["A.1Requirements on video decoder",
                                       "A.2.1Baseline profile"],
    "annex_heading": ["Annex A"],
    "figure_caption": ["Figure 9-11 – Flowchart"],
    "table_caption": ["Table 7-2: Motion vectors"],
    # Legal Document
    "roman_dot": ["I. Definitions", "III. Liability"],
    "letter_single_dot": ["A. General Provisions", "B. Specific Terms"],
    "number_dot": ["1. Scope of Agreement", "2. Payment Terms"],
    # "i. Primary goals" (Research Report) lands on letter_dot — the
    # registry has no lowercase-roman-dot pattern (neither does the
    # reference; "ii. Secondary objectives" matches nothing there either)
    "letter_dot": ["a. Due dates", "b. Late fees", "i. Primary goals"],
    "roman_parentheses": ["(i) First violation", "(ii) Subsequent violations"],
    # Manual/Guide
    "chapter_pattern": ["Chapter 1: Getting Started", "Chapter 2: Basic Operations"],
    "section_explicit": ["Section 2.1 Installation"],
    "appendix_heading": ["Appendix A: Troubleshooting", "Appendix B: Reference"],
    # Research Report
    "part_pattern": ["Part I: Executive Summary", "Part II: Detailed Findings"],
    "roman_lowercase": ["i introduction", "ii analysis"],
    # remaining registry coverage
    "decimal_with_letter_prefix": ["A.1 Overview", "B.2.3 Details"],
    # (the reference's "1.1.A Introduction" docstring example does not
    # match its own regex — the suffix letter must follow a digit)
    "decimal_letter_suffix": ["2.3B Analysis", "1.2C Overview"],
    "letter_decimal_mixed": ["A1 Introduction", "B2.3 Analysis"],
    "decimal_no_space_letter": ["A1Requirements", "B2Overview"],
    "roman_uppercase": ["II Analysis", "IV Results"],
    "letter_simple": ["A Introduction", "B Analysis"],
    "letter_parentheses": ["(a) introduction", "(b) analysis"],
    "toc_title_contents": ["Table of Contents"],
    "toc_title_list_figures": ["List of Figures"],
    "toc_title_list_tables": ["List of Tables"],
    "toc_entry_dotted": ["1.2 Overview ....... 17"],
    "toc_entry_simple": ["3.1 Methods 42"],
    "figure_reference": ["see Figure 4-2 for details"],
    "table_reference": ["as shown in Table 9"],
    "page_number_simple": ["17"],
    "page_number_formatted": ["Page 3 of 10"],
}


def test_pattern_corpus(spark):
    """tests/unit/test_pattern_comprehensive.py analog: every registry
    pattern matches its intended corpus strings, and the corpus covers
    the whole 32-pattern registry."""
    from pdf_plumber_util_spark.operators.patterns import (
        PATTERN_REGISTRY,
        scan_patterns,
    )

    assert set(PATTERN_CORPUS) == set(PATTERN_REGISTRY)
    rows = [
        Row(url="u", page=1, line_number=i, text=t)
        for i, t in enumerate(
            sorted({t for ts in PATTERN_CORPUS.values() for t in ts}), start=1
        )
    ]
    df = spark.createDataFrame(rows)
    hit = {
        (r["line_text"], r["pattern_name"]) for r in scan_patterns(df).collect()
    }
    for name, texts in PATTERN_CORPUS.items():
        for t in texts:
            assert (t, name) in hit, (name, t)


def test_pattern_sets_and_management(spark):
    """R1/R3 management surface: named sets resolve, add/remove validate,
    non-portable regexes are rejected, YAML round-trips."""
    from pdf_plumber_util_spark.operators.patterns import (
        PATTERN_REGISTRY,
        PATTERN_SETS,
        add_patterns,
        get_pattern_set,
        load_patterns_file,
        remove_pattern,
        validate_pattern,
    )

    assert len(PATTERN_REGISTRY) == 32
    assert sum(len(v) for v in PATTERN_SETS.values()) == 32
    sect = get_pattern_set("section_patterns")
    assert len(sect) == 21 and all(d.pattern_type == "section" for d in sect.values())

    reg2 = add_patterns(PATTERN_REGISTRY, {"custom_x": ("custom", r"^X\d+")})
    assert "custom_x" in reg2 and "custom_x" not in PATTERN_REGISTRY
    reg3 = remove_pattern(reg2, "custom_x")
    assert "custom_x" not in reg3
    with pytest.raises(ValueError):
        add_patterns(PATTERN_REGISTRY, {"decimal_simple": r"x"})
    with pytest.raises(ValueError):
        add_patterns(PATTERN_REGISTRY, {"bad": r"(?=lookahead)"})
    assert validate_pattern(r"(unclosed") is not None

    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "pats.yaml")
        with open(p, "w") as fh:
            fh.write(
                "patterns:\n  exhibit:\n    regex: '^(Exhibit\\s+[A-Z])'\n"
                "    type: section\npattern_sets:\n  exhibits: [exhibit]\n"
            )
        reg, sets = load_patterns_file(p)
        assert reg["exhibit"].pattern_type == "section"
        assert get_pattern_set("exhibits", reg, sets)
