"""Regex pattern registry + full-document scan (R1-R4).

The reference registers 32 named regexes in 6 types (pattern_manager.py:
72-271) plus 4 named sets (282-302), with runtime add/remove/validation
and YAML file loading (304-424). This module ports the full registry
verbatim (every reference regex is already RE2-safe: no backreferences,
no lookaround) and the management surface.

Spark shape: the registry is a tiny literal broadcast; the scan is one
pass with a generated regexp_extract_all column per pattern (a lines x
patterns cross join would shuffle the big side — generated columns keep
it map-only), then explode of matches.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import py_strip


class PatternDef(NamedTuple):
    pattern_type: str
    regex: str
    description: str = ""
    hierarchy_level: int | None = None


# Full registry, regexes verbatim from pattern_manager.py:72-271.
# Keys are the reference's pattern names.
PATTERN_REGISTRY: dict[str, PatternDef] = {
    # decimal numbering
    "decimal_simple": PatternDef(
        "section", r"^(\d+(?:\.\d+)*)\s+[A-Z]",
        "Simple decimal numbering (1.1 Introduction, 2.3.4 Analysis)"),
    "decimal_with_letter_prefix": PatternDef(
        "section", r"^([A-Z]\.\d+(?:\.\d+)*)\s+[A-Z]",
        "Letter-prefixed decimal (A.1 Overview, B.2.3 Details)"),
    "decimal_no_space_numeric": PatternDef(
        "section", r"^(\d+(?:\.\d+)+)[A-Z][a-z]",
        "Multi-level decimal without space (9.3.4.6Byte, 1.2.3Analysis)"),
    "decimal_no_space_letter": PatternDef(
        "section", r"^([A-Z]\d+(?:\.\d+)*)[A-Z][a-z]",
        "Letter-prefixed decimal without space (A1Requirements, B2Overview)"),
    # mixed alphanumeric
    "decimal_letter_suffix": PatternDef(
        "section", r"^(\d+(?:\.\d+)*[A-Z])\s+[A-Z]",
        "Decimal with letter suffix (1.1.A Introduction, 2.3B Analysis)"),
    "letter_decimal_mixed": PatternDef(
        "section", r"^([A-Z]\d+(?:\.\d+)*)\s+[A-Z]",
        "Letter-number mixed (A1 Introduction, B2.3 Analysis)"),
    # roman numerals
    "roman_uppercase": PatternDef(
        "section", r"^([IVX]+)\s+[A-Z]",
        "Uppercase roman numerals (I Introduction, II Analysis)"),
    "roman_lowercase": PatternDef(
        "section", r"^([ivx]+)\s+[A-Za-z]",
        "Lowercase roman numerals (i introduction, ii analysis)"),
    "roman_parentheses": PatternDef(
        "section", r"^\(([ivx]+)\)\s+[A-Za-z]",
        "Roman numerals in parentheses ((i) introduction)"),
    # letters
    "letter_simple": PatternDef(
        "section", r"^([A-Z])\s+[A-Z][a-z]",
        "Single letter numbering (A Introduction, B Analysis)", 1),
    "letter_parentheses": PatternDef(
        "section", r"^\(([a-z])\)\s+[A-Za-z]",
        "Letters in parentheses ((a) introduction)"),
    "letter_dot": PatternDef(
        "section", r"^([a-z])\.\s+[A-Za-z]",
        "Letters with dot (a. introduction, b. analysis)"),
    # special document sections
    "annex_heading": PatternDef(
        "section", r"^(Annex\s+[A-Z])", "Annex headings (Annex A)", 1),
    "appendix_heading": PatternDef(
        "section", r"^(Appendix\s+[A-Z])", "Appendix headings (Appendix A)", 1),
    "chapter_pattern": PatternDef(
        "section", r"^(Chapter\s+\d+)", "Chapter headings (Chapter 1)", 1),
    "part_pattern": PatternDef(
        "section", r"^(Part\s+[IVX\d]+)", "Part headings (Part I, Part 1)", 1),
    "section_explicit": PatternDef(
        "section", r"^(Section\s+\d+(?:\.\d+)*)",
        "Explicit section headings (Section 1, Section 2.1)"),
    # additional common patterns
    "roman_dot": PatternDef(
        "section", r"^([IVX]+)\.\s+[A-Z]",
        "Roman numerals with dot (I. Introduction)"),
    "letter_single_dot": PatternDef(
        "section", r"^([A-Z])\.\s+[A-Z]",
        "Single letter with dot (A. Introduction)"),
    "number_dot": PatternDef(
        "section", r"^(\d+)\.\s+[A-Z]", "Number with dot (1. Introduction)"),
    "decimal_no_space_letter_prefix": PatternDef(
        "section", r"^([A-Z]\.\d+(?:\.\d+)*)[A-Z][a-z]",
        "Letter-prefixed decimal no space (A.1Requirements)"),
    # TOC
    "toc_title_contents": PatternDef(
        "toc_title", r"(Table\s+of\s+Contents|Contents)",
        "Table of Contents title"),
    "toc_title_list_figures": PatternDef(
        "toc_title", r"(List\s+of\s+Figures)", "List of Figures title"),
    "toc_title_list_tables": PatternDef(
        "toc_title", r"(List\s+of\s+Tables)", "List of Tables title"),
    "toc_entry_dotted": PatternDef(
        "toc_entry", r"(\d+(?:\.\d+)*)\s+(.+?)\s+\.{3,}\s+(\d+)",
        "TOC entries with dotted leaders"),
    "toc_entry_simple": PatternDef(
        "toc_entry", r"(\d+(?:\.\d+)*)\s+(.+?)\s+(\d+)$",
        "Simple TOC entries without dots"),
    # figures / tables
    "figure_caption": PatternDef(
        "figure", r"^(Figure\s+\d+(?:-\d+)?)\s*[–-]",
        "Figure captions (Figure 9-11 –)"),
    "table_caption": PatternDef(
        "table", r"^(Table\s+\d+(?:-\d+)?)\s*[–:-]",
        "Table captions (Table 7-2:, Table 9-1 –)"),
    "figure_reference": PatternDef(
        "figure", r"(Figure\s+\d+(?:-\d+)?)", "Figure references in text"),
    "table_reference": PatternDef(
        "table", r"(Table\s+\d+(?:-\d+)?)", "Table references in text"),
    # header/footer
    "page_number_simple": PatternDef(
        "page_number", r"^(\d+)$", "Simple page numbers"),
    "page_number_formatted": PatternDef(
        "page_number", r"(Page\s+\d+|\d+\s+of\s+\d+)", "Formatted page numbers"),
}

# Named sets (pattern_manager.py:282-302)
PATTERN_SETS: dict[str, list[str]] = {
    "section_patterns": [
        "decimal_simple", "decimal_with_letter_prefix", "decimal_no_space_numeric",
        "decimal_no_space_letter", "decimal_no_space_letter_prefix",
        "decimal_letter_suffix", "letter_decimal_mixed",
        "roman_uppercase", "roman_lowercase", "roman_parentheses", "roman_dot",
        "letter_simple", "letter_parentheses", "letter_dot", "letter_single_dot",
        "number_dot",
        "annex_heading", "appendix_heading", "chapter_pattern", "part_pattern",
        "section_explicit",
    ],
    "toc_patterns": [
        "toc_title_contents", "toc_title_list_figures", "toc_title_list_tables",
        "toc_entry_dotted", "toc_entry_simple",
    ],
    "figure_table_patterns": [
        "figure_caption", "table_caption", "figure_reference", "table_reference",
    ],
    "page_number_patterns": [
        "page_number_simple", "page_number_formatted",
    ],
}


# ------------------------------------------------------------ management


_UNSUPPORTED = re.compile(r"\(\?[=!<]|\\[1-9]")  # lookaround / backrefs


def validate_pattern(regex: str) -> str | None:
    """Return an error string if the regex is invalid or uses constructs
    outside the RE2-safe subset (lookaround, backreferences) that the
    JVM-side scan and the DuckDB oracle cannot both run; None if OK.
    (pattern_manager.py:424-446 analog, tightened to the engine's
    portability contract.)"""
    if _UNSUPPORTED.search(regex):
        return "lookaround/backreferences are not RE2-portable"
    try:
        re.compile(regex)
    except re.error as e:
        return f"invalid regex: {e}"
    return None


def _as_def(value) -> PatternDef:
    """Accept PatternDef, (type, regex) tuples, or bare regex strings
    (pattern_manager.py:333-352 custom-pattern forms)."""
    if isinstance(value, PatternDef):
        return value
    if isinstance(value, str):
        return PatternDef("custom", value)
    t = tuple(value)
    return PatternDef(*t)


def add_patterns(registry: dict[str, PatternDef],
                 new: dict[str, object]) -> dict[str, PatternDef]:
    """R3 surface: return a new registry with `new` added (add_pattern,
    pattern_manager.py:406-418). Raises on duplicates or invalid regex."""
    out = dict(registry)
    for name, value in new.items():
        if name in out:
            raise ValueError(f"pattern {name!r} already exists")
        d = _as_def(value)
        err = validate_pattern(d.regex)
        if err:
            raise ValueError(f"pattern {name!r}: {err}")
        out[name] = d
    return out


def remove_pattern(registry: dict[str, PatternDef], name: str) -> dict[str, PatternDef]:
    """pattern_manager.py:420-425: remove by name (KeyError if absent)."""
    out = dict(registry)
    if name not in out:
        raise ValueError(f"pattern {name!r} not found")
    del out[name]
    return out


def get_pattern_set(set_name: str,
                    registry: dict[str, PatternDef] | None = None,
                    sets: dict[str, list[str]] | None = None) -> dict[str, PatternDef]:
    """pattern_manager.py:363-374: resolve a named set to its patterns."""
    reg = registry or PATTERN_REGISTRY
    ss = sets or PATTERN_SETS
    if set_name not in ss:
        raise ValueError(f"unknown pattern set: {set_name}")
    return {n: reg[n] for n in ss[set_name] if n in reg}


def load_patterns_file(path: str) -> tuple[dict[str, PatternDef], dict[str, list[str]]]:
    """YAML pattern config (pattern_manager.py:304-331): returns the
    default registry/sets extended by the file's `patterns` and
    `pattern_sets` entries. Every loaded regex is validated."""
    import yaml

    with open(path) as fh:
        data = yaml.safe_load(fh) or {}
    reg = dict(PATTERN_REGISTRY)
    for name, pd in (data.get("patterns") or {}).items():
        d = PatternDef(
            pd.get("type", "custom"), pd["regex"], pd.get("description", ""),
            pd.get("hierarchy_level"),
        )
        err = validate_pattern(d.regex)
        if err:
            raise ValueError(f"pattern {name!r}: {err}")
        reg[name] = d
    sets = dict(PATTERN_SETS)
    sets.update(data.get("pattern_sets") or {})
    return reg, sets


# ------------------------------------------------------------------ scan


def scan_patterns(
    lines: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("url", "page", "line_number"),
    registry: dict[str, object] | None = None,
) -> DataFrame:
    """R2: one row per (line, pattern, match). Map-only (no shuffle):
    each pattern becomes a generated matches column, then a single
    explode chain. Accepts PatternDef values or (type, regex) tuples."""
    reg = {n: _as_def(v) for n, v in (registry or PATTERN_REGISTRY).items()}
    nonblank = lines.filter(py_strip(F.col(text_col)) != "")
    match_arrays = F.array(*[
        F.struct(
            F.lit(name).alias("pattern_name"),
            F.lit(d.pattern_type).alias("pattern_type"),
            F.regexp_extract_all(F.col(text_col), F.lit(d.regex), 0).alias("matches"),
        )
        for name, d in reg.items()
    ])
    exploded = nonblank.select(
        *id_cols, F.col(text_col).alias("line_text"),
        F.explode(match_arrays).alias("p"),
    ).select(
        *id_cols, "line_text",
        F.col("p.pattern_name").alias("pattern_name"),
        F.col("p.pattern_type").alias("pattern_type"),
        F.explode("p.matches").alias("match"),
    )
    return exploded


def scan_statistics(matches: DataFrame, page_col: str = "page") -> DataFrame:
    """A16 (document_scanner.py:402-426): per pattern totals and page
    coverage."""
    return matches.groupBy("pattern_name", "pattern_type").agg(
        F.count("*").cast("long").alias("total_matches"),
        F.countDistinct(page_col).cast("long").alias("pages_with_matches"),
    )


def group_matches_for_review(matches: DataFrame) -> DataFrame:
    """R4 (document_scanner.py:443-493): matches grouped per pattern type
    with collected examples (sorted for determinism)."""
    return matches.groupBy("pattern_type", "pattern_name").agg(
        F.count("*").cast("long").alias("n"),
        F.array_sort(F.collect_set("match")).alias("examples"),
    )
