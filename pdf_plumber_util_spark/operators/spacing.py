"""Contextual spacing statistics and gap classification.

SURVEY.md §2 operators A4-A9 (rules derivation) and O1 (classifier),
semantics from core/analyzer.py:66-251. All per-document aggregates are
keyed by ``url`` so they stay on the url partitioning. Each statistic is
one two-level aggregate over one pass of the lines (by value, then by
key); a side statistic (the non-zero mode, a context's line total) is a
conditional ``max_by``/``sum`` of the second level, not a second
aggregate joined back. ``classify_gaps`` joins the rules onto lines on
(url, size), co-partitioned since both sides are url-partitioned.

Mode tie-breaking: the reference uses Counter.most_common(1) whose ties
resolve by insertion (= first-occurrence-in-document) order; we pin this
with max_by(value, struct(count, -first_seen_position)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_to_nearest


def _doc_ordered(lines: DataFrame) -> DataFrame:
    """Flatten the document: global position over (page, line_number)
    (the reference extends all pages into one list, analyzer.py:670-676)."""
    w = Window.partitionBy("url").orderBy("page", "line_number")
    return lines.withColumn("_pos", F.row_number().over(w))


def _gapped(lines: DataFrame, gap_rounding: float = 0.5) -> DataFrame:
    """Document-ordered lines plus ``_gap``: the A6 rounded gap (below), or
    null. The lag runs over every line, null sizes included."""
    df = _doc_ordered(lines)
    prev_size = F.lag("predominant_size").over(Window.partitionBy("url").orderBy("_pos"))
    qualifies = (
        F.col("predominant_size").isNotNull()
        & F.col("predominant_size").eqNullSafe(prev_size)
        & F.col("gap_before").isNotNull()
        & (F.col("gap_before") > 0.01)
    )
    return df.withColumn(
        "_gap", F.when(qualifies, round_to_nearest(F.col("gap_before"), gap_rounding))
    )


def contextual_gaps(lines: DataFrame, gap_rounding: float = 0.5) -> DataFrame:
    """A6 (analyzer.py:66-120): gaps between same-predominant-size adjacent
    lines (document-flattened order), rounded to gap_rounding, gap > 0.01.

    Returns one row per qualifying gap:
      url, context_size, rounded_gap, _pos (document position of the line).
    """
    return _gapped(lines, gap_rounding).filter(F.col("_gap").isNotNull()).select(
        "url",
        F.col("predominant_size").alias("context_size"),
        F.col("_gap").alias("rounded_gap"),
        "_pos",
    )


def contextual_spacing_rules(
    lines: DataFrame,
    gap_rounding: float = 0.5,
    lo_mult: float = 0.8,
    hi_mult: float = 1.2,
    para_mult: float = 1.1,
) -> DataFrame:
    """A7 (analyzer.py:122-210): per (url, context_size) spacing rules, for
    the contexts with at least one gap.

    Returns: url, context_size, most_common_gap, total_gaps, first_ctx_pos
    (for the O1 fallback tie-break = insertion order of the context),
    range_lo, range_hi, para_spacing_max, total_lines (every line of that
    predominant size, analyzer.py:88-93).
    """
    per_gap = (
        _gapped(lines, gap_rounding)
        .filter(F.col("predominant_size").isNotNull())
        .groupBy("url", F.col("predominant_size").alias("context_size"), "_gap")
        .agg(F.count("*").alias("cnt"), F.min("_pos").alias("first_seen"))
    )
    # the null-_gap group (the context's gapless lines) adds to total_lines only
    is_gap = F.col("_gap").isNotNull()
    rules = per_gap.groupBy("url", "context_size").agg(
        F.max_by("_gap", F.when(is_gap, F.struct(F.col("cnt"), -F.col("first_seen")))).alias(
            "most_common_gap"
        ),
        F.sum(F.when(is_gap, F.col("cnt"))).alias("total_gaps"),
        F.min(F.when(is_gap, F.col("first_seen"))).alias("first_ctx_pos"),
        F.sum("cnt").alias("total_lines"),
    )
    return rules.filter(F.col("total_gaps").isNotNull()).select(
        "url", "context_size", "most_common_gap", "total_gaps", "first_ctx_pos",
        (F.col("most_common_gap") * lo_mult).alias("range_lo"),
        (F.col("most_common_gap") * hi_mult).alias("range_hi"),
        (F.col("context_size") * para_mult).alias("para_spacing_max"),
        "total_lines",
    )


def fallback_context(rules: DataFrame) -> DataFrame:
    """O1 fallback (analyzer.py:232-243): per url, the context with the most
    total_gaps; ties resolve to the earliest-inserted context."""
    return rules.groupBy("url").agg(
        F.max_by(
            F.struct("context_size", "range_hi", "para_spacing_max"),
            F.struct(F.col("total_gaps"), -F.col("first_ctx_pos")),
        ).alias("_fb")
    ).select(
        "url",
        F.col("_fb")["context_size"].alias("fb_context_size"),
        F.col("_fb")["range_hi"].alias("fb_range_hi"),
        F.col("_fb")["para_spacing_max"].alias("fb_para_max"),
    )


def classify_gaps(
    df: DataFrame,
    rules: DataFrame,
    gap_col: str = "gap_before",
    size_col: str = "predominant_size",
    out_col: str = "gap_type",
    gap_rounding: float = 0.5,
) -> DataFrame:
    """O1 (analyzer.py:212-251): classify ``gap_col`` per row using the
    (url, size) rules, falling back to the url's dominant context, default
    'Line'. Adds ``out_col``.
    """
    r = rules.select(
        "url",
        F.col("context_size").alias(size_col),
        F.col("range_hi").alias("_r_hi"),
        F.col("para_spacing_max").alias("_r_pmax"),
    )
    fb = fallback_context(rules)
    joined = df.join(r, ["url", size_col], "left").join(fb, ["url"], "left")
    hi = F.coalesce("_r_hi", "fb_range_hi")
    pmax = F.coalesce("_r_pmax", "fb_para_max")
    rg = round_to_nearest(F.col(gap_col), gap_rounding)
    cls = (
        F.when(hi.isNull(), F.lit("Line"))
        .when(rg <= hi, F.lit("Line"))
        .when(rg <= pmax, F.lit("Paragraph"))
        .otherwise(F.lit("Section"))
    )
    return joined.withColumn(out_col, cls).drop("_r_hi", "_r_pmax", "fb_context_size", "fb_range_hi", "fb_para_max")


def line_spacing_summary(lines: DataFrame, step: float = 0.5) -> DataFrame:
    """A4/A5 (analyzer.py:331-382): doc-level most common positive rounded
    spacing, preferring spacings > 0.01 (one aggregate: the non-zero mode
    is the conditional max_by).

    Returns per url: most_common_spacing, most_common_spacing_count,
    total_spacings.
    """
    sp = (
        _doc_ordered(lines)
        .filter(F.col("gap_before").isNotNull() & (F.col("gap_before") > 0))
        .select("url", round_to_nearest(F.col("gap_before"), step).alias("sp"), "_pos")
    )
    per = sp.groupBy("url", "sp").agg(F.count("*").alias("cnt"), F.min("_pos").alias("fs"))
    order = F.struct("cnt", -F.col("fs"))
    nz_order = F.when(F.col("sp") > 0.01, order)
    return per.groupBy("url").agg(
        F.coalesce(F.max_by("sp", nz_order), F.max_by("sp", order)).alias("most_common_spacing"),
        F.coalesce(F.max(nz_order), F.max(order))["cnt"].alias("most_common_spacing_count"),
        F.sum("cnt").alias("total_spacings"),
    )
