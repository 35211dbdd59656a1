"""Remaining aggregation / window / projection operators from SURVEY §2:
A12-A17, W4/W5, P6/P7, O5, S6, V1/V2, J2 — each a small composable
DataFrame function with a DuckDB-oracle twin in contract.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_quarter
from ..functions.text import font_family, font_style


def font_key_aggregation(words: DataFrame) -> DataFrame:
    """A12 (document_scanner.py:338-375): per doc, font key
    family|size|style -> totals + page set; ranked for top-k/body font."""
    keyed = words.withColumn(
        "font_key",
        F.concat_ws(
            "|",
            font_family(F.col("fontname")),
            F.col("size").cast("string"),
            font_style(F.col("fontname")),
        ),
    )
    agg = keyed.groupBy("url", "font_key").agg(
        F.count("*").cast("long").alias("n_words"),
        F.countDistinct("page").cast("long").alias("n_pages"),
    )
    w = Window.partitionBy("url").orderBy(F.desc("n_words"), F.asc("font_key"))
    return agg.withColumn("rank", F.row_number().over(w).cast("long"))


def page_margins(words: DataFrame) -> DataFrame:
    """A13 (plumb_layout.py:28-40): per page extreme coordinates."""
    return words.groupBy("url", "page").agg(
        F.min("x0").alias("min_x0"),
        F.max("x1").alias("max_x1"),
        F.min("top").alias("min_top"),
        F.max("bottom").alias("max_bottom"),
    )


def spacing_histograms(lines: DataFrame) -> DataFrame:
    """A14 (plumb_layout.py:151-193): quarter-rounded used/unused space
    histograms at page AND doc level via rollup (grouping-sets analog of
    the reference's dual accumulation)."""
    df = lines.select(
        "url",
        "page",
        round_quarter(F.col("gap_before")).alias("unused_q"),
        round_quarter(F.col("bbox")["bottom"] - F.col("bbox")["top"]).alias("used_q"),
    )
    # rollup drops trailing columns, so order (url, unused_q, page) yields
    # both the per-page level (url,unused_q,page) and the doc level
    # (url,unused_q) — the reference's dual accumulation
    return (
        df.rollup("url", "unused_q", "page")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("url").isNotNull() & F.col("unused_q").isNotNull())
        .withColumn("level", F.when(F.col("page").isNull(), F.lit("doc")).otherwise(F.lit("page")))
    )


def font_sets(words: DataFrame) -> DataFrame:
    """A15 (plumb_layout.py:133-141): per (url, font) the sorted size set."""
    return words.groupBy("url", F.col("fontname").alias("font")).agg(
        F.concat_ws(",", F.array_sort(F.collect_set(F.col("size").cast("string"))))
        .alias("sizes")
    )


def extraction_method_stats(lines: DataFrame) -> DataFrame:
    """A17 (extractor.py:610-625): per-doc page/line totals and averages."""
    per_page = lines.groupBy("url", "page").agg(F.count("*").alias("n_lines"))
    return per_page.groupBy("url").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.avg("n_lines").alias("avg_lines_per_page"),
    )


def vertical_regions(lines: DataFrame) -> DataFrame:
    """W4 (plumb_layout.py:50-94): per line used/unused vertical space and
    indents relative to the page box."""
    w = Window.partitionBy("url", "page").orderBy("line_number")
    return lines.select(
        "url", "page", "line_number",
        (F.col("bbox")["top"] - F.coalesce(
            F.lag(F.col("bbox")["bottom"]).over(w), F.lit(0.0))).alias("unused"),
        (F.col("bbox")["bottom"] - F.col("bbox")["top"]).alias("used"),
        F.col("bbox")["x0"].alias("left_indent"),
        (F.col("page_width") - F.col("bbox")["x1"]).alias("right_indent"),
    )


def word_y_distances(words: DataFrame) -> DataFrame:
    """W5 (word_analysis.py:17-30): per page, word-to-word vertical deltas
    after (top, word_idx) sort."""
    w = Window.partitionBy("url", "page").orderBy("top", "word_idx")
    return words.select(
        "url", "page", "word_idx",
        (F.col("top") - F.lag("top").over(w)).alias("y0_dist"),
        (F.col("top") - F.lag("bottom").over(w)).alias("y_gap"),
    )


def precision_reduce(df: DataFrame, decimals: int = 2) -> DataFrame:
    """P7 (scripts/precision_analysis.py:28-44): banker-round all double
    columns to k decimals."""
    from ..functions.rounding import py_round

    scale = float(10 ** decimals)
    out = df
    for f in df.schema.fields:
        if f.dataType.simpleString() == "double":
            out = out.withColumn(f.name, py_round(F.col(f.name) * scale) / scale)
    return out


def attribute_profile(words: DataFrame) -> DataFrame:
    """S6 (word_attrib.py:5-51): non-null occurrence count per attribute."""
    aggs = [
        F.count(c).cast("long").alias(c) for c in words.columns
    ]
    counted = words.agg(*aggs)
    cols = F.array(*[
        F.struct(F.lit(c).alias("attribute"), F.col(c).alias("n_present"))
        for c in words.columns
    ])
    return counted.select(F.explode(cols).alias("a")).select("a.attribute", "a.n_present")


def spacing_range_match(lines: DataFrame, ranges: list[tuple[str, float | None, float | None]],
                        tol: float = 0.25) -> DataFrame:
    """V1 (core/visualizer.py:130-195): first-matching-range bucketing of
    rounded gaps; specs (label, lo, hi) with None = open end; equal lo==hi
    means exact +-tol."""
    from ..functions.rounding import round_to_nearest

    g = round_to_nearest(F.col("gap_before"), 0.5)
    expr = F.lit(None).cast("string")
    for label, lo, hi in reversed(ranges):
        if lo is not None and hi is not None and lo == hi:
            cond = (g >= lo - tol) & (g <= lo + tol)
        elif lo is None:
            cond = g <= hi
        elif hi is None:
            cond = g >= lo
        else:
            cond = (g >= lo) & (g <= hi)
        expr = F.when(cond, F.lit(label)).otherwise(expr)
    return lines.withColumn("spacing_bucket", expr)


def spacing_occurrences(lines: DataFrame) -> DataFrame:
    """V2 (visualizer.py:250-345): per-doc spacing frequency with color
    rank (rank over count desc, gap asc)."""
    from ..functions.rounding import round_to_nearest

    per = lines.filter(F.col("gap_before") > 0).groupBy(
        "url", round_to_nearest(F.col("gap_before"), 0.5).alias("spacing")
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("url").orderBy(F.desc("n"), F.asc("spacing"))
    return per.withColumn("color_rank", F.row_number().over(w).cast("long"))


def method_comparison_zip(method_a: DataFrame, method_b: DataFrame,
                          key_cols=("url", "page"), idx_col: str = "line_number",
                          text_col: str = "text") -> DataFrame:
    """J2 (extractor.py:462-498): positional full outer join of two
    extraction methods' line lists, None-padded."""
    a = method_a.select(*key_cols, idx_col, F.col(text_col).alias("text_a"))
    b = method_b.select(*key_cols, idx_col, F.col(text_col).alias("text_b"))
    return a.join(b, [*key_cols, idx_col], "full_outer")
