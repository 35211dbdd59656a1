"""Stage sinks and the human-readable analysis report.

K1 stage-named sink (utils/file_handler.py:48-75): `{base}_{stage}.json`
becomes a stage-suffixed table directory; K2's streaming serialization is
inherent in Spark's partition-at-a-time writers; K3 text report
(analyzer.py:883-1166) renders driver-side from the tiny doc_stats
aggregates; K4 info/metadata sink (extractor.py:587-626).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_stage(df: DataFrame, out_dir: str, base: str, stage: str) -> str:
    """K1: write a pipeline stage table under `{out_dir}/{base}_{stage}`."""
    path = os.path.join(out_dir, f"{base}_{stage}")
    df.write.mode("overwrite").parquet(path)
    return path


# minimum schema the analysis plans assume of a lines stage
LINES_STAGE_REQUIRED = ("url", "page", "line_number", "text")


def read_lines_stage(spark: SparkSession, path: str,
                     required: tuple[str, ...] = LINES_STAGE_REQUIRED) -> DataFrame:
    """S2: load a lines stage table, with the reference's error taxonomy
    (analyzer.py:1168-1219 missing-file / invalid-format handling) as
    structured exceptions. ``required=()`` reads any stage table."""
    from pyspark.errors import AnalysisException

    from ..exceptions import SchemaMismatchError, SourceNotFoundError

    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            raise SourceNotFoundError(path, fmt="parquet", original_error=e) from e
        raise
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise SchemaMismatchError(path, missing, df.columns)
    return df


def parse_page_range(spec: str, max_page: int) -> list[int]:
    """S3 (plumb_layout.py:8-21): '1-3,5' -> [1,2,3,5], clamped.
    Malformed specs raise a structured PageRangeError."""
    from ..exceptions import PageRangeError

    pages: set[int] = set()
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        try:
            if "-" in part:
                lo, hi = part.split("-", 1)
                lo_i = int(lo) if lo else 1
                hi_i = int(hi) if hi else max_page
                pages.update(range(lo_i, min(hi_i, max_page) + 1))
            else:
                p = int(part)
                if p <= max_page:
                    pages.add(p)
        except ValueError as e:
            raise PageRangeError(spec, original_error=e) from e
    return sorted(pages)


def page_range_predicate(spec: str, max_page: int | None = None) -> Column:
    """S3 as a Column predicate: '1-3,5' -> page BETWEEN 1 AND 3 OR
    page = 5. Intervals stay intervals — an open-ended '10-' is just
    `page >= 10`, never a materialized list — so the driver cost is the
    number of comma-separated parts, not the page span (parse_page_range
    would build a billion-int set for '10-' on a big corpus).
    Malformed parts raise a structured PageRangeError."""
    from ..exceptions import PageRangeError

    terms: list[Column] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        try:
            if "-" in part:
                lo, hi = part.split("-", 1)
                lo_i = int(lo) if lo else 1
                hi_i = int(hi) if hi else max_page
                if hi_i is None:
                    terms.append(F.col("page") >= lo_i)
                else:
                    terms.append(F.col("page").between(lo_i, hi_i))
            else:
                terms.append(F.col("page") == int(part))
        except ValueError as e:
            raise PageRangeError(spec, original_error=e) from e
    if not terms:
        return F.lit(False)
    pred = terms[0]
    for t in terms[1:]:
        pred = pred | t
    if max_page is not None:
        pred = pred & (F.col("page") <= max_page)
    return pred


def filter_page_range(df: DataFrame, spec: str,
                      max_page: int | None = None) -> DataFrame:
    """S3: page filter as an interval predicate (pushes down to the scan /
    Iceberg partition pruning; open-ended ranges never materialize)."""
    return df.filter(page_range_predicate(spec, max_page))


def extraction_info(lines: DataFrame, words: DataFrame) -> DataFrame:
    """K4 (extractor.py:587-626): totals per document."""
    lp = lines.groupBy("url").agg(
        F.countDistinct("page").cast("long").alias("total_pages"),
        F.count("*").cast("long").alias("total_lines"),
    )
    wp = words.groupBy("url").agg(F.count("*").cast("long").alias("total_words"))
    return lp.join(wp, "url", "left")


def render_report(doc_stats_row: dict, rules_rows: list[dict],
                  bounds_row: dict | None = None) -> str:
    """K3 (analyzer.py:883-1166): per-document text report, rendered
    driver-side from already-aggregated rows (never from raw data)."""
    out = []
    out.append("=" * 60)
    out.append(f"Document analysis: {doc_stats_row.get('url', '?')}")
    out.append("=" * 60)
    out.append(
        f"Most common font: {doc_stats_row.get('most_common_font')} | "
        f"most common size: {doc_stats_row.get('most_common_size')} | "
        f"segments: {doc_stats_row.get('total_segments')}"
    )
    out.append("-" * 60)
    out.append("Contextual spacing rules:")
    for r in sorted(rules_rows, key=lambda r: r["context_size"]):
        out.append(
            f"  size {r['context_size']:>5}: mode gap {r['most_common_gap']} "
            f"line<=({r['range_hi']:.2f}) para<=({r['para_spacing_max']:.2f}) "
            f"gaps={r['total_gaps']} lines={r['total_lines']}"
        )
    if bounds_row:
        out.append("-" * 60)
        out.append(
            f"Content window: header_bottom={bounds_row['header_bottom']} "
            f"footer_top={bounds_row['footer_top']}"
        )
    return "\n".join(out)


def is_toc_line(col):
    """O7 (sampling.py:444): line contains '...' and last token is a page
    number."""
    last_tok = F.element_at(F.split(F.trim(col), r"\s+"), -1)
    return col.contains("...") & last_tok.rlike(r"^\d+$")
