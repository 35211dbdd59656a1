"""Header/footer detection and final content-boundary voting.

SURVEY.md §2.9: H1/H2 traditional candidates (analyzer.py:474-554), H3
contextual candidates (analyzer.py:583-686), A10 per-page base spacing
(analyzer.py:556-581), A11/H5 cross-page y-coordinate voting
(analyzer.py:1303-1340), plus the flagship body-text assembly (blocks
inside the detected content window) per the north-star main-content
extraction semantics.

This is the reference's "cross-page repeated-span" suppression: a line that
sits in the header/footer zone and is separated from the body by a large
gap votes its y-coordinate; the modal y across pages becomes the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .spacing import classify_gaps


def _base_spacing(lines: DataFrame) -> DataFrame:
    """A10 as a column: ``base_spacing`` on every line, the most common
    positive *unrounded* gap_before of its (url, page), preferring values
    > 0.01; ties -> first seen in line order; null if the page has none."""
    gap = F.col("gap_before")
    per_gap = Window.partitionBy("url", "page", "gap_before")
    order = F.when(
        gap > 0, F.struct(F.count("*").over(per_gap), -F.min("line_number").over(per_gap))
    )
    page = Window.partitionBy("url", "page")
    return lines.withColumn("_order", order).withColumn(
        "base_spacing",
        F.coalesce(
            F.max_by("gap_before", F.when(gap > 0.01, F.col("_order"))).over(page),
            F.max_by("gap_before", "_order").over(page),
        ),
    ).drop("_order")


def page_base_spacing(lines: DataFrame) -> DataFrame:
    """A10 per (url, page) with a positive gap: url, page, base_spacing."""
    return (
        _base_spacing(lines)
        .filter(F.col("base_spacing").isNotNull())
        .select("url", "page", "base_spacing")
        .distinct()
    )


def _zones(lines: DataFrame, header_zone_pt: float, footer_zone_in: float) -> DataFrame:
    # page_height for the zones comes from the document's FIRST page
    # (analyzer.py:487-489 uses lines_data[0].page_height)
    first_h = Window.partitionBy("url").orderBy("page")
    return lines.withColumn(
        "_doc_page_h", F.first("page_height").over(first_h.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    ).withColumn("_footer_min_y", F.col("_doc_page_h") - footer_zone_in * 72.0).withColumn(
        "_header_max_y", F.lit(header_zone_pt)
    )


def header_footer_candidates(
    lines: DataFrame,
    header_zone_pt: float = 90.0,
    footer_zone_in: float = 1.0,
    large_mult: float = 1.8,
) -> DataFrame:
    """H1/H2: traditional candidates. One row per candidate:
    url, page, side ('header'|'footer'), y_coord, text, gap, line_number,
    vote_order. Each line's header and footer structs (null where the line
    is no candidate) explode into rows."""
    w = Window.partitionBy("url", "page").orderBy("line_number")
    top, bottom = F.col("bbox")["top"], F.col("bbox")["bottom"]
    df = (
        _zones(_base_spacing(lines), header_zone_pt, footer_zone_in)
        .withColumn("_next_top", F.lead(top).over(w))
        .withColumn("_prev_bottom", F.lag(bottom).over(w))
    )
    next_top, prev_bottom = F.col("_next_top"), F.col("_prev_bottom")
    thr = F.lit(large_mult) * F.coalesce("base_spacing", F.lit(0.0))

    def candidate(side: str, y, gap, vote_order):
        return F.struct(F.lit(side).alias("side"), y.alias("y_coord"), "text",
                        gap.alias("gap"), "line_number", vote_order.alias("vote_order"))

    header = F.when(
        (top < F.col("_header_max_y")) & next_top.isNotNull() & (next_top - bottom >= thr),
        candidate("header", bottom, next_top - bottom, F.col("line_number")),
    )
    footer = F.when(
        (bottom > F.col("_footer_min_y")) & prev_bottom.isNotNull() & (top - prev_bottom >= thr),
        # the reference scans footers bottom-up, so insertion (tie-break)
        # order within a page is reversed (analyzer.py:519-543)
        candidate("footer", top, top - prev_bottom, -F.col("line_number")),
    )
    # array_compact types its elements non-null: the fields keep theirs
    both = F.array_compact(F.array(header, footer))
    return df.select("url", "page", F.explode(both).alias("_c")).select("url", "page", "_c.*")


def contextual_header_footer_candidates(
    lines: DataFrame,
    rules: DataFrame,
    header_zone_pt: float = 90.0,
    footer_zone_in: float = 1.0,
) -> DataFrame:
    """H3: contextual candidates — in-zone line whose gap_after (header) /
    gap_before (footer) classifies Section or Wide via O1."""
    df = _zones(lines, header_zone_pt, footer_zone_in)
    w = Window.partitionBy("url", "page").orderBy("line_number")
    df = df.withColumn("_has_next", F.lead("line_number").over(w).isNotNull()).withColumn(
        "_has_prev", F.lag("line_number").over(w).isNotNull()
    )
    hdr = classify_gaps(
        df.filter(
            (F.col("bbox")["top"] < F.col("_header_max_y"))
            & F.col("_has_next")
            & F.col("gap_after").isNotNull()
        ),
        rules,
        gap_col="gap_after",
    ).filter(F.col("gap_type").isin("Section", "Wide")).select(
        "url",
        "page",
        F.lit("header").alias("side"),
        F.col("bbox")["bottom"].alias("y_coord"),
        "text",
        F.col("gap_after").alias("gap"),
        "gap_type",
        "line_number",
        F.col("line_number").alias("vote_order"),
    )
    ftr = classify_gaps(
        df.filter(
            (F.col("bbox")["bottom"] > F.col("_footer_min_y"))
            & F.col("_has_prev")
            & F.col("gap_before").isNotNull()
        ),
        rules,
        gap_col="gap_before",
    ).filter(F.col("gap_type").isin("Section", "Wide")).select(
        "url",
        "page",
        F.lit("footer").alias("side"),
        F.col("bbox")["top"].alias("y_coord"),
        "text",
        F.col("gap_before").alias("gap"),
        "gap_type",
        "line_number",
        (-F.col("line_number")).alias("vote_order"),
    )
    return hdr.unionByName(ftr)


def final_boundaries(candidates: DataFrame, page_heights: DataFrame) -> DataFrame:
    """A11/H5 (analyzer.py:1303-1340): per url, modal candidate y per side
    (ties -> first-seen in page/line order); defaults header 0.0, footer =
    document max line bottom (the reference passes max_page_bottom).

    Args:
      candidates: header_footer_candidates() output (one side-tagged table).
      page_heights: one row per url: url, doc_bottom (the footer default),
        and any other per-url columns, which pass through.
    Returns: url, header_bottom, footer_top, then page_heights' other
    columns.
    """
    per_y = candidates.groupBy("url", "side", "y_coord").agg(
        F.count("*").alias("cnt"), F.min(F.struct("page", "vote_order")).alias("fs")
    )
    order = F.struct("cnt", F.struct(
        (-F.col("fs")["page"]).alias("p"), (-F.col("fs")["vote_order"]).alias("l")
    ))

    def vote(side: str):
        return F.max_by("y_coord", F.when(F.col("side") == side, order))

    votes = per_y.groupBy("url").agg(vote("header").alias("_header"), vote("footer").alias("_footer"))
    rest = [c for c in page_heights.columns if c not in ("url", "doc_bottom")]
    return page_heights.join(votes, "url", "left").select(
        "url",
        F.coalesce("_header", F.lit(0.0)).alias("header_bottom"),
        F.coalesce("_footer", "doc_bottom").alias("footer_top"),
        *rest,
    )


def body_text(blocks: DataFrame, boundaries: DataFrame,
              max_body_chars: int | None = None) -> DataFrame:
    """Flagship main-content assembly: blocks fully inside the open content
    window (top >= header_bottom, bottom <= footer_top), pages in order,
    blocks joined by blank lines. Returns (url, body_text, n_blocks_kept,
    n_blocks_dropped, chars_extracted, body_truncated) — the metrics feed
    the north-rule sidecar.

    Giant-document guard (VERDICT r2 #6): assembly is TWO-LEVEL — blocks
    first aggregate to page texts (each buffer bounded by one page's
    content), then page texts to the document string — so the per-element
    unit in the final reduce is a page, not a block. Emitting one string
    per url still concentrates that doc's text in one task; that tail is
    bounded by ``max_body_chars``: pages whose cumulative length passes
    the cap are dropped BEFORE assembly (the final string is built from at
    most cap + one page of input) and the row is flagged
    ``body_truncated``. Default None keeps exact, uncapped output.
    """
    joined = blocks.join(boundaries, "url", "left")
    kept_flag = (F.col("bbox")["top"] >= F.coalesce("header_bottom", F.lit(0.0))) & (
        F.col("bbox")["bottom"] <= F.coalesce("footer_top", F.lit(1e18))
    )
    # opt-in DOM-heuristic strip: extract_documents(drop_boilerplate=True)
    # marks blocks with is_boilerplate (webtext.block_boilerplate); folding
    # it into _keep here (not pre-filtering) keeps n_blocks_dropped truthful
    if "is_boilerplate" in blocks.columns:
        kept_flag = kept_flag & ~F.coalesce("is_boilerplate", F.lit(False))
    tagged = joined.withColumn("_keep", kept_flag)

    # level 1: page-bounded buffers. Empty page texts (no kept blocks)
    # are nulled out below so the doc-level join stays byte-identical to
    # a flat block join.
    pages = tagged.groupBy("url", "page").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("block_id", "text"))
                    )
                ),
                lambda b: b["text"],
            ),
        ).alias("_page_text"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("_kept"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).alias("_dropped"),
    )

    truncated = F.lit(False)
    if max_body_chars is not None:
        wp = Window.partitionBy("url").orderBy("page")
        plen = F.length("_page_text") + 2  # +2 for the joining blank line
        pages = (
            pages.withColumn("_cum", F.sum(plen).over(wp))
            .withColumn("_over", F.col("_cum") - plen >= max_body_chars)
            .withColumn(
                "_page_text",
                F.when(F.col("_over"), None).otherwise(F.col("_page_text")),
            )
        )
        truncated = F.max("_over")

    # level 2: one element per page
    out = pages.groupBy("url").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_page_text") != "",
                            F.struct("page", F.col("_page_text").alias("t")),
                        )
                    )
                ),
                lambda p: p["t"],
            ),
        ).alias("body_text"),
        F.sum("_kept").alias("n_blocks_kept"),
        F.sum("_dropped").alias("n_blocks_dropped"),
        truncated.alias("body_truncated"),
    )
    if max_body_chars is not None:
        out = out.withColumn(
            "body_text", F.substring("body_text", 1, max_body_chars)
        )
    return out.withColumn("chars_extracted", F.length("body_text"))
