"""Block formation: C6 sessionization + W3 inter-block gaps + A2 metadata.

Semantics: core/analyzer.py:693-853. A line joins the current block iff
  same predominant_size AND size has a spacing rule AND
  gap_before <= line_spacing_range[1]
else a new block starts. Block text = '\\n'.join(line texts); block bbox =
running min/max; inter-block gaps recomputed from block bboxes UNCLAMPED for
interior blocks (first block keeps its first line's gap_before; last block
keeps the gap_before of the last line that *joined* it, or 0 for
single-line blocks — faithful to the reference's update order).

Spark shape: broadcast-free co-partitioned join lines<->rules on (url,size),
then lag-flag + cumulative-sum sessionization over the (url, page) window,
then one groupBy per block. No driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import py_strip


def form_blocks(lines: DataFrame, rules: DataFrame, segments: DataFrame | None = None) -> DataFrame:
    """Build the blocks table.

    Args:
      lines: blank-filtered line records (P1 output).
      rules: contextual_spacing_rules() output.
      segments: optional segment table (build_segments output, with the
        same line_id) to compute A2 coverage metadata. If None, coverage
        columns are omitted.

    Returns one row per block:
      url, page, block_id, text, text_lines, n_lines, predominant_size,
      gap_before, gap_after, bbox, first_line_number, last_line_number
      [+ n_words, n_chars, n_link_chars when the lines carry
         line_words/line_chars/line_link_chars (build_segments
         with_link_stats): three more sums in the same block aggregate,
         read by webtext.block_boilerplate]
      [+ size_coverage, predominant_font, font_coverage with segments]
    """
    has_link_stats = "line_chars" in lines.columns
    r = rules.select(
        "url",
        F.col("context_size").alias("predominant_size"),
        F.col("range_hi").alias("_rule_hi"),
    )
    base = (
        lines.filter(
            (py_strip(F.col("text")) != "")
            & F.col("predominant_size").isNotNull()
        )
        .join(r, ["url", "predominant_size"], "left")
    )
    w = Window.partitionBy("url", "page").orderBy("line_number")
    same_size = F.col("predominant_size").eqNullSafe(F.lag("predominant_size").over(w))
    joins_prev = (
        same_size
        & F.col("_rule_hi").isNotNull()
        & (F.coalesce("gap_before", F.lit(0.0)) <= F.col("_rule_hi"))
    )
    flag = F.when(F.lag("line_number").over(w).isNull() | ~joins_prev, 1).otherwise(0)
    df = base.withColumn("_joins", joins_prev).withColumn(
        "block_id", F.sum(flag).over(w)
    )

    # groupBy, not window-frame collect (O(n^2) array copies per block)
    agg = df.groupBy("url", "page", "block_id").agg(
        F.array_sort(F.collect_list(F.struct("line_number", "text"))).alias("_texts"),
        F.min(F.col("bbox")["x0"]).alias("_bx0"),
        F.min(F.col("bbox")["top"]).alias("_btop"),
        F.max(F.col("bbox")["x1"]).alias("_bx1"),
        F.max(F.col("bbox")["bottom"]).alias("_bbot"),
        F.min(F.struct("line_number", "gap_before")).alias("_first_gap"),
        F.max(F.struct("line_number", "gap_before")).alias("_last_gap"),
        F.count("*").alias("_n"),
        F.min("line_number").alias("_first_ln"),
        F.max("line_number").alias("_last_ln"),
        F.first("predominant_size").alias("predominant_size"),
        *([F.sum("line_words").alias("n_words"),
           F.sum("line_chars").alias("n_chars"),
           F.sum("line_link_chars").alias("n_link_chars")]
          if has_link_stats else []),
    )
    blocks = agg.select(
        "url",
        "page",
        "block_id",
        F.concat_ws("\n", F.transform("_texts", lambda t: t["text"])).alias("text"),
        F.transform("_texts", lambda t: t["text"]).alias("text_lines"),
        F.col("_n").alias("n_lines"),
        "predominant_size",
        F.col("_first_gap")["gap_before"].alias("_init_gap_before"),
        # reference: gap_after is set to the joining line's gap_before each
        # time a line joins; single-line blocks keep the initial 0
        F.when(F.col("_n") > 1, F.col("_last_gap")["gap_before"])
        .otherwise(F.lit(0.0))
        .alias("_init_gap_after"),
        F.struct(
            F.col("_bx0").alias("x0"),
            F.col("_btop").alias("top"),
            F.col("_bx1").alias("x1"),
            F.col("_bbot").alias("bottom"),
        ).alias("bbox"),
        F.col("_first_ln").alias("first_line_number"),
        F.col("_last_ln").alias("last_line_number"),
        *(["n_words", "n_chars", "n_link_chars"] if has_link_stats else []),
    )

    # W3: inter-block gaps from bboxes, unclamped (analyzer.py:803-812)
    pw = Window.partitionBy("url", "page").orderBy("block_id")
    blocks = (
        blocks.withColumn(
            "gap_before",
            F.coalesce(
                F.col("bbox")["top"] - F.lag(F.col("bbox")["bottom"]).over(pw),
                F.col("_init_gap_before"),
            ),
        )
        .withColumn(
            "gap_after",
            F.coalesce(
                F.lead(F.col("bbox")["top"]).over(pw) - F.col("bbox")["bottom"],
                F.col("_init_gap_after"),
            ),
        )
        .drop("_init_gap_before", "_init_gap_after")
    )

    if segments is None:
        return blocks

    # --- A2 block metadata (analyzer.py:821-853): count-weighted coverage
    seg_lines = df.select("url", "page", "line_id", "block_id")
    segs = segments.join(seg_lines, ["url", "page", "line_id"], "inner")
    # global segment position inside block = (line_number order, seg order);
    # (line_id, seg_id) is monotone in document order within a page
    segs = segs.withColumn(
        "_spos",
        F.row_number().over(
            Window.partitionBy("url", "page", "block_id").orderBy("line_id", "seg_id")
        ),
    )

    def cov(col: str, out_val: str | None, out_cov: str) -> DataFrame:
        # the null-value group adds to the block's segment total only
        per = segs.groupBy("url", "page", "block_id", col).agg(
            F.count("*").alias("c"), F.min("_spos").alias("fs")
        )
        order = F.when(F.col(col).isNotNull(), F.struct("c", -F.col("fs")))
        return per.groupBy("url", "page", "block_id").agg(
            *([F.max_by(col, order).alias(out_val)] if out_val else []),
            (F.max(order)["c"] / F.sum("c")).alias(out_cov),
        )

    size_cov = cov("rounded_size", None, "size_coverage")
    font_cov = cov("font", "predominant_font", "font_coverage")
    return blocks.join(size_cov, ["url", "page", "block_id"], "left").join(
        font_cov, ["url", "page", "block_id"], "left"
    )
