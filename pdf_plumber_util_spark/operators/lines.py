"""Word -> line -> segment -> line-text operators (reference extractor core).

Covers SURVEY.md §2 operators C1-C5, O2, A1, W1/W2, P1 as pure DataFrame
transformations. Everything is keyed by a ``url`` prefix, so after one
hash-partition by ``url`` the whole chain runs without further exchanges
(HashPartitioning(url) satisfies ClusteredDistribution(url, page, ...)).

Plan-shape note: ``assemble_lines`` is deliberately WINDOW-ONLY — earlier
drafts computed bbox/predominant/text as four separate groupBy branches
joined back, which made Catalyst re-execute everything above the shuffle
(including the C1 pandas stage) once per branch. Window aggregates over
the same (url, page, line_id) partitioning produce every line attribute in
a single pass with zero joins and zero extra exchanges.

Input word schema (tokenizer output, FIXTURES.md §2):
  url string, page int, word_idx long, text string, x0 double, x1 double,
  top double, bottom double, fontname string, size double, upright boolean
  [+ page_width double, page_height double pass-through]
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import py_round, round_half, round_2dp
from ..functions.text import py_strip


def _cluster_anchor(tops: np.ndarray, y_tol: float) -> np.ndarray:
    """C1 anchor clustering over sorted tops (extractor.py:221-235).

    The reference breaks a line when ``word.top - anchor > y_tol`` where the
    anchor is the top of the word that *started* the cluster (updated only on
    break) — NOT the previous word (cumulative drift differs from a lag-based
    flag). With tops ascending, each cluster is the maximal prefix with
    ``top - anchor <= y_tol``, found per cluster with one searchsorted —
    no per-row Python.
    """
    n = len(tops)
    line_ids = np.zeros(n, dtype=np.int64)
    start = 0
    line = 0
    while start < n:
        # subtract-form matches reference float semantics exactly
        d = tops[start:] - tops[start]
        end = start + int(np.searchsorted(d, y_tol, side="right"))
        line_ids[start:end] = line
        line += 1
        start = end
    return line_ids


def assign_line_ids(words: DataFrame, y_tol: float = 3.0) -> DataFrame:
    """C1: add ``line_id`` (0-based, per page, in top order).

    Grouped by ``url`` (whole documents are bounded: pages x words/page),
    vectorized inside with numpy searchsorted. This is the pipeline's single
    shuffle; every downstream window reuses the url partitioning.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    cols = [f.name for f in words.schema.fields if f.name != "line_id"]
    schema = StructType(
        [f for f in words.schema.fields if f.name != "line_id"]
        + [StructField("line_id", LongType())]
    )

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["page", "top", "word_idx"], kind="stable")
        out = []
        for _, grp in pdf.groupby("page", sort=True):
            tops = grp["top"].to_numpy()
            g = grp.copy()
            g["line_id"] = _cluster_anchor(tops, y_tol)
            out.append(g)
        return pd.concat(out)[cols + ["line_id"]]

    return words.groupBy("url").applyInPandas(per_doc, schema=schema)


def assign_line_ids_window(words: DataFrame, y_tol: float = 3.0) -> DataFrame:
    """C1, pure-window variant: break when ``top - lag(top) > y_tol``.

    Equal to the reference's anchor semantics whenever cumulative intra-
    cluster drift cannot exceed the tolerance (adjacent same-line words
    within y_tol of each other AND of the line start) — true for rendered
    webtext and the synthetic words tables; tests assert equality against
    the exact-anchor variant. Prefer this in pipelines: it needs no Python
    stage and no extra exchange (FlatMapGroupsInPandas erases output
    partitioning in Spark 4, so the pandas variant costs two additional
    shuffles downstream).
    """
    w = Window.partitionBy("url", "page").orderBy("top", "word_idx")
    brk = F.when(F.col("top") - F.lag("top").over(w) > y_tol, 1).otherwise(0)
    return words.withColumn("line_id", F.sum(brk).over(w).cast("long"))


def combine_words_x(words: DataFrame, x_tol: float = 3.0) -> DataFrame:
    """C2 (extractor.py:417-460): merge consecutive words in a line when
    ``abs(next.x0 - cur.x1) <= x_tol``. The running value compared against is
    always the *previous word's* x1 (the merge extends cur.x1 to the last
    member's x1, which IS the previous word's), so the chain is exactly
    lag-expressible: flag + cumulative sum + order-preserving concat.
    Requires ``line_id``. Emits merged words: text concatenated in (x0,
    word_idx) order, x0/top/bottom/font/size/upright/word_idx from the
    first member, x1 from the last member.

    Plan shape: groupBy aggregation (one buffer per merged word), NOT a
    window-frame collect_list (which would copy the member array once per
    row — O(n^2) per group; same reasoning as build_segments below). The
    grouping key extends the (url, page) partitioning, so no extra
    exchange beyond the C1 window's.
    """
    w = Window.partitionBy("url", "page", "line_id").orderBy("x0", "word_idx")
    flag = F.when(
        F.abs(F.col("x0") - F.lag("x1").over(w)) <= F.lit(x_tol), F.lit(0)
    ).otherwise(F.lit(1))
    df = words.withColumn("_grp", F.sum(flag).over(w))
    passthrough = [c for c in ("page_width", "page_height") if c in words.columns]
    agg = df.groupBy("url", "page", "line_id", "_grp").agg(
        F.array_sort(F.collect_list(F.struct("x0", "word_idx", "text"))).alias("_members"),
        F.min(
            F.struct("x0", "word_idx", "top", "bottom", "fontname", "size", "upright")
        ).alias("_first"),
        F.max(F.struct("x0", "word_idx", "x1")).alias("_last"),
        *[F.first(c).alias(c) for c in passthrough],
    )
    return agg.select(
        "url",
        "page",
        "line_id",
        F.col("_first")["word_idx"].alias("word_idx"),
        # array_join builds with one UTF8StringBuilder (O(total chars));
        # the round-2 aggregate+concat form reallocated the accumulator
        # string once per member
        F.array_join(F.transform("_members", lambda m: m["text"]), "").alias("text"),
        F.col("_first")["x0"].alias("x0"),
        F.col("_last")["x1"].alias("x1"),
        F.col("_first")["top"].alias("top"),
        F.col("_first")["bottom"].alias("bottom"),
        F.col("_first")["fontname"].alias("fontname"),
        F.col("_first")["size"].alias("size"),
        F.col("_first")["upright"].alias("upright"),
        *passthrough,
    )


def build_segments(words_with_lines: DataFrame,
                   with_link_stats: bool = False) -> DataFrame:
    """C3/C4: font/size/upright run split + segment aggregate
    (extractor.py:342-399). Single window pass, no joins.

    Output: one row per segment with
      url, page, line_id, seg_id, font, reported_size, rounded_size,
      direction, text (concatenated, stripped), bbox struct, seg_width
      [+ page_width/page_height pass-through when present]
      [+ seg_chars/seg_link_chars/seg_words when with_link_stats — three
       extra sums in the SAME aggregate (zero added shuffles), summed per
       line by assemble_lines and per block by form_blocks for the
       boilerplate classifier; requires an is_link word column].
    """
    w = Window.partitionBy("url", "page", "line_id").orderBy("x0", "word_idx")
    brk = (
        ~F.col("fontname").eqNullSafe(F.lag("fontname").over(w))
        | ~F.col("size").eqNullSafe(F.lag("size").over(w))
        | ~F.col("upright").eqNullSafe(F.lag("upright").over(w))
    )
    df = words_with_lines.withColumn(
        "seg_id",
        F.sum(F.when(F.lag("word_idx").over(w).isNull() | brk, 1).otherwise(0)).over(w),
    )
    # groupBy (not window+rn==1): a window-frame collect_list would copy
    # the whole member array once PER ROW — O(n^2) per segment; the
    # aggregation keeps one buffer per group. HashPartitioning(url) still
    # covers the grouping key, so no shuffle is added.
    passthrough = [
        c for c in ("page_width", "page_height") if c in words_with_lines.columns
    ]
    link_stats = []
    if with_link_stats:
        link_stats = [
            F.sum(F.length("text")).cast("long").alias("seg_chars"),
            F.sum(
                F.when(F.col("is_link"), F.length("text")).otherwise(0)
            ).cast("long").alias("seg_link_chars"),
            F.count("*").cast("long").alias("seg_words"),
        ]
    agg = df.groupBy("url", "page", "line_id", "seg_id").agg(
        F.array_sort(F.collect_list(F.struct("x0", "word_idx", "text"))).alias("_members"),
        F.min(F.struct("x0", "word_idx", "fontname", "size", "upright")).alias("_first"),
        F.min("x0").alias("_bx0"),
        F.min("top").alias("_btop"),
        F.max("x1").alias("_bx1"),
        F.max("bottom").alias("_bbot"),
        *[F.first(c).alias(c) for c in passthrough],
        *link_stats,
    )
    # segment text: plain concat of member texts in (x0, word_idx) order,
    # then Python-str.strip() (extractor.py:375-399). array_join = single
    # builder pass instead of per-member string reallocation.
    raw_text = F.array_join(F.transform("_members", lambda m: m["text"]), "")
    return agg.select(
        "url",
        "page",
        "line_id",
        "seg_id",
        F.col("_first")["fontname"].alias("font"),
        F.col("_first")["size"].alias("reported_size"),
        round_half(F.coalesce(F.col("_first")["size"], F.lit(0.0))).alias("rounded_size"),
        F.when(F.coalesce(F.col("_first")["upright"], F.lit(True)), F.lit("upright"))
        .otherwise(F.lit("rotated"))
        .alias("direction"),
        py_strip(raw_text).alias("text"),
        F.struct(
            F.col("_bx0").alias("x0"),
            F.col("_btop").alias("top"),
            F.col("_bx1").alias("x1"),
            F.col("_bbot").alias("bottom"),
        ).alias("bbox"),
        (F.col("_bx1") - F.col("_bx0")).alias("seg_width"),
        *passthrough,
        *(["seg_chars", "seg_link_chars", "seg_words"] if with_link_stats else []),
    )


def line_texts_from_segments(segments: DataFrame) -> DataFrame:
    """O2 aggregation only (public for golden-fixture replay): per
    (url, page, line_id) the normalized text, proportional text, and
    spacing-info array (extractor.py:628-700)."""
    enriched = _with_o2_columns(segments)
    out = enriched.groupBy("url", "page", "line_id").agg(
        _parts_agg().alias("_parts"), _info_agg().alias("_info")
    )
    return out.select(
        "url", "page", "line_id",
        _text_expr().alias("text"),
        _prop_expr().alias("text_proportional"),
        _info_expr().alias("proportional_spacing_info"),
    )


# ---- O2 helper expressions (shared by line_texts_from_segments and
# assemble_lines; all computed via null-skipping windows so the full
# segment set stays in one pass — no filter+join) ----


def _with_o2_columns(segments: DataFrame, proportional: bool = True) -> DataFrame:
    """``proportional=False`` computes only the survivor index (the one
    running count the normalized text needs), skipping the four extra
    running window columns that exist solely for the proportional
    reconstruction — the flagship/process path prunes them (Spark-first
    column pruning; `body_text` reads only the normalized text)."""
    w = Window.partitionBy("url", "page", "line_id").orderBy("seg_id")
    is_surv = F.col("text") != ""
    df = segments.withColumn("_surv", is_surv).withColumn(
        "_sidx", F.sum(F.when(is_surv, 1).otherwise(0)).over(w)
    )
    if not proportional:
        return df
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    surv_x1 = F.when(is_surv, F.col("bbox")["x1"])
    surv_size = F.when(
        is_surv,
        F.when(F.col("rounded_size") != 0.0, F.col("rounded_size")).otherwise(
            F.coalesce("reported_size", F.lit(10.0))
        ),
    )
    df = (
        df.withColumn("_prev_x1", F.last(surv_x1, ignorenulls=True).over(prior))
        .withColumn("_prev_size", F.last(surv_size, ignorenulls=True).over(prior))
        .withColumn(
            "_cum_len",
            F.coalesce(F.sum(F.when(is_surv, F.length("text"))).over(prior), F.lit(0)),
        )
    )
    raw_gap = F.col("bbox")["x0"] - F.col("_prev_x1")
    est = F.col("_prev_size") * 0.3
    n_spaces = F.greatest(F.lit(1.0), py_round(raw_gap / est)).cast("int")
    active = F.col("_surv") & (F.col("_sidx") > 1)
    return (
        df.withColumn("_nsp", F.when(active, n_spaces))
        .withColumn("_raw_gap", F.when(active, round_2dp(raw_gap)))
        .withColumn("_est", F.when(active, round_2dp(est)))
        .withColumn(
            "_norm_idx",
            F.when(active, (F.col("_cum_len") + F.col("_sidx") - 2).cast("int")),
        )
    )


def _parts_agg(proportional: bool = True):
    fields = ("_sidx", "text", "_nsp") if proportional else ("_sidx", "text")
    return F.array_sort(
        F.collect_list(F.when(F.col("_surv"), F.struct(*fields)))
    )


def _info_agg():
    return F.array_sort(
        F.collect_list(
            F.when(
                F.col("_surv") & (F.col("_sidx") > 1),
                F.struct(
                    F.col("_sidx").alias("s"),
                    F.col("_norm_idx").alias("normalized_text_index"),
                    F.col("_raw_gap").alias("raw_gap_pt"),
                    F.col("_est").alias("estimated_space_width_pt"),
                    F.col("_nsp").alias("proportional_spaces"),
                ),
            )
        )
    )


def _text_expr():
    # parts are exactly _sidx = 1..k in order, so "space before every part
    # but the first" IS a single-space join — one builder pass, no
    # quadratic accumulator reallocation (round-2 flagship regression fix)
    return F.array_join(F.transform("_parts", lambda p: p["text"]), " ")


def _prop_expr():
    return F.array_join(
        F.transform(
            "_parts",
            lambda p: F.concat(
                F.when(p["_sidx"] > 1, F.repeat(F.lit(" "), p["_nsp"])).otherwise(
                    F.lit("")
                ),
                p["text"],
            ),
        ),
        "",
    )


def _info_expr():
    return F.transform(
        "_info",
        lambda s: F.struct(
            s["normalized_text_index"].alias("normalized_text_index"),
            s["raw_gap_pt"].alias("raw_gap_pt"),
            s["estimated_space_width_pt"].alias("estimated_space_width_pt"),
            s["proportional_spaces"].alias("proportional_spaces"),
        ),
    )


def assemble_lines(
    words_with_lines: DataFrame,
    segments: DataFrame,
    page_dims: DataFrame | None = None,
    include_proportional: bool = True,
) -> DataFrame:
    """Assemble the full line records in ONE window pass over segments:
    text (O2), bbox (C5), predominant size/font + coverage (A1),
    gap_before/gap_after (W1/W2). Output matches FIXTURES.md §4.

    ``page_dims`` is only consulted when the segment table doesn't carry
    page_width/page_height columns (fixture injection); the production
    path passes dims through the tokenizer, so no join happens.

    ``include_proportional=False`` omits ``text_proportional`` and
    ``proportional_spacing_info`` (and their four running window columns
    plus the per-line info-struct collection). The lines-stage sink keeps
    the default — the reference's ``_lines.json`` carries those fields —
    but consumers that never read them (the flagship body-text path, the
    shared analysis fixture) prune them at the source, which Catalyst
    cannot do on its own once the result is persisted.
    """
    segs = segments
    if "page_height" not in segs.columns:
        if page_dims is None:
            raise ValueError("segments lack page dims and no page_dims given")
        segs = segs.join(page_dims, ["url", "page"], "left")

    return _assemble_lines_windows(segs, include_proportional)


def drop_blank_lines(lines: DataFrame) -> DataFrame:
    """P1 (extractor.py:500-585): remove blank lines, re-derive both gaps
    from nearest non-blank neighbours, renumber (original kept)."""
    kept = lines.filter(py_strip(F.col("text")) != "")
    wp = Window.partitionBy("url", "page").orderBy("line_id")
    return (
        kept.withColumn("original_line_number", F.col("line_number"))
        .withColumn("line_number", F.row_number().over(wp))
        .withColumn(
            "gap_before",
            F.when(F.col("line_number") == 1, F.col("bbox")["top"]).otherwise(
                F.greatest(
                    F.col("bbox")["top"] - F.lag(F.col("bbox")["bottom"]).over(wp),
                    F.lit(0.0),
                )
            ),
        )
        .withColumn(
            "gap_after",
            F.when(
                F.lead(F.col("bbox")["top"]).over(wp).isNotNull(),
                F.greatest(
                    F.lead(F.col("bbox")["top"]).over(wp) - F.col("bbox")["bottom"],
                    F.lit(0.0),
                ),
            ).otherwise(
                F.greatest(F.col("page_height") - F.col("bbox")["bottom"], F.lit(0.0))
            ),
        )
    )


def _assemble_lines_windows(segs: DataFrame,
                            include_proportional: bool = True) -> DataFrame:
    """A1 via per-size/per-font window sums feeding the line aggregate.

    Measured decision (round 3, interleaved A/B at sf0.1, local[32]): the
    two extra WindowExec sorts are CHEAPER than computing the argmax from
    a collected struct array with higher-order functions — HOF lambdas
    are interpreted per element, and the synthetic words table averages
    ~24 segments/line (windows 7.87s vs sorted-fold 8.75s median; equal
    on the sparse html path). Both extra windows extend the same
    (url, page) hash partitioning, so they cost sorts, not shuffles."""
    enriched = _with_o2_columns(segs, proportional=include_proportional)
    size_w = Window.partitionBy("url", "page", "line_id", "rounded_size")
    font_w = Window.partitionBy("url", "page", "line_id", "font")
    enriched = (
        enriched.withColumn("_w_size", F.sum("seg_width").over(size_w))
        .withColumn("_fs_size", F.min("seg_id").over(size_w))
        .withColumn("_w_font", F.sum("seg_width").over(font_w))
        .withColumn("_fs_font", F.min("seg_id").over(font_w))
    )
    maybe_info = [_info_agg().alias("_info")] if include_proportional else []
    # seg-level link stats (build_segments with_link_stats) roll up to the
    # line in the same aggregate, and form_blocks rolls them up to the
    # block for the boilerplate classifier: zero extra passes over words
    has_link_stats = "seg_chars" in segs.columns
    link_sums = (
        [
            F.sum("seg_chars").cast("long").alias("line_chars"),
            F.sum("seg_link_chars").cast("long").alias("line_link_chars"),
            F.sum("seg_words").cast("long").alias("line_words"),
        ]
        if has_link_stats
        else []
    )
    lines = enriched.groupBy("url", "page", "line_id").agg(
        _parts_agg(include_proportional).alias("_parts"),
        *maybe_info,
        *link_sums,
        F.min(F.col("bbox")["x0"]).alias("_bx0"),
        F.min(F.col("bbox")["top"]).alias("_btop"),
        F.max(F.col("bbox")["x1"]).alias("_bx1"),
        F.max(F.col("bbox")["bottom"]).alias("_bbot"),
        F.sum("seg_width").alias("_total_w"),
        F.max(
            F.struct(
                F.col("_w_size").alias("w"),
                (-F.col("_fs_size")).alias("nfs"),
                F.col("rounded_size").alias("val"),
            )
        ).alias("_best_size"),
        F.max(
            F.struct(
                F.col("_w_font").alias("w"),
                (-F.col("_fs_font")).alias("nfs"),
                F.col("font").alias("val"),
            )
        ).alias("_best_font"),
        F.first("page_width").alias("page_width"),
        F.first("page_height").alias("page_height"),
    )

    def cov(best):
        return F.when(
            best["val"].isNotNull() & (F.col("_total_w") > 0),
            py_round((best["w"] / F.col("_total_w") * 100) * 10) / 10,
        ).otherwise(F.lit(0.0))

    maybe_prop = (
        [_prop_expr().alias("text_proportional"),
         _info_expr().alias("proportional_spacing_info")]
        if include_proportional else []
    )
    lines = lines.select(
        "url",
        "page",
        "line_id",
        _text_expr().alias("text"),
        *maybe_prop,
        F.struct(
            F.col("_bx0").alias("x0"),
            F.col("_btop").alias("top"),
            F.col("_bx1").alias("x1"),
            F.col("_bbot").alias("bottom"),
        ).alias("bbox"),
        F.col("_best_size")["val"].alias("predominant_size"),
        F.col("_best_font")["val"].alias("predominant_font"),
        cov(F.col("_best_size")).alias("predominant_size_coverage"),
        cov(F.col("_best_font")).alias("predominant_font_coverage"),
        "page_width",
        "page_height",
        *(["line_chars", "line_link_chars", "line_words"]
          if has_link_stats else []),
    )
    wp = Window.partitionBy("url", "page").orderBy("line_id")
    return (
        lines.withColumn("line_number", F.row_number().over(wp))
        .withColumn(
            "gap_before",
            F.when(F.col("line_number") == 1, F.col("bbox")["top"]).otherwise(
                F.greatest(
                    F.col("bbox")["top"] - F.lag(F.col("bbox")["bottom"]).over(wp),
                    F.lit(0.0),
                )
            ),
        )
        .withColumn(
            "gap_after",
            F.when(
                F.lead(F.col("bbox")["top"]).over(wp).isNotNull(),
                F.greatest(
                    F.lead(F.col("bbox")["top"]).over(wp) - F.col("bbox")["bottom"],
                    F.lit(0.0),
                ),
            ).otherwise(
                F.greatest(F.col("page_height") - F.col("bbox")["bottom"], F.lit(0.0))
            ),
        )
    )
