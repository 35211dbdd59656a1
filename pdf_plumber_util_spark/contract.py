"""Driver-contract queries and their DuckDB oracle SQL.

Every SURVEY.md §2 operator exposed through ``__spark_entry__.queries()``
lives here, each with a matching ANSI-SQL oracle in ``ORACLES`` that DuckDB
runs over the same parquet tables. The geometric operators run on the
synthetic words table derived from ``lineitem`` (sources/tables.py) whose
arithmetic is reproduced verbatim in the SQL CTE prefix, so Spark and
DuckDB compute bit-identical doubles.

Column names are aligned on both sides (the driver hashes values after
sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import (
    assign_line_ids,
    classify_gaps,
    contextual_spacing_rules,
    final_boundaries,
    form_blocks,
    header_footer_candidates,
    page_base_spacing,
)
from .plans.extract import documents_from_lines, lines_from_words
from .sources.tables import WORDS_FROM_LINEITEM_SQL, load_table, words_from_lineitem

# --------------------------------------------------------------------------
# shared SQL fragments (banker's rounding, mirrors functions/rounding.py)
# --------------------------------------------------------------------------


def _sql_py_round(q: str) -> str:
    """round-half-to-even of expression q to an integer (as DOUBLE)."""
    fl = f"FLOOR({q})"
    return (
        f"(CASE WHEN ({q}) - {fl} > 0.5 THEN {fl} + 1 "
        f"WHEN ({q}) - {fl} < 0.5 THEN {fl} "
        f"WHEN CAST({fl} AS BIGINT) % 2 = 0 THEN {fl} ELSE {fl} + 1 END)"
    )


def sql_round_to(expr: str, step: float) -> str:
    return f"({_sql_py_round(f'({expr}) / {step}')} * {step})"


# C1 sessionization over a words CTE (shared with the C2 oracle, which
# runs it on the tight-x geometry instead)
_LINED_FRAGMENT = """
, lined AS (
  SELECT w.*, CAST(COALESCE(SUM(CASE WHEN w.top - w.lag_top > 3.0 THEN 1 ELSE 0 END)
    OVER (PARTITION BY w.url, w.page ORDER BY w.top, w.word_idx
          ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS line_id
  FROM (
    SELECT *, LAG(top) OVER (PARTITION BY url, page ORDER BY top, word_idx) AS lag_top
    FROM words
  ) w
)
"""

# the C1/C3 sessionization + segment + line CTE chain used by most oracles
_LINES_SQL = (
    WORDS_FROM_LINEITEM_SQL
    + f"""
, lined AS (
  SELECT w.*, CAST(COALESCE(SUM(CASE WHEN w.top - w.lag_top > 3.0 THEN 1 ELSE 0 END)
    OVER (PARTITION BY w.url, w.page ORDER BY w.top, w.word_idx
          ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS line_id
  FROM (
    SELECT *, LAG(top) OVER (PARTITION BY url, page ORDER BY top, word_idx) AS lag_top
    FROM words
  ) w
), segged AS (
  SELECT *, SUM(is_new_seg) OVER (PARTITION BY url, page, line_id
      ORDER BY x0, word_idx ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM (
    SELECT *, CASE WHEN lag_font IS NULL OR lag_font <> fontname
                    OR lag_size <> size THEN 1 ELSE 0 END AS is_new_seg
    FROM (
      SELECT *,
        LAG(fontname) OVER (PARTITION BY url, page, line_id ORDER BY x0, word_idx) AS lag_font,
        LAG(size) OVER (PARTITION BY url, page, line_id ORDER BY x0, word_idx) AS lag_size
      FROM lined
    )
  )
), segs AS (
  SELECT url, page, line_id, seg_id,
    MIN(x0) AS sx0, MIN(top) AS stop, MAX(x1) AS sx1, MAX(bottom) AS sbot,
    STRING_AGG(text, '' ORDER BY x0, word_idx) AS seg_text,
    FIRST(fontname ORDER BY x0, word_idx) AS font,
    FIRST(size ORDER BY x0, word_idx) AS reported_size,
    {sql_round_to('FIRST(size ORDER BY x0, word_idx) * 2', 1.0)} / 2 AS rounded_size,
    MAX(x1) - MIN(x0) AS seg_width
  FROM segged
  GROUP BY url, page, line_id, seg_id
), seg_o2 AS (
  SELECT *,
    LAG(sx1) OVER wl AS prev_x1,
    LAG(CASE WHEN rounded_size <> 0 THEN rounded_size
             ELSE COALESCE(reported_size, 10.0) END) OVER wl AS prev_size,
    ROW_NUMBER() OVER wl AS sidx
  FROM segs
  WINDOW wl AS (PARTITION BY url, page, line_id ORDER BY seg_id)
), seg_sp AS (
  SELECT *, CASE WHEN sidx = 1 THEN NULL ELSE
      GREATEST(1.0, {_sql_py_round('(sx0 - prev_x1) / (prev_size * 0.3)')}) END AS nsp
  FROM seg_o2
), line_text AS (
  SELECT url, page, line_id,
    STRING_AGG(seg_text, ' ' ORDER BY seg_id) AS text,
    STRING_AGG(CASE WHEN sidx = 1 THEN seg_text
               ELSE REPEAT(' ', CAST(nsp AS INT)) || seg_text END, '' ORDER BY seg_id)
      AS text_proportional
  FROM seg_sp GROUP BY url, page, line_id
), line_pred AS (
  SELECT url, page, line_id,
    FIRST(rounded_size ORDER BY w DESC, fs ASC) AS predominant_size,
    FIRST(total_w ORDER BY w DESC, fs ASC) AS total_w,
    FIRST(w ORDER BY w DESC, fs ASC) AS pred_w
  FROM (
    SELECT url, page, line_id, rounded_size, SUM(seg_width) AS w, MIN(seg_id) AS fs,
      SUM(SUM(seg_width)) OVER (PARTITION BY url, page, line_id) AS total_w
    FROM segs GROUP BY url, page, line_id, rounded_size
  ) GROUP BY url, page, line_id
), line_font AS (
  SELECT url, page, line_id,
    FIRST(font ORDER BY w DESC, fs ASC) AS predominant_font,
    FIRST(total_w ORDER BY w DESC, fs ASC) AS ftotal_w,
    FIRST(w ORDER BY w DESC, fs ASC) AS fpred_w
  FROM (
    SELECT url, page, line_id, font, SUM(seg_width) AS w, MIN(seg_id) AS fs,
      SUM(SUM(seg_width)) OVER (PARTITION BY url, page, line_id) AS total_w
    FROM segs GROUP BY url, page, line_id, font
  ) GROUP BY url, page, line_id
), lines0 AS (
  SELECT b.url, b.page, b.line_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY b.url, b.page ORDER BY b.line_id) AS INT) AS line_number,
    b.bx0, b.btop, b.bx1, b.bbot, t.text, t.text_proportional,
    p.predominant_size, f.predominant_font
  FROM (
    SELECT url, page, line_id, MIN(x0) AS bx0, MIN(top) AS btop,
           MAX(x1) AS bx1, MAX(bottom) AS bbot
    FROM lined GROUP BY url, page, line_id
  ) b
  JOIN line_text t USING (url, page, line_id)
  JOIN line_pred p USING (url, page, line_id)
  JOIN line_font f USING (url, page, line_id)
), lines AS (
  SELECT *,
    CASE WHEN line_number = 1 THEN btop
         ELSE GREATEST(btop - LAG(bbot) OVER wpl, 0.0) END AS gap_before,
    CASE WHEN LEAD(btop) OVER wpl IS NOT NULL
         THEN GREATEST(LEAD(btop) OVER wpl - bbot, 0.0)
         ELSE GREATEST(792.0 - bbot, 0.0) END AS gap_after
  FROM lines0
  WINDOW wpl AS (PARTITION BY url, page ORDER BY line_number)
)
"""
)

_RULES_SQL = f"""
, flat AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY page, line_number) AS pos
  FROM lines
), ctx_gaps AS (
  SELECT url, predominant_size AS context_size,
    {sql_round_to('gap_before', 0.5)} AS rounded_gap, pos
  FROM (
    SELECT *, LAG(predominant_size) OVER (PARTITION BY url ORDER BY pos) AS prev_size
    FROM flat
  )
  WHERE predominant_size IS NOT NULL AND predominant_size = prev_size
    AND gap_before IS NOT NULL AND gap_before > 0.01
), rules AS (
  SELECT url, context_size,
    FIRST(rounded_gap ORDER BY cnt DESC, fs ASC) AS most_common_gap,
    FIRST(rounded_gap ORDER BY cnt DESC, fs ASC) * 0.8 AS range_lo,
    FIRST(rounded_gap ORDER BY cnt DESC, fs ASC) * 1.2 AS range_hi,
    context_size * 1.1 AS para_spacing_max,
    SUM(cnt) AS total_gaps,
    MIN(fs) AS first_ctx_pos
  FROM (
    SELECT url, context_size, rounded_gap, COUNT(*) AS cnt, MIN(pos) AS fs
    FROM ctx_gaps GROUP BY url, context_size, rounded_gap
  ) GROUP BY url, context_size
)
"""

_BLOCKS_SQL = f"""
, blines AS (
  SELECT l.*, r.range_hi AS rule_hi,
    CASE WHEN LAG(l.line_number) OVER wb IS NULL THEN 1
         WHEN l.predominant_size = LAG(l.predominant_size) OVER wb
              AND r.range_hi IS NOT NULL
              AND COALESCE(l.gap_before, 0.0) <= r.range_hi THEN 0
         ELSE 1 END AS new_block
  FROM lines l LEFT JOIN rules r
    ON l.url = r.url AND l.predominant_size = r.context_size
  WHERE l.predominant_size IS NOT NULL AND TRIM(l.text) <> ''
  WINDOW wb AS (PARTITION BY l.url, l.page ORDER BY l.line_number)
), bl2 AS (
  SELECT *, SUM(new_block) OVER (PARTITION BY url, page ORDER BY line_number
      ROWS UNBOUNDED PRECEDING) AS block_id
  FROM blines
), blocks0 AS (
  SELECT url, page, block_id,
    STRING_AGG(text, chr(10) ORDER BY line_number) AS text,
    CAST(COUNT(*) AS BIGINT) AS n_lines,
    FIRST(predominant_size ORDER BY line_number) AS predominant_size,
    MIN(bx0) AS x0, MIN(btop) AS top, MAX(bx1) AS x1, MAX(bbot) AS bottom,
    FIRST(gap_before ORDER BY line_number) AS init_gap_before,
    CASE WHEN COUNT(*) > 1 THEN FIRST(gap_before ORDER BY line_number DESC)
         ELSE 0.0 END AS init_gap_after
  FROM bl2 GROUP BY url, page, block_id
), blocks AS (
  SELECT url, page, block_id, text, n_lines, predominant_size,
    x0, top, x1, bottom,
    COALESCE(top - LAG(bottom) OVER wp, init_gap_before) AS gap_before,
    COALESCE(LEAD(top) OVER wp - bottom, init_gap_after) AS gap_after
  FROM blocks0
  WINDOW wp AS (PARTITION BY url, page ORDER BY block_id)
)
"""

_BOUNDS_SQL = """
, base_sp AS (
  SELECT url, page,
    COALESCE(
      FIRST(CASE WHEN sp > 0.01 THEN sp END ORDER BY (sp > 0.01) DESC, cnt DESC, fs ASC),
      FIRST(sp ORDER BY cnt DESC, fs ASC)) AS base_spacing
  FROM (
    SELECT url, page, gap_before AS sp, COUNT(*) AS cnt, MIN(line_number) AS fs
    FROM lines WHERE gap_before IS NOT NULL AND gap_before > 0
    GROUP BY url, page, gap_before
  ) GROUP BY url, page
), zl AS (
  SELECT l.*, b.base_spacing,
    LEAD(l.btop) OVER wz AS next_top,
    LAG(l.bbot) OVER wz AS prev_bottom
  FROM lines l LEFT JOIN base_sp b USING (url, page)
  WINDOW wz AS (PARTITION BY l.url, l.page ORDER BY l.line_number)
), cands AS (
  SELECT url, page, 'header' AS side, bbot AS y_coord,
    next_top - bbot AS gap, line_number, line_number AS vote_order
  FROM zl
  WHERE btop < 90.0 AND next_top IS NOT NULL
    AND next_top - bbot >= 1.8 * COALESCE(base_spacing, 0.0)
  UNION ALL
  SELECT url, page, 'footer' AS side, btop AS y_coord,
    btop - prev_bottom AS gap, line_number, -line_number AS vote_order
  FROM zl
  WHERE bbot > 792.0 - 72.0 AND prev_bottom IS NOT NULL
    AND btop - prev_bottom >= 1.8 * COALESCE(base_spacing, 0.0)
), votes AS (
  SELECT url, side,
    FIRST(y_coord ORDER BY cnt DESC, fs ASC) AS y
  FROM (
    -- first-seen = lexicographic (page, vote_order), encoded arithmetically
    SELECT url, side, y_coord, COUNT(*) AS cnt,
      MIN(page * 1000000 + vote_order) AS fs
    FROM cands GROUP BY url, side, y_coord
  ) GROUP BY url, side
), bounds AS (
  SELECT d.url,
    COALESCE(h.y, 0.0) AS header_bottom,
    COALESCE(f.y, d.doc_bottom) AS footer_top
  FROM (SELECT url, MAX(bbot) AS doc_bottom FROM lines GROUP BY url) d
  LEFT JOIN (SELECT url, y FROM votes WHERE side = 'header') h ON d.url = h.url
  LEFT JOIN (SELECT url, y FROM votes WHERE side = 'footer') f ON d.url = f.url
)
"""


# --------------------------------------------------------------------------
# Spark-side pipeline from a words DF (shared by queries)
# --------------------------------------------------------------------------


# One materialized lines/segments pair per (session, sf_dir) — the
# reference's _lines.json checkpoint between extract and analyze. Round 1
# persisted a FRESH identical DF inside each analysis query, which leaked
# cached copies across the contract run (CacheManager "already cached"
# warnings; pinned executor storage at scale). The shared fixture is
# cached once and unpersisted via clear_shared_lines(). Keyed by
# applicationId (unique per SparkContext, never recycled — id(spark) was,
# after GC, which could alias a stale entry to a new session).
_SHARED_LINES: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _lines_df(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _SHARED_LINES.get(key)
    if hit is not None:
        return hit
    # Two-level partitioning: the word-sized stage keys on (url, page) —
    # the C1 window's own exchange — so a multi-page document's window
    # work spreads across pages instead of serializing in one url task;
    # then ONE line-sized exchange re-keys the assembled lines to url
    # before the persist, so the cached analysis tail (rules join, blocks,
    # boundaries, body) stays url-co-partitioned and exchange-free.
    # Production (plans/extract.py) repartitions the words by url instead;
    # both give the same lines. On this fixture's sf0.1 words the
    # two-level shape measured faster on a 4-core host (lines build plus
    # q_body_text collect, median 8.73 s vs 10.44 s, 6 alternating pairs).
    lines, segs = lines_from_words(words_from_lineitem(spark, sf_dir))
    lines = lines.repartition(F.col("url")).persist()
    _SHARED_LINES[key] = (lines, segs)
    return lines, segs


def clear_shared_lines() -> None:
    for lines, _ in _SHARED_LINES.values():
        lines.unpersist()
    _SHARED_LINES.clear()


def q_word_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+C5: line clustering and bbox (exact-anchor applyInPandas
    variant — the stricter of the two C1 implementations)."""
    words = words_from_lineitem(spark, sf_dir)
    wl = assign_line_ids(words)
    return wl.groupBy("url", "page", "line_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.min("x0").alias("x0"),
        F.min("top").alias("top"),
        F.max("x1").alias("x1"),
        F.max("bottom").alias("bottom"),
    )


def q_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/C4/O6: segment runs, text concat, banker-rounded size."""
    _, segs = _lines_df(spark, sf_dir)
    return segs.select(
        "url", "page", "line_id",
        F.col("seg_id").cast("long").alias("seg_id"),
        F.col("text").alias("seg_text"),
        "font", "reported_size", "rounded_size",
        F.col("bbox")["x0"].alias("sx0"),
        F.col("bbox")["x1"].alias("sx1"),
        "seg_width",
    )


def q_line_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: normalized + proportional line text (banker space counts).

    Built from the shared segments directly (the cached lines fixture
    prunes the proportional columns); blank lines filtered with the same
    stripped-empty predicate drop_blank_lines uses."""
    from .operators.lines import line_texts_from_segments

    _, segs = _lines_df(spark, sf_dir)
    from .functions.text import py_strip

    lt = line_texts_from_segments(segs)
    return lt.filter(
        py_strip(F.col("text")) != ""
    ).select("url", "page", "line_id", "text", "text_proportional")


def q_line_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2/W6: inter-line gaps and renumbering."""
    lines, _ = _lines_df(spark, sf_dir)
    return lines.select(
        "url", "page", "line_number", "gap_before", "gap_after",
        F.col("bbox")["top"].alias("top"),
        F.col("bbox")["bottom"].alias("bottom"),
    )


def q_predominant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: width-weighted predominant size/font per line."""
    lines, _ = _lines_df(spark, sf_dir)
    return lines.select(
        "url", "page", "line_id", "predominant_size", "predominant_font",
        "predominant_size_coverage", "predominant_font_coverage",
    )


def q_spacing_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7: contextual spacing rules per (url, context size)."""
    lines, _ = _lines_df(spark, sf_dir)
    rules = contextual_spacing_rules(lines)
    return rules.select(
        "url", "context_size", "most_common_gap", "range_lo", "range_hi",
        "para_spacing_max", F.col("total_gaps").cast("long").alias("total_gaps"),
        F.col("total_lines").cast("long").alias("total_lines"),
    )


def q_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: contextual gap classification per line."""
    lines, _ = _lines_df(spark, sf_dir)
    rules = contextual_spacing_rules(lines)
    return classify_gaps(lines, rules).select(
        "url", "page", "line_number", "gap_type"
    )


def q_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6/W3: block sessionization with recomputed inter-block gaps."""
    lines, _ = _lines_df(spark, sf_dir)
    rules = contextual_spacing_rules(lines)
    blocks = form_blocks(lines, rules)
    return blocks.select(
        "url", "page", F.col("block_id").cast("long").alias("block_id"),
        "text", F.col("n_lines").cast("long").alias("n_lines"),
        "predominant_size", "gap_before", "gap_after",
        F.col("bbox")["x0"].alias("x0"),
        F.col("bbox")["top"].alias("top"),
        F.col("bbox")["x1"].alias("x1"),
        F.col("bbox")["bottom"].alias("bottom"),
    )


def q_base_spacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: per-page modal positive spacing."""
    lines, _ = _lines_df(spark, sf_dir)
    return page_base_spacing(lines)


def q_hf_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1/H2: traditional header/footer candidates."""
    lines, _ = _lines_df(spark, sf_dir)
    return header_footer_candidates(lines).select(
        "url", "page", "side", "y_coord", "gap", "line_number"
    )


def q_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/H5: final per-document content boundaries."""
    lines, _ = _lines_df(spark, sf_dir)
    cands = header_footer_candidates(lines)
    doc_bottom = lines.groupBy("url").agg(
        F.max(F.col("bbox")["bottom"]).alias("doc_bottom")
    )
    return final_boundaries(cands, doc_bottom)


def q_body_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: end-to-end main-content text per url, built by the
    production analysis tail (plans.extract.documents_from_lines)."""
    lines, _ = _lines_df(spark, sf_dir)
    return documents_from_lines(lines).select(
        "url", "body_text",
        F.col("n_blocks_kept").cast("long").alias("n_blocks_kept"),
        F.col("n_blocks_dropped").cast("long").alias("n_blocks_dropped"),
        F.col("chars_extracted").cast("long").alias("chars_extracted"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "c1_word_lines": q_word_lines,
    "c3_segments": q_segments,
    "o2_line_text": q_line_text,
    "w1_line_gaps": q_line_gaps,
    "a1_predominant": q_predominant,
    "a7_spacing_rules": q_spacing_rules,
    "o1_classify": q_classify,
    "c6_blocks": q_blocks,
    "a10_base_spacing": q_base_spacing,
    "h1_hf_candidates": q_hf_candidates,
    "h5_boundaries": q_boundaries,
    "flagship_body_text": q_body_text,
}


ORACLES: dict[str, str] = {
    "c1_word_lines": _LINES_SQL + """
SELECT url, page, line_id, CAST(COUNT(*) AS BIGINT) AS n_words,
  MIN(x0) AS x0, MIN(top) AS top, MAX(x1) AS x1, MAX(bottom) AS bottom
FROM lined GROUP BY url, page, line_id
""",
    "c3_segments": _LINES_SQL + """
SELECT url, page, line_id, CAST(seg_id AS BIGINT) AS seg_id,
  seg_text, font, reported_size, rounded_size, sx0, sx1, seg_width
FROM segs
""",
    "o2_line_text": _LINES_SQL + """
SELECT url, page, line_id, text, text_proportional FROM line_text
""",
    "w1_line_gaps": _LINES_SQL + """
SELECT url, page, line_number, gap_before, gap_after,
  btop AS top, bbot AS bottom
FROM lines
""",
    "a1_predominant": _LINES_SQL + f"""
SELECT l.url, l.page, l.line_id, l.predominant_size, f.predominant_font,
  {_sql_py_round('(l.pred_w / l.total_w * 100) * 10')} / 10 AS predominant_size_coverage,
  {_sql_py_round('(f.fpred_w / f.ftotal_w * 100) * 10')} / 10 AS predominant_font_coverage
FROM line_pred l JOIN line_font f USING (url, page, line_id)
""",
    "a7_spacing_rules": _LINES_SQL + _RULES_SQL + """
SELECT r.url, r.context_size, r.most_common_gap, r.range_lo, r.range_hi,
  r.para_spacing_max, CAST(r.total_gaps AS BIGINT) AS total_gaps,
  CAST(t.total_lines AS BIGINT) AS total_lines
FROM rules r JOIN (
  SELECT url, predominant_size AS context_size, COUNT(*) AS total_lines
  FROM lines WHERE predominant_size IS NOT NULL
  GROUP BY url, predominant_size
) t USING (url, context_size)
""",
    "o1_classify": _LINES_SQL + _RULES_SQL + f"""
, fb AS (
  SELECT url,
    FIRST(range_hi ORDER BY total_gaps DESC, first_ctx_pos ASC) AS fb_hi,
    FIRST(para_spacing_max ORDER BY total_gaps DESC, first_ctx_pos ASC) AS fb_pmax
  FROM rules GROUP BY url
)
SELECT l.url, l.page, l.line_number,
  CASE WHEN COALESCE(r.range_hi, f.fb_hi) IS NULL THEN 'Line'
       WHEN {sql_round_to('l.gap_before', 0.5)} <= COALESCE(r.range_hi, f.fb_hi) THEN 'Line'
       WHEN {sql_round_to('l.gap_before', 0.5)} <= COALESCE(r.para_spacing_max, f.fb_pmax) THEN 'Paragraph'
       ELSE 'Section' END AS gap_type
FROM lines l
LEFT JOIN rules r ON l.url = r.url AND l.predominant_size = r.context_size
LEFT JOIN fb f ON l.url = f.url
""",
    "c6_blocks": _LINES_SQL + _RULES_SQL + _BLOCKS_SQL + """
SELECT url, page, CAST(block_id AS BIGINT) AS block_id, text, n_lines,
  predominant_size, gap_before, gap_after, x0, top, x1, bottom
FROM blocks
""",
    "a10_base_spacing": _LINES_SQL + _BOUNDS_SQL + """
SELECT url, page, base_spacing FROM base_sp
""",
    "h1_hf_candidates": _LINES_SQL + _BOUNDS_SQL + """
SELECT url, page, side, y_coord, gap, line_number FROM cands
""",
    "h5_boundaries": _LINES_SQL + _BOUNDS_SQL + """
SELECT url, header_bottom, footer_top FROM bounds
""",
    "flagship_body_text": _LINES_SQL + _RULES_SQL + _BLOCKS_SQL + _BOUNDS_SQL + """
SELECT b.url,
  COALESCE(STRING_AGG(CASE WHEN b.top >= bd.header_bottom AND b.bottom <= bd.footer_top
             THEN b.text END, chr(10) || chr(10) ORDER BY b.page, b.block_id), '')
    AS body_text,
  CAST(COUNT(CASE WHEN b.top >= bd.header_bottom AND b.bottom <= bd.footer_top
             THEN 1 END) AS BIGINT) AS n_blocks_kept,
  CAST(COUNT(CASE WHEN NOT (b.top >= bd.header_bottom AND b.bottom <= bd.footer_top)
             THEN 1 END) AS BIGINT) AS n_blocks_dropped,
  CAST(LENGTH(COALESCE(STRING_AGG(CASE WHEN b.top >= bd.header_bottom
             AND b.bottom <= bd.footer_top THEN b.text END,
             chr(10) || chr(10) ORDER BY b.page, b.block_id), '')) AS BIGINT)
    AS chars_extracted
FROM blocks b JOIN bounds bd ON b.url = bd.url
GROUP BY b.url
""",
}
