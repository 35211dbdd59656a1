"""End-to-end extraction plans (the reference's extract/analyze/process CLI
paths, SURVEY.md §3, re-expressed as one Spark job).

Scale design (north_rule):
  * One plan, two builders: lines_from_words (C1 window -> segments ->
    lines -> blank-line drop) and documents_from_lines (rules -> blocks ->
    boundaries -> body text + metrics). extract_lines, extract_documents
    and the contract's shared lines fixture all compose from them; each
    caller places its own exchange, outside the builders.
  * Production places ONE data-sized shuffle before the builders: the
    scan + tokenizer run map-side, then the word stream is hash-partitioned
    by **url** (the north-rule's url-hash partitioning). Every downstream
    operator is keyed with a url prefix, so with
    `requireAllClusterKeysForCoPartition=false` (session default) NOTHING
    below the word exchange shuffles line-sized data again: the (url,
    page) windows, the segment/line aggregations, the rules aggregation,
    the lines<->rules join on (url, size), the block windows/aggregates,
    the boundary voting, and the body assembly all reuse the one
    partitioning (tests/test_plan_shape.py: one Exchange in the lines
    plan, zero exchanges in the analysis tail above the lines cache).
  * Exchange placement is a performance choice only: url-first words and
    the contract's two-level shape ((url, page) window exchange, lines
    re-keyed to url after assembly) give the same lines and body text
    (tests/test_extract_builders.py). Measured on a 4-core host: on the
    contract's sf0.1 words the two-level shape was faster (lines build
    plus body collect, median 8.73 s vs 10.44 s over 6 alternating
    pairs); on 600 seeded html pages it was 5.52 s vs 5.82 s, ahead on 6
    of 8 pairs, which resolves no difference, so production stays
    url-first.
  * Spark 4 note: Generate (posexplode) and FlatMapGroupsInPandas both
    erase outputPartitioning, so pre-repartitioning pages buys nothing;
    the C1 window variant (no Python stage) is the default, and the
    exact-anchor applyInPandas variant remains for pathological drift.
  * Skew: the unit of sequential work is one document (url-hash
    partitioning spreads hosts; partition_pages adds explicit salting
    for adversarial hosts upstream of the tokenizer). A giant single
    document concentrates its window work in one task — inherent to
    emitting one body string per url — and is bounded by the
    max_body_chars cap in body assembly (two-level page-then-doc
    aggregation keeps per-buffer sizes page-bounded).
  * Doc-level aggregates are tiny per url and joined back on (url, ...) —
    co-partitioned joins, no broadcast needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..functions.text import py_strip
from ..operators.blocks import form_blocks
from ..operators.boundaries import (
    body_text,
    final_boundaries,
    header_footer_candidates,
)
from ..operators.lines import (
    assemble_lines,
    assign_line_ids_window,
    build_segments,
    drop_blank_lines,
)
from ..operators.spacing import contextual_spacing_rules
from ..sources.tokenizer import page_dims, tokenize_pages


def partition_pages(pages: DataFrame, num_partitions: int | None = None,
                    salt_hot_hosts: bool = True, salt: str = "s1") -> DataFrame:
    """Balance the tokenizer stage: repartition pages by a salted url hash.

    What this buys (and doesn't): mapInPandas erases output partitioning
    in Spark 4, so this exchange can NOT feed the downstream windows —
    the word stream is repartitioned by url after the tokenizer anyway
    (_url_partitioned_words). Its sole job is input balance for the most
    expensive stage (the pandas/Arrow tokenizer): a source whose files
    cluster a hot host's urls (the north-rule skew case — crawl dumps are
    host-ordered) would otherwise hand whole hosts to single tasks.
    Salting the hash term means even adversarial url sets that collide on
    xxhash64(url) spread; the unit of sequential work stays one document,
    which a salt cannot split.

    Because it shuffles the html payload, it is OPT-IN (pass
    num_partitions in extract_lines/extract_documents); well-bucketed
    Iceberg inputs should skip it.
    """
    key = F.xxhash64("url", F.lit(salt)) if salt_hot_hosts else F.xxhash64("url")
    if num_partitions:
        return pages.repartition(num_partitions, key)
    return pages.repartition(key)


def _url_partitioned_words(pages: DataFrame,
                           num_partitions: int | None = None) -> DataFrame:
    """Tokenize, then install THE pipeline exchange: url-hash partitioning
    of the word stream (module docstring: everything downstream reuses
    it). The explicit repartition replaces the (url, page) exchange the
    first window would otherwise insert — same rows moved, but the
    coarser key lets every (url, ...)-keyed join below run
    co-partitioned.

    num_partitions: opt-in salted input rebalance (see partition_pages)."""
    if num_partitions:
        pages = partition_pages(pages, num_partitions)
    return tokenize_pages(pages).repartition(F.col("url"))


def lines_from_words(words: DataFrame, cfg: EngineConfig = DEFAULT,
                     include_proportional: bool = False
                     ) -> tuple[DataFrame, DataFrame]:
    """words -> (blank-filtered lines, segments): C1 window, segment runs,
    line assembly, blank-line drop. Adds no exchange of its own beyond the
    C1 window's (url, page) keying, which url-partitioned words satisfy.

    include_proportional: the proportional-spacing columns; the process
    path and the contract prune them (nothing there reads them, and a
    persist would otherwise force their computation — Catalyst cannot
    prune through a cache)."""
    wl = assign_line_ids_window(words, cfg.y_tolerance)
    if cfg.drop_boilerplate and "is_link" not in wl.columns:
        wl = wl.withColumn("is_link", F.lit(False))
    # drop_boilerplate: the per-line char/link/word counts ride the
    # EXISTING segment and line aggregates (three extra sums, zero added
    # shuffles or word passes) and land in the lines, where the
    # boilerplate classifier reads them for free
    segs = build_segments(wl, with_link_stats=cfg.drop_boilerplate)
    lines = assemble_lines(wl, segs, page_dims(words),
                           include_proportional=include_proportional)
    return drop_blank_lines(lines), segs


def extract_lines(pages: DataFrame, cfg: EngineConfig = DEFAULT,
                  num_partitions: int | None = None) -> DataFrame:
    """pages -> blank-filtered line records (the `_lines.json` analog).

    num_partitions: opt-in salted input rebalance (see partition_pages)."""
    words = _url_partitioned_words(pages, num_partitions)
    return lines_from_words(words, cfg, include_proportional=True)[0]


def doc_stats(lines: DataFrame, segments: DataFrame) -> DataFrame:
    """A3 (analyzer.py:1369-1426): per-doc font/size histogram modes over
    segments of valid lines; sizes re-rounded to 0.5."""
    from ..functions.rounding import round_to_nearest

    valid = lines.filter(
        (F.col("bbox")["bottom"] > F.col("bbox")["top"])
        & (py_strip(F.col("text")) != "")
    ).select("url", "page", "line_id")
    segs = segments.join(valid, ["url", "page", "line_id"], "leftsemi")
    # first-seen tie-break in document order (page, line_id, seg_id)
    sized = segs.filter(F.col("rounded_size").isNotNull()).withColumn(
        "_size", round_to_nearest(F.col("rounded_size"), 0.5)
    )
    neg_pos = [(-F.col("page")).alias("p"), (-F.col("line_id")).alias("l"),
               (-F.col("seg_id")).alias("s")]
    fonts = sized.groupBy("url", "font").agg(
        F.count("*").alias("cnt"),
        F.max(F.struct(*neg_pos)).alias("fs"),
    )
    sizes = sized.groupBy("url", "_size").agg(
        F.count("*").alias("cnt"),
        F.max(F.struct(*neg_pos)).alias("fs"),
    )
    mf = fonts.groupBy("url").agg(
        F.max_by("font", F.struct("cnt", "fs")).alias("most_common_font"),
        F.sum("cnt").alias("total_segments"),
    )
    ms = sizes.groupBy("url").agg(
        F.max_by("_size", F.struct("cnt", "fs")).alias("most_common_size")
    )
    return mf.join(ms, "url", "left")


def _cached_leaf(df: DataFrame) -> DataFrame:
    """The persisted ``df`` as a DataFrame whose analysed plan is its cached
    relation alone. A persisted DataFrame keeps its whole analysed plan, so
    every operator built over it re-analyses that plan, and every self-join
    deduplicates it again; over the leaf the analyser sees one node. The
    physical plan is the same: the cache manager would put the same
    InMemoryRelation there at planning time."""
    spark = df.sparkSession
    jss = spark._jsparkSession
    cached = jss.sharedState().cacheManager().lookupCachedData(df._jdf).get()
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        jss, cached.cachedRepresentation()
    )
    return DataFrame(jdf, spark)


def documents_from_lines(lines: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Blank-filtered lines -> (url, body_text, metrics, boundaries, doc
    stats): spacing rules, blocks, header/footer candidates and boundaries,
    the optional boilerplate strip, body assembly. Every key carries the
    url prefix, so over url-partitioned lines the tail adds no exchange."""
    rules = contextual_spacing_rules(
        lines,
        gap_rounding=cfg.gap_rounding,
        lo_mult=cfg.line_spacing_lo_mult,
        hi_mult=cfg.line_spacing_hi_mult,
        para_mult=cfg.para_spacing_mult,
    )
    blocks = form_blocks(lines, rules)
    cands = header_footer_candidates(
        lines,
        header_zone_pt=cfg.header_zone_pt,
        footer_zone_in=cfg.footer_zone_inches,
        large_mult=cfg.large_gap_mult,
    )
    # one doc-level aggregation serves the boundary default AND the
    # north-rule parse metrics (one job fewer on the analysis tail)
    doc_stats_df = lines.groupBy("url").agg(
        F.max(F.col("bbox")["bottom"]).alias("doc_bottom"),
        F.count("*").alias("n_lines"),
        F.countDistinct("page").alias("n_pages"),
    )
    bounds = final_boundaries(cands, doc_stats_df.select("url", "doc_bottom"))
    if cfg.drop_boilerplate:
        from ..operators.webtext import block_boilerplate

        # lines carry the line_link_stats columns (lines_from_words), so
        # no word re-derivation happens here
        bp = block_boilerplate(
            None, lines, blocks,
            max_link_density=cfg.max_link_density,
            min_text_density=cfg.min_text_density,
        )
        blocks = blocks.join(
            bp.select(
                "url", "page", "block_id",
                F.col("is_boilerplate").alias("_boilerplate"),
            ),
            ["url", "page", "block_id"],
            "left",
        )
    body = body_text(blocks, bounds, max_body_chars=cfg.max_body_chars)
    return body.join(bounds, "url", "left").join(
        doc_stats_df.drop("doc_bottom"), "url", "left"
    )


def extract_documents(pages: DataFrame, cfg: EngineConfig = DEFAULT,
                      num_partitions: int | None = None,
                      cache_handle: list | None = None) -> DataFrame:
    """Flagship: pages -> (url, body_text, metrics). The full `process`
    path: extract -> rules -> blocks -> boundaries -> main content.

    num_partitions: opt-in salted input rebalance (see partition_pages).
    cache_handle: the internal lines cache is appended to this list so
    repeated callers (the streaming foreachBatch loop) can unpersist it
    after their action; one-shot callers may ignore it (the cache dies
    with the session).

    The analysis tail is built over the lines cache as a single leaf
    (_cached_leaf): over the persisted DataFrame each of its ~150
    operators would re-analyse the tokenizer, window, segment and line
    plan beneath the cache, and each self-join deduplicate it again.
    Building the plan (driver time before any job runs) took a median
    2.67 s that way and 1.19 s over the leaf (600 pages, 4 cores, with
    call-site capture off); the executed plan is the same."""
    lines, _ = lines_from_words(_url_partitioned_words(pages, num_partitions), cfg)
    # analysis consumes lines multiple times — materialize once (the
    # reference's _lines.json checkpoint between extract and analyze)
    persisted = lines.persist()
    if cache_handle is not None:
        cache_handle.append(persisted)
    return documents_from_lines(_cached_leaf(persisted), cfg)
