"""End-to-end extraction plans (the reference's extract/analyze/process CLI
paths, SURVEY.md §3, re-expressed as one Spark job).

Scale design (north_rule):
  * ONE data-sized shuffle for the whole per-document pipeline: the scan +
    tokenizer UDF run map-side, then the word stream is hash-partitioned
    by **url** (exactly the north-rule's url-hash partitioning). Every
    downstream operator is keyed with a url prefix, so with
    `requireAllClusterKeysForCoPartition=false` (session default) NOTHING
    below the word exchange shuffles line-sized data again: the (url,
    page) windows, the segment/line aggregations, the rules aggregation,
    the lines<->rules join on (url, size) (both sides url-co-partitioned),
    the block windows/aggregates, the boundary voting, and the body
    assembly all reuse the one partitioning (verified by
    tests/test_plan_shape.py: one Exchange in the lines plan, zero
    exchanges in the blocks path above the lines cache). Measured at
    8000 html docs / local[32]: 14.9s -> 12.7s end-to-end vs the
    round-2 (url, page)-keyed exchange, and at cluster scale it removes
    two corpus-sized shuffles (the rules join re-shuffle and the
    post-join window re-shuffle).
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
    the C1 window always inserts its own (url, page) exchange. Its sole
    job is input balance for the most expensive stage (the pandas/Arrow
    tokenizer): a source whose files cluster a hot host's urls (the
    north-rule skew case — crawl dumps are host-ordered) would otherwise
    hand whole hosts to single tasks. Salting the hash term means even
    adversarial url sets that collide on xxhash64(url) spread; the unit of
    sequential work stays one document, which a salt cannot split.

    Because it shuffles the html payload, it is OPT-IN (pass
    num_partitions in extract_lines/extract_documents); well-bucketed
    Iceberg inputs should skip it.
    """
    key = F.xxhash64("url", F.lit(salt)) if salt_hot_hosts else F.xxhash64("url")
    if num_partitions:
        return pages.repartition(num_partitions, key)
    return pages.repartition(key)


def extract_lines(pages: DataFrame, cfg: EngineConfig = DEFAULT,
                  num_partitions: int | None = None) -> DataFrame:
    """pages -> blank-filtered line records (the `_lines.json` analog).

    num_partitions: opt-in salted input rebalance (see partition_pages)."""
    if num_partitions:
        pages = partition_pages(pages, num_partitions)
    words = _url_partitioned_words(pages)
    wl = assign_line_ids_window(words, cfg.y_tolerance)
    segs = build_segments(wl)
    lines = assemble_lines(wl, segs, page_dims(words))
    return drop_blank_lines(lines)


def _url_partitioned_words(pages: DataFrame) -> DataFrame:
    """Tokenize, then install THE pipeline exchange: url-hash partitioning
    of the word stream (module docstring: everything downstream reuses
    it). The explicit repartition replaces the (url, page) exchange the
    first window would otherwise insert — same rows moved, but the
    coarser key lets every (url, ...)-keyed join below run
    co-partitioned."""
    return tokenize_pages(pages).repartition(F.col("url"))


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

    The analysis tail (spacing rules, blocks, header/footer candidates,
    doc stats and the joins between them) is built over the lines cache
    as a single leaf (_cached_leaf), not over the persisted DataFrame.
    Over the persisted DataFrame each of those ~150 operators re-analysed
    the tokenizer, window, segment and line plan beneath the cache, and
    each self-join deduplicated it again. Building the whole plan, Spark
    driver time before any job runs, took a median 2.67 s before and
    1.19 s now (600 pages, 4 cores, with call-site capture off in the
    session too).
    The executed plan is unchanged."""
    if num_partitions:
        pages = partition_pages(pages, num_partitions)
    words = _url_partitioned_words(pages)
    wl = assign_line_ids_window(words, cfg.y_tolerance)
    if cfg.drop_boilerplate and "is_link" not in wl.columns:
        wl = wl.withColumn("is_link", F.lit(False))
    # drop_boilerplate: the per-line char/link/word counts ride the
    # EXISTING segment and line aggregates (three extra sums, zero added
    # shuffles or word passes) and land in the persisted lines, where the
    # boilerplate classifier reads them for free
    segs = build_segments(wl, with_link_stats=cfg.drop_boilerplate)
    # proportional columns pruned at the source: nothing downstream of
    # the process path reads them, and persist() would otherwise force
    # their computation (Catalyst cannot prune through a cache)
    lines = assemble_lines(wl, segs, page_dims(words), include_proportional=False)
    # analysis consumes lines multiple times — materialize once (the
    # reference's _lines.json checkpoint between extract and analyze)
    persisted = drop_blank_lines(lines).persist()
    if cache_handle is not None:
        cache_handle.append(persisted)
    flines = _cached_leaf(persisted)

    rules = contextual_spacing_rules(
        flines,
        gap_rounding=cfg.gap_rounding,
        lo_mult=cfg.line_spacing_lo_mult,
        hi_mult=cfg.line_spacing_hi_mult,
        para_mult=cfg.para_spacing_mult,
    )
    blocks = form_blocks(flines, rules)
    cands = header_footer_candidates(
        flines,
        header_zone_pt=cfg.header_zone_pt,
        footer_zone_in=cfg.footer_zone_inches,
        large_mult=cfg.large_gap_mult,
    )
    # one doc-level aggregation serves the boundary default AND the
    # north-rule parse metrics (one job fewer on the analysis tail)
    doc_stats_df = flines.groupBy("url").agg(
        F.max(F.col("bbox")["bottom"]).alias("doc_bottom"),
        F.count("*").alias("n_lines"),
        F.countDistinct("page").alias("n_pages"),
    )
    bounds = final_boundaries(cands, doc_stats_df.select("url", "doc_bottom"))
    if cfg.drop_boilerplate:
        from ..operators.webtext import block_boilerplate

        # flines carries the line_link_stats columns (attached above), so
        # no word re-derivation happens here
        bp = block_boilerplate(
            None, flines, blocks,
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
