"""Driver-contract queries part 2: training-data pipeline ops + remaining
SURVEY §2 aggregations, each with a DuckDB oracle where SQL-expressible.
Merged into __spark_entry__ via contract.QUERIES/ORACLES update.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .contract import (
    _BLOCKS_SQL,
    _LINED_FRAGMENT,
    _LINES_SQL,
    _RULES_SQL,
    _sql_py_round,
    sql_round_to,
)
from .sources.tables import WORDS_FROM_LINEITEM_SQL, WORDS_TIGHT_SQL
from .functions.rounding import py_round
from .operators import dedup, similarity, stats, text_analysis
from .operators.patterns import scan_patterns
from .operators.sampling import (
    sample_header_footer_groups,
    sample_sections_stratified,
    sample_toc,
)
from .sources.tables import load_table, words_from_lineitem

# shared normalized-token CTE over documents (mirrors dedup._norm)
_DOCS_TOKS_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
    regexp_split_to_array(
      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t,
    text
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (
    SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
    FROM toks WHERE len(t) >= 3
  )
)
"""


# ---------------------------------------------------------------- queries


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.token_counts(load_table(spark, sf_dir, "documents"))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.quality_scores(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.lang_id(load_table(spark, sf_dir, "documents"))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(load_table(spark, sf_dir, "documents"))


def q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_bands(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("band_idx").cast("long").alias("band_idx"), "band_key"
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard(load_table(spark, sf_dir, "documents"), max_doc_id=60)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


def q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming<=3 near-dup pairs via pigeonhole chunk join."""
    return dedup.simhash_candidates(load_table(spark, sf_dir, "documents"))


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d5: fully deterministic (md5 band keys -> self-join), so it carries
    a direct DuckDB oracle (VERDICT r2 'What's wrong #3')."""
    return dedup.lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = similarity.cosine_topk(
        load_table(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2], k=5
    )
    return out.select(
        "query_id", "rank", "vec_id",
        (py_round(F.col("cosine") * 1e6) / 1e6).alias("cosine_r"),
    )


def q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s2: since round 4 the hyperplane signs derive from md5 parity
    (similarity.plane_sign), which DuckDB can compute — so the
    approximate path carries a DIRECT value oracle (VERDICT r3 #7)
    instead of the rows-only check it had when the signs were
    xxhash64-based."""
    out = similarity.bucketed_topk(
        load_table(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2], k=5,
        n_planes=6,
    )
    return out.select(
        "query_id", "rank", "vec_id",
        (py_round(F.col("cosine") * 1e6) / 1e6).alias("cosine_r"),
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s5: recall@5 of the production ANN configuration (16 OR-amplified
    6-bit hash tables — hyperplane_buckets_tables) against brute-force
    cosine top-5 (s1), per query — the deterministic quality scalar that
    keeps future bucket tuning from silently degrading recall (VERDICT
    r3 #7). A single 6-bit table measures 1/15 on this corpus; 16 tables
    measure 10/15 while scanning ~18% of it."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = similarity.cosine_topk(emb, query_ids=[0, 1, 2], k=5).select(
        "query_id", "vec_id"
    )
    approx = similarity.bucketed_topk(
        emb, query_ids=[0, 1, 2], k=5, n_planes=6, n_tables=16
    ).select("query_id", "vec_id")
    hits = truth.join(approx, ["query_id", "vec_id"], "left_semi")
    n_truth = truth.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_truth")
    )
    n_hits = hits.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )
    return (
        n_truth.join(n_hits, "query_id", "left")
        .select(
            "query_id", "n_truth",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_truth"), 4
            ).alias("recall_r"),
        )
    )


def _pair_recall(truth: DataFrame, cand: DataFrame) -> DataFrame:
    """One-row (n_truth, n_candidates, n_hits, recall_r) for (doc_a,
    doc_b) pair sets. recall_r is NULL when there is no ground truth."""
    hits = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    counted = (
        truth.agg(F.count("*").cast("long").alias("n_truth"))
        .crossJoin(
            cand.agg(F.count("*").cast("long").alias("n_candidates"))
        )
        .crossJoin(hits.agg(F.count("*").cast("long").alias("n_hits")))
    )
    return counted.select(
        "n_truth", "n_candidates", "n_hits",
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_hits") / F.col("n_truth"), 4),
        ).alias("recall_r"),
    )


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d12: candidate recall of the MinHash-LSH band join (d5) against
    exact n-gram Jaccard >= 0.5 ground truth (d3's bounded id range) —
    pins the bands' recall so band-parameter tuning can't silently drop
    true near-dups (VERDICT r3 #7)."""
    docs = load_table(spark, sf_dir, "documents")
    truth = dedup.ngram_jaccard(docs, max_doc_id=500).filter(
        F.col("jaccard") >= 0.5
    ).select("doc_a", "doc_b")
    cand = dedup.lsh_candidate_pairs(docs).filter(
        (F.col("doc_a") < 500) & (F.col("doc_b") < 500)
    ).select("doc_a", "doc_b")
    return _pair_recall(truth, cand)


def q_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d13: candidate recall of the SimHash hamming<=3 pigeonhole join
    (d7) against the same Jaccard >= 0.5 ground truth as d12."""
    docs = load_table(spark, sf_dir, "documents")
    truth = dedup.ngram_jaccard(docs, max_doc_id=500).filter(
        F.col("jaccard") >= 0.5
    ).select("doc_a", "doc_b")
    cand = dedup.simhash_candidates(docs).filter(
        (F.col("doc_a") < 500) & (F.col("doc_b") < 500)
    ).select("doc_a", "doc_b")
    return _pair_recall(truth, cand)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d14: the multi-table (OR-amplified) embedding-cosine near-dup
    scale path, DIRECTLY value-oracled (the md5-parity plane_sign is
    DuckDB-replayable; the single-table variant was rows-only in round
    1). threshold=0.30 keeps the query non-vacuous on the synthetic
    random vectors (true near-identical pairs would sit at >= 0.9)."""
    out = similarity.embedding_neardup_lsh(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.30, n_planes=6, n_tables=8,
    )
    return out.select(
        "vec_a", "vec_b",
        (py_round(F.col("cosine") * 1e6) / 1e6).alias("cosine_r"),
    )


def q_ann_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s2b: the bucketed ANN with n_planes=0 (one global bucket) is
    exhaustive by construction and must equal brute-force cosine top-k —
    the same value-pin trick as s3's nprobe == n_cells, so the s1 oracle
    SQL checks the whole bucketed-join machinery."""
    out = similarity.bucketed_topk(
        load_table(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2], k=5,
        n_planes=0,
    )
    return out.select(
        "query_id", "rank", "vec_id",
        (py_round(F.col("cosine") * 1e6) / 1e6).alias("cosine_r"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN in exhaustive-probe mode (nprobe == n_cells), which by
    construction equals the brute-force cosine top-k — so the oracle is
    the same SQL as s1 and value-checks the whole IVF machinery (seeded
    centroids, Lloyd refinement, inverted-list join, probe ranking)."""
    out = similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2], k=5,
        n_cells=8, nprobe=8,
    )
    return out.select(
        "query_id", "rank", "vec_id",
        (py_round(F.col("cosine") * 1e6) / 1e6).alias("cosine_r"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n"),
        (py_round(F.sum("value") * 1e4) / 1e4).alias("sum_value_r"),
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = ts_us - F.lag(ts_us).over(w)
    flag = F.when(gap_us > 1800 * 1_000_000, 1).otherwise(0)
    df = ev.withColumn("session_id", F.sum(flag).over(w))
    return df.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.count("*").cast("long").alias("n_events"),
    )


def q_font_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.font_key_aggregation(words_from_lineitem(spark, sf_dir))


def q_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.page_margins(words_from_lineitem(spark, sf_dir))


def q_font_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.font_sets(words_from_lineitem(spark, sf_dir))


def _contract_lines(spark, sf_dir):
    from .contract import _lines_df

    return _lines_df(spark, sf_dir)[0]


def q_method_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.extraction_method_stats(_contract_lines(spark, sf_dir))


def q_vertical_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.vertical_regions(_contract_lines(spark, sf_dir))


def q_word_y_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.word_y_distances(words_from_lineitem(spark, sf_dir))


def q_spacing_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.spacing_histograms(_contract_lines(spark, sf_dir))


def q_spacing_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.spacing_occurrences(_contract_lines(spark, sf_dir))


_TEST_PATTERNS = {
    "flag_token": ("token", r"\b[ANR]\d+\b"),
    "a_token": ("token", r"\bA\d+\b"),
    "token_pair": ("token", r"[A-Z]\d+ [A-Z]\d+"),
}


def q_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _contract_lines(spark, sf_dir)
    m = scan_patterns(lines, registry=_TEST_PATTERNS)
    return m.groupBy("url", "pattern_name", "pattern_type").agg(
        F.count("*").cast("long").alias("n_matches")
    )


def _doc_pages(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("d"), (F.col("doc_id") % 20).cast("string")).alias("url"),
        F.col("doc_id").cast("int").alias("page"),
    )


_O7_LINES = [
    "Introduction ........ 3",
    "2.1 Background .... 17",
    "No dots here 42",
    "Dots ... but no page num",
    "Chapter body text about nothing",
    "Appendix C ...... 210",
    "trailing dots page ... 9 extra",
]


def q_toc_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 (sampling.py:444): TOC-entry predicate over literal lines."""
    from .plans.io import is_toc_line

    df = spark.createDataFrame([(t,) for t in _O7_LINES], "text string")
    return df.select("text", is_toc_line(F.col("text")).alias("is_toc"))


def q_page_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/J3 (plumb_layout.py:8-21): '1-2' include-set filter on the words
    table, counted per page."""
    from .plans.io import filter_page_range

    words = words_from_lineitem(spark, sf_dir)
    return filter_page_range(words, "1-2", 3).groupBy("url", "page").agg(
        F.count("*").cast("long").alias("n_words")
    )


def q_method_compare_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 upgraded to the reference's THREE-method shape (extractor.py:
    462-498): per (url, page, line_number) the positional zip of raw line
    text from (a) y_tol=3 clustering, (b) y_tol=2 clustering, and (c)
    y_tol=3 with C2 x-tolerance word merging — the merged method is where
    combine_words_x participates in a real pipeline. Runs on the
    tight-pitch geometry (the only one where merges occur)."""
    from pyspark.sql import Window

    from .operators import assign_line_ids_window, combine_words_x

    words = words_from_lineitem(spark, sf_dir, tight_x=True)

    def line_text(df):
        return df.groupBy("url", "page", "line_id").agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("x0", "word_idx", "text"))),
                    lambda m: m["text"],
                ),
            ).alias("text"),
        ).withColumn(
            "line_number",
            F.row_number().over(
                Window.partitionBy("url", "page").orderBy("line_id")
            ),
        ).select("url", "page", "line_number", "text")

    a = line_text(assign_line_ids_window(words, 3.0)).withColumnRenamed("text", "text_a")
    b = line_text(assign_line_ids_window(words, 2.0)).withColumnRenamed("text", "text_b")
    c = line_text(combine_words_x(assign_line_ids_window(words, 3.0))).withColumnRenamed("text", "text_c")
    keys = ["url", "page", "line_number"]
    return (
        a.join(b, keys, "full_outer").join(c, keys, "full_outer")
        .select(*keys, "text_a", "text_b", "text_c")
    )


def q_paragraph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9 (analyzer.py:384-433): per (url, gap_type) line counts and
    summed gap (classification via O1; previously verified only through
    the o1 composition)."""
    from .operators.spacing import classify_gaps, contextual_spacing_rules

    lines = _contract_lines(spark, sf_dir)
    rules = contextual_spacing_rules(lines)
    classified = classify_gaps(lines, rules)
    return classified.groupBy("url", "gap_type").agg(
        F.count("*").cast("long").alias("n"),
        (py_round(F.sum("gap_before") * 1e6) / 1e6).alias("sum_gap_r"),
    )


def q_precision_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 (scripts/precision_analysis.py:28-44): banker-round every double
    column, applied to the per-page margins table at 1 decimal."""
    return stats.precision_reduce(
        stats.page_margins(words_from_lineitem(spark, sf_dir)), decimals=1
    )


def q_scan_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 (document_scanner.py:402-426): per pattern, total matches and
    distinct (url, page) coverage over the lines scan."""
    from .operators.patterns import scan_statistics

    lines = _contract_lines(spark, sf_dir)
    m = scan_patterns(lines, registry=_TEST_PATTERNS).withColumn(
        "pg", F.concat_ws("#", "url", F.col("page").cast("string"))
    )
    return scan_statistics(m, page_col="pg")


def q_sampled_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (sampling.py:244-286): semi-join the TOC sample against page
    data and project the streamlined view (P4 analog on documents)."""
    docs = load_table(spark, sf_dir, "documents")
    sel = sample_toc(_doc_pages(spark, sf_dir))
    data = docs.select(F.col("doc_id").cast("int").alias("page"), "text")
    return sel.join(data, "page").select(
        "url", "page", "part", F.length("text").cast("long").alias("n_chars")
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_sections_stratified(_doc_pages(spark, sf_dir)).select(
        "url", "page", F.col("tercile").cast("long").alias("tercile")
    )


def q_sample_toc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_toc(_doc_pages(spark, sf_dir))


def q_sample_hf_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # greedy overlap-free grouping: rows-only (applyInPandas, M1)
    return sample_header_footer_groups(_doc_pages(spark, sf_dir))


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-doc modal font/size over segments of valid lines."""
    from .contract import _lines_df
    from .plans.extract import doc_stats

    lines, segs = _lines_df(spark, sf_dir)
    return doc_stats(lines, segs)


def q_line_spacing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5: doc-level modal positive spacing."""
    from .operators.spacing import line_spacing_summary

    return line_spacing_summary(_contract_lines(spark, sf_dir)).select(
        "url", "most_common_spacing",
        F.col("most_common_spacing_count").cast("long").alias("most_common_spacing_count"),
        F.col("total_spacings").cast("long").alias("total_spacings"),
    )


def q_contextual_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3: contextual header/footer candidates."""
    from .operators import contextual_header_footer_candidates
    from .operators.spacing import contextual_spacing_rules

    lines = _contract_lines(spark, sf_dir)
    rules = contextual_spacing_rules(lines)
    return contextual_header_footer_candidates(lines, rules).select(
        "url", "page", "side", "y_coord", "gap", "gap_type", "line_number"
    )


_V1_RANGES = [
    ("tight", None, 2.0),
    ("line", 2.0, 8.0),
    ("para", 8.0, 16.0),
    ("wide", 16.0, None),
]


def q_range_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1: first-matching-range spacing bucketing, counts per bucket."""
    from .operators.stats import spacing_range_match

    lines = _contract_lines(spark, sf_dir)
    return (
        spacing_range_match(lines, _V1_RANGES)
        .groupBy("url", "spacing_bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_h4_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4: iterative per-page boundary walk + modal vote (applyInPandas;
    rows-only check — genuinely sequential state per page)."""
    from .operators.boundaries_iterative import iterative_boundaries
    from .operators.spacing import line_spacing_summary

    lines = _contract_lines(spark, sf_dir)
    return iterative_boundaries(lines, line_spacing_summary(lines))


def q_method_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+C7: positional full-outer zip of the default (y_tol=3) lines
    against the scanner-variant clustering (y_tol=2, C7)."""
    from .operators import (
        assemble_lines,
        assign_line_ids_window,
        build_segments,
        drop_blank_lines,
    )
    from .operators.stats import method_comparison_zip
    from .sources.tokenizer import page_dims

    words = words_from_lineitem(spark, sf_dir)
    mk = lambda tol: drop_blank_lines(
        assemble_lines(
            assign_line_ids_window(words, tol),
            build_segments(assign_line_ids_window(words, tol)),
            page_dims(words),
        )
    )
    return method_comparison_zip(mk(3.0), mk(2.0))


EXTRA_QUERIES = {
    "a18_token_counts": q_token_counts,
    "t1_quality": q_quality,
    "t2_lang_id": q_lang_id,
    "d1_exact_dedup": q_exact_dedup,
    "d2_minhash_bands": q_minhash_bands,
    "d3_ngram_jaccard": q_ngram_jaccard,
    "d4_simhash": q_simhash,
    "d7_simhash_candidates": q_simhash_candidates,
    "d5_lsh_pairs": q_lsh_pairs,
    "s1_cosine_topk": q_cosine_topk,
    "s2_ann_bucketed": q_ann_bucketed,
    "s2b_ann_exhaustive": q_ann_exhaustive,
    "s3_ivf_topk": q_ivf_topk,
    "s5_ann_recall": q_ann_recall,
    "d12_lsh_recall": q_lsh_recall,
    "d13_simhash_recall": q_simhash_recall,
    "d14_embedding_near_dup": q_embedding_near_dups,
    "e1_events_hourly": q_events_hourly,
    "e2_events_sessions": q_events_sessions,
    "a12_font_keys": q_font_keys,
    "a13_margins": q_margins,
    "a15_font_sets": q_font_sets,
    "a17_method_stats": q_method_stats,
    "w4_vertical_regions": q_vertical_regions,
    "w5_word_y_dist": q_word_y_dist,
    "a14_spacing_hist": q_spacing_hist,
    "v2_spacing_occurrences": q_spacing_occurrences,
    "r2_pattern_scan": q_pattern_scan,
    "a16_scan_statistics": q_scan_statistics,
    "a8_paragraph_stats": q_paragraph_stats,
    "p7_precision_reduce": q_precision_reduce,
    "o7_toc_heuristic": q_toc_heuristic,
    "j3_page_range": q_page_range,
    "m4_sampled_extraction": q_sampled_extraction,
    "m2_sample_stratified": q_sample_stratified,
    "m3_sample_toc": q_sample_toc,
    "m1_sample_hf_groups": q_sample_hf_groups,
    "a3_doc_stats": q_doc_stats,
    "a4_line_spacing": q_line_spacing_summary,
    "h3_contextual_candidates": q_contextual_candidates,
    "v1_range_match": q_range_match,
    "j2_method_compare": q_method_compare,
    "j2b_method_compare_3way": q_method_compare_3way,
    "h4_iterative_boundaries": q_h4_boundaries,
}


# ---------------------------------------------------------------- oracles

_SW = "the|a|of|and|to"

EXTRA_ORACLES = {
    "a18_token_counts": r"""
SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subtokens,
  CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
    "t1_quality": rf"""
SELECT doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / n_tokens AS mean_word_len,
  CAST(len(regexp_extract_all(lower(text), '\b({_SW})\b')) AS DOUBLE) / n_tokens AS stopword_ratio,
  CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / length(text) AS punct_ratio,
  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) AS alpha_ratio
FROM (
  SELECT *, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
)
""",
    "t2_lang_id": r"""
SELECT doc_id, lang,
  FIRST(code ORDER BY hits DESC, code ASC) AS pred_lang,
  CAST(FIRST(hits ORDER BY hits DESC, code ASC) AS BIGINT) AS hits
FROM (
  SELECT doc_id, lang, 'de' AS code,
    len(regexp_extract_all(lower(text), '\b(der|die|das|und|nicht)\b')) AS hits FROM documents
  UNION ALL
  SELECT doc_id, lang, 'en',
    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) FROM documents
  UNION ALL
  SELECT doc_id, lang, 'es',
    len(regexp_extract_all(lower(text), '\b(el|la|de|y|que)\b')) FROM documents
  UNION ALL
  SELECT doc_id, lang, 'fr',
    len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) FROM documents
) GROUP BY doc_id, lang
""",
    "d1_exact_dedup": r"""
WITH fp AS (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')))
      AS fingerprint
  FROM documents
), grp AS (
  SELECT fingerprint, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
  FROM fp GROUP BY fingerprint
)
SELECT f.doc_id, f.fingerprint, g.canonical_id,
  CAST(g.group_size AS BIGINT) AS group_size,
  f.doc_id <> g.canonical_id AS is_duplicate
FROM fp f JOIN grp g USING (fingerprint)
""",
    "d2_minhash_bands": _DOCS_TOKS_SQL + r"""
, seeded AS (
  SELECT doc_id, s.seed,
    MIN(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS min_hash
  FROM shingles, generate_series(0, 7) AS s(seed)
  GROUP BY doc_id, s.seed
)
SELECT doc_id, CAST(seed // 2 AS BIGINT) AS band_idx,
  md5(STRING_AGG(CAST(seed AS VARCHAR) || ':' || min_hash, '|' ORDER BY seed)) AS band_key
FROM seeded GROUP BY doc_id, seed // 2
""",
    "d3_ngram_jaccard": _DOCS_TOKS_SQL + r"""
, sh AS (SELECT * FROM shingles WHERE doc_id < 60),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, CAST(i.n_inter AS BIGINT) AS n_inter,
  CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
""",
    "d4_simhash": _DOCS_TOKS_SQL + r"""
, nib AS (
  SELECT doc_id, shingle, i.i AS nib_idx,
    strpos('0123456789abcdef', substr(md5(shingle), CAST(i.i AS INT), 1)) - 1 AS nv
  FROM shingles, generate_series(1, 16) AS i(i)
), bits AS (
  SELECT doc_id, (nib_idx - 1) * 4 + j.j AS bit_idx,
    CASE WHEN CAST(FLOOR(nv / POWER(2, 3 - j.j)) AS BIGINT) % 2 = 1
         THEN 1 ELSE -1 END AS vote
  FROM nib, generate_series(0, 3) AS j(j)
), sig AS (
  SELECT doc_id, bit_idx,
    CASE WHEN SUM(vote) > 0 THEN '1' ELSE '0' END AS bit
  FROM bits GROUP BY doc_id, bit_idx
)
SELECT doc_id, STRING_AGG(bit, '' ORDER BY bit_idx) AS simhash_bits
FROM sig GROUP BY doc_id
""",
    "s1_cosine_topk": f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id IN (0, 1, 2)
), sims AS (
  SELECT q.query_id, n.vec_id,
    list_dot_product(q.qv, n.v) / (q.qnrm * n.nrm) AS cosine
  FROM q JOIN n ON n.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
  {_sql_py_round('cosine * 1000000.0')} / 1000000.0 AS cosine_r
FROM ranked WHERE rank <= 5
""",
    "e1_events_hourly": f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  {_sql_py_round('SUM(value) * 10000.0')} / 10000.0 AS sum_value_r
FROM events GROUP BY 1, 2
""",
    "e2_events_sessions": """
WITH flagged AS (
  SELECT user_id, event_id,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
  CAST(SUM(new_session) + 1 AS BIGINT) AS n_sessions,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM flagged GROUP BY user_id
""",
    "a3_doc_stats": _LINES_SQL + f"""
, spos AS (
  SELECT url, font,
    {sql_round_to('rounded_size', 0.5)} AS size_r,
    page * 1000000000000 + line_id * 1000000 + seg_id AS pos
  FROM segs
), fstat AS (
  SELECT url, font, COUNT(*) AS cnt, MIN(pos) AS fp
  FROM spos GROUP BY url, font
), sstat AS (
  SELECT url, size_r, COUNT(*) AS cnt, MIN(pos) AS fp
  FROM spos GROUP BY url, size_r
)
SELECT f.url,
  f.most_common_font,
  CAST(f.total_segments AS BIGINT) AS total_segments,
  s.most_common_size
FROM (
  SELECT url, FIRST(font ORDER BY cnt DESC, fp ASC) AS most_common_font,
    SUM(cnt) AS total_segments
  FROM fstat GROUP BY url
) f JOIN (
  SELECT url, FIRST(size_r ORDER BY cnt DESC, fp ASC) AS most_common_size
  FROM sstat GROUP BY url
) s ON f.url = s.url
""",
    "a4_line_spacing": _LINES_SQL + f"""
, flat2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY page, line_number) AS pos
  FROM lines
), spd AS (
  SELECT url, {sql_round_to('gap_before', 0.5)} AS sp, COUNT(*) AS cnt, MIN(pos) AS fs
  FROM flat2 WHERE gap_before IS NOT NULL AND gap_before > 0
  GROUP BY url, {sql_round_to('gap_before', 0.5)}
)
SELECT a.url,
  COALESCE(n.mc, a.mc) AS most_common_spacing,
  CAST(COALESCE(n.mcc, a.mcc) AS BIGINT) AS most_common_spacing_count,
  CAST(a.total AS BIGINT) AS total_spacings
FROM (
  SELECT url, FIRST(sp ORDER BY cnt DESC, fs ASC) AS mc,
    FIRST(cnt ORDER BY cnt DESC, fs ASC) AS mcc, SUM(cnt) AS total
  FROM spd GROUP BY url
) a LEFT JOIN (
  SELECT url, FIRST(sp ORDER BY cnt DESC, fs ASC) AS mc,
    FIRST(cnt ORDER BY cnt DESC, fs ASC) AS mcc
  FROM spd WHERE sp > 0.01 GROUP BY url
) n ON a.url = n.url
""",
    "h3_contextual_candidates": _LINES_SQL + _RULES_SQL + f"""
, fbx AS (
  SELECT url,
    FIRST(range_hi ORDER BY total_gaps DESC, first_ctx_pos ASC) AS fb_hi,
    FIRST(para_spacing_max ORDER BY total_gaps DESC, first_ctx_pos ASC) AS fb_pmax
  FROM rules GROUP BY url
), zl3 AS (
  SELECT l.*, r.range_hi AS r_hi, r.para_spacing_max AS r_pmax,
    x.fb_hi, x.fb_pmax,
    LEAD(l.line_number) OVER wz IS NOT NULL AS has_next,
    LAG(l.line_number) OVER wz IS NOT NULL AS has_prev
  FROM lines l
  LEFT JOIN rules r ON l.url = r.url AND l.predominant_size = r.context_size
  LEFT JOIN fbx x ON l.url = x.url
  WINDOW wz AS (PARTITION BY l.url, l.page ORDER BY l.line_number)
)
SELECT url, page, 'header' AS side, bbot AS y_coord, gap_after AS gap,
  'Section' AS gap_type, line_number
FROM zl3
WHERE btop < 90.0 AND has_next AND gap_after IS NOT NULL
  AND COALESCE(r_hi, fb_hi) IS NOT NULL
  AND {sql_round_to('gap_after', 0.5)} > COALESCE(r_hi, fb_hi)
  AND {sql_round_to('gap_after', 0.5)} > COALESCE(r_pmax, fb_pmax)
UNION ALL
SELECT url, page, 'footer' AS side, btop AS y_coord, gap_before AS gap,
  'Section' AS gap_type, line_number
FROM zl3
WHERE bbot > 720.0 AND has_prev AND gap_before IS NOT NULL
  AND COALESCE(r_hi, fb_hi) IS NOT NULL
  AND {sql_round_to('gap_before', 0.5)} > COALESCE(r_hi, fb_hi)
  AND {sql_round_to('gap_before', 0.5)} > COALESCE(r_pmax, fb_pmax)
""",
    "v1_range_match": _LINES_SQL + f"""
, bucketed AS (
  SELECT url,
    CASE WHEN {sql_round_to('gap_before', 0.5)} <= 2.0 THEN 'tight'
         WHEN {sql_round_to('gap_before', 0.5)} >= 2.0
              AND {sql_round_to('gap_before', 0.5)} <= 8.0 THEN 'line'
         WHEN {sql_round_to('gap_before', 0.5)} >= 8.0
              AND {sql_round_to('gap_before', 0.5)} <= 16.0 THEN 'para'
         WHEN {sql_round_to('gap_before', 0.5)} >= 16.0 THEN 'wide'
         ELSE NULL END AS spacing_bucket
  FROM lines
)
SELECT url, spacing_bucket, CAST(COUNT(*) AS BIGINT) AS n
FROM bucketed GROUP BY url, spacing_bucket
""",
    # J2+C7: two clustering tolerances, positionally zipped. The 2.0-pt
    # variant reuses the same CTE chain with the y-tolerance replaced.
    "j2_method_compare": f"""
WITH la AS (
  SELECT url, page, line_number, text AS text_a
  FROM ( {_LINES_SQL} SELECT url, page, line_number, text FROM lines )
), lb AS (
  SELECT url, page, line_number, text AS text_b
  FROM ( {_LINES_SQL.replace("> 3.0", "> 2.0")} SELECT url, page, line_number, text FROM lines )
)
SELECT COALESCE(la.url, lb.url) AS url,
  COALESCE(la.page, lb.page) AS page,
  COALESCE(la.line_number, lb.line_number) AS line_number,
  la.text_a, lb.text_b
FROM la FULL OUTER JOIN lb
  ON la.url = lb.url AND la.page = lb.page AND la.line_number = lb.line_number
""",
    "a12_font_keys": WORDS_FROM_LINEITEM_SQL + """
, keyed AS (
  SELECT url, page,
    split_part(fontname, '-', 1) || '|' || CAST(size AS VARCHAR) || '|' ||
    (CASE WHEN contains(fontname, 'Bold') AND
               (contains(fontname, 'Italic') OR contains(fontname, 'Oblique'))
          THEN 'Bold+Italic'
          WHEN contains(fontname, 'Bold') THEN 'Bold'
          WHEN contains(fontname, 'Italic') OR contains(fontname, 'Oblique')
          THEN 'Italic'
          ELSE 'Regular' END) AS font_key
  FROM words
), agg AS (
  SELECT url, font_key, CAST(COUNT(*) AS BIGINT) AS n_words,
    CAST(COUNT(DISTINCT page) AS BIGINT) AS n_pages
  FROM keyed GROUP BY url, font_key
)
SELECT url, font_key, n_words, n_pages,
  CAST(ROW_NUMBER() OVER (PARTITION BY url ORDER BY n_words DESC, font_key ASC)
       AS BIGINT) AS rank
FROM agg
""",
    "a13_margins": WORDS_FROM_LINEITEM_SQL + """
SELECT url, page, MIN(x0) AS min_x0, MAX(x1) AS max_x1,
  MIN(top) AS min_top, MAX(bottom) AS max_bottom
FROM words GROUP BY url, page
""",
    "a15_font_sets": WORDS_FROM_LINEITEM_SQL + """
SELECT url, fontname AS font,
  STRING_AGG(DISTINCT CAST(size AS VARCHAR), ',' ORDER BY CAST(size AS VARCHAR))
    AS sizes
FROM words GROUP BY url, fontname
""",
    "a17_method_stats": _LINES_SQL + """
, per_page AS (
  SELECT url, page, COUNT(*) AS n_lines FROM lines GROUP BY url, page
)
SELECT url, CAST(COUNT(*) AS BIGINT) AS n_pages,
  CAST(SUM(n_lines) AS BIGINT) AS n_lines,
  AVG(n_lines) AS avg_lines_per_page
FROM per_page GROUP BY url
""",
    "w4_vertical_regions": _LINES_SQL + """
SELECT url, page, line_number,
  btop - COALESCE(LAG(bbot) OVER (PARTITION BY url, page ORDER BY line_number), 0.0)
    AS unused,
  bbot - btop AS used,
  bx0 AS left_indent,
  612.0 - bx1 AS right_indent
FROM lines
""",
    "w5_word_y_dist": WORDS_FROM_LINEITEM_SQL + """
SELECT url, page, word_idx,
  top - LAG(top) OVER w AS y0_dist,
  top - LAG(bottom) OVER w AS y_gap
FROM words
WINDOW w AS (PARTITION BY url, page ORDER BY top, word_idx)
""",
    "a14_spacing_hist": _LINES_SQL + f"""
, q AS (
  SELECT url, page,
    {sql_round_to('gap_before', 0.25)} AS unused_q
  FROM lines
)
SELECT url, unused_q, page, CAST(COUNT(*) AS BIGINT) AS n,
  CASE WHEN page IS NULL THEN 'doc' ELSE 'page' END AS level
FROM q
GROUP BY GROUPING SETS ((url, unused_q, page), (url, unused_q))
""",
    "v2_spacing_occurrences": _LINES_SQL + f"""
, per AS (
  SELECT url, {sql_round_to('gap_before', 0.5)} AS spacing,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM lines WHERE gap_before > 0
  GROUP BY url, {sql_round_to('gap_before', 0.5)}
)
SELECT url, spacing, n,
  CAST(ROW_NUMBER() OVER (PARTITION BY url ORDER BY n DESC, spacing ASC) AS BIGINT)
    AS color_rank
FROM per
""",
    "r2_pattern_scan": _LINES_SQL + r"""
, pats AS (
  SELECT * FROM (VALUES
    ('flag_token', 'token', '\b[ANR]\d+\b'),
    ('a_token', 'token', '\bA\d+\b'),
    ('token_pair', 'token', '[A-Z]\d+ [A-Z]\d+')
  ) AS t(pattern_name, pattern_type, rx)
)
SELECT l.url, p.pattern_name, p.pattern_type,
  CAST(SUM(len(regexp_extract_all(l.text, p.rx))) AS BIGINT) AS n_matches
FROM lines l CROSS JOIN pats p
WHERE trim(l.text) <> ''
GROUP BY l.url, p.pattern_name, p.pattern_type
HAVING SUM(len(regexp_extract_all(l.text, p.rx))) > 0
""",
    "m2_sample_stratified": """
WITH pages AS (
  SELECT 'd' || CAST(doc_id % 20 AS VARCHAR) AS url, CAST(doc_id AS INT) AS page
  FROM documents
), pos AS (
  SELECT url, page,
    ROW_NUMBER() OVER (PARTITION BY url ORDER BY page) AS rn,
    COUNT(*) OVER (PARTITION BY url) AS n
  FROM pages
), terced AS (
  SELECT *,
    LEAST(3, CAST(CEIL(rn * 3.0 / n) AS INT)) AS tercile,
    GREATEST(10, CAST(CEIL(n * 0.15) AS INT)) AS target
  FROM pos
), quota AS (
  SELECT *,
    CAST(CASE WHEN tercile = 1 THEN CEIL(target * 0.6)
              WHEN tercile = 2 THEN CEIL(target * 0.3)
              ELSE CEIL(target * 0.1) END AS INT) AS q,
    ROW_NUMBER() OVER (PARTITION BY url, tercile
      ORDER BY md5(url || ':' || CAST(page AS VARCHAR) || ':m2'), page) AS hr
  FROM terced
)
SELECT url, page, CAST(tercile AS BIGINT) AS tercile
FROM quota WHERE hr <= q
""",
    "m3_sample_toc": """
WITH pages AS (
  SELECT 'd' || CAST(doc_id % 20 AS VARCHAR) AS url, CAST(doc_id AS INT) AS page
  FROM documents
), pos AS (
  SELECT url, page, ROW_NUMBER() OVER (PARTITION BY url ORDER BY page) AS rn
  FROM pages
), tail AS (
  SELECT url, page,
    COUNT(*) OVER (PARTITION BY url) AS tn,
    ROW_NUMBER() OVER (PARTITION BY url
      ORDER BY md5(url || ':' || CAST(page AS VARCHAR) || ':m3'), page) AS hr
  FROM pos WHERE rn > 20
)
SELECT url, page, 'head' AS part FROM pos WHERE rn <= 20
UNION ALL
SELECT url, page, 'tail' AS part FROM tail WHERE hr <= CEIL(tn * 0.10)
""",
}


# exhaustive-probe IVF == brute force, so it shares s1's oracle verbatim
EXTRA_ORACLES["s3_ivf_topk"] = EXTRA_ORACLES["s1_cosine_topk"]

# single-bucket (n_planes=0) bucketed ANN is exhaustive -> also s1's oracle
EXTRA_ORACLES["s2b_ann_exhaustive"] = EXTRA_ORACLES["s1_cosine_topk"]

# d5: deterministic band self-join — value-oracled end to end (the bands
# CTE repeats the d2 oracle verbatim, then pairs = shared-band equi-join)
EXTRA_ORACLES["d5_lsh_pairs"] = _DOCS_TOKS_SQL + r"""
, seeded AS (
  SELECT doc_id, s.seed,
    MIN(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS min_hash
  FROM shingles, generate_series(0, 7) AS s(seed)
  GROUP BY doc_id, s.seed
), bands AS (
  SELECT doc_id, CAST(seed // 2 AS BIGINT) AS band_idx,
    md5(STRING_AGG(CAST(seed AS VARCHAR) || ':' || min_hash, '|' ORDER BY seed)) AS band_key
  FROM seeded GROUP BY doc_id, seed // 2
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(COUNT(*) AS BIGINT) AS shared_bands
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


# s2/s5: the hyperplane LSH bucketing (similarity.plane_sign — md5-parity
# signs, so DuckDB can replay it exactly). Embeddings are 64-dim at every
# SF (TESTDATA.md); 6 planes mirrors the s2 query's n_planes=6.
_ANN_BUCKET_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
), planes AS (
  SELECT pp.p AS p,
    LIST(CASE WHEN strpos('02468ace',
                substr(md5('plane:' || pp.p || ':' || dd.d), 1, 1)) > 0
         THEN 1.0 ELSE -1.0 END ORDER BY dd.d) AS pv
  FROM generate_series(0, 5) AS pp(p), generate_series(0, 63) AS dd(d)
  GROUP BY pp.p
), pbits AS (
  SELECT n.vec_id, planes.p,
    CASE WHEN list_dot_product(n.v, planes.pv) >= 0 THEN '1' ELSE '0'
    END AS bit
  FROM n, planes
), bk AS (
  SELECT vec_id, STRING_AGG(bit, '' ORDER BY p) AS bucket
  FROM pbits GROUP BY vec_id
), nb AS (
  SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk USING (vec_id)
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket
  FROM nb WHERE vec_id IN (0, 1, 2)
), bsims AS (
  SELECT q.query_id, nb.vec_id,
    list_dot_product(q.qv, nb.v) / (q.qnrm * nb.nrm) AS cosine
  FROM q JOIN nb ON nb.bucket = q.bucket AND nb.vec_id <> q.query_id
), branked AS (
  SELECT query_id, vec_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM bsims
)
"""

EXTRA_ORACLES["s2_ann_bucketed"] = _ANN_BUCKET_SQL + f"""
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
  {_sql_py_round('cosine * 1000000.0')} / 1000000.0 AS cosine_r
FROM branked WHERE rank <= 5
"""

# s5 mirrors bucketed_topk(n_planes=6, n_tables=16): table t = planes
# 6t..6t+5, candidates unioned across tables (DISTINCT), then exact
# cosine top-5 inside the candidate set vs brute-force truth.
EXTRA_ORACLES["s5_ann_recall"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
), planes AS (
  SELECT pp.p AS p,
    LIST(CASE WHEN strpos('02468ace',
                substr(md5('plane:' || pp.p || ':' || dd.d), 1, 1)) > 0
         THEN 1.0 ELSE -1.0 END ORDER BY dd.d) AS pv
  FROM generate_series(0, 95) AS pp(p), generate_series(0, 63) AS dd(d)
  GROUP BY pp.p
), pbits AS (
  SELECT n.vec_id, planes.p,
    CASE WHEN list_dot_product(n.v, planes.pv) >= 0 THEN '1' ELSE '0'
    END AS bit
  FROM n, planes
), bkm AS (
  SELECT vec_id, CAST(p // 6 AS BIGINT) AS table_idx,
    STRING_AGG(bit, '' ORDER BY p) AS bucket
  FROM pbits GROUP BY vec_id, p // 6
), qm AS (
  SELECT vec_id AS query_id, table_idx, bucket
  FROM bkm WHERE vec_id IN (0, 1, 2)
), candm AS (
  SELECT DISTINCT q.query_id, b.vec_id
  FROM qm q JOIN bkm b
    ON b.table_idx = q.table_idx AND b.bucket = q.bucket
    AND b.vec_id <> q.query_id
), bsims AS (
  SELECT c.query_id, c.vec_id,
    list_dot_product(nq.v, nv.v) / (nq.nrm * nv.nrm) AS cosine
  FROM candm c
  JOIN n nq ON nq.vec_id = c.query_id
  JOIN n nv ON nv.vec_id = c.vec_id
), branked AS (
  SELECT query_id, vec_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM bsims
), fsims AS (
  SELECT nq.vec_id AS query_id, nv.vec_id,
    list_dot_product(nq.v, nv.v) / (nq.nrm * nv.nrm) AS cosine
  FROM n nq JOIN n nv ON nv.vec_id <> nq.vec_id
  WHERE nq.vec_id IN (0, 1, 2)
), franked AS (
  SELECT query_id, vec_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM fsims
), truth AS (
  SELECT query_id, vec_id FROM franked WHERE rank <= 5
), approx AS (
  SELECT query_id, vec_id FROM branked WHERE rank <= 5
), nt AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
  FROM truth GROUP BY query_id
), nh AS (
  SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM truth t JOIN approx a USING (query_id, vec_id) GROUP BY t.query_id
)
SELECT nt.query_id, nt.n_truth,
  CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
  ROUND(CAST(COALESCE(nh.n_hits, 0) AS DOUBLE) / nt.n_truth, 4) AS recall_r
FROM nt LEFT JOIN nh USING (query_id)
"""

# d14: embedding-cosine near-dup pairs — the multi-table bucketing of s5
# (8 tables here: planes 0..47, table t = planes 6t..6t+5), pair
# candidates from the (table_idx, bucket) self-join, exact cosine >= 0.30.
EXTRA_ORACLES["d14_embedding_near_dup"] = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
), planes AS (
  SELECT pp.p AS p,
    LIST(CASE WHEN strpos('02468ace',
                substr(md5('plane:' || pp.p || ':' || dd.d), 1, 1)) > 0
         THEN 1.0 ELSE -1.0 END ORDER BY dd.d) AS pv
  FROM generate_series(0, 47) AS pp(p), generate_series(0, 63) AS dd(d)
  GROUP BY pp.p
), pbits AS (
  SELECT n.vec_id, planes.p,
    CASE WHEN list_dot_product(n.v, planes.pv) >= 0 THEN '1' ELSE '0'
    END AS bit
  FROM n, planes
), bkm AS (
  SELECT vec_id, CAST(p // 6 AS BIGINT) AS table_idx,
    STRING_AGG(bit, '' ORDER BY p) AS bucket
  FROM pbits GROUP BY vec_id, p // 6
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bkm a JOIN bkm b
    ON a.table_idx = b.table_idx AND a.bucket = b.bucket
    AND a.vec_id < b.vec_id
), sims AS (
  SELECT c.vec_a, c.vec_b,
    list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) AS cosine
  FROM cand c
  JOIN n na ON na.vec_id = c.vec_a
  JOIN n nb ON nb.vec_id = c.vec_b
)
SELECT vec_a, vec_b,
  {_sql_py_round('cosine * 1000000.0')} / 1000000.0 AS cosine_r
FROM sims WHERE cosine >= 0.30
"""


# d12/d13: candidate recall vs exact Jaccard >= 0.5 ground truth on the
# d3 bounded id range. The truth CTE repeats the d3 chain; the candidate
# CTE repeats the d5 band chain (d12) / d7 pigeonhole chain (d13).
_JACCARD_TRUTH_SQL = _DOCS_TOKS_SQL + """
, sh AS (SELECT * FROM shingles WHERE doc_id < 500),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nbs ON nbs.doc_id = i.doc_b
  WHERE CAST(i.n_inter AS DOUBLE) / (na.n + nbs.n - i.n_inter) >= 0.5
)
"""

_PAIR_RECALL_TAIL_SQL = """
, hits AS (
  SELECT t.doc_a, t.doc_b
  FROM truth t JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
  CASE WHEN (SELECT COUNT(*) FROM truth) > 0
       THEN ROUND(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                  / (SELECT COUNT(*) FROM truth), 4)
       END AS recall_r
"""

EXTRA_ORACLES["d12_lsh_recall"] = _JACCARD_TRUTH_SQL + """
, seeded AS (
  SELECT doc_id, s.seed,
    MIN(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS min_hash
  FROM shingles, generate_series(0, 7) AS s(seed)
  GROUP BY doc_id, s.seed
), bands AS (
  SELECT doc_id, CAST(seed // 2 AS BIGINT) AS band_idx,
    md5(STRING_AGG(CAST(seed AS VARCHAR) || ':' || min_hash,
        '|' ORDER BY seed)) AS band_key
  FROM seeded GROUP BY doc_id, seed // 2
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id
  WHERE a.doc_id < 500 AND b.doc_id < 500
)
""" + _PAIR_RECALL_TAIL_SQL

EXTRA_ORACLES["d13_simhash_recall"] = _JACCARD_TRUTH_SQL + """
, nib AS (
  SELECT doc_id, shingle, i.i AS nib_idx,
    strpos('0123456789abcdef',
           substr(md5(shingle), CAST(i.i AS INT), 1)) - 1 AS nv
  FROM shingles, generate_series(1, 16) AS i(i)
), bits AS (
  SELECT doc_id, (nib_idx - 1) * 4 + j.j AS bit_idx,
    CASE WHEN CAST(FLOOR(nv / POWER(2, 3 - j.j)) AS BIGINT) % 2 = 1
         THEN 1 ELSE -1 END AS vote
  FROM nib, generate_series(0, 3) AS j(j)
), sigb AS (
  SELECT doc_id, bit_idx,
    CASE WHEN SUM(vote) > 0 THEN '1' ELSE '0' END AS bit
  FROM bits GROUP BY doc_id, bit_idx
), sig AS (
  SELECT doc_id, STRING_AGG(bit, '' ORDER BY bit_idx) AS sb
  FROM sigb GROUP BY doc_id
), chunked AS (
  SELECT doc_id, sb, c.c AS chunk_idx,
    substr(sb, CAST(c.c AS INT) * 16 + 1, 16) AS chunk
  FROM sig, generate_series(0, 3) AS c(c)
), scand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.sb AS ba, b.sb AS bb
  FROM chunked a JOIN chunked b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
    AND a.doc_id < b.doc_id
), ham AS (
  SELECT doc_a, doc_b,
    (SELECT CAST(SUM(CASE WHEN substr(ba, CAST(p.p AS INT), 1)
                       <> substr(bb, CAST(p.p AS INT), 1)
                     THEN 1 ELSE 0 END) AS BIGINT)
     FROM generate_series(1, 64) AS p(p)) AS hamming
  FROM scand
), cand AS (
  SELECT doc_a, doc_b FROM ham
  WHERE hamming <= 3 AND doc_a < 500 AND doc_b < 500
)
""" + _PAIR_RECALL_TAIL_SQL


# d8: the composed near-dup scale path (bands -> candidates -> df-capped
# Jaccard verify -> connected-component canonical). The oracle repeats the
# d5 band/pair chain, then unrolls min-label propagation for _CC_ROUNDS
# rounds — a fixpoint once every dup-cluster diameter <= _CC_ROUNDS, which
# the synthetic corpus satisfies (Spark side iterates to convergence, so
# extra rounds are idempotent).
_CC_ROUNDS = 5


def q_near_dup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.near_dup_pipeline(load_table(spark, sf_dir, "documents"))


def _near_dup_oracle(survivor: str = "min_id") -> str:
    rounds = ""
    for i in range(_CC_ROUNDS):
        rounds += f"""
, l{i + 1} AS (
  SELECT l.doc_id, LEAST(l.rep, COALESCE(MIN(r.rep), l.rep)) AS rep
  FROM l{i} l
  LEFT JOIN edges e ON e.src = l.doc_id
  LEFT JOIN l{i} r ON r.doc_id = e.dst
  GROUP BY l.doc_id, l.rep
)"""
    return _DOCS_TOKS_SQL + r"""
, seeded AS (
  SELECT doc_id, s.seed,
    MIN(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS min_hash
  FROM shingles, generate_series(0, 7) AS s(seed)
  GROUP BY doc_id, s.seed
), bands AS (
  SELECT doc_id, CAST(seed // 2 AS BIGINT) AS band_idx,
    md5(STRING_AGG(CAST(seed AS VARCHAR) || ':' || min_hash, '|' ORDER BY seed)) AS band_key
  FROM seeded GROUP BY doc_id, seed // 2
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
), capped AS (
  SELECT s.* FROM shingles s JOIN (
    SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) <= 1000
  ) f USING (shingle)
), inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN capped a ON a.doc_id = c.doc_a
  JOIN capped b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
), verified AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter) >= 0.5
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM verified
), l0 AS (
  SELECT doc_id, doc_id AS rep FROM documents
)""" + rounds + (
        f"""
SELECT doc_id, rep AS canonical_id, rep <> doc_id AS is_duplicate
FROM l{_CC_ROUNDS}
"""
        if survivor == "min_id"
        else f"""
, lens AS (
  SELECT doc_id, LENGTH(COALESCE(text, '')) AS len FROM documents
), fin AS (
  SELECT l.doc_id,
    FIRST_VALUE(l.doc_id) OVER (
      PARTITION BY l.rep ORDER BY lens.len DESC, l.doc_id ASC
    ) AS canonical_id
  FROM l{_CC_ROUNDS} l JOIN lens ON lens.doc_id = l.doc_id
)
SELECT doc_id, canonical_id, doc_id <> canonical_id AS is_duplicate
FROM fin
"""
    )


# ------------------------------------------------- round-1 late additions


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact baseline, bounded id range);
    scale path = similarity.embedding_neardup_lsh (bucket join)."""
    out = similarity.embedding_neardup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, max_vec_id=200
    )
    return out.select(
        "vec_a", "vec_b",
        (py_round(F.col("cosine") * 1000000.0) / 1000000.0).alias("cosine_r"),
    )


def q_char_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: char-class run segmentation (lag+cumsum sessionization at char
    granularity) over the first 20 documents."""
    return text_analysis.char_runs(
        load_table(spark, sf_dir, "documents"), max_doc_id=20
    )


def q_attribute_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 (word_attrib.py:5-51): non-null occurrence count per word
    attribute."""
    return stats.attribute_profile(words_from_lineitem(spark, sf_dir))


def q_match_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 (document_scanner.py:443-493): matches grouped by pattern type
    with sorted distinct examples (joined to a string for hashing)."""
    from .operators.patterns import group_matches_for_review

    m = scan_patterns(_contract_lines(spark, sf_dir), registry=_TEST_PATTERNS)
    g = group_matches_for_review(m)
    return g.select(
        "pattern_type", "pattern_name", "n",
        F.concat_ws("|", "examples").alias("examples"),
    )


# Deterministic heading corpus (the reference's 5 document-type examples,
# tests/unit/test_pattern_comprehensive.py:13-110) used to value-verify
# the FULL 32-pattern registry through the driver's DuckDB gate.
_R1_CORPUS = [
    "1 Introduction", "2 Related Work", "2.1 Background", "3.2 Analysis Framework",
    "9.3.4.6Byte stuffing process", "A.1Requirements on video decoder",
    "A.2.1Baseline profile", "Annex A", "Figure 9-11 – Flowchart",
    "Table 7-2: Motion vectors",
    "I. Definitions", "II. Terms and Conditions", "III. Liability",
    "A. General Provisions", "1. Scope of Agreement", "a. Due dates",
    "(i) First violation", "(ii) Subsequent violations",
    "Chapter 1: Getting Started", "Section 2.1 Installation",
    "Appendix A: Troubleshooting", "Part I: Executive Summary",
    "1.1 Background", "i introduction", "ii analysis",
    "A.1 Overview", "2.3B Analysis", "A1 Introduction", "B2Overview",
    "II Analysis", "A Introduction", "(a) introduction",
    "Table of Contents", "List of Figures", "List of Tables",
    "1.2 Overview ....... 17", "3.1 Methods 42",
    "see Figure 4-2 for details", "as shown in Table 9",
    "17", "Page 3 of 10",
]


def q_full_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: the full 32-pattern registry over the reference heading corpus
    (one row per (line, pattern, match); every pattern family exercised)."""
    from .operators.patterns import PATTERN_REGISTRY

    rows = [(i + 1, t) for i, t in enumerate(_R1_CORPUS)]
    df = (
        spark.createDataFrame(rows, "line_number int, text string")
        .withColumn("url", F.lit("corpus"))
        .withColumn("page", F.lit(1))
    )
    m = scan_patterns(df, registry=PATTERN_REGISTRY)
    return m.select("line_text", "pattern_name", "pattern_type", "match")


def _r1_oracle_sql() -> str:
    from .operators.patterns import PATTERN_REGISTRY

    corpus = ", ".join(f"('{t}')" for t in _R1_CORPUS)
    pats = ", ".join(
        f"('{n}', '{d.pattern_type}', '{d.regex}')"
        for n, d in PATTERN_REGISTRY.items()
    )
    return f"""
WITH corpus(text) AS (VALUES {corpus}),
pats(pattern_name, pattern_type, rx) AS (VALUES {pats})
SELECT c.text AS line_text, p.pattern_name, p.pattern_type,
  unnest(regexp_extract_all(c.text, p.rx)) AS match
FROM corpus c CROSS JOIN pats p
"""


# S5 fixture docs (deterministic renderer: geometry computable by hand,
# see sources/render.py module docstring). The oracle is a GOLDEN VALUES
# list: hand-derived from the documented box model (h1 top=96, line
# height 1.2*size, p word gap 0.3*size, img 144x72, hr 1pt + 4pt gaps).
_S5_DOCS = [
    ("s5a", "<header>Site Nav</header><h1>Title Here</h1>"
            "<p>Intro with <a>link text</a> inside.</p><img/><hr/>"
            "<p>After rule.</p><footer>Footer One</footer>"),
    ("s5b", "<h2>Other Heading</h2><hr/><p><a>a b</a> c</p>"),
]


def q_s5_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (get_vectors.py:36-111): non-text object scan — images,
    hyperlink rects, <hr> lines, image edges — per page in y0 order."""
    from .sources.tokenizer import extract_objects

    pages = spark.createDataFrame(
        [(u, h.encode()) for u, h in _S5_DOCS], "url string, html binary"
    )
    return extract_objects(pages).select(
        "url", "page",
        F.col("obj_idx").cast("long").alias("obj_idx"),
        "obj_type", "x0", "x1", "top", "bottom", "meta",
    )


_S5_ORACLE = """
SELECT * FROM (VALUES
  ('s5a', 1, CAST(0 AS BIGINT), 'hyperlink', 123.0, 166.0, 123.6, 133.6, ''),
  ('s5a', 1, CAST(1 AS BIGINT), 'edge',       72.0, 216.0, 135.6, 135.6, 'h'),
  ('s5a', 1, CAST(2 AS BIGINT), 'edge',       72.0,  72.0, 135.6, 207.6, 'v'),
  ('s5a', 1, CAST(3 AS BIGINT), 'image',      72.0, 216.0, 135.6, 207.6, ''),
  ('s5a', 1, CAST(4 AS BIGINT), 'edge',      216.0, 216.0, 135.6, 207.6, 'v'),
  ('s5a', 1, CAST(5 AS BIGINT), 'edge',       72.0, 216.0, 207.6, 207.6, 'h'),
  ('s5a', 1, CAST(6 AS BIGINT), 'line',       72.0, 540.0, 211.6, 212.6, ''),
  ('s5b', 1, CAST(0 AS BIGINT), 'line',       72.0, 540.0, 110.8, 111.8, ''),
  ('s5b', 1, CAST(1 AS BIGINT), 'hyperlink',  72.0,  85.0, 121.8, 131.8, '')
) AS t(url, page, obj_idx, obj_type, x0, x1, top, bottom, meta)
"""


def q_combined_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 (extractor.py:417-460): x-tolerance word merging over the
    tight-pitch words geometry (the only one where merges can occur)."""
    from .operators import assign_line_ids_window, combine_words_x

    words = words_from_lineitem(spark, sf_dir, tight_x=True)
    merged = combine_words_x(assign_line_ids_window(words))
    return merged.select(
        "url", "page", "line_id",
        F.col("word_idx").cast("long").alias("word_idx"),
        "text", "x0", "x1", "fontname", "size",
    )


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling k-gram hashes, window-min
    selection) over a bounded doc range."""
    return text_analysis.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=8, w=4, max_doc_id=50
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (rolling-hash family): md5 over
    O3-normalized text + bucket prefix."""
    return text_analysis.fingerprints(load_table(spark, sf_dir, "documents"))


EXTRA_QUERIES.update({
    "r1_full_registry": q_full_registry,
    "s5_objects": q_s5_objects,
    "c2_combined_words": q_combined_words,
    "d6_embedding_neardup": q_embedding_neardup,
    "c8_char_runs": q_char_runs,
    "s6_attribute_profile": q_attribute_profile,
    "r4_match_groups": q_match_groups,
    "t3_fingerprints": q_fingerprints,
    "t4_winnowing": q_winnowing,
    "d8_near_dup_pipeline": q_near_dup_pipeline,
})

EXTRA_ORACLES["d8_near_dup_pipeline"] = _near_dup_oracle()

EXTRA_ORACLES.update({
    "a16_scan_statistics": _LINES_SQL + r"""
, pats AS (
  SELECT * FROM (VALUES
    ('flag_token', 'token', '\b[ANR]\d+\b'),
    ('a_token', 'token', '\bA\d+\b'),
    ('token_pair', 'token', '[A-Z]\d+ [A-Z]\d+')
  ) AS t(pattern_name, pattern_type, rx)
), m AS (
  SELECT p.pattern_name, p.pattern_type,
    l.url || '#' || CAST(l.page AS VARCHAR) AS pg,
    unnest(regexp_extract_all(l.text, p.rx)) AS match
  FROM lines l CROSS JOIN pats p
  WHERE trim(l.text) <> ''
)
SELECT pattern_name, pattern_type,
  CAST(COUNT(*) AS BIGINT) AS total_matches,
  CAST(COUNT(DISTINCT pg) AS BIGINT) AS pages_with_matches
FROM m GROUP BY pattern_name, pattern_type
""",
    "m4_sampled_extraction": f"""
WITH sel AS ({EXTRA_ORACLES['m3_sample_toc']})
SELECT s.url, s.page, s.part,
  CAST(length(d.text) AS BIGINT) AS n_chars
FROM sel s JOIN documents d ON d.doc_id = s.page
""",
    "r1_full_registry": _r1_oracle_sql(),
    "s5_objects": _S5_ORACLE,
    "c2_combined_words": WORDS_TIGHT_SQL + _LINED_FRAGMENT + """
, cgrp AS (
  SELECT *, SUM(CASE WHEN lag_x1 IS NOT NULL AND ABS(x0 - lag_x1) <= 3.0
                     THEN 0 ELSE 1 END)
    OVER (PARTITION BY url, page, line_id ORDER BY x0, word_idx
          ROWS UNBOUNDED PRECEDING) AS grp
  FROM (
    SELECT *, LAG(x1) OVER (PARTITION BY url, page, line_id
                            ORDER BY x0, word_idx) AS lag_x1
    FROM lined
  )
)
SELECT url, page, line_id,
  CAST(FIRST(word_idx ORDER BY x0, word_idx) AS BIGINT) AS word_idx,
  STRING_AGG(text, '' ORDER BY x0, word_idx) AS text,
  MIN(x0) AS x0,
  FIRST(x1 ORDER BY x0 DESC, word_idx DESC) AS x1,
  FIRST(fontname ORDER BY x0, word_idx) AS fontname,
  FIRST(size ORDER BY x0, word_idx) AS size
FROM cgrp GROUP BY url, page, line_id, grp
""",
    "d7_simhash_candidates": _DOCS_TOKS_SQL + r"""
, nib AS (
  SELECT doc_id, shingle, i.i AS nib_idx,
    strpos('0123456789abcdef', substr(md5(shingle), CAST(i.i AS INT), 1)) - 1 AS nv
  FROM shingles, generate_series(1, 16) AS i(i)
), bits AS (
  SELECT doc_id, (nib_idx - 1) * 4 + j.j AS bit_idx,
    CASE WHEN CAST(FLOOR(nv / POWER(2, 3 - j.j)) AS BIGINT) % 2 = 1
         THEN 1 ELSE -1 END AS vote
  FROM nib, generate_series(0, 3) AS j(j)
), sigb AS (
  SELECT doc_id, bit_idx,
    CASE WHEN SUM(vote) > 0 THEN '1' ELSE '0' END AS bit
  FROM bits GROUP BY doc_id, bit_idx
), sig AS (
  SELECT doc_id, STRING_AGG(bit, '' ORDER BY bit_idx) AS sb
  FROM sigb GROUP BY doc_id
), chunked AS (
  SELECT doc_id, sb, c.c AS chunk_idx, substr(sb, CAST(c.c AS INT) * 16 + 1, 16) AS chunk
  FROM sig, generate_series(0, 3) AS c(c)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sb AS ba, b.sb AS bb
  FROM chunked a JOIN chunked b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
), ham AS (
  SELECT doc_a, doc_b,
    (SELECT CAST(SUM(CASE WHEN substr(ba, CAST(p.p AS INT), 1)
                        <> substr(bb, CAST(p.p AS INT), 1) THEN 1 ELSE 0 END) AS BIGINT)
     FROM generate_series(1, 64) AS p(p)) AS hamming
  FROM cand
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
""",
    "o7_toc_heuristic": r"""
WITH t(text) AS (VALUES ('Introduction ........ 3'), ('2.1 Background .... 17'), ('No dots here 42'), ('Dots ... but no page num'), ('Chapter body text about nothing'), ('Appendix C ...... 210'), ('trailing dots page ... 9 extra'))
SELECT text,
  contains(text, '...')
  AND regexp_matches(
        list_extract(regexp_split_to_array(trim(text), '\s+'), -1), '^\d+$')
  AS is_toc
FROM t
""",
    "j3_page_range": WORDS_FROM_LINEITEM_SQL + """
SELECT url, page, CAST(COUNT(*) AS BIGINT) AS n_words
FROM words WHERE page IN (1, 2)
GROUP BY url, page
""",
    "j2b_method_compare_3way": WORDS_TIGHT_SQL + _LINED_FRAGMENT + r"""
, lined2 AS (
  SELECT w.*, CAST(COALESCE(SUM(CASE WHEN w.top - w.lag_top > 2.0 THEN 1 ELSE 0 END)
    OVER (PARTITION BY w.url, w.page ORDER BY w.top, w.word_idx
          ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS line_id
  FROM (
    SELECT *, LAG(top) OVER (PARTITION BY url, page ORDER BY top, word_idx) AS lag_top
    FROM words
  ) w
), cgrp AS (
  SELECT *, SUM(CASE WHEN lag_x1 IS NOT NULL AND ABS(x0 - lag_x1) <= 3.0
                     THEN 0 ELSE 1 END)
    OVER (PARTITION BY url, page, line_id ORDER BY x0, word_idx
          ROWS UNBOUNDED PRECEDING) AS grp
  FROM (
    SELECT *, LAG(x1) OVER (PARTITION BY url, page, line_id
                            ORDER BY x0, word_idx) AS lag_x1
    FROM lined
  )
), merged AS (
  SELECT url, page, line_id, MIN(x0) AS x0,
    CAST(FIRST(word_idx ORDER BY x0, word_idx) AS BIGINT) AS word_idx,
    STRING_AGG(text, '' ORDER BY x0, word_idx) AS text
  FROM cgrp GROUP BY url, page, line_id, grp
), la AS (
  SELECT url, page,
    CAST(ROW_NUMBER() OVER (PARTITION BY url, page ORDER BY line_id) AS INT) AS line_number,
    text AS text_a
  FROM (SELECT url, page, line_id,
          STRING_AGG(text, ' ' ORDER BY x0, word_idx) AS text
        FROM lined GROUP BY url, page, line_id)
), lb AS (
  SELECT url, page,
    CAST(ROW_NUMBER() OVER (PARTITION BY url, page ORDER BY line_id) AS INT) AS line_number,
    text AS text_b
  FROM (SELECT url, page, line_id,
          STRING_AGG(text, ' ' ORDER BY x0, word_idx) AS text
        FROM lined2 GROUP BY url, page, line_id)
), lc AS (
  SELECT url, page,
    CAST(ROW_NUMBER() OVER (PARTITION BY url, page ORDER BY line_id) AS INT) AS line_number,
    text AS text_c
  FROM (SELECT url, page, line_id,
          STRING_AGG(text, ' ' ORDER BY x0, word_idx) AS text
        FROM merged GROUP BY url, page, line_id)
)
SELECT COALESCE(la.url, lb.url, lc.url) AS url,
  COALESCE(la.page, lb.page, lc.page) AS page,
  COALESCE(la.line_number, lb.line_number, lc.line_number) AS line_number,
  la.text_a, lb.text_b, lc.text_c
FROM la
FULL OUTER JOIN lb ON la.url = lb.url AND la.page = lb.page
  AND la.line_number = lb.line_number
FULL OUTER JOIN lc ON COALESCE(la.url, lb.url) = lc.url
  AND COALESCE(la.page, lb.page) = lc.page
  AND COALESCE(la.line_number, lb.line_number) = lc.line_number
""",
    "a8_paragraph_stats": _LINES_SQL + _RULES_SQL + f"""
, fb AS (
  SELECT url,
    FIRST(range_hi ORDER BY total_gaps DESC, first_ctx_pos ASC) AS fb_hi,
    FIRST(para_spacing_max ORDER BY total_gaps DESC, first_ctx_pos ASC) AS fb_pmax
  FROM rules GROUP BY url
), classified AS (
  SELECT l.url, l.gap_before,
    CASE WHEN COALESCE(r.range_hi, f.fb_hi) IS NULL THEN 'Line'
         WHEN {sql_round_to('l.gap_before', 0.5)} <= COALESCE(r.range_hi, f.fb_hi) THEN 'Line'
         WHEN {sql_round_to('l.gap_before', 0.5)} <= COALESCE(r.para_spacing_max, f.fb_pmax) THEN 'Paragraph'
         ELSE 'Section' END AS gap_type
  FROM lines l
  LEFT JOIN rules r ON l.url = r.url AND l.predominant_size = r.context_size
  LEFT JOIN fb f ON l.url = f.url
)
SELECT url, gap_type, CAST(COUNT(*) AS BIGINT) AS n,
  {_sql_py_round('SUM(gap_before) * 1000000.0')} / 1000000.0 AS sum_gap_r
FROM classified GROUP BY url, gap_type
""",
    "p7_precision_reduce": WORDS_FROM_LINEITEM_SQL + f"""
SELECT url, page,
  {_sql_py_round('MIN(x0) * 10.0')} / 10.0 AS min_x0,
  {_sql_py_round('MAX(x1) * 10.0')} / 10.0 AS max_x1,
  {_sql_py_round('MIN(top) * 10.0')} / 10.0 AS min_top,
  {_sql_py_round('MAX(bottom) * 10.0')} / 10.0 AS max_bottom
FROM words GROUP BY url, page
""",
    "t4_winnowing": r"""
WITH grams0 AS (
  SELECT doc_id, text, length(text) AS n,
    unnest(range(1, length(text) - 6)) AS i
  FROM documents WHERE doc_id < 50 AND length(text) >= 11
), grams AS (
  SELECT doc_id, CAST(i AS INT) AS i,
    md5(substr(text, CAST(i AS INT), 8)) AS h, n
  FROM grams0
), wins AS (
  SELECT doc_id, i,
    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
    n
  FROM grams
)
SELECT DISTINCT doc_id, fp AS fingerprint
FROM wins WHERE i <= n - 7 - 3
""",
    "d6_embedding_neardup": f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 200
), n AS (
  SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
), sims AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, {_sql_py_round('cosine * 1000000.0')} / 1000000.0 AS cosine_r
FROM sims WHERE cosine >= 0.4
""",
    "c8_char_runs": r"""
WITH chars AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text, '[\s\S]')) AS ch,
    unnest(range(0, len(regexp_extract_all(text, '[\s\S]')))) AS pos
  FROM documents WHERE doc_id < 20
), classed AS (
  SELECT doc_id, pos,
    CASE WHEN regexp_matches(ch, '[0-9]') THEN 'digit'
         WHEN regexp_matches(ch, '[A-Za-z]') THEN 'alpha'
         WHEN regexp_matches(ch, '\s') THEN 'space'
         ELSE 'punct' END AS cls
  FROM chars
), flagged AS (
  SELECT *, CASE WHEN LAG(cls) OVER w IS NULL OR LAG(cls) OVER w <> cls
                 THEN 1 ELSE 0 END AS is_new
  FROM classed WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), runs AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
)
SELECT doc_id, CAST(run_id AS BIGINT) AS run_id,
  FIRST(cls ORDER BY pos) AS char_class,
  CAST(COUNT(*) AS BIGINT) AS run_len,
  CAST(MIN(pos) AS BIGINT) AS run_start
FROM runs GROUP BY doc_id, run_id
""",
    "s6_attribute_profile": WORDS_FROM_LINEITEM_SQL + """
SELECT a.attribute, a.n_present FROM (
  SELECT 'url' AS attribute, CAST(COUNT(url) AS BIGINT) AS n_present FROM words
  UNION ALL SELECT 'page', COUNT(page) FROM words
  UNION ALL SELECT 'word_idx', COUNT(word_idx) FROM words
  UNION ALL SELECT 'text', COUNT(text) FROM words
  UNION ALL SELECT 'x0', COUNT(x0) FROM words
  UNION ALL SELECT 'x1', COUNT(x1) FROM words
  UNION ALL SELECT 'top', COUNT(top) FROM words
  UNION ALL SELECT 'bottom', COUNT(bottom) FROM words
  UNION ALL SELECT 'fontname', COUNT(fontname) FROM words
  UNION ALL SELECT 'size', COUNT(size) FROM words
  UNION ALL SELECT 'upright', COUNT(upright) FROM words
  UNION ALL SELECT 'page_width', COUNT(page_width) FROM words
  UNION ALL SELECT 'page_height', COUNT(page_height) FROM words
) a
""",
    "r4_match_groups": _LINES_SQL + r"""
, pats AS (
  SELECT * FROM (VALUES
    ('flag_token', 'token', '\b[ANR]\d+\b'),
    ('a_token', 'token', '\bA\d+\b'),
    ('token_pair', 'token', '[A-Z]\d+ [A-Z]\d+')
  ) AS t(pattern_name, pattern_type, rx)
), m AS (
  SELECT p.pattern_type, p.pattern_name,
    unnest(regexp_extract_all(l.text, p.rx)) AS match
  FROM lines l CROSS JOIN pats p
  WHERE trim(l.text) <> ''
)
SELECT pattern_type, pattern_name,
  CAST(COUNT(*) AS BIGINT) AS n,
  STRING_AGG(DISTINCT match, '|' ORDER BY match) AS examples
FROM m GROUP BY pattern_type, pattern_name
""",
    "t3_fingerprints": r"""
SELECT doc_id,
  md5(trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g'))) AS fingerprint,
  substr(md5(trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g'))), 1, 8) AS fp_bucket
FROM documents
""",
})


# ------------------------------------------------- webtext pipeline ops
# URL canonicalization/dedup, Gopher quality gates, C4 line filtering,
# PII scrubbing (operators/webtext.py). The url queries synthesize messy
# URLs deterministically from `documents` with the SAME expression on
# both engines (the words_from_lineitem pattern), so the thing under
# test is the canonicalization, not the synthesis.


def _messy_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url): four deterministic mess classes. Cases 0/2 share a
    fixed host and a doc_id%25 path so they collapse into real duplicate
    groups after canonicalization; case 1 keeps a non-default port; case
    3 exercises trailing-slash stripping."""
    g = (F.col("doc_id") % 25).cast("string")
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(
            F.lit("HTTPS://dup.Example.COM:443/a//b/"), g,
            F.lit("/?utm_source=feed&b=2&a=1#frag")))
        .when(m == 1, F.concat(
            F.lit("http://"), F.col("source"),
            F.lit(".example.com:8080/a/b/"), g))
        .when(m == 2, F.concat(
            F.lit("https://dup.example.com/a/b/"), g, F.lit("?a=1&b=2")))
        .otherwise(F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/a/b/"), g, F.lit("/")))
    )
    return docs.select("doc_id", url.alias("url"))


_MESSY_URLS_SQL = r"""
WITH messy AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTPS://dup.Example.COM:443/a//b/' || CAST(doc_id % 25 AS VARCHAR)
                  || '/?utm_source=feed&b=2&a=1#frag'
      WHEN 1 THEN 'http://' || source || '.example.com:8080/a/b/'
                  || CAST(doc_id % 25 AS VARCHAR)
      WHEN 2 THEN 'https://dup.example.com/a/b/' || CAST(doc_id % 25 AS VARCHAR)
                  || '?a=1&b=2'
      ELSE 'https://' || source || '.example.com/a/b/'
           || CAST(doc_id % 25 AS VARCHAR) || '/'
    END AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[^:]+://(?:[^/?#]*@)?(\[[^\]]+\]|[^/?#:@]+)', 1)) AS host,
    regexp_extract(url, '^[^:]+://(?:[^/?#]*@)?(?:\[[^\]]+\]|[^/?#:@]+):(\d+)', 1) AS port,
    regexp_extract(url, '^[^:]+://[^/?#]+([^?#]*)', 1) AS path,
    regexp_extract(url, '^[^#]*?\?([^#]*)', 1) AS query
  FROM messy
), canon AS (
  SELECT doc_id, url,
    scheme || '://' || host
    || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                 OR (scheme = 'https' AND port = '443')
            THEN '' ELSE ':' || port END
    || CASE WHEN regexp_replace(regexp_replace(path, '/{2,}', '/', 'g'), '/$', '') = ''
            THEN '/'
            ELSE regexp_replace(regexp_replace(path, '/{2,}', '/', 'g'), '/$', '') END
    || CASE WHEN len(list_filter(string_split(query, '&'),
                p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)=')))
              > 0
            THEN '?' || array_to_string(list_sort(list_filter(string_split(query, '&'),
                p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&')
            ELSE '' END AS canonical_url
  FROM parts
)
"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webtext import canonicalize_urls

    return canonicalize_urls(_messy_urls(load_table(spark, sf_dir, "documents")))


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webtext import url_dedup

    return url_dedup(_messy_urls(load_table(spark, sf_dir, "documents")))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webtext import gopher_quality

    return gopher_quality(load_table(spark, sf_dir, "documents"))


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .contract import q_line_text
    from .operators.webtext import c4_line_filter

    return c4_line_filter(q_line_text(spark, sf_dir))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webtext import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com at 10.2."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".7 or 555-123-4567 now"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return pii_scrub(injected)


EXTRA_QUERIES.update({
    "u1_url_canonical": q_url_canonical,
    "d9_url_dedup": q_url_dedup,
    "t5_gopher_quality": q_gopher_quality,
    "t6_c4_line_filter": q_c4_line_filter,
    "t7_pii_scrub": q_pii_scrub,
})

EXTRA_ORACLES.update({
    "u1_url_canonical": _MESSY_URLS_SQL + """
SELECT doc_id, url, canonical_url FROM canon
""",
    "d9_url_dedup": _MESSY_URLS_SQL + r"""
, grp AS (
  SELECT canonical_url, MIN(doc_id) AS canonical_id,
    CAST(COUNT(*) AS BIGINT) AS group_size
  FROM canon GROUP BY canonical_url
)
SELECT c.doc_id, c.canonical_url, g.canonical_id, g.group_size,
  c.doc_id <> g.canonical_id AS is_duplicate
FROM canon c JOIN grp g USING (canonical_url)
""",
    "t5_gopher_quality": r"""
WITH g AS (
  SELECT doc_id,
    regexp_split_to_array(trim(text), '\s+') AS toks,
    len(list_distinct(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b'))) AS stop_hits
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
      / len(toks) AS mean_word_len,
    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      / len(toks) AS alpha_word_frac,
    CAST(stop_hits AS BIGINT) AS stop_hits
  FROM g
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stop_hits,
  (n_words BETWEEN 50 AND 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND alpha_word_frac > 0.80 AND stop_hits >= 2) AS keep
FROM m
""",
    "t6_c4_line_filter": _LINES_SQL + r"""
, lt AS (
  SELECT url, page, line_id, text,
    len(regexp_split_to_array(trim(text), '\s+')) >= 3 AS _keep
  FROM line_text
)
SELECT url,
  CAST(SUM(CASE WHEN _keep THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
  CAST(SUM(CASE WHEN _keep THEN 0 ELSE 1 END) AS BIGINT) AS n_lines_dropped,
  COALESCE(STRING_AGG(CASE WHEN _keep THEN text END, chr(10)
                      ORDER BY page, line_id), '') AS kept_text
FROM lt GROUP BY url
""",
    "t7_pii_scrub": r"""
WITH injected AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN
      text || ' contact user' || CAST(doc_id AS VARCHAR)
      || '@example.com at 10.2.' || CAST(doc_id % 200 AS VARCHAR)
      || '.7 or 555-123-4567 now'
    ELSE text END AS text
  FROM documents
), s1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text,
      '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
    regexp_replace(text,
      '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM injected
), s2 AS (
  SELECT doc_id, n_emails,
    CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
    regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t
  FROM s1
)
SELECT doc_id,
  regexp_replace(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS scrubbed_text,
  n_emails, n_ips,
  CAST(len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phones
FROM s2
""",
})


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 (beyond ref, north-star phrase): cross-page repeated-span
    hashing over the contract lines — flags the per-page furniture lines
    by text repetition alone, no geometry."""
    from .operators.webtext import repeated_spans

    return repeated_spans(
        _contract_lines(spark, sf_dir).select("url", "page", "line_number", "text")
    )


EXTRA_QUERIES["h6_repeated_spans"] = q_repeated_spans
EXTRA_ORACLES["h6_repeated_spans"] = _LINES_SQL + r"""
, hashed AS (
  SELECT url, page, line_number,
    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS span_hash
  FROM lines
), np AS (
  SELECT url, COUNT(DISTINCT page) AS n_pages FROM hashed GROUP BY url
), sp AS (
  SELECT url, span_hash, CAST(COUNT(DISTINCT page) AS BIGINT) AS n_span_pages
  FROM hashed GROUP BY url, span_hash
)
SELECT h.url, h.page, h.line_number, h.span_hash, s.n_span_pages,
  s.n_span_pages >= GREATEST(3, CAST(CEIL(0.5 * np.n_pages) AS BIGINT))
    AS is_repeated_furniture
FROM hashed h
JOIN sp s USING (url, span_hash)
JOIN np USING (url)
"""


def q_block_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 (beyond ref, north-star phrase): text-density / link-density
    boilerplate classification per block. The synthetic corpus derives
    ``is_link`` deterministically (Helvetica words = link spans) so the
    thing under test is the density arithmetic and block membership, not
    the HTML tokenizer (which emits real is_link flags, tested in
    tests/test_webtext.py). The lines carry the per-line link stats, as
    extract_documents builds them with drop_boilerplate on."""
    from dataclasses import replace

    from .config import DEFAULT
    from .operators import contextual_spacing_rules, form_blocks
    from .operators.webtext import block_boilerplate
    from .plans.extract import lines_from_words

    words = words_from_lineitem(spark, sf_dir).withColumn(
        "is_link", F.col("fontname") == "Helvetica"
    )
    lines, _ = lines_from_words(words, replace(DEFAULT, drop_boilerplate=True))
    out = block_boilerplate(form_blocks(lines, contextual_spacing_rules(lines)))
    return out.select(
        "url", "page", F.col("block_id").cast("long").alias("block_id"),
        "n_words", "n_chars", "n_link_chars", "n_lines",
        "link_density", "text_density", "is_boilerplate",
    )


EXTRA_QUERIES["b1_block_boilerplate"] = q_block_boilerplate
EXTRA_ORACLES["b1_block_boilerplate"] = _LINES_SQL + _RULES_SQL + _BLOCKS_SQL + r"""
, line_wstats AS (
  SELECT url, page, line_id,
    CAST(SUM(LENGTH(text)) AS BIGINT) AS l_chars,
    CAST(SUM(CASE WHEN fontname = 'Helvetica' THEN LENGTH(text) ELSE 0 END)
      AS BIGINT) AS l_link_chars,
    CAST(COUNT(*) AS BIGINT) AS l_words
  FROM lined GROUP BY url, page, line_id
), bstats AS (
  SELECT b.url, b.page, b.block_id,
    CAST(SUM(s.l_words) AS BIGINT) AS n_words,
    CAST(SUM(s.l_chars) AS BIGINT) AS n_chars,
    CAST(SUM(s.l_link_chars) AS BIGINT) AS n_link_chars,
    CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM bl2 b JOIN line_wstats s USING (url, page, line_id)
  GROUP BY b.url, b.page, b.block_id
)
SELECT url, page, CAST(block_id AS BIGINT) AS block_id,
  n_words, n_chars, n_link_chars, n_lines,
  CAST(n_link_chars AS DOUBLE) / n_chars AS link_density,
  CAST(n_words AS DOUBLE) / n_lines AS text_density,
  (CAST(n_link_chars AS DOUBLE) / n_chars >= 0.33
   OR CAST(n_words AS DOUBLE) / n_lines < 2.0) AS is_boilerplate
FROM bstats
"""


# ------------------------------------------ crawl-curation additions (r3)


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl stats over the messy-url corpus (host skew finder:
    dup.example.com carries 10x the docs of every srcN host)."""
    from .operators.webtext import host_stats

    docs = load_table(spark, sf_dir, "documents")
    urls = _messy_urls(docs).join(docs.select("doc_id", "text"), "doc_id")
    return host_stats(urls)


def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-host document cap (two-level salted top-n; the
    selection is exactly the single-window answer)."""
    from .operators.webtext import cap_per_host

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_host(
        _messy_urls(docs), max_per_host=3
    ).select("doc_id", "host", "url")


def q_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc shared-span contamination over the winnowing selection
    (t4's fingerprints): fraction of a doc's fingerprints shared by >= 5
    docs; threshold 0.33 splits the corpus (non-vacuous flag)."""
    from .operators.text_analysis import shared_span_stats

    return shared_span_stats(
        load_table(spark, sf_dir, "documents"),
        min_docs=5, max_shared_frac=0.33, max_doc_id=50,
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates (top-2-gram + dup-5-gram char
    fractions); 0.08 top-gram threshold splits the corpus."""
    from .operators.text_analysis import repetition_stats

    return repetition_stats(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100),
        max_top_frac=0.08,
    )


EXTRA_QUERIES.update({
    "u2_host_stats": q_host_stats,
    "u3_host_cap": q_host_cap,
    "t8_shared_spans": q_shared_spans,
    "t9_repetition": q_repetition,
})

EXTRA_ORACLES.update({
    "u2_host_stats": _MESSY_URLS_SQL + r"""
, hosted AS (
  SELECT c.doc_id, lower(regexp_extract(c.url, '^[^:]+://(?:[^/?#]*@)?(\[[^\]]+\]|[^/?#:@]+)', 1)) AS host,
    c.canonical_url, length(d.text) AS chars
  FROM canon c JOIN documents d USING (doc_id)
)
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_canonical_urls,
  CAST(SUM(chars) AS BIGINT) AS total_chars,
  CAST(SUM(chars) AS DOUBLE) / COUNT(*) AS mean_chars
FROM hosted GROUP BY host
""",
    "u3_host_cap": _MESSY_URLS_SQL + r"""
SELECT doc_id, lower(regexp_extract(url, '^[^:]+://(?:[^/?#]*@)?(\[[^\]]+\]|[^/?#:@]+)', 1)) AS host, url
FROM messy
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY lower(regexp_extract(url, '^[^:]+://(?:[^/?#]*@)?(\[[^\]]+\]|[^/?#:@]+)', 1))
  ORDER BY doc_id) <= 3
""",
})

EXTRA_ORACLES["t8_shared_spans"] = f"""
WITH fps AS (SELECT * FROM ({EXTRA_ORACLES['t4_winnowing']}) _t),
dfc AS (
  SELECT fingerprint, COUNT(DISTINCT doc_id) AS dfd FROM fps GROUP BY fingerprint
),
per_doc AS (
  SELECT f.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
    CAST(SUM(CASE WHEN d.dfd >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM fps f JOIN dfc d USING (fingerprint) GROUP BY f.doc_id
)
SELECT doc_id, n_fingerprints, n_shared,
  CAST(n_shared AS DOUBLE) / n_fingerprints AS shared_frac,
  CAST(n_shared AS DOUBLE) / n_fingerprints >= 0.33 AS is_template_heavy
FROM per_doc
"""

EXTRA_ORACLES["t9_repetition"] = r"""
WITH base AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS doc_chars,
    regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE doc_id < 100
), tg0 AS (
  SELECT doc_id, doc_chars, toks, unnest(range(1, len(toks))) AS i
  FROM base WHERE len(toks) >= 2
), tg AS (
  SELECT doc_id, doc_chars,
    list_extract(toks, CAST(i AS INT)) || ' '
      || list_extract(toks, CAST(i AS INT) + 1) AS g
  FROM tg0
), dg0 AS (
  SELECT doc_id, doc_chars, toks, unnest(range(1, len(toks) - 3)) AS i
  FROM base WHERE len(toks) >= 5
), dg AS (
  SELECT doc_id, doc_chars,
    list_extract(toks, CAST(i AS INT)) || ' '
      || list_extract(toks, CAST(i AS INT) + 1) || ' '
      || list_extract(toks, CAST(i AS INT) + 2) || ' '
      || list_extract(toks, CAST(i AS INT) + 3) || ' '
      || list_extract(toks, CAST(i AS INT) + 4) AS g
  FROM dg0
), top AS (
  SELECT doc_id, doc_chars,
    FIRST(g ORDER BY c DESC, g DESC) AS top_gram,
    FIRST(CAST(length(g) AS BIGINT) * c ORDER BY c DESC, g DESC) AS top_chars
  FROM (SELECT doc_id, doc_chars, g, COUNT(*) AS c FROM tg GROUP BY 1, 2, 3)
  GROUP BY doc_id, doc_chars
), dup AS (
  SELECT doc_id, SUM(CAST(length(g) AS BIGINT) * c) AS dup_chars
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM dg GROUP BY 1, 2)
  WHERE c > 1 GROUP BY doc_id
)
SELECT t.doc_id, t.top_gram,
  CAST(t.top_chars AS DOUBLE) / t.doc_chars AS top_gram_frac,
  CAST(COALESCE(d.dup_chars, 0) AS DOUBLE) / t.doc_chars AS dup_gram_frac,
  (CAST(t.top_chars AS DOUBLE) / t.doc_chars <= 0.08
   AND CAST(COALESCE(d.dup_chars, 0) AS DOUBLE) / t.doc_chars <= 0.15) AS keep
FROM top t LEFT JOIN dup d USING (doc_id)
"""


# -------- chunk-level exact dedup + benchmark decontamination (round 3)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup (C4 span rule / Lee et al. ExactSubstr at
    20-word granularity): global first occurrence of every chunk wins,
    survivor text reassembled in order."""
    return dedup.paragraph_dedup(load_table(spark, sf_dir, "documents"),
                                 chunk_words=20)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 App. C rule): train docs sharing
    any word 4-gram with the held-out eval slice (doc_id % 97 == 0) are
    flagged. n=4 (not the paper's 13) so the synthetic corpus splits
    non-vacuously: 8 contaminated / 494 at sf0.01."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return dedup.decontaminate(tr, ev, n=4)


EXTRA_QUERIES.update({
    "d10_paragraph_dedup": q_paragraph_dedup,
    "t10_decontaminate": q_decontaminate,
})

EXTRA_ORACLES.update({
    "d10_paragraph_dedup": r"""
WITH toks AS (
  SELECT doc_id,
    regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents
), chunks AS (
  SELECT doc_id, i AS chunk_idx,
    array_to_string(t[i*20+1 : i*20+20], ' ') AS chunk_text
  FROM toks, unnest(generate_series(0, CAST(ceil(len(t)/20.0) AS BIGINT) - 1)) AS u(i)
), flagged AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_idx) = 1 AS keep
  FROM chunks
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_chunks_kept,
  COALESCE(STRING_AGG(CASE WHEN keep THEN chunk_text END, ' ' ORDER BY chunk_idx), '')
    AS deduped_text
FROM flagged GROUP BY doc_id
""",
    "t10_decontaminate": r"""
WITH toks AS (
  SELECT doc_id,
    regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 3)) AS i
        FROM toks WHERE len(t) >= 4)
), ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
hits AS (
  SELECT doc_id, COUNT(DISTINCT g) AS nh FROM grams
  WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM ev) GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_eval_ngrams_hit,
  COALESCE(h.nh, 0) > 0 AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 97 <> 0
""",
})


# -------- corpus mix rebalancing (round 3): plan + deterministic sample

from .operators.webtext import rate_threshold_hex as _thr_hex  # noqa: E402

_MIX_RATES = {"en": 0.5, "zh": 0.25}
_MIX_TARGETS = {"en": 0.4, "de": 0.2, "zh": 0.4}
_MIX_BUDGET = 30_000


def q_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling rates to hit a target token mix (en/de/zh
    shares of a 30k-char budget; es/fr excluded -> rate 0)."""
    from .operators.webtext import mix_plan

    return mix_plan(load_table(spark, sf_dir, "documents"),
                    targets=_MIX_TARGETS, token_budget=_MIX_BUDGET)


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-threshold stratified subsample (en halved, zh
    quartered, other languages kept)."""
    from .operators.webtext import mix_sample

    return mix_sample(load_table(spark, sf_dir, "documents"),
                      rates=_MIX_RATES, salt="mix1")


EXTRA_QUERIES.update({
    "m5_mix_plan": q_mix_plan,
    "m6_mix_sample": q_mix_sample,
})

_MIX_CASES = " ".join(
    f"WHEN lang = '{k}' THEN substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 8)"
    f" < '{_thr_hex(r)}'"
    for k, r in sorted(_MIX_RATES.items())
)
_PLAN_SHARES = " ".join(
    f"WHEN {k!r} THEN {v!r}" for k, v in sorted(_MIX_TARGETS.items())
)

EXTRA_ORACLES.update({
    "m5_mix_plan": f"""
WITH agg AS (
  SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS stratum_tokens
  FROM documents GROUP BY lang
)
SELECT stratum, n_docs, stratum_tokens,
  CASE WHEN share IS NULL THEN 0.0
       ELSE LEAST(1.0, share * {float(_MIX_BUDGET)!r} / stratum_tokens) END AS rate
FROM (SELECT *, CASE stratum {_PLAN_SHARES} END AS share FROM agg)
""",
    "m6_mix_sample": f"""
SELECT doc_id, lang,
  substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hash_prefix,
  CASE {_MIX_CASES} ELSE TRUE END AS keep
FROM documents
""",
})


# -------- sequence packing (round 3): distributed prefix sum


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token offsets + pack spans in doc_id order (seq_len 2048
    over the n_chars proxy). bucket_span=128 exercises the two-level
    prefix sum (4 buckets at sf0.01) rather than one degenerate bucket."""
    from .operators.webtext import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"),
                          seq_len=2048, bucket_span=128)


EXTRA_QUERIES["t11_sequence_packing"] = q_sequence_packing

EXTRA_ORACLES["t11_sequence_packing"] = r"""
WITH o AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_tokens,
    CAST(COALESCE(SUM(n_chars) OVER (
      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS BIGINT) AS token_offset
  FROM documents
)
SELECT doc_id, n_tokens, token_offset,
  token_offset // 2048 AS first_pack,
  CASE WHEN n_tokens > 0 THEN (token_offset + n_tokens - 1) // 2048
       ELSE token_offset // 2048 END AS last_pack
FROM o
"""


# -------- CCNet-style LM perplexity filter (round 3)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language self-trained unigram-LM perplexity + CCNet
    head/middle/tail split. Cutoffs 29.85 / 30.12 are the sf0.01
    empirical tertiles (CCNet thresholds are likewise computed offline);
    at other SFs the split shifts but stays deterministic."""
    from .operators.text_analysis import lm_perplexity, perplexity_bucket

    return perplexity_bucket(
        lm_perplexity(load_table(spark, sf_dir, "documents")),
        head_cutoff=29.85, tail_cutoff=30.12,
    )


EXTRA_QUERIES["t12_lm_perplexity"] = q_lm_perplexity

EXTRA_ORACLES["t12_lm_perplexity"] = r"""
WITH toks AS (
  SELECT doc_id, lang,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), dw AS (
  SELECT doc_id, lang, word, CAST(COUNT(*) AS BIGINT) AS m
  FROM toks GROUP BY doc_id, lang, word
), vocab AS (
  SELECT lang, word, CAST(SUM(m) AS BIGINT) AS c FROM dw GROUP BY lang, word
), tot AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_total,
    CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab GROUP BY lang
), dc AS (
  -- IS NOT DISTINCT FROM mirrors the operator's eqNullSafe lang joins
  -- so the contract pins the null-lang behavior, not just a pytest
  SELECT dw.doc_id, dw.lang, v.c, CAST(SUM(dw.m) AS BIGINT) AS mc
  FROM dw JOIN vocab v ON dw.lang IS NOT DISTINCT FROM v.lang
                      AND dw.word = v.word
  GROUP BY dw.doc_id, dw.lang, v.c
), pd AS (
  -- deterministic sequential left-fold over count-sorted terms,
  -- mirroring the Spark side's array_sort + F.aggregate exactly
  SELECT doc_id, lang, CAST(SUM(mc) AS BIGINT) AS n_tokens,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list_sort(list({'c': c, 'm': mc})),
                       p -> CAST(p.m AS DOUBLE) * ln(p.c + 1))),
      (acc, x) -> acc + x) AS sum_ln
  FROM dc GROUP BY doc_id, lang
), scored AS (
  SELECT pd.doc_id, pd.lang, pd.n_tokens,
    round(ln(t.n_total + t.v + 1) - pd.sum_ln / pd.n_tokens, 4)
      AS cross_entropy,
    round(exp(round(ln(t.n_total + t.v + 1) - pd.sum_ln / pd.n_tokens, 4)),
          4) AS perplexity
  FROM pd JOIN tot t ON pd.lang IS NOT DISTINCT FROM t.lang
)
SELECT doc_id, lang, n_tokens, cross_entropy, perplexity,
  CASE WHEN perplexity <= 29.85 THEN 'head'
       WHEN perplexity <= 30.12 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM scored
"""


# -------- UT1-style domain blocklist gate (round 3)


def q_domain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate over the messy-url corpus: two rules block the
    dup.example.com half-corpus plus one source host (non-vacuous
    ~60/40 split at sf0.01)."""
    from .operators.webtext import domain_gate

    return domain_gate(
        _messy_urls(load_table(spark, sf_dir, "documents")),
        ["dup.example.com", "src7.example.com"],
    ).select("doc_id", "url", "host", "matched_rule", "is_blocked")


EXTRA_QUERIES["u4_domain_gate"] = q_domain_gate

EXTRA_ORACLES["u4_domain_gate"] = _MESSY_URLS_SQL + r"""
, hosted AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^[^:]+://(?:[^/?#]*@)?(\[[^\]]+\]|[^/?#:@]+)', 1)) AS host
  FROM messy
)
SELECT doc_id, url, host,
  (SELECT MIN(r.rule)
     FROM (VALUES ('dup.example.com'), ('src7.example.com')) r(rule)
    WHERE h.host = r.rule OR h.host LIKE '%.' || r.rule) AS matched_rule,
  (SELECT MIN(r.rule)
     FROM (VALUES ('dup.example.com'), ('src7.example.com')) r(rule)
    WHERE h.host = r.rule OR h.host LIKE '%.' || r.rule) IS NOT NULL
    AS is_blocked
FROM hosted h
"""


# -------- ExactSubstr-style duplicate-span stats (round 3)


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window duplicate-span coverage at the Lee et al. defaults
    scaled to the synthetic corpus (20-token spans, stride 5; 326
    duplicate instances across 45 docs at sf0.01 — non-vacuous)."""
    from .operators.dedup import duplicate_span_stats

    return duplicate_span_stats(
        load_table(spark, sf_dir, "documents"), span_words=20, stride=5)


EXTRA_QUERIES["d11_duplicate_spans"] = q_duplicate_spans

EXTRA_ORACLES["d11_duplicate_spans"] = r"""
WITH base AS (
  SELECT doc_id,
    regexp_split_to_array(
      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents
), spans AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
    CASE WHEN len(t) >= 20 THEN range(1, len(t) - 20 + 2, 5)
         ELSE [] END AS starts, t
  FROM base
), inst AS (
  SELECT doc_id, CAST(u.p AS BIGINT) AS pos,
    md5(array_to_string(t[u.p : u.p + 19], ' ')) AS h
  FROM spans, unnest(starts) u(p)
), grp AS (
  SELECT h, COUNT(*) AS cnt,
    MIN({'doc_id': doc_id, 'pos': pos}) AS first
  FROM inst GROUP BY h
), dup_inst AS (
  SELECT i.doc_id, i.pos, i.pos + 19 AS e
  FROM inst i JOIN grp g USING (h)
  WHERE g.cnt > 1
    AND NOT (i.doc_id = g.first.doc_id AND i.pos = g.first.pos)
), swept AS (
  SELECT doc_id, pos, e,
    GREATEST(0, e - GREATEST(
      COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
      pos - 1)) AS covered
  FROM dup_inst
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
    CAST(SUM(covered) AS BIGINT) AS dup_tokens
  FROM swept GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens, CAST(len(s.starts) AS BIGINT) AS n_spans,
  COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
  COALESCE(p.dup_tokens, 0) AS dup_tokens,
  CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / s.n_tokens AS dup_token_frac
FROM spans s LEFT JOIN per_doc p USING (doc_id)
"""


# -------- DSIR-style importance weights (round 3)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights of every doc against the English subset as the
    target corpus — the 'make the mix look like the target' selection
    signal (English docs should score high, zh/de/fr low)."""
    from .operators.text_analysis import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"))


EXTRA_QUERIES["t13_dsir_weights"] = q_dsir_weights

EXTRA_ORACLES["t13_dsir_weights"] = r"""
WITH words AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), dw AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS m
  FROM words GROUP BY doc_id, word
), raw_vocab AS (
  SELECT word, CAST(SUM(m) AS BIGINT) AS cr FROM dw GROUP BY word
), raw_tot AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(COUNT(*) AS BIGINT) AS vr
  FROM raw_vocab
), tgt_words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents WHERE lang = 'en'
), tgt_vocab AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS ct FROM tgt_words GROUP BY word
), tgt_tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS vt
  FROM tgt_vocab
), joined AS (
  SELECT dw.doc_id, dw.m, rv.cr, COALESCE(tv.ct, 0) AS ct
  FROM dw JOIN raw_vocab rv USING (word)
  LEFT JOIN tgt_vocab tv USING (word)
), grouped AS (
  SELECT doc_id, ct, cr, CAST(SUM(m) AS BIGINT) AS mc
  FROM joined GROUP BY doc_id, ct, cr
), pd AS (
  SELECT doc_id, CAST(SUM(mc) AS BIGINT) AS n_tokens,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list_sort(list({'ct': ct, 'cr': cr, 'm': mc})),
          p -> CAST(p.m AS DOUBLE) * (ln(p.ct + 1) - ln(p.cr + 1)))),
      (acc, x) -> acc + x) AS fold
  FROM grouped GROUP BY doc_id
)
SELECT pd.doc_id, pd.n_tokens,
  round(pd.fold + pd.n_tokens * (ln(r.nr + r.vr + 1) - ln(t.nt + t.vt + 1)),
        4) AS log_weight
FROM pd, raw_tot r, tgt_tot t
"""


# -------- corpus report card (round 3)


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language + total (ROLLUP) curation health summary."""
    from .operators.webtext import corpus_report

    return corpus_report(load_table(spark, sf_dir, "documents"))


EXTRA_QUERIES["a19_corpus_report"] = q_corpus_report

EXTRA_ORACLES["a19_corpus_report"] = r"""
WITH toks AS (
  SELECT doc_id, lang,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
), g AS (
  SELECT doc_id,
    regexp_split_to_array(trim(text), '\s+') AS t,
    len(list_distinct(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b'))) AS stop_hits
  FROM documents
), q AS (
  SELECT doc_id,
    (len(t) BETWEEN 50 AND 100000
     AND CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE) / len(t) >= 3.0
     AND CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE) / len(t) <= 10.0
     AND CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t) > 0.80
     AND stop_hits >= 2) AS q_keep
  FROM g
), fp AS (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')))
      AS fingerprint
  FROM documents
), dup AS (
  SELECT f.doc_id,
    f.doc_id <> MIN(f2.doc_id) AS is_duplicate
  FROM fp f JOIN fp f2 USING (fingerprint)
  GROUP BY f.doc_id
), joined AS (
  SELECT t.lang, t.n_tokens, q.q_keep, d.is_duplicate
  FROM toks t JOIN q USING (doc_id) JOIN dup d USING (doc_id)
)
SELECT lang, CAST(GROUPING(lang) AS BIGINT) AS is_total,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(CASE WHEN q_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
  CAST(SUM(CASE WHEN is_duplicate THEN 0 ELSE 1 END) AS BIGINT) AS n_unique,
  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens
FROM joined
GROUP BY ROLLUP (lang)
"""


# -------- Gopher line-based rules (round 3)


def q_gopher_line_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line rules over a deterministically markup-ified corpus: doc_id%4
    classes inject all-bullet lines, all-ellipsis line endings, or a
    '#'-flood so every rule fires non-vacuously (plain docs keep)."""
    from .operators.webtext import gopher_line_rules

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    mutated = docs.select(
        "doc_id",
        F.when(m == 0, F.concat(
            F.lit("• "), F.regexp_replace("text", " ", "\n• ")))
        .when(m == 1, F.concat(
            F.regexp_replace("text", " ", "...\n"), F.lit("...")))
        .when(m == 2, F.concat(F.col("text"), F.repeat(F.lit(" #"), 20)))
        .otherwise(F.col("text")).alias("text"),
    )
    return gopher_line_rules(mutated)


EXTRA_QUERIES["t14_gopher_line_rules"] = q_gopher_line_rules

EXTRA_ORACLES["t14_gopher_line_rules"] = r"""
WITH mutated AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN '• ' || replace(text, ' ', chr(10) || '• ')
      WHEN 1 THEN replace(text, ' ', '...' || chr(10)) || '...'
      WHEN 2 THEN text || repeat(' #', 20)
      ELSE text END AS text
  FROM documents
), m AS (
  SELECT doc_id,
    string_split(text, chr(10)) AS lines,
    regexp_split_to_array(trim(text), '\s+') AS toks,
    len(regexp_extract_all(text, '#')) +
      len(regexp_extract_all(text, '(\.\.\.|…)')) AS n_symbols
  FROM mutated
), f AS (
  SELECT doc_id,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines,
        l -> regexp_matches(ltrim(l), '^[•\-\*]'))) AS DOUBLE)
      / len(lines) AS bullet_line_frac,
    CAST(len(list_filter(lines,
        l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS DOUBLE)
      / len(lines) AS ellipsis_line_frac,
    CAST(n_symbols AS DOUBLE) / len(toks) AS symbol_word_ratio
  FROM m
)
SELECT doc_id, n_lines, bullet_line_frac, ellipsis_line_frac,
  symbol_word_ratio,
  (bullet_line_frac <= 0.90 AND ellipsis_line_frac <= 0.30
   AND symbol_word_ratio <= 0.10) AS keep
FROM f
"""


# -------- BM25 lexical top-k (round 3)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for three common corpus terms (lexical twin of s1)."""
    from .operators.similarity import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"),
                     ["hash", "row", "table"], k=20)


EXTRA_QUERIES["s4_bm25_topk"] = q_bm25_topk

_BM25_TERM = (
    "ln((n - df{i} + 0.5)/(df{i} + 0.5) + 1.0) * tf{i} * 2.2"
    " / (tf{i} + 1.2*(0.25 + 0.75*dl/(CAST(sum_dl AS DOUBLE)/n)))"
)

EXTRA_ORACLES["s4_bm25_topk"] = rf"""
WITH base AS (
  SELECT doc_id,
    regexp_split_to_array(
      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents
), per AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
    CAST(len(list_filter(t, x -> x = 'hash')) AS BIGINT) AS tf0,
    CAST(len(list_filter(t, x -> x = 'row')) AS BIGINT) AS tf1,
    CAST(len(list_filter(t, x -> x = 'table')) AS BIGINT) AS tf2
  FROM base
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sum_dl,
    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM per
)
SELECT doc_id, dl AS doc_len,
  round({_BM25_TERM.format(i=0)} + {_BM25_TERM.format(i=1)}
        + {_BM25_TERM.format(i=2)}, 4) AS score
FROM per, s
ORDER BY score DESC, doc_id
LIMIT 20
"""


# ------------------------------------------------- round-4 late additions
# (all registered PAST driver slot 50: new surface must not displace the
# curated gate rows — tools/compare_oracle.py checks them every session)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d15: SemDeDup-style embedding semantic dedup — d14's multi-table
    LSH pairs at eps=0.30 (non-vacuous on the synthetic random vectors)
    -> connected components -> min-vec_id survivor, every vec labeled."""
    return similarity.semdedup(
        load_table(spark, sf_dir, "embeddings"),
        eps=0.30, n_planes=6, n_tables=8,
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d16: incremental exact dedup of a new crawl batch against the
    fingerprint index of the prior corpus (even doc_ids). The synthetic
    corpus has no exact duplicates, so the batch plants both failure
    modes deterministically: odd docs (fresh), re-crawls of every
    doc_id%10==0 doc re-keyed +100000 (index hits), and second copies
    of every doc_id%10==5 doc re-keyed +200000 (within-batch dups of
    their odd originals)."""
    docs = load_table(spark, sf_dir, "documents")
    prior = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    recrawl = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    batch_dup = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text")
    new = odd.unionByName(recrawl).unionByName(batch_dup)
    return dedup.incremental_dedup(new, dedup.fingerprint_index(prior))


# the "trained model" for t15: a fixed (word, weight) table over corpus
# vocabulary plus one never-seen word (pins the never-applied-weight
# path); OOV corpus words score 0 through the LEFT join
_T15_WEIGHTS = [
    ("join", 0.9), ("hash", 0.4), ("slow", -1.3), ("batch", 0.2),
    ("vector", -0.6), ("customer", 0.7), ("error", -2.0),
    ("zzzunseen", 5.0),
]


def q_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t15: fastText-style linear quality-classifier inference with a
    fixed weight table; zero-token docs score sigmoid(bias)."""
    docs = load_table(spark, sf_dir, "documents")
    w = spark.createDataFrame(_T15_WEIGHTS, "word string, weight double")
    return text_analysis.linear_quality(docs, w, bias=-0.1)


def q_near_dup_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d17: the d8 near-dup pipeline with the FineWeb-style survivor
    policy — the longest doc per component is canonical, not the
    smallest doc_id."""
    return dedup.near_dup_pipeline(
        load_table(spark, sf_dir, "documents"), survivor="longest"
    )


EXTRA_QUERIES["d15_semdedup"] = q_semdedup
EXTRA_QUERIES["d16_incremental_dedup"] = q_incremental_dedup
EXTRA_QUERIES["t15_quality_classifier"] = q_linear_quality
EXTRA_QUERIES["d17_near_dup_longest"] = q_near_dup_longest

# d15: d14's pair CTEs (materialized — the recursive closure references
# the edge table many times and must not re-run the 48-plane projection),
# then an exact TRANSITIVE CLOSURE via a recursive CTE instead of d8's
# unrolled min-label propagation: at eps=0.30 the random-vector pair
# graph at sf0.01 has a 211-node component of diameter 38 (measured),
# far past any practical unroll. The closure is diameter-independent and
# tiny at contract scale (<= sum of component sizes squared rows); the
# Spark side's large/small-star reaches the same fixpoint in O(log n).
EXTRA_ORACLES["d15_semdedup"] = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
), planes AS (
  SELECT pp.p AS p,
    LIST(CASE WHEN strpos('02468ace',
                substr(md5('plane:' || pp.p || ':' || dd.d), 1, 1)) > 0
         THEN 1.0 ELSE -1.0 END ORDER BY dd.d) AS pv
  FROM generate_series(0, 47) AS pp(p), generate_series(0, 63) AS dd(d)
  GROUP BY pp.p
), pbits AS (
  SELECT n.vec_id, planes.p,
    CASE WHEN list_dot_product(n.v, planes.pv) >= 0 THEN '1' ELSE '0'
    END AS bit
  FROM n, planes
), bkm AS (
  SELECT vec_id, CAST(p // 6 AS BIGINT) AS table_idx,
    STRING_AGG(bit, '' ORDER BY p) AS bucket
  FROM pbits GROUP BY vec_id, p // 6
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bkm a JOIN bkm b
    ON a.table_idx = b.table_idx AND a.bucket = b.bucket
    AND a.vec_id < b.vec_id
), sims AS (
  SELECT c.vec_a, c.vec_b,
    list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) AS cosine
  FROM cand c
  JOIN n na ON na.vec_id = c.vec_a
  JOIN n nb ON nb.vec_id = c.vec_b
), pairs AS MATERIALIZED (
  SELECT vec_a, vec_b FROM sims WHERE cosine >= 0.30
), edges AS MATERIALIZED (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM pairs
), reach(a, b) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.a, g.dst FROM reach r JOIN edges g ON g.src = r.b
)
SELECT em.vec_id,
  LEAST(em.vec_id, COALESCE(MIN(r.b), em.vec_id)) AS canonical_id,
  LEAST(em.vec_id, COALESCE(MIN(r.b), em.vec_id)) < em.vec_id
    AS is_duplicate
FROM embeddings em LEFT JOIN reach r ON r.a = em.vec_id
GROUP BY em.vec_id
"""

EXTRA_ORACLES["d16_incremental_dedup"] = r"""
WITH batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 10 = 5
), fp AS (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')))
      AS fingerprint
  FROM batch
), idx AS (
  SELECT DISTINCT
    md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')))
      AS fingerprint
  FROM documents WHERE doc_id % 2 = 0
), grp AS (
  SELECT fingerprint, MIN(doc_id) AS first_id FROM fp GROUP BY fingerprint
)
SELECT f.doc_id, f.fingerprint,
  i.fingerprint IS NOT NULL AS in_index,
  (i.fingerprint IS NOT NULL OR f.doc_id <> g.first_id) AS is_duplicate,
  NOT (i.fingerprint IS NOT NULL OR f.doc_id <> g.first_id) AS keep
FROM fp f
JOIN grp g USING (fingerprint)
LEFT JOIN idx i USING (fingerprint)
"""

_T15_VALUES = ", ".join(f"('{w}', {x})" for w, x in _T15_WEIGHTS)
EXTRA_ORACLES["t15_quality_classifier"] = f"""
WITH weights(word, weight) AS (VALUES {_T15_VALUES}),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), dw AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS m
  FROM toks GROUP BY doc_id, word
), ww AS (
  SELECT dw.doc_id, dw.word, dw.m, COALESCE(w.weight, 0.0) AS w
  FROM dw LEFT JOIN weights w USING (word)
), pd AS (
  -- deterministic sequential left-fold over word-sorted terms, mirroring
  -- the Spark side's array_sort + F.aggregate exactly
  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list_sort(list({{'word': word, 'w': w, 'm': m}})),
                       p -> CAST(p.m AS DOUBLE) * p.w)),
      (acc, x) -> acc + x) AS sum_w
  FROM ww GROUP BY doc_id
), sc AS (
  SELECT d.doc_id,
    COALESCE(pd.n_tokens, 0) AS n_tokens,
    COALESCE(-0.1 + pd.sum_w / pd.n_tokens, -0.1) AS z
  FROM documents d LEFT JOIN pd USING (doc_id)
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  round(1.0 / (1.0 + exp(-z)), 4) AS score,
  round(1.0 / (1.0 + exp(-z)), 4) >= 0.5 AS label
FROM sc
"""

EXTRA_ORACLES["d17_near_dup_longest"] = _near_dup_oracle(survivor="longest")


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u5: within-doc repeated-line collapse. The synthetic docs are
    single-line, so the query plants page furniture deterministically:
    a nav line wrapped around two body slices (3 copies -> 2 removed)."""
    from .operators.webtext import dedup_lines_within_doc

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("nav menu home about"),
            F.substring("text", 1, 100),
            F.lit("nav menu home about"),
            F.substring("text", 101, 100),
            F.lit("nav menu home about"),
        ).alias("text"),
    )
    return dedup_lines_within_doc(docs)


def q_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t16: per-word KL contributions between the even-doc and odd-doc
    halves of the corpus (the snapshot-drift monitor)."""
    from .operators.webtext import vocab_divergence

    docs = load_table(spark, sf_dir, "documents")
    return vocab_divergence(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


EXTRA_QUERIES["u5_line_dedup"] = q_line_dedup
EXTRA_QUERIES["t16_vocab_divergence"] = q_vocab_divergence

EXTRA_ORACLES["u5_line_dedup"] = r"""
WITH built AS (
  SELECT doc_id,
    'nav menu home about' || chr(10) || substr(text, 1, 100) || chr(10)
      || 'nav menu home about' || chr(10) || substr(text, 101, 100)
      || chr(10) || 'nav menu home about' AS text
  FROM documents
), split AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM built
), lines AS (
  SELECT doc_id, u.l.line AS line, u.l.pos - 1 AS pos
  FROM split,
    unnest(list_transform(ls, (x, i) -> {'line': x, 'pos': i})) AS u(l)
), firsts AS (
  SELECT doc_id, line, MIN(pos) AS pos,
    CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM lines GROUP BY doc_id, line
)
SELECT doc_id,
  STRING_AGG(line, chr(10) ORDER BY pos) AS text,
  CAST(SUM(n_copies) AS BIGINT) AS n_lines,
  CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_lines_removed
FROM firsts GROUP BY doc_id
"""

EXTRA_ORACLES["t16_vocab_divergence"] = r"""
WITH ta AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents WHERE doc_id % 2 = 0
), tb AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents WHERE doc_id % 2 = 1
), ca AS (SELECT word, CAST(COUNT(*) AS BIGINT) c_a FROM ta GROUP BY word),
cb AS (SELECT word, CAST(COUNT(*) AS BIGINT) c_b FROM tb GROUP BY word),
j AS (
  SELECT COALESCE(ca.word, cb.word) AS word,
    COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
  FROM ca FULL OUTER JOIN cb USING (word)
), t AS (
  SELECT CAST(SUM(c_a) AS BIGINT) n_a, CAST(SUM(c_b) AS BIGINT) n_b,
    CAST(COUNT(*) AS BIGINT) v
  FROM j
)
SELECT word, c_a, c_b,
  round((c_a + 1) / CAST(n_a + v AS DOUBLE), 6) AS p,
  round((c_b + 1) / CAST(n_b + v AS DOUBLE), 6) AS q,
  round(((c_a + 1) / CAST(n_a + v AS DOUBLE))
        * ln(((c_a + 1) / CAST(n_a + v AS DOUBLE))
             / ((c_b + 1) / CAST(n_b + v AS DOUBLE))), 6) AS kl_term
FROM j, t
"""


def q_mix_plan_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m7: temperature-based (alpha=0.3) multilingual mixture rates over
    the lang strata — the mT5/XLM-R sampling recipe, no hand targets."""
    from .operators.webtext import mix_plan_temperature

    return mix_plan_temperature(
        load_table(spark, sf_dir, "documents"),
        alpha=0.3, token_budget=100_000,
    )


EXTRA_QUERIES["m7_mix_plan_temperature"] = q_mix_plan_temperature

EXTRA_ORACLES["m7_mix_plan_temperature"] = r"""
WITH agg AS (
  SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS stratum_tokens
  FROM documents GROUP BY lang
), z AS (
  -- deterministic sequential left-fold over stratum-key-sorted strata,
  -- nulls keyed as '' — mirrors the Spark side's array_sort + aggregate
  SELECT list_reduce(
    list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(
        list_sort(list({'k': COALESCE(stratum, ''),
                        't': CAST(stratum_tokens AS DOUBLE)})),
        s -> pow(s.t, 0.3))),
    (acc, x) -> acc + x) AS z
  FROM agg
)
SELECT stratum, n_docs, stratum_tokens,
  round(LEAST(1.0,
    (pow(CAST(stratum_tokens AS DOUBLE), 0.3) / z.z)
      * 100000.0 / stratum_tokens), 6) AS rate
FROM agg, z
"""


# ==================================================== round-5 additions
# (VERDICT r4 items #3 production-width MinHash, #4 classifier training,
#  #5 consolidated dedup report)


def q_minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d2w: MinHash banding at PRODUCTION signature width — 64 hashes in
    16 bands of 4 (the 20x6 / 16x4 regime real pipelines run, vs the
    contract-default 8x2 of d2). Exercises the lexicographic band-key
    path where seed order and string order diverge (seeds >= 10), and
    the zero-exchange wide-signature projection (plan pinned in
    tests/test_plan_shape.py::test_minhash_wide_zero_exchanges)."""
    return dedup.lsh_bands(
        load_table(spark, sf_dir, "documents"), num_hashes=64, band_size=4
    ).select(
        "doc_id", F.col("band_idx").cast("long").alias("band_idx"),
        "band_key",
    )


EXTRA_QUERIES["d2w_minhash_wide"] = q_minhash_wide

# NOTE the band-key member order: the Spark side sorts the "seed:hash"
# strings LEXICOGRAPHICALLY inside each band (array_sort), so the oracle
# must too — ORDER BY seed (the d2 oracle's choice) only coincides with
# it below seed 10.
EXTRA_ORACLES["d2w_minhash_wide"] = _DOCS_TOKS_SQL + r"""
, seeded AS (
  SELECT doc_id, s.seed,
    MIN(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS min_hash
  FROM shingles, generate_series(0, 63) AS s(seed)
  GROUP BY doc_id, s.seed
)
SELECT doc_id, CAST(seed // 4 AS BIGINT) AS band_idx,
  md5(STRING_AGG(CAST(seed AS VARCHAR) || ':' || min_hash, '|'
      ORDER BY CAST(seed AS VARCHAR) || ':' || min_hash)) AS band_key
FROM seeded GROUP BY doc_id, seed // 4
"""


def q_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t17: distributed logistic-regression TRAINING (2 full-batch
    gradient steps, lr=1.0, quantized gradients) of the (word, weight)
    model on a labeled sample (doc_id < 250, label = lang='en'), then
    linear_quality scoring of the WHOLE corpus with the trained model —
    the train->score round trip, value-oracled end to end (the oracle
    unrolls both gradient steps as SQL CTEs)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") < 250).withColumn(
        "label", F.col("lang") == "en"
    )
    w = text_analysis.train_logreg_words(
        train, label_col="label", steps=2, lr=1.0
    )
    return text_analysis.linear_quality(docs, w, bias=0.0)


EXTRA_QUERIES["t17_quality_train"] = q_quality_train

# gradient quantum: banker's-round(g * 1e9) / 1e9, mirroring
# train_logreg_words(grad_dp=9) — float-sum order noise (~1e-13) is six
# orders below the quantum, so Spark and DuckDB train identical weights
_T17_Q = "1000000000.0"
EXTRA_ORACLES["t17_quality_train"] = f"""
WITH tdocs AS (
  SELECT doc_id, text,
    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents WHERE doc_id < 250
), ttoks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM tdocs
), dw AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS m
  FROM ttoks GROUP BY doc_id, word
), nd AS (
  SELECT dw.doc_id, SUM(dw.m) AS n, ANY_VALUE(t.y) AS y
  FROM dw JOIN tdocs t USING (doc_id) GROUP BY dw.doc_id
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nd),
-- step 1: w=0 -> every margin 0 -> sigmoid exactly 0.5 -> resid 0.5 - y
g1 AS (
  SELECT dw.word,
    {_sql_py_round(f'(SUM((0.5 - nd.y) * dw.m / nd.n) / (SELECT c FROM nn)) * {_T17_Q}')}
      / {_T17_Q} AS g
  FROM dw JOIN nd USING (doc_id) GROUP BY dw.word
), w1 AS (SELECT word, 0.0 - 1.0 * g AS weight FROM g1),
-- step 2: margin = word-sorted fold of m*w, z = margin / n
z2 AS (
  SELECT dw.doc_id,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(
          list_sort(list({{'word': dw.word, 'w': w1.weight, 'm': dw.m}})),
          p -> CAST(p.m AS DOUBLE) * p.w)),
      (acc, x) -> acc + x) AS s
  FROM dw JOIN w1 USING (word) GROUP BY dw.doc_id
), r2 AS (
  SELECT nd.doc_id, 1.0 / (1.0 + exp(-(z2.s / nd.n))) - nd.y AS resid, nd.n
  FROM z2 JOIN nd USING (doc_id)
), g2 AS (
  SELECT dw.word,
    {_sql_py_round(f'(SUM(r2.resid * dw.m / r2.n) / (SELECT c FROM nn)) * {_T17_Q}')}
      / {_T17_Q} AS g
  FROM dw JOIN r2 USING (doc_id) GROUP BY dw.word
), weights AS (
  SELECT w1.word, w1.weight - 1.0 * g2.g AS weight
  FROM w1 JOIN g2 USING (word)
),
-- linear_quality scoring of the WHOLE corpus (t15 shape, bias 0)
stoks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), sdw AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS m
  FROM stoks GROUP BY doc_id, word
), sww AS (
  SELECT sdw.doc_id, sdw.word, sdw.m, COALESCE(w.weight, 0.0) AS w
  FROM sdw LEFT JOIN weights w USING (word)
), spd AS (
  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list_sort(list({{'word': word, 'w': w, 'm': m}})),
                       p -> CAST(p.m AS DOUBLE) * p.w)),
      (acc, x) -> acc + x) AS sum_w
  FROM sww GROUP BY doc_id
), ssc AS (
  SELECT d.doc_id,
    COALESCE(spd.n_tokens, 0) AS n_tokens,
    COALESCE(0.0 + spd.sum_w / spd.n_tokens, 0.0) AS z
  FROM documents d LEFT JOIN spd USING (doc_id)
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  round(1.0 / (1.0 + exp(-z)), 4) AS score,
  round(1.0 / (1.0 + exp(-z)), 4) >= 0.5 AS label
FROM ssc
"""


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d18: consolidated per-doc dedup verdict — exact fingerprint
    groups + near-dup CC canonical + duplicate-span coverage folded
    into one action (drop_exact > drop_near > trim_spans > keep)."""
    return dedup.dedup_report(load_table(spark, sf_dir, "documents"))


EXTRA_QUERIES["d18_dedup_report"] = q_dedup_report

# composes the three already-green oracles (d1 / d8 / d11) as subqueries
EXTRA_ORACLES["d18_dedup_report"] = f"""
WITH ex AS (
  SELECT doc_id, canonical_id AS exact_canonical_id,
    is_duplicate AS is_exact_dup
  FROM ({EXTRA_ORACLES["d1_exact_dedup"]}) _d1
), nd AS (
  SELECT doc_id, canonical_id AS near_canonical_id,
    is_duplicate AS is_near_dup
  FROM ({_near_dup_oracle()}) _d8
), sp AS (
  SELECT doc_id, dup_token_frac
  FROM ({EXTRA_ORACLES["d11_duplicate_spans"]}) _d11
)
SELECT ex.doc_id, ex.exact_canonical_id, ex.is_exact_dup,
  nd.near_canonical_id, nd.is_near_dup, sp.dup_token_frac,
  CASE WHEN ex.is_exact_dup THEN 'drop_exact'
       WHEN nd.is_near_dup THEN 'drop_near'
       WHEN sp.dup_token_frac >= 0.3 THEN 'trim_spans'
       ELSE 'keep' END AS action
FROM ex JOIN nd USING (doc_id) JOIN sp USING (doc_id)
"""


# ==================================================== round-5 additions 2
# (tf-idf keyword profiles, n-gram language ID, deterministic shard plan)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t18: per-doc top-5 TF-IDF terms (smoothed sklearn idf), the
    corpus-inspection keyword profile; ranking by ROUNDED score so the
    order is engine-portable."""
    return text_analysis.tfidf_topk(
        load_table(spark, sf_dir, "documents"), k=5
    )


EXTRA_QUERIES["t18_tfidf_topk"] = q_tfidf_topk

EXTRA_ORACLES["t18_tfidf_topk"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, word
), dfreq AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT doc_id, word, tf, df,
    round(tf * (ln((n.n + 1) / CAST(df + 1 AS DOUBLE)) + 1.0), 6) AS score
  FROM tf JOIN dfreq USING (word), n
)
SELECT doc_id,
  CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, word ASC) AS BIGINT) AS rank,
  word, tf, df, score
FROM scored
QUALIFY rank <= 5
"""


def q_lang_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t20: character-trigram language ID (Cavnar-Trenkle heuristic) —
    the char-level twin of t2's stopword lang_id, zero-exchange."""
    return text_analysis.lang_id_trigrams(
        load_table(spark, sf_dir, "documents")
    )


EXTRA_QUERIES["t20_lang_trigrams"] = q_lang_trigrams


def _tri_list(code: str) -> str:
    return "[" + ", ".join(
        f"'{t}'" for t in text_analysis.LANG_TRIGRAMS[code]
    ) + "]"


# CASE-chain argmax in sorted-code order implements the same
# "max hits, ties -> lowest language code" rule as the Spark struct
# greatest; profiles are interpolated from the SAME dict the operator
# reads, so the two sides cannot drift.
EXTRA_ORACLES["t20_lang_trigrams"] = f"""
WITH tris AS (
  SELECT doc_id, lang,
    CASE WHEN length(lower(text)) >= 3 THEN
      list_transform(range(1, length(lower(text)) - 1),
                     i -> substr(lower(text), CAST(i AS INTEGER), 3))
    ELSE [] END AS tg
  FROM documents
), scored AS (
  SELECT doc_id, lang,
    len(list_filter(tg, t -> list_contains({_tri_list('de')}, t))) AS h_de,
    len(list_filter(tg, t -> list_contains({_tri_list('en')}, t))) AS h_en,
    len(list_filter(tg, t -> list_contains({_tri_list('es')}, t))) AS h_es,
    len(list_filter(tg, t -> list_contains({_tri_list('fr')}, t))) AS h_fr
  FROM tris
)
SELECT doc_id,
  CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
       WHEN h_es >= h_fr THEN 'es'
       ELSE 'fr' END AS pred_lang,
  CAST(greatest(h_de, h_en, h_es, h_fr) AS BIGINT) AS hits,
  lang
FROM scored
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t19: deterministic global shuffle + 8-way shard layout (the
    training-data writer's 'shuffle once, shard, read sequentially'
    step); shard AND within-shard order derive from one md5 key."""
    from .operators.webtext import shuffle_shards

    return shuffle_shards(
        load_table(spark, sf_dir, "documents"), n_shards=8
    )


EXTRA_QUERIES["t19_shuffle_shards"] = q_shuffle_shards

# uint32 of the first 8 md5 hex chars, digit-by-digit (DuckDB has no
# base-16 string->int conversion): sum hexval(c_i) * 16^(8-i)
_HEXU32 = " + ".join(
    "CAST((strpos('0123456789abcdef', substr(sort_key, {i}, 1)) - 1)"
    " AS BIGINT) * {w}".format(i=i, w=16 ** (8 - i))
    for i in range(1, 9)
)

EXTRA_ORACLES["t19_shuffle_shards"] = f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_tokens,
    md5('shard1:' || CAST(doc_id AS VARCHAR)) AS sort_key
  FROM documents
), sharded AS (
  SELECT doc_id, n_tokens, sort_key,
    CAST(({_HEXU32}) % 8 AS BIGINT) AS shard
  FROM keyed
)
SELECT doc_id, shard,
  CAST(row_number() OVER (
    PARTITION BY shard ORDER BY sort_key, doc_id) AS BIGINT) AS pos,
  sort_key, n_tokens
FROM sharded
"""


def _planted_paragraph_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d19-d21 documents: the synthetic docs are single-paragraph, so
    each gets a planted 3-paragraph layout, a shared boilerplate paragraph
    and two overlapping body slices. NULL text is the empty string, as in
    the SQL twin (_PLANTED_PARAGRAPHS_SQL)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.lit("subscribe to our newsletter for daily updates"),
            F.substring(text, 1, 120),
            F.substring(text, 90, 120),
        ).alias("text"),
    )


_PLANTED_PARAGRAPHS_SQL = r"""
WITH built AS (
  SELECT doc_id,
    'subscribe to our newsletter for daily updates'
      || chr(10) || chr(10) || substr(COALESCE(text, ''), 1, 120)
      || chr(10) || chr(10) || substr(COALESCE(text, ''), 90, 120) AS text
  FROM documents
)"""


def q_paragraph_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d19: paragraph-granularity FUZZY dedup. The synthetic docs are
    single-paragraph, so the query plants a 3-paragraph layout
    deterministically: a shared boilerplate paragraph (must flag in
    every doc) wrapped around two body slices (flag only where the
    underlying texts near-duplicate)."""
    from .operators.dedup import paragraph_neardup

    docs = _planted_paragraph_docs(spark, sf_dir)
    return paragraph_neardup(docs, min_para_chars=3)


EXTRA_QUERIES["d19_paragraph_neardup"] = q_paragraph_neardup

EXTRA_ORACLES["d19_paragraph_neardup"] = _PLANTED_PARAGRAPHS_SQL + r"""
, paras AS (
  SELECT doc_id, u.p.idx AS para_idx, u.p.para AS para
  FROM (
    SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS ps FROM built
  ), unnest(list_transform(ps, (x, i) -> {'para': x, 'idx': i - 1})) AS u(p)
  WHERE length(trim(u.p.para)) >= 3
), toks AS (
  SELECT doc_id, para_idx,
    regexp_split_to_array(
      trim(regexp_replace(lower(para), '\s+', ' ', 'g')), ' ') AS t
  FROM paras
), shingles AS (
  SELECT DISTINCT doc_id, para_idx,
    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (
    SELECT doc_id, para_idx, t, unnest(range(1, len(t) - 1)) AS i
    FROM toks WHERE len(t) >= 3
  )
), seeded AS (
  SELECT doc_id, para_idx, s.seed,
    MIN(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS min_hash
  FROM shingles, generate_series(0, 7) AS s(seed)
  GROUP BY doc_id, para_idx, s.seed
), bands AS (
  SELECT doc_id, para_idx, seed // 2 AS band_idx,
    md5(STRING_AGG(CAST(seed AS VARCHAR) || ':' || min_hash, '|'
        ORDER BY seed)) AS band_key
  FROM seeded GROUP BY doc_id, para_idx, seed // 2
), bucket AS (
  SELECT band_idx, band_key, COUNT(DISTINCT doc_id) AS n_docs
  FROM bands GROUP BY band_idx, band_key
), flagged AS (
  SELECT doc_id, para_idx, bool_or(n_docs > 1) AS has_near_dup
  FROM bands JOIN bucket USING (band_idx, band_key)
  GROUP BY doc_id, para_idx
)
SELECT p.doc_id, CAST(p.para_idx AS BIGINT) AS para_idx,
  CAST(length(p.para) AS BIGINT) AS n_chars,
  COALESCE(f.has_near_dup, FALSE) AS has_near_dup
FROM paras p LEFT JOIN flagged f USING (doc_id, para_idx)
"""


def q_drop_dup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d20: the actionable half of d19 — cross-doc near-dup paragraphs
    REMOVED and the survivors re-assembled in order (same planted
    3-paragraph layout as d19, so the shared boilerplate paragraph must
    vanish from every doc)."""
    from .operators.dedup import drop_dup_paragraphs

    docs = _planted_paragraph_docs(spark, sf_dir)
    return drop_dup_paragraphs(docs)


EXTRA_QUERIES["d20_drop_dup_paragraphs"] = q_drop_dup_paragraphs

EXTRA_ORACLES["d20_drop_dup_paragraphs"] = _PLANTED_PARAGRAPHS_SQL + r"""
, paras AS (
  SELECT doc_id, u.p.idx AS para_idx, u.p.para AS para
  FROM (
    SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS ps FROM built
  ), unnest(list_transform(ps, (x, i) -> {'para': x, 'idx': i - 1})) AS u(p)
  WHERE length(trim(u.p.para)) >= 1
), toks AS (
  SELECT doc_id, para_idx,
    regexp_split_to_array(
      trim(regexp_replace(lower(para), '\s+', ' ', 'g')), ' ') AS t
  FROM paras
), shingles AS (
  SELECT DISTINCT doc_id, para_idx,
    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (
    SELECT doc_id, para_idx, t, unnest(range(1, len(t) - 1)) AS i
    FROM toks WHERE len(t) >= 3
  )
), seeded AS (
  SELECT doc_id, para_idx, s.seed,
    MIN(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS min_hash
  FROM shingles, generate_series(0, 7) AS s(seed)
  GROUP BY doc_id, para_idx, s.seed
), bands AS (
  SELECT doc_id, para_idx, seed // 2 AS band_idx,
    md5(STRING_AGG(CAST(seed AS VARCHAR) || ':' || min_hash, '|'
        ORDER BY seed)) AS band_key
  FROM seeded GROUP BY doc_id, para_idx, seed // 2
), bucket AS (
  SELECT band_idx, band_key, COUNT(DISTINCT doc_id) AS n_docs
  FROM bands GROUP BY band_idx, band_key
), flagged AS (
  SELECT doc_id, para_idx, bool_or(n_docs > 1) AS has_near_dup
  FROM bands JOIN bucket USING (band_idx, band_key)
  GROUP BY doc_id, para_idx
), marked AS (
  SELECT p.doc_id, p.para_idx, p.para,
    COALESCE(f.has_near_dup, FALSE) AS has
  FROM paras p LEFT JOIN flagged f USING (doc_id, para_idx)
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
    CAST(SUM(CASE WHEN has THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
    COALESCE(STRING_AGG(CASE WHEN NOT has THEN para END,
                        chr(10) || chr(10) ORDER BY para_idx), '') AS kept
  FROM marked GROUP BY doc_id
)
SELECT b.doc_id,
  CASE WHEN COALESCE(d.n_removed, 0) > 0 THEN d.kept ELSE b.text END AS text,
  COALESCE(d.n_paras, 0) AS n_paras,
  COALESCE(d.n_removed, 0) AS n_paras_removed
FROM built b LEFT JOIN per_doc d USING (doc_id)
"""


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t21: corpus heavy-hitter 3-grams by document frequency — the
    boilerplate miner feeding blocklists and the ngram_jaccard max_df
    cap."""
    from .operators.dedup import top_ngrams

    return top_ngrams(load_table(spark, sf_dir, "documents"), k=3, top=25)


EXTRA_QUERIES["t21_top_ngrams"] = q_top_ngrams

EXTRA_ORACLES["t21_top_ngrams"] = _DOCS_TOKS_SQL + r"""
, df_counts AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
  FROM shingles GROUP BY shingle
  ORDER BY df DESC, shingle ASC LIMIT 25
)
SELECT CAST(row_number() OVER (ORDER BY df DESC, shingle ASC) AS BIGINT)
    AS rank,
  shingle, df
FROM df_counts
"""


def q_paragraph_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d21: candidate recall of the PARAGRAPH-level band join (d19's
    machinery) against exact paragraph Jaccard >= 0.5 ground truth,
    cross-doc pairs only — keeps the 'every approximate path carries a
    recall pin' invariant true for the round-5 paragraph granularity.
    Paragraphs are keyed doc_id*1000 + para_idx (the planted layout has
    3 paragraphs) so the pair machinery of d12 applies unchanged."""
    from .operators.dedup import lsh_candidate_pairs, ngram_jaccard

    docs = _planted_paragraph_docs(spark, sf_dir)
    pseudo = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\n{2,}")).alias(
            "para_idx", "para"
        ),
    ).filter(F.length(F.trim("para")) >= 3).select(
        (F.col("doc_id") * 1000 + F.col("para_idx")).alias("doc_id"),
        F.col("para").alias("text"),
    )
    # exclude para_idx 0 (the planted identical boilerplate clique —
    # its C(n,2) exact pairs would dominate the metric and make the
    # recall trivially 1.0); the body slices carry the NON-exact
    # near-dups the pin is about
    keep = (
        (F.expr("doc_a div 1000") != F.expr("doc_b div 1000"))
        & (F.expr("doc_a % 1000") != 0) & (F.expr("doc_b % 1000") != 0)
    )
    truth = ngram_jaccard(pseudo).filter(
        (F.col("jaccard") >= 0.5) & keep
    ).select("doc_a", "doc_b")
    cand = lsh_candidate_pairs(pseudo).filter(keep).select(
        "doc_a", "doc_b"
    )
    return _pair_recall(truth, cand)


EXTRA_QUERIES["d21_paragraph_lsh_recall"] = q_paragraph_lsh_recall

EXTRA_ORACLES["d21_paragraph_lsh_recall"] = _PLANTED_PARAGRAPHS_SQL + r"""
, paras AS (
  SELECT doc_id * 1000 + u.p.idx AS pid, u.p.para AS para
  FROM (
    SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS ps FROM built
  ), unnest(list_transform(ps, (x, i) -> {'para': x, 'idx': i - 1})) AS u(p)
  WHERE length(trim(u.p.para)) >= 3
), toks AS (
  SELECT pid,
    regexp_split_to_array(
      trim(regexp_replace(lower(para), '\s+', ' ', 'g')), ' ') AS t
  FROM paras
), shingles AS (
  SELECT DISTINCT pid, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (
    SELECT pid, t, unnest(range(1, len(t) - 1)) AS i
    FROM toks WHERE len(t) >= 3
  )
), sizes AS (SELECT pid, COUNT(*) AS n FROM shingles GROUP BY pid),
inter AS (
  SELECT a.pid AS doc_a, b.pid AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.pid < b.pid
  GROUP BY a.pid, b.pid
), truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes na ON na.pid = i.doc_a
  JOIN sizes nbs ON nbs.pid = i.doc_b
  WHERE CAST(i.n_inter AS DOUBLE) / (na.n + nbs.n - i.n_inter) >= 0.5
    AND i.doc_a // 1000 <> i.doc_b // 1000
    AND i.doc_a % 1000 <> 0 AND i.doc_b % 1000 <> 0
), seeded AS (
  SELECT pid, s.seed,
    MIN(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS min_hash
  FROM shingles, generate_series(0, 7) AS s(seed)
  GROUP BY pid, s.seed
), bands AS (
  SELECT pid, seed // 2 AS band_idx,
    md5(STRING_AGG(CAST(seed AS VARCHAR) || ':' || min_hash,
        '|' ORDER BY seed)) AS band_key
  FROM seeded GROUP BY pid, seed // 2
), cand AS (
  SELECT DISTINCT a.pid AS doc_a, b.pid AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    AND a.pid < b.pid
  WHERE a.pid // 1000 <> b.pid // 1000
    AND a.pid % 1000 <> 0 AND b.pid % 1000 <> 0
)
""" + _PAIR_RECALL_TAIL_SQL
