"""Webtext training-data operators: URL canonicalization/dedup, quality
gates, line-level filtering, and PII scrubbing.

These are the crawl-corpus companions to the dedup/ANN layer (SURVEY.md
§2.12 "beyond-the-reference training-data ops"): everything a
Common-Crawl-style pipeline runs between raw extraction and tokenization.
All operators are pure Column expressions (JVM-side, no UDFs) so they
stay inside whole-stage codegen and scale as map-only projections; the
only shuffles are the explicit groupBys in the dedup/report steps, keyed
by uniformly-distributed hash or url keys.

Published-rule provenance (public papers, reimplemented from the text of
the rules, no code consulted):
  - Gopher quality gates: Rae et al. 2021, "Scaling Language Models:
    Methods, Analysis & Insights from Training Gopher", App. A1.1.
  - C4-style line filtering: Raffel et al. 2020, "Exploring the Limits
    of Transfer Learning with a Unified Text-to-Text Transformer" §2.2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text_analysis import LANG_STOPWORDS

# query parameters stripped during canonicalization (tracking params);
# shared verbatim with the DuckDB oracle in contract_extra.py
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|ref)="

# default ports dropped per scheme
_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL as a single Column expression.

    Rules (each one a crawl-dedup staple):
      - scheme and host lowercased; userinfo (user:pass@) stripped;
        IPv6 literals keep their brackets
      - default ports dropped (http:80, https:443); other ports kept
      - path: runs of '/' collapsed, trailing '/' stripped, '' -> '/'
      - query: tracking params (TRACKING_PARAM_RE) removed, remaining
        params sorted bytewise, dropped entirely if none survive
      - fragment always dropped
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    # authority = [userinfo@]host[:port]; userinfo is STRIPPED (credential
    # variants of one url are one crawl target), and an IPv6 literal keeps
    # its brackets so host:port stays parseable
    auth = r"^[^:]+://(?:[^/?#]*@)?"
    host = F.lower(F.regexp_extract(url, auth + r"(\[[^\]]+\]|[^/?#:@]+)", 1))
    port = F.regexp_extract(url, auth + r"(?:\[[^\]]+\]|[^/?#:@]+):(\d+)", 1)
    path = F.regexp_extract(url, r"^[^:]+://[^/?#]+([^?#]*)", 1)
    # Anchor to the pre-fragment prefix: a '?' occurring after '#' is part
    # of the fragment (RFC 3986) and must not be read as a query string.
    query = F.regexp_extract(url, r"^[^#]*?\?([^#]*)", 1)

    port_part = F.when(
        (port == "")
        | ((scheme == "http") & (port == _DEFAULT_PORTS["http"]))
        | ((scheme == "https") & (port == _DEFAULT_PORTS["https"])),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))

    norm_path = F.regexp_replace(path, r"/{2,}", "/")
    norm_path = F.regexp_replace(norm_path, r"/$", "")
    norm_path = F.when(norm_path == "", F.lit("/")).otherwise(norm_path)

    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    query_part = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
    ).otherwise(F.lit(""))

    return F.concat(scheme, F.lit("://"), host, port_part, norm_path, query_part)


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds `canonical_url` next to the raw url column. Map-only."""
    return df.withColumn("canonical_url", canonical_url(F.col(url_col)))


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-level exact dedup: group by canonical url, canonical member =
    min id. One shuffle on the canonical-url hash (uniform unless one
    url truly repeats massively — that IS the duplicate mass a crawl
    dedup exists to find, and AQE's skew split handles the reduce side).

    Output: (id, canonical_url, canonical_id, group_size, is_duplicate).
    """
    canon = canonicalize_urls(df, url_col).select(id_col, "canonical_url")
    grp = canon.groupBy("canonical_url").agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").cast("long").alias("group_size"),
    )
    return canon.join(grp, "canonical_url").select(
        id_col,
        "canonical_url",
        "canonical_id",
        "group_size",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )


def host_of(url: Column) -> Column:
    """Lowercased host part of a URL (port and userinfo excluded; IPv6
    literals keep their brackets) — same authority grammar as
    canonical_url."""
    return F.lower(
        F.regexp_extract(
            url, r"^[^:]+://(?:[^/?#]*@)?(\[[^\]]+\]|[^/?#:@]+)", 1
        )
    )


def host_stats(df: DataFrame, url_col: str = "url",
               text_col: str = "text") -> DataFrame:
    """Per-host crawl curation stats: document count, distinct canonical
    urls, and char mass. The host distribution of a crawl is exactly the
    skew the north rule calls out — this is the aggregation that FINDS
    the skewed hosts (feed its output to cap_per_host or to a salting
    list).

    Shape at scale: one groupBy on host with partial (map-side)
    aggregation; countDistinct adds the standard two-phase expand. Heavy
    hosts are heavy KEYS, which AQE's skew-split handles on the reduce
    side. mean_chars divides two exact BIGINTs.
    """
    h = df.select(
        host_of(F.col(url_col)).alias("host"),
        canonical_url(F.col(url_col)).alias("_canon"),
        F.length(text_col).cast("long").alias("_chars"),
    )
    return h.groupBy("host").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("_canon").cast("long").alias("n_canonical_urls"),
        F.sum("_chars").alias("total_chars"),
        (F.sum("_chars").cast("double") / F.count("*")).alias("mean_chars"),
    )


def cap_per_host(df: DataFrame, url_col: str = "url",
                 id_col: str = "doc_id", max_per_host: int = 100,
                 salt_buckets: int = 16) -> DataFrame:
    """Deterministic per-host document cap (keep the ``max_per_host``
    lowest ids per host) — the standard anti-spam / diversity gate over
    a crawl.

    Two-level top-n so a mega-host never serializes in one task: rank
    within (host, salt) first — every task bounded by its salt slice —
    keep <= n per slice, then rank the <= salt_buckets * n survivors per
    host for the exact global answer. Output rows are a subset of the
    input (plus the host column); selection is exact and identical to a
    single-window rank because per-salt survivors are a superset of the
    global top-n.
    """
    d = df.withColumn("host", host_of(F.col(url_col))).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy("host", "_salt").orderBy(id_col)
    surv = d.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= max_per_host
    )
    w2 = Window.partitionBy("host").orderBy(id_col)
    return (
        surv.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= max_per_host)
        .drop("_salt", "_r1", "_r2")
    )


def gopher_quality_cols(min_words: int = 50,
                        max_words: int = 100_000,
                        min_mean_word_len: float = 3.0,
                        max_mean_word_len: float = 10.0,
                        min_alpha_word_frac: float = 0.80,
                        min_stop_hits: int = 2,
                        text_col: str = "text") -> dict:
    """Column expressions behind gopher_quality, exposed so composed
    plans (plans/curate.py) can compute the gate map-side in an existing
    projection instead of paying a doc_id join for a row-preserving
    map-only operator."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    mean_wl = sum_len.cast("double") / n_words
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / n_words
    )
    sw = "|".join(LANG_STOPWORDS["en"])
    # DISTINCT stopwords present (Gopher: "contain at least 2 of the
    # following ... words"), not total occurrences — a doc whose only
    # stopword content is "the ... the" has ONE stopword of evidence
    stop_hits = F.size(
        F.array_distinct(
            F.regexp_extract_all(F.lower(text_col), F.lit(rf"\b({sw})\b"), 0)
        )
    )
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": mean_wl,
        "alpha_word_frac": alpha_frac,
        "stop_hits": stop_hits.cast("long"),
        "keep": (
            n_words.between(min_words, max_words)
            & (mean_wl >= min_mean_word_len)
            & (mean_wl <= max_mean_word_len)
            & (alpha_frac > min_alpha_word_frac)
            & (stop_hits >= min_stop_hits)
        ),
    }


def gopher_quality(docs: DataFrame, min_words: int = 50,
                   max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   min_alpha_word_frac: float = 0.80,
                   min_stop_hits: int = 2) -> DataFrame:
    """Gopher-rule document quality gates (Rae et al. 2021 A1.1 subset
    that is meaningful without markup): word-count bounds, mean word
    length bounds, fraction of words containing an alphabetic character,
    and minimum distinct stopword evidence. Map-only; `keep` is the
    conjunction.
    """
    c = gopher_quality_cols(
        min_words=min_words, max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        min_alpha_word_frac=min_alpha_word_frac,
        min_stop_hits=min_stop_hits,
    )
    return docs.select(
        "doc_id",
        c["n_words"].alias("n_words"),
        c["mean_word_len"].alias("mean_word_len"),
        c["alpha_word_frac"].alias("alpha_word_frac"),
        c["stop_hits"].alias("stop_hits"),
        c["keep"].alias("keep"),
    )


def c4_line_filter(lines: DataFrame, min_words: int = 3,
                   require_terminal_punct: bool = False) -> DataFrame:
    """C4-style line filtering over an extracted-lines table
    (url, page, line_id, text): keep lines with at least ``min_words``
    whitespace words (and, optionally, terminal punctuation — off by
    default because the synthetic corpus has none). Returns the per-url
    report: kept/dropped counts and the newline-joined kept text in
    (page, line_id) order.

    The join is a collect_list over each url's KEPT lines — line-count
    sized, same bound as the flagship's body assembly; at giant-doc scale
    the same two-level guard applies (operators/boundaries.py).
    """
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    keep = n_words >= min_words
    if require_terminal_punct:
        keep = keep & F.col("text").rlike(r"[.!?\"']$")
    flagged = lines.select("url", "page", "line_id", "text", keep.alias("_keep"))
    return (
        flagged.groupBy("url")
        .agg(
            F.sum(F.col("_keep").cast("long")).alias("n_lines_kept"),
            F.sum((~F.col("_keep")).cast("long")).alias("n_lines_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct("page", "line_id", "text"),
                            )
                        )
                    ),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("kept_text"),
        )
    )


# PII patterns (order matters: emails first so their dotted domains are
# gone before the IP pass; phone last). Shared verbatim with the oracle.
PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"


def pii_scrub_cols(text_col: str = "text") -> dict:
    """Column expressions behind pii_scrub (see gopher_quality_cols for
    why these are exposed): scrubbed_text plus per-kind match counts."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), 0))
    scrubbed = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(scrubbed, F.lit(PII_IPV4_RE), 0))
    scrubbed = F.regexp_replace(scrubbed, PII_IPV4_RE, "<IP>")
    n_phones = F.size(F.regexp_extract_all(scrubbed, F.lit(PII_PHONE_RE), 0))
    scrubbed = F.regexp_replace(scrubbed, PII_PHONE_RE, "<PHONE>")
    return {
        "scrubbed_text": scrubbed,
        "n_emails": n_emails.cast("long"),
        "n_ips": n_ips.cast("long"),
        "n_phones": n_phones.cast("long"),
    }


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, IPv4 addresses, and NNN-NNN-NNNN phone numbers,
    reporting per-doc counts. Map-only regexp passes (Java regex here,
    RE2 in the oracle — the patterns stay inside the common subset:
    no backrefs, no lookaround)."""
    c = pii_scrub_cols(text_col)
    return docs.select(
        "doc_id",
        c["scrubbed_text"].alias("scrubbed_text"),
        c["n_emails"].alias("n_emails"),
        c["n_ips"].alias("n_ips"),
        c["n_phones"].alias("n_phones"),
    )


def block_boilerplate(blocks: DataFrame,
                      max_link_density: float = 0.33,
                      min_text_density: float = 2.0) -> DataFrame:
    """Text-density / link-density boilerplate classifier per block (the
    north-star's DOM-heuristic signal — jusText/Boilerpipe-style rules
    from Kohlschütter et al. 2010 and Pomikálek 2011, reimplemented from
    the published rule text):

      - link_density  = chars inside <a> spans / total chars in the block
      - text_density  = words per assembled line in the block
      - boilerplate iff link_density >= max_link_density (nav strips,
        footer menus, related-links boxes) OR text_density <
        min_text_density (sparse label/button clutter).

    Input: form_blocks output over lines that carry the per-line link
    stats (lines_from_words with drop_boilerplate, or build_segments
    with_link_stats), so each block row already holds n_words, n_chars,
    n_link_chars and n_lines from the block aggregate. Adds
    link_density, text_density and is_boilerplate to those rows: a
    projection, no join and no second pass over the lines. Densities
    divide two exact BIGINT sums, so the doubles are bit-identical across
    engines regardless of sum order.
    """
    link_density = F.col("n_link_chars").cast("double") / F.col("n_chars")
    text_density = F.col("n_words").cast("double") / F.col("n_lines")
    return blocks.select(
        "*",
        link_density.alias("link_density"),
        text_density.alias("text_density"),
        (
            (link_density >= max_link_density)
            | (text_density < min_text_density)
        ).alias("is_boilerplate"),
    )


def repeated_spans(lines: DataFrame, min_pages: int = 3,
                   min_frac: float = 0.5) -> DataFrame:
    """Cross-page repeated-span hashing (the north-star's text-hash
    boilerplate signal, complementary to the geometric H1-H5 voting): a
    line whose normalized-text hash appears on at least
    ``max(min_pages, ceil(min_frac * n_pages))`` distinct pages of its
    document is furniture regardless of y position — running headers,
    page footers, nav strips that move around.

    Input: an extracted-lines table (url, page, line_number, text).
    Output: every line with its span_hash, the distinct-page support of
    that hash, and the is_repeated_furniture verdict.

    Shape at scale: one line-sized groupBy on (url, span_hash), one
    line-sized groupBy on url, and co-partitioned joins back — every key
    carries the url prefix, so under the pipeline's url partitioning
    (with requireAllClusterKeysForCoPartition=false) nothing corpus-sized
    re-shuffles.
    """
    from ..functions.text import normalize_line

    hashed = lines.select(
        "url", "page", "line_number",
        F.md5(normalize_line(F.lower(F.col("text")))).alias("span_hash"),
    )
    n_pages = hashed.groupBy("url").agg(
        F.countDistinct("page").alias("_n_pages")
    )
    spans = hashed.groupBy("url", "span_hash").agg(
        F.countDistinct("page").cast("long").alias("n_span_pages")
    )
    return (
        hashed.join(spans, ["url", "span_hash"])
        .join(n_pages, "url")
        .select(
            "url", "page", "line_number", "span_hash", "n_span_pages",
            (
                F.col("n_span_pages")
                >= F.greatest(
                    F.lit(min_pages).cast("long"),
                    F.ceil(F.lit(min_frac) * F.col("_n_pages")),
                )
            ).alias("is_repeated_furniture"),
        )
    )


# -------- corpus mix rebalancing (training-data sampling)


def rate_threshold_hex(rate: float) -> str | None:
    """Sampling rate -> 8-hex-digit md5-prefix threshold (keep iff the
    first 8 hex chars of the doc's salted md5 are lexicographically below
    it). None means "keep everything" (rate >= 1). Shared by the Spark
    expression and the DuckDB oracle so both engines draw the identical
    deterministic sample."""
    if rate >= 1.0:
        return None
    return format(max(int(rate * 2**32), 0), "08x")


def mix_sample(docs: DataFrame, rates: dict[str, float],
               default_rate: float = 1.0, salt: str = "mix1",
               strat_col: str = "lang") -> DataFrame:
    """Deterministic stratified subsampling to rebalance a corpus mix
    (the Pile / multilingual-rebalancing staple: downsample over-
    represented strata to target proportions).

    Keep rule: first 8 hex chars of md5("salt:doc_id") compared
    lexicographically against the stratum's rate threshold — a pure
    map-side projection that is (a) reproducible across cluster sizes,
    partitionings and row order (unlike ``df.sample``, whose draw depends
    on partition layout), (b) portable bit-for-bit to any engine with
    md5, and (c) consistent: raising a stratum's rate only ADDS documents
    (the kept set is a prefix of the hash order), so incremental
    re-mixes are supersets.

    Output: one row per doc — (doc_id, <strat_col>, hash_prefix, keep).
    """
    prefix, keep = mix_sample_cols(
        rates, default_rate=default_rate, salt=salt, strat_col=strat_col
    )
    return docs.select(
        "doc_id", strat_col, prefix.alias("hash_prefix"), keep.alias("keep")
    )


def mix_sample_cols(rates: dict[str, float], default_rate: float = 1.0,
                    salt: str = "mix1", strat_col: str = "lang"):
    """(hash_prefix, keep) column expressions behind mix_sample (see
    gopher_quality_cols for why these are exposed)."""
    prefix = F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col("doc_id").cast("string"))),
        1, 8,
    )

    def keep_expr(rate: float):
        thr = rate_threshold_hex(rate)
        return F.lit(True) if thr is None else prefix < F.lit(thr)

    keep = keep_expr(default_rate)
    for k, rate in sorted(rates.items()):
        keep = F.when(F.col(strat_col) == k, keep_expr(rate)).otherwise(keep)
    return prefix, keep


def mix_plan(docs: DataFrame, targets: dict[str, float], token_budget: int,
             strat_col: str = "lang", token_col: str = "n_chars") -> DataFrame:
    """Compute per-stratum sampling rates so the sampled corpus
    approximates ``targets`` (stratum -> share of ``token_budget``):
    rate_k = min(1, targets[k] * budget / tokens_k). Strata absent from
    ``targets`` get rate 0 (excluded from the mix). The output feeds
    mix_sample (rates = {row.stratum: row.rate}).

    One tiny aggregation (strata-count rows); rates divide exact BIGINT
    sums so they are bit-identical across engines.
    """
    tgt = [(k, float(v)) for k, v in sorted(targets.items())]
    tgt_expr = F.create_map(*[F.lit(x) for kv in tgt for x in kv])
    agg = docs.groupBy(strat_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_col).cast("long").alias("stratum_tokens"),
    )
    share = tgt_expr[F.col(strat_col)]
    desired = share * F.lit(float(token_budget))
    rate = F.when(
        share.isNull(), F.lit(0.0)
    ).otherwise(F.least(F.lit(1.0), desired / F.col("stratum_tokens")))
    return agg.select(
        F.col(strat_col).alias("stratum"),
        "n_docs",
        "stratum_tokens",
        rate.alias("rate"),
    )


def pack_sequences(docs: DataFrame, seq_len: int = 2048,
                   token_col: str = "n_chars", order_col: str = "doc_id",
                   bucket_span: int = 4096) -> DataFrame:
    """Sequence packing for training-corpus assembly (the GPT-style
    "concatenate everything, cut every seq_len tokens" layout): per doc
    its global token offset in ``order_col`` order, and which packed
    sequences it lands in (documents may straddle pack boundaries).

    The global offset is a prefix sum — the one thing a naive Spark
    window CANNOT do at scale (an empty partitionBy = the whole corpus
    sorted in ONE task). This computes it two-level and deterministically,
    with no sampling (repartitionByRange boundaries vary per run and per
    branch — a correctness hazard when two branches of the same plan must
    agree on partition identity):

      1. bucket = order_col div bucket_span (deterministic, order-
         preserving); local cumsum per bucket via a window — every task
         bounded by bucket_span rows;
      2. bucket totals (one row per bucket) rolled up by groupBy,
         collected, prefix-summed driver-side, and broadcast-joined back.

    The collect is BUCKET-count-sized, not data-sized: at 10^12 docs,
    bucket_span=10^6 gives 10^6 totals (~8 MB on the driver) and
    10^6-row window tasks — both bounded by the parameter, never by the
    corpus. Offsets use exact integer arithmetic throughout.

    Output: (doc_id, n_tokens, token_offset, first_pack, last_pack) —
    first_pack/last_pack are the seq_len-sized training sequences the
    doc's tokens fall into; last_pack > first_pack means it straddles.
    """
    oc, tc = F.col(order_col), F.col(token_col).cast("long")
    b = docs.select(
        oc.alias("doc_id"),
        tc.alias("n_tokens"),
        F.expr(f"{order_col} div {bucket_span}").alias("_b"),
    )
    # explicit ROWS frame: the default RANGE frame sums ALL peers of a
    # tied order key into each tied row's cumsum; ids should be unique,
    # but a duplicated id must not silently corrupt every later offset
    w = (
        Window.partitionBy("_b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn("_cum", F.sum("n_tokens").over(w))
    totals = (
        b.groupBy("_b").agg(F.sum("n_tokens").alias("_t"))
        .orderBy("_b")
        .collect()
    )
    base, acc = [], 0
    for r in totals:
        base.append((r["_b"], acc))
        acc += r["_t"]
    spark = docs.sparkSession
    base_df = spark.createDataFrame(base, "_b long, _base long")
    out = local.join(F.broadcast(base_df), "_b").select(
        "doc_id",
        "n_tokens",
        (F.col("_base") + F.col("_cum") - F.col("n_tokens")).alias("token_offset"),
    )
    first = F.expr(f"token_offset div {seq_len}")
    last = F.when(
        F.col("n_tokens") > 0,
        F.expr(f"(token_offset + n_tokens - 1) div {seq_len}"),
    ).otherwise(first)
    return out.select(
        "doc_id", "n_tokens", "token_offset",
        first.alias("first_pack"), last.alias("last_pack"),
    )


def domain_match_col(rules: list[str], url_col: str = "url"):
    """matched_rule column expression for the literal (zero-shuffle)
    domain_gate path (see gopher_quality_cols for why this is exposed):
    lexicographically-smallest rule matching the url's host at a label
    boundary, NULL when nothing matches. ``rules`` must already be
    lower-cased, deduped and sorted (domain_gate does this)."""
    host = host_of(F.col(url_col))
    parts = F.split(host, r"\.")
    n = F.size(parts)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
    )
    lit_rules = F.array(*[F.lit(r) for r in rules]) if rules else (
        F.array().cast("array<string>"))
    return F.array_min(F.array_intersect(suffixes, lit_rules))


def domain_gate(df: DataFrame, domains: list[str], url_col: str = "url",
                mode: str = "block", via_join: bool = False) -> DataFrame:
    """UT1-style domain list gate (the blocklist stage every crawl
    curation pipeline runs before content filters). A rule matches a
    host at LABEL boundaries only: rule "ads.net" blocks "ads.net" and
    "sub.ads.net" but never "notads.net" — naive endswith gets this
    wrong. When several rules match, `matched_rule` is the
    lexicographically smallest (deterministic).

    mode="block": is_blocked = some rule matches; mode="allow": inverted
    (keep only listed domains, e.g. a curated-source allowlist).

    Two physical paths with identical output:
      * default (literal): the rule set rides the plan as an array
        literal and matching is array_intersect over the host's label
        suffixes — map-only, ZERO shuffles. Right up to ~10k rules.
      * via_join=True: explode the <=#labels suffixes per row and
        broadcast-equi-join the rule table, then a doc-keyed min — for
        UT1-sized lists (millions of rules) that cannot be a literal.
        The broadcast is rules-sized; the corpus never reshuffles its
        text (only the url/suffix projection moves).
    """
    if mode not in ("block", "allow"):
        raise ValueError("mode must be 'block' or 'allow'")
    rules = sorted(set(d.lower() for d in domains))
    host = host_of(F.col(url_col))
    parts = F.split(host, r"\.")
    n = F.size(parts)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
    )
    base = df.withColumn("host", host)
    if not via_join:
        out = base.withColumn(
            "matched_rule", domain_match_col(rules, url_col=url_col)
        )
    else:
        spark = df.sparkSession
        rules_df = spark.createDataFrame(
            [(r,) for r in rules], "rule string")
        keys = [c for c in ("doc_id", url_col) if c in base.columns]
        exploded = base.select(
            *keys, F.explode_outer(suffixes).alias("_sfx"))
        hits = (
            exploded.join(F.broadcast(rules_df),
                          exploded["_sfx"] == rules_df["rule"], "left")
            .groupBy(*keys)
            .agg(F.min("rule").alias("matched_rule"))
        )
        out = base.join(hits, keys, "left")
    blocked = (out["matched_rule"].isNotNull() if mode == "block"
               else out["matched_rule"].isNull())
    return out.withColumn("is_blocked", blocked)


def corpus_report(docs: DataFrame) -> DataFrame:
    """Corpus report card: the one-query health summary a curation run
    prints per language plus the all-corpus total (ROLLUP row,
    lang=NULL) — doc and token mass, Gopher-quality pass count, exact-
    dup unique count, mean tokens per doc. Composes token_counts,
    gopher_quality and exact_duplicates through doc_id-keyed joins; the
    rollup itself is strata-sized.

    Shape at scale: three doc-keyed aggregates/joins (each operator's
    own documented shape) into one partial-aggregated rollup — the
    report never materializes text beyond what the inputs already do.
    """
    from .text_analysis import token_counts as _token_counts
    from .dedup import exact_duplicates

    toks = _token_counts(docs).select("doc_id", "n_tokens")
    qual = gopher_quality(docs).select(
        "doc_id", F.col("keep").alias("_q"))
    dup = exact_duplicates(docs).select("doc_id", "is_duplicate")
    joined = (
        docs.select("doc_id", "lang")
        .join(toks, "doc_id")
        .join(qual, "doc_id")
        .join(dup, "doc_id")
    )
    return (
        joined.rollup("lang")
        .agg(
            # grouping indicator: 1 on the grand-total rollup row, 0 on
            # per-language strata — without it a genuinely-NULL lang
            # stratum is indistinguishable from the total (both print
            # lang=NULL) and NULL-lang docs double-count across two
            # NULL-labelled rows
            F.grouping("lang").cast("long").alias("is_total"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.col("_q").cast("long")).alias("n_quality_pass"),
            F.sum((~F.col("is_duplicate")).cast("long")).alias("n_unique"),
            (F.sum("n_tokens").cast("double") / F.count("*")).alias(
                "mean_tokens"),
        )
    )


def gopher_line_rules(docs: DataFrame, text_col: str = "text",
                      max_bullet_frac: float = 0.90,
                      max_ellipsis_frac: float = 0.30,
                      max_symbol_ratio: float = 0.10) -> DataFrame:
    """The Gopher rules gopher_quality leaves out because they need line
    structure (Rae et al. 2021 A1.1, MassiveText): drop a doc when more
    than 90% of its lines start with a bullet, more than 30% end with an
    ellipsis, or its symbol-to-word ratio ('#' plus ellipses) exceeds
    0.1. Lines are '\\n'-split; leading/trailing spaces ignored per line.
    Map-only pure Column expressions; `keep` is the conjunction.
    Single-line documents pass the line rules trivially (one non-bullet,
    non-ellipsis line) — the rules exist for markup-shaped text. Null
    text behaves like empty text (one empty line / one empty token).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(txt, "\n")
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[•\-\*]"))
    )
    ellipsis = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    )
    toks = F.split(F.trim(txt), r"\s+")
    n_words = F.size(toks)
    n_symbols = (
        F.size(F.regexp_extract_all(txt, F.lit("#"), 0))
        + F.size(F.regexp_extract_all(txt, F.lit(r"(\.\.\.|…)"), 0))
    )
    bullet_frac = bullet.cast("double") / n_lines
    ellipsis_frac = ellipsis.cast("double") / n_lines
    symbol_ratio = n_symbols.cast("double") / n_words
    return docs.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        symbol_ratio.alias("symbol_word_ratio"),
        (
            (bullet_frac <= max_bullet_frac)
            & (ellipsis_frac <= max_ellipsis_frac)
            & (symbol_ratio <= max_symbol_ratio)
        ).alias("keep"),
    )


def dedup_lines_within_doc(docs: DataFrame,
                           text_col: str = "text") -> DataFrame:
    """Within-document repeated-line collapse (the Dolma/C4-family rule
    that strips per-page boilerplate a cross-corpus dedup cannot see:
    nav menus, cookie banners, footers repeated INSIDE one concatenated
    page). Keeps the FIRST occurrence of each exact line, preserves
    order otherwise, drops later copies.

    Per doc: (doc_id, text [deduped], n_lines, n_lines_removed).
    Null text behaves like empty text — split('') is one empty line, so
    such docs report n_lines=1, n_lines_removed=0, text ''.

    Shape at scale: one text-sized exchange to (doc_id, line) for the
    min-position aggregate, then a doc-keyed re-assembly whose
    collect_list is bounded by the doc's own line count (the same
    per-doc bound as the flagship body assembly). This is linear in
    text size; the map-side HOF alternative (array_position per line)
    is O(lines^2) per doc and dies on the giant docs that need this
    rule most.
    """
    lines = docs.select(
        "doc_id",
        F.posexplode_outer(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    firsts = lines.groupBy("doc_id", "line").agg(
        F.min("pos").alias("pos"), F.count("*").cast("long").alias("n_copies")
    )
    per_doc = firsts.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text"),
        F.sum("n_copies").cast("long").alias("n_lines"),
        (F.sum("n_copies") - F.count("*")).cast("long")
        .alias("n_lines_removed"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce("n_lines_removed", F.lit(0)).cast("long")
        .alias("n_lines_removed"),
    )


def vocab_divergence(docs_a: DataFrame, docs_b: DataFrame,
                     text_col: str = "text",
                     round_dp: int = 6) -> DataFrame:
    """Per-word KL-divergence contributions between two corpora's
    unigram distributions — the drift/mix monitor a continuous pipeline
    runs between crawl snapshots or between a candidate mix and a
    reference corpus (the DSIR/CCNet family's diagnostic twin: same
    token model, corpus-vs-corpus instead of doc-vs-corpus).

    Add-one smoothing over the UNION vocabulary so either side's unseen
    words stay finite:  p_w = (c_a(w)+1) / (N_a+V),  q_w likewise, and
    kl_term = p_w * ln(p_w / q_w);  KL(P||Q) = sum of kl_term (consumers
    sum it — per-word rows keep the hot words inspectable, which is the
    point of a drift monitor).

    Per-word arithmetic is scalar and independent (no float fold), so
    determinism needs only the rounding. One text-sized exchange per
    corpus to word counts, a word-keyed full outer join, two broadcast
    single-row totals. No UDF, no collect.
    """

    def counts(d: DataFrame) -> DataFrame:
        return (
            d.select(
                F.explode(
                    F.regexp_extract_all(F.lower(F.col(text_col)),
                                         F.lit("[a-z0-9]+"), 0)
                ).alias("word")
            )
            .groupBy("word")
            .agg(F.count("*").cast("long").alias("c"))
        )

    ca = counts(docs_a).withColumnRenamed("c", "c_a")
    cb = counts(docs_b).withColumnRenamed("c", "c_b")
    joined = ca.join(cb, "word", "full_outer").select(
        "word",
        F.coalesce("c_a", F.lit(0)).alias("c_a"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    totals = joined.agg(
        F.sum("c_a").alias("_n_a"),
        F.sum("c_b").alias("_n_b"),
        F.count("*").cast("long").alias("_v"),
    )
    scored = joined.crossJoin(F.broadcast(totals))
    p = (F.col("c_a") + 1) / (F.col("_n_a") + F.col("_v"))
    q = (F.col("c_b") + 1) / (F.col("_n_b") + F.col("_v"))
    return scored.select(
        "word", "c_a", "c_b",
        F.round(p, round_dp).alias("p"),
        F.round(q, round_dp).alias("q"),
        F.round(p * F.log(p / q), round_dp).alias("kl_term"),
    )


def mix_plan_temperature(docs: DataFrame, alpha: float = 0.3,
                         token_budget: int = 1_000_000,
                         strat_col: str = "lang",
                         token_col: str = "n_chars",
                         round_dp: int = 6) -> DataFrame:
    """Temperature-based mixture rates (the mT5/XLM-R multilingual
    sampling recipe, Xue et al. 2021 §3.1 / Conneau et al. 2020 §3):
    stratum k's share of the budget is proportional to its token mass
    raised to ``alpha`` < 1 — upsampling the tail relative to natural
    frequency without hand-written targets (alpha=1 is natural
    sampling, alpha=0 uniform):

        share_k = tokens_k^alpha / sum_j tokens_j^alpha
        rate_k  = min(1, share_k * token_budget / tokens_k)

    Output matches mix_plan (stratum, n_docs, stratum_tokens, rate) and
    feeds mix_sample unchanged.

    Determinism: the normalizer sum_j tokens_j^alpha folds over the
    strata array SORTED by stratum key (nulls keyed as '' so both
    engines order identically); rates round to ``round_dp``. Shape: one
    strata-sized aggregation, one single-row broadcast — nothing
    corpus-sized moves.
    """
    agg = docs.groupBy(strat_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_col).cast("long").alias("stratum_tokens"),
    )
    a = F.lit(float(alpha))
    tot = agg.select(
        F.struct(
            F.coalesce(F.col(strat_col).cast("string"), F.lit(""))
            .alias("k"),
            F.col("stratum_tokens").alias("t"),
        ).alias("_s")
    ).agg(F.collect_list("_s").alias("_st")).select(
        F.aggregate(
            F.expr("transform(array_sort(_st), s -> CAST(s.t AS DOUBLE))"),
            F.lit(0.0),
            lambda acc, t: acc + F.pow(t, a),
        ).alias("_z")
    )
    scored = agg.crossJoin(F.broadcast(tot))
    share = F.pow(F.col("stratum_tokens").cast("double"), a) / F.col("_z")
    rate = F.least(
        F.lit(1.0),
        share * F.lit(float(token_budget)) / F.col("stratum_tokens"),
    )
    return scored.select(
        F.col(strat_col).alias("stratum"),
        "n_docs",
        "stratum_tokens",
        F.round(rate, round_dp).alias("rate"),
    )


def shuffle_shards(docs: DataFrame, n_shards: int = 16,
                   salt: str = "shard1",
                   token_col: str = "n_chars") -> DataFrame:
    """Deterministic global shuffle + shard layout for the training-data
    writer (the "shuffle once, shard into N files, read sequentially"
    step every LLM data pipeline ends with — Dolma/Megatron-style).

    sort_key = md5(salt:doc_id) is the shuffle order: reproducible
    across cluster sizes, partitionings and input row order (df.sample/
    rand() are not), and re-salting gives an independent epoch shuffle.
    shard = uint32(first 8 hex chars) mod n_shards — so shard assignment
    and within-shard order derive from the SAME key and any engine with
    md5 reproduces the exact layout. pos is the record's index within
    its shard file (row_number over the shard in key order, doc_id
    tie-break against 8-hex prefix collisions).

    Shape at 100 TB: the window is exactly one hash exchange on shard +
    a per-shard sort — which IS the physical write layout the shards
    need, so nothing is wasted; per-task work is corpus/n_shards. Size
    n_shards so a shard fits a task (10^12 docs -> 10^5-10^6 shards);
    for pathological few-giant-shards layouts the two-level bucket
    decomposition in pack_sequences applies verbatim.
    """
    key = F.md5(
        F.concat_ws(":", F.lit(salt), F.col("doc_id").cast("string"))
    )
    shard = F.pmod(
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long"),
        F.lit(int(n_shards)),
    ).cast("long")
    keyed = docs.select(
        "doc_id",
        F.col(token_col).cast("long").alias("n_tokens"),
        key.alias("sort_key"),
        shard.alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return keyed.select(
        "doc_id", "shard",
        F.row_number().over(w).cast("long").alias("pos"),
        "sort_key", "n_tokens",
    )
