"""Text-analysis operators for the training-data pipeline over `documents`.

All JVM-side (no UDFs): token counting, quality scoring, language ID
(stopword-hit heuristic), and document fingerprinting. Each has a DuckDB
oracle in contract.py. A18 (token counting) generalizes the reference's
utils/token_counter.py:86-184; normalization is O3 (utils/helpers.py:16-18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_line

# tiny per-language stopword lists (shared verbatim with the SQL oracles)
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "nicht"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "et", "les", "des"],
}


def token_counts(docs: DataFrame) -> DataFrame:
    """A18: whitespace tokens + BPE-ish subword proxy + char count."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # BPE-ish: alnum runs and single punctuation marks
    bpe = F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(bpe).cast("long").alias("n_subtokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Quality heuristics: mean word length, stopword ratio, punct ratio."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tok = F.size(toks)
    sw = "|".join(LANG_STOPWORDS["en"])
    n_stop = F.size(F.regexp_extract_all(F.lower("text"), F.lit(rf"\b({sw})\b"), 0))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0))
    n_alpha = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]"), 0))
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        (F.length(F.regexp_replace("text", r"\s+", "")).cast("double") / n_tok).alias(
            "mean_word_len"
        ),
        (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
        (n_punct.cast("double") / F.length("text")).alias("punct_ratio"),
        (n_alpha.cast("double") / F.length("text")).alias("alpha_ratio"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """n-gram-free language ID: argmax stopword-hit count per language,
    deterministic tie-break by language code."""
    lower = F.lower("text")
    scores = [
        F.struct(
            F.size(
                F.regexp_extract_all(lower, F.lit(rf"\b({'|'.join(ws)})\b"), 0)
            ).alias("hits"),
            # tie-break: higher struct wins on hits, then LOWER code wins ->
            # invert code ordering via a rank literal
            F.lit(-i).alias("rank"),
            F.lit(code).alias("code"),
        )
        for i, (code, ws) in enumerate(sorted(LANG_STOPWORDS.items()))
    ]
    best = F.greatest(*scores)
    return docs.select(
        "doc_id",
        best["code"].alias("pred_lang"),
        best["hits"].cast("long").alias("hits"),
        "lang",
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over O3-normalized text (portable across
    engines), plus a 16-hex-char prefix as a 64-bit-ish bucket key."""
    norm = normalize_line(F.lower("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("fp_bucket"),
    )


def char_runs(docs: DataFrame, max_doc_id: int | None = None) -> DataFrame:
    """C8 (get_fonts.py:40-88): char-level run segmentation — the
    reference splits character runs on font/size change; generalized here
    to character-class runs (digit/alpha/space/punct) over `text`, using
    the same lag-flag -> cumulative-sum sessionization as C3.
    """
    from pyspark.sql import Window

    d = docs if max_doc_id is None else docs.filter(F.col("doc_id") < max_doc_id)
    chars = d.select(
        "doc_id",
        F.posexplode(F.regexp_extract_all(F.col("text"), F.lit(r"[\s\S]"), 0)).alias(
            "pos", "ch"
        ),
    )
    cls = (
        F.when(F.col("ch").rlike("[0-9]"), "digit")
        .when(F.col("ch").rlike("[A-Za-z]"), "alpha")
        .when(F.col("ch").rlike(r"\s"), "space")
        .otherwise("punct")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = chars.withColumn("cls", cls).withColumn(
        "is_new",
        F.when(F.lag("cls").over(w).isNull() | (F.lag("cls").over(w) != F.col("cls")), 1)
        .otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return runs.groupBy("doc_id", "run_id").agg(
        F.min_by("cls", "pos").alias("char_class"),
        F.count("*").cast("long").alias("run_len"),
        F.min("pos").cast("long").alias("run_start"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4,
                        max_doc_id: int | None = None) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash family): hash
    every char k-gram, then keep the DISTINCT set of per-window minima
    over windows of w consecutive k-gram hashes — the selection set of
    the classic winnowing scheme (any copy of length >= w+k-1 shares a
    fingerprint).

    Entirely map-side: the k-gram hash array, the window minima, and the
    per-doc dedup are array expressions over each document row; only the
    final explode leaves the row. Output: (doc_id, fingerprint).

    The sliding-window minimum is a chain of w-1 zip_withs of F.least
    over shifted slices of the hash array: zip_with evaluates its array
    arguments ONCE per row, where a per-position array_min(slice(...))
    lambda re-evaluates the captured hash-array expression per element —
    O(chars * k) md5 work per position, O(chars^2 * k) per document
    (measured: sf0.1 did not finish in 9 minutes; this shape runs it in
    seconds).
    """
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    n = F.length("text")
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.md5(F.col("text").substr(i, F.lit(k))),
    )
    size = F.size(grams)
    acc = grams
    for s in range(1, w):
        acc = F.zip_with(
            acc, F.slice(grams, s + 1, size - s),
            lambda a, b: F.least(a, b),
        )
    # zip_with pads to the longer array; cut the trailing partial windows
    mins = F.slice(acc, 1, size - (w - 1))
    sel = F.when(n >= k + w - 1, F.array_distinct(mins)).otherwise(
        F.array().cast("array<string>")
    )
    return docs.select("doc_id", F.explode(sel).alias("fingerprint"))


def shared_span_stats(docs: DataFrame, k: int = 8, w: int = 4,
                      min_docs: int = 5, max_shared_frac: float = 0.8,
                      max_doc_id: int | None = None) -> DataFrame:
    """Cross-document shared-span contamination per doc: the fraction of
    a document's winnowing fingerprints that also occur in >= min_docs
    distinct documents. High fractions mark template/mirror pages whose
    text is mostly spans copied across the corpus — the cross-doc
    complement of the near-dup pair detectors (a page can be 80% template
    without any single near-duplicate partner).

    Shape at scale: winnow_fingerprints is map-side; then one groupBy on
    the uniform md5 fingerprint key (partial agg + distinct expand) and
    one fingerprint-keyed join back — no skewed keys, no all-pairs.
    shared_frac divides two exact BIGINTs.
    """
    fps = winnow_fingerprints(docs, k=k, w=w, max_doc_id=max_doc_id)
    df_counts = fps.groupBy("fingerprint").agg(
        F.countDistinct("doc_id").alias("_df")
    )
    per_doc = fps.join(df_counts, "fingerprint").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_fingerprints"),
        F.sum(F.when(F.col("_df") >= min_docs, 1).otherwise(0))
        .cast("long").alias("n_shared"),
    )
    frac = F.col("n_shared").cast("double") / F.col("n_fingerprints")
    return per_doc.select(
        "doc_id", "n_fingerprints", "n_shared",
        frac.alias("shared_frac"),
        (frac >= max_shared_frac).alias("is_template_heavy"),
    )


def repetition_stats(docs: DataFrame, top_gram_n: int = 2,
                     dup_gram_n: int = 5,
                     max_top_frac: float = 0.20,
                     max_dup_frac: float = 0.15) -> DataFrame:
    """Gopher-style intra-document repetition gates (Rae et al. 2021
    App. A1.1 repetition subset, reimplemented from the rule text):

      - top_gram_frac: chars of the single most frequent word n-gram
        (n=top_gram_n), counted over all its occurrences, / doc chars.
      - dup_gram_frac: chars of every n-gram (n=dup_gram_n) occurring
        more than once, counted over all occurrences, / doc chars.
        Overlapping occurrences each count (documented deviation kept
        identical in the oracle).

    Ties on the top gram break to the lexicographically greatest gram at
    the max count (deterministic). keep = both fractions at or under
    their thresholds.

    Shape at scale: explode to (doc_id, gram) — bounded amplification of
    ~words-per-doc rows — then two partial-agg groupBys keyed by
    (doc_id, gram) and doc_id; both keys uniform. Fractions divide exact
    BIGINTs. Documents with fewer than top_gram_n words are omitted from
    the output (no gram exists to score).
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)

    def grams(gn: int):
        # n-grams as a chain of zip_withs over shifted slices (the
        # shingle_array construction): each zip_with evaluates its array
        # arguments ONCE per row, where the round-3 per-position
        # element_at lambda re-evaluated the captured split per element —
        # O(words) work per position, O(words^2) per doc. Measured at
        # sf0.1/local[32]: 16.3 s -> 2.8 s for the 5-gram explode+agg.
        acc = toks
        for k in range(2, gn + 1):
            acc = F.zip_with(
                acc, F.slice(toks, k, n - (k - 1)),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        # zip_with pads to the longer array, leaving short trailing
        # grams; the final slice cuts them (and guards n < gn, where
        # sequence-based forms would need the descending-range guard)
        return F.when(
            n >= gn, F.slice(acc, 1, n - (gn - 1))
        ).otherwise(F.array().cast("array<string>"))

    base = docs.select(
        "doc_id", F.length("text").cast("long").alias("_doc_chars"),
        grams(top_gram_n).alias("_tg"), grams(dup_gram_n).alias("_dg"),
    )
    tg = base.select("doc_id", "_doc_chars", F.explode("_tg").alias("g"))
    dg = base.select("doc_id", "_doc_chars", F.explode("_dg").alias("g"))

    top = (
        tg.groupBy("doc_id", "_doc_chars", "g")
        .agg(F.count("*").cast("long").alias("c"))
        .groupBy("doc_id", "_doc_chars")
        .agg(
            F.max_by(
                F.struct(
                    F.col("g").alias("g"),
                    (F.length("g").cast("long") * F.col("c")).alias("chars"),
                ),
                F.struct("c", "g"),
            ).alias("_top")
        )
        .select(
            "doc_id", "_doc_chars",
            F.col("_top")["g"].alias("top_gram"),
            F.col("_top")["chars"].alias("_top_chars"),
        )
    )
    dup = (
        dg.groupBy("doc_id", "g")
        .agg(F.count("*").cast("long").alias("c"))
        .filter(F.col("c") > 1)
        .groupBy("doc_id")
        .agg(
            F.sum(F.length("g").cast("long") * F.col("c")).alias("_dup_chars")
        )
    )
    out = top.join(dup, "doc_id", "left").na.fill({"_dup_chars": 0})
    top_frac = F.col("_top_chars").cast("double") / F.col("_doc_chars")
    dup_frac = F.col("_dup_chars").cast("double") / F.col("_doc_chars")
    return out.select(
        "doc_id", "top_gram",
        top_frac.alias("top_gram_frac"),
        dup_frac.alias("dup_gram_frac"),
        (
            (top_frac <= max_top_frac) & (dup_frac <= max_dup_frac)
        ).alias("keep"),
    )


def lm_perplexity(docs: DataFrame, text_col: str = "text",
                  by_lang: bool = True, round_dp: int = 4) -> DataFrame:
    """CCNet-style LM perplexity scoring (Wenzek et al. 2020 §3.3),
    self-contained: instead of an external KenLM binary (not available,
    and not deterministic across builds), train an add-one-smoothed
    unigram LM on the corpus itself — per language when `by_lang` — and
    score every document's per-token cross-entropy against it. Low
    perplexity = looks like the corpus average (CCNet's "head").

      p(w) = (c_w + 1) / (N + V + 1)        c_w corpus count, N total
                                             tokens, V vocab size
      cross_entropy(doc) = ln(N+V+1) - (1/n) * sum_tokens ln(c_w + 1)
      perplexity = exp(cross_entropy)

    Determinism: the per-doc sum of ln(c_w+1) is folded OVER A SORTED
    ARRAY of (corpus_count, doc_multiplicity) pairs — the same sequential
    left-fold the DuckDB oracle performs — so the float result does not
    depend on row order or partitioning; outputs are rounded to
    `round_dp` so 1-ulp ln/exp differences between engines cannot leak
    into the hash. Documents with zero alphanumeric tokens are omitted
    (they have no tokens to score — mirrored by the oracle's unnest).

    Shape at scale: one text-sized exchange to the (doc_id, word) partial
    aggregate, a word-sized vocab aggregate, a word-keyed equi-join back
    (AQE handles head-word skew; vocab side is 1 row/word), then
    doc-keyed aggregates. The per-doc collect_list is bounded by distinct
    corpus-count values among the doc's words (<= distinct words/doc).
    No collect, no UDF, no global sort.
    """
    key = ["lang"] if by_lang else []
    words = docs.select(
        "doc_id", *key,
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit("[a-z0-9]+"), 0)
        ).alias("word"),
    )
    dw = words.groupBy("doc_id", *key, "word").agg(
        F.count("*").cast("long").alias("m"))
    vocab = dw.groupBy(*key, "word").agg(F.sum("m").alias("c"))
    totals = (
        vocab.groupBy(*key).agg(
            F.sum("c").alias("_n_total"),
            F.count("*").cast("long").alias("_v"))
        if key else
        vocab.agg(F.sum("c").alias("_n_total"),
                  F.count("*").cast("long").alias("_v"))
    )
    # joins are NULL-SAFE on lang (eqNullSafe): docs with lang NULL form
    # their own LM group instead of silently vanishing through an inner
    # equi-join on a null key
    if key:
        dc_join = dw.alias("d").join(
            vocab.alias("v"),
            F.col("d.lang").eqNullSafe(F.col("v.lang"))
            & (F.col("d.word") == F.col("v.word")),
        ).select("d.doc_id", "d.lang", "d.m", "v.c")
    else:
        dc_join = dw.join(vocab, ["word"]).select("doc_id", "m", "c")
    dc = dc_join.groupBy("doc_id", *key, "c").agg(F.sum("m").alias("mc"))
    per_doc = dc.groupBy("doc_id", *key).agg(
        F.sum("mc").alias("n_tokens"),
        F.collect_list(F.struct(F.col("c"), F.col("mc").alias("m"))).alias("_cm"),
    )
    if key:
        scored = per_doc.alias("p").join(
            F.broadcast(totals.alias("t")),
            F.col("p.lang").eqNullSafe(F.col("t.lang")),
        ).select("p.doc_id", "p.lang", "p.n_tokens", "p._cm",
                 "t._n_total", "t._v")
    else:
        scored = per_doc.crossJoin(F.broadcast(totals))
    sum_ln = F.aggregate(
        F.expr("transform(array_sort(_cm), p -> p.m * ln(p.c + 1))"),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ce = F.round(
        F.log(F.col("_n_total") + F.col("_v") + F.lit(1))
        - sum_ln / F.col("n_tokens"),
        round_dp,
    )
    return scored.select(
        "doc_id", *key, "n_tokens",
        ce.alias("cross_entropy"),
        F.round(F.exp(ce), round_dp).alias("perplexity"),
    )


def perplexity_bucket(scored: DataFrame, head_cutoff: float,
                      tail_cutoff: float) -> DataFrame:
    """CCNet head/middle/tail split by FIXED cutoffs (CCNet applies
    thresholds computed offline per language; see perplexity_cutoffs for
    the production way to obtain them). Map-only — comparisons run on the
    already-rounded perplexity, so bucket labels are as deterministic as
    the scores."""
    return scored.withColumn(
        "bucket",
        F.when(F.col("perplexity") <= head_cutoff, F.lit("head"))
        .when(F.col("perplexity") <= tail_cutoff, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def perplexity_cutoffs(scored: DataFrame, by_lang: bool = True,
                       qs: tuple[float, float] = (1.0 / 3, 2.0 / 3),
                       accuracy: int = 10000) -> DataFrame:
    """Production cutoff estimation: approx_percentile of the perplexity
    distribution (per language when `by_lang`). Approximate by design —
    an exact global tertile of 10^12 doc scores is a full sort; CCNet
    itself uses offline-estimated thresholds. Feed the two values into
    perplexity_bucket. Pytest-checked for ordering and bucket mass, not
    oracle-hashed."""
    key = ["lang"] if by_lang else []
    pct = F.percentile_approx(
        "perplexity", F.array(F.lit(qs[0]), F.lit(qs[1])), F.lit(accuracy))
    agg = (scored.groupBy(*key) if key else scored.groupBy())
    return agg.agg(
        pct[0].alias("head_cutoff"), pct[1].alias("tail_cutoff"))


def dsir_weights(docs: DataFrame, target: DataFrame,
                 text_col: str = "text", round_dp: int = 4) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling", simplified to unigram features): score every raw doc by
    how much more likely a TARGET-corpus LM finds it than the raw-corpus
    LM —

      log_weight(x) = log p_target(x) - log p_raw(x)

    under add-one unigram LMs trained on `target` and on `docs`
    respectively (same estimator as lm_perplexity; a word absent from a
    vocab scores ln(0+1)=0 in the fold and the OOV mass rides the
    ln(N+V+1) normalizer). High log_weight = target-like; resample with
    mix_sample-style deterministic thresholds or rank-select downstream.

    Determinism: one sequential fold over the per-doc (ct, cr, m) terms
    sorted by that struct — identical order in the DuckDB oracle's
    list_sort/list_reduce — then rounded, exactly the t12 discipline.

    Shape at scale: the raw side is lm_perplexity's shape (text-sized
    exchange to (doc,word), word-sized vocab, word-keyed join). The
    target vocab joins LEFT so OOV words keep scoring; both totals rows
    broadcast. No collects, no global sort.
    """
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit("[a-z0-9]+"), 0)
        ).alias("word"),
    )
    dw = words.groupBy("doc_id", "word").agg(
        F.count("*").cast("long").alias("m"))
    raw_vocab = dw.groupBy("word").agg(F.sum("m").alias("cr"))
    raw_tot = raw_vocab.agg(
        F.sum("cr").alias("_nr"), F.count("*").cast("long").alias("_vr"))
    tgt_words = target.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit("[a-z0-9]+"), 0)
        ).alias("word"),
    )
    tgt_vocab = tgt_words.groupBy("word").agg(
        F.count("*").cast("long").alias("ct"))
    # empty target: sum() is NULL — coalesce to the degenerate-but-defined
    # empty LM (every token scores the uniform smoothing mass) instead of
    # silently nulling every weight
    tgt_tot = tgt_vocab.agg(
        F.coalesce(F.sum("ct"), F.lit(0).cast("long")).alias("_nt"),
        F.count("*").cast("long").alias("_vt"))

    joined = (
        dw.join(raw_vocab, "word")
        .join(tgt_vocab, "word", "left")
        .select(
            "doc_id", "m", "cr",
            F.coalesce("ct", F.lit(0).cast("long")).alias("ct"),
        )
    )
    per_doc = (
        joined.groupBy("doc_id", "ct", "cr")
        .agg(F.sum("m").alias("mc"))
        .groupBy("doc_id")
        .agg(
            F.sum("mc").alias("n_tokens"),
            F.collect_list(
                F.struct(F.col("ct"), F.col("cr"), F.col("mc").alias("m"))
            ).alias("_terms"),
        )
    )
    scored = per_doc.crossJoin(F.broadcast(raw_tot)).crossJoin(
        F.broadcast(tgt_tot))
    fold = F.aggregate(
        F.expr(
            "transform(array_sort(_terms),"
            " p -> p.m * (ln(p.ct + 1) - ln(p.cr + 1)))"
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    log_w = F.round(
        fold
        + F.col("n_tokens")
        * (F.log(F.col("_nr") + F.col("_vr") + F.lit(1))
           - F.log(F.col("_nt") + F.col("_vt") + F.lit(1))),
        round_dp,
    )
    return scored.select("doc_id", "n_tokens", log_w.alias("log_weight"))


def linear_quality(docs: DataFrame, weights: DataFrame, bias: float = 0.0,
                   text_col: str = "text", round_dp: int = 4) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE (Joulin et al.
    2017, arXiv:1607.01759 — the shape of the CCNet/LLaMA "looks like
    Wikipedia" filter and FineWeb-Edu's scorer): a document's score is
    sigmoid(bias + mean over tokens of the token's learned weight).
    Training happens offline on labeled data; what runs over 100 TB is
    this scoring pass, so that's the operator.

    ``weights`` is a (word, weight) DataFrame — the trained model.
    OOV tokens contribute weight 0 (LEFT join, coalesce). Zero-token
    documents still score (sigmoid(bias)) so the downstream gate sees
    every doc, unlike lm_perplexity, which has nothing to score.

    Determinism: per-doc token weights fold over an array SORTED by
    word — the same sequential left-fold the DuckDB oracle performs —
    so the float sum is independent of row order and partitioning;
    scores round to ``round_dp``.

    Shape at scale: one text-sized exchange to the (doc_id, word)
    partial aggregate, a word-keyed equi-join against the model (NOT
    broadcast by hand — a hashed-bigram fastText model is millions of
    rows; AQE broadcasts it when it truly is small), then one doc-keyed
    aggregate. No UDF, no collect, no global sort.
    """
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit("[a-z0-9]+"), 0)
        ).alias("word"),
    )
    dw = words.groupBy("doc_id", "word").agg(
        F.count("*").cast("long").alias("m"))
    # A duplicate word row in the model would fan the word-keyed join out
    # and double-count that token's weight; collapse duplicates to their
    # mean (identity for a well-formed model, deterministic otherwise).
    uniq_w = weights.groupBy("word").agg(F.avg("weight").alias("weight"))
    ww = dw.join(
        uniq_w, "word", "left"
    ).select(
        "doc_id", "word", "m",
        F.coalesce("weight", F.lit(0.0)).alias("w"),
    )
    per_doc = ww.groupBy("doc_id").agg(
        F.sum("m").alias("n_tokens"),
        F.collect_list(F.struct("word", "w", "m")).alias("_wm"),
    )
    sum_w = F.aggregate(
        F.expr("transform(array_sort(_wm), p -> p.m * p.w)"),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = per_doc.select(
        "doc_id", "n_tokens",
        (F.lit(float(bias)) + sum_w / F.col("n_tokens")).alias("_z"),
    )
    out = docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("_z", F.lit(float(bias))).alias("_z"),
    )
    return out.select(
        "doc_id", "n_tokens",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_z"))),
                round_dp).alias("score"),
    ).withColumn("label", F.col("score") >= 0.5)


def train_logreg_words(docs: DataFrame, label_col: str = "label",
                       steps: int = 2, lr: float = 1.0,
                       text_col: str = "text",
                       grad_dp: int = 9) -> DataFrame:
    """Distributed full-batch logistic-regression TRAINING of the
    (word, weight) model ``linear_quality`` consumes (round-5 VERDICT
    item #4 — the training half of the fastText-shape classifier,
    Joulin et al. 2017, arXiv:1607.01759; trained here as plain
    gradient descent on the mean-token-weight logit).

    Model (matches linear_quality scoring with bias 0):
        z_i = (sum_j m_ij * w_j) / n_i,   p_i = sigmoid(z_i)
    Full-batch gradient of the mean logistic loss:
        g_j = (1/N) * sum_i (p_i - y_i) * m_ij / n_i
        w_j <- w_j - lr * g_j
    starting from w = 0. ``label_col`` must be boolean/0-1.

    Every step is DataFrame-only: one word-keyed equi-join of the
    (doc_id, word, m) table against the current weights, a doc-keyed
    aggregate for the margins, and a word-keyed aggregate for the
    gradient; weights never leave the cluster (localCheckpoint per step
    truncates the iterative lineage exactly like connected_components).
    Zero-token documents cannot contribute gradient and are excluded
    from N.

    Determinism: the per-doc margin folds over word-sorted terms (the
    linear_quality trick), and each gradient component is quantized to
    ``grad_dp`` decimals with banker's rounding before the update —
    corpus-scale float-sum noise is ~1e-13, six orders below the 1e-9
    quantum, so the trained weights are bit-identical across
    partitionings and reproducible by the DuckDB oracle (t17).
    """
    from ..functions.rounding import py_round

    if steps < 1:
        raise ValueError("steps must be >= 1")
    quant = float(10 ** grad_dp)
    dw = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)),
                                     F.lit("[a-z0-9]+"), 0)
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("m"))
        .persist()
    )
    nd = (
        dw.groupBy("doc_id")
        .agg(F.sum("m").alias("n"))
        .join(
            docs.select(
                "doc_id", F.col(label_col).cast("double").alias("y")
            ),
            "doc_id",
        )
        .persist()
    )
    n_docs = nd.count()  # parameter-sized driver scalar
    weights = dw.select("word").distinct().select(
        "word", F.lit(0.0).alias("weight")
    ).localCheckpoint(eager=True)
    for _ in range(steps):
        ww = dw.join(weights, "word").select(
            "doc_id", "word", "m", F.col("weight").alias("w")
        )
        margins = ww.groupBy("doc_id").agg(
            F.collect_list(F.struct("word", "w", "m")).alias("_wm")
        )
        fold = F.aggregate(
            F.expr("transform(array_sort(_wm), p -> p.m * p.w)"),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        resid = margins.select("doc_id", fold.alias("_s")).join(
            nd, "doc_id"
        ).select(
            "doc_id",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.col("_s") / F.col("n"))))
                - F.col("y")
            ).alias("resid"),
            "n",
        )
        grad = dw.join(resid, "doc_id").groupBy("word").agg(
            F.sum(F.col("resid") * F.col("m") / F.col("n")).alias("_g")
        ).select(
            "word",
            (py_round((F.col("_g") / n_docs) * quant) / quant).alias("g"),
        )
        weights = weights.join(grad, "word", "left").select(
            "word",
            (F.col("weight") - lr * F.coalesce("g", F.lit(0.0))).alias(
                "weight"
            ),
        ).localCheckpoint(eager=True)
    dw.unpersist()
    nd.unpersist()
    return weights

# tiny per-language character-trigram profiles (shared verbatim with the
# SQL oracles; profile size is a constant, so the per-doc scoring cost is
# O(len(text) * sum(len(profiles))) with no exchange at all)
LANG_TRIGRAMS = {
    "en": ["the", "he ", " th", "ing", "and", "ion", "ow ", "le "],
    "de": ["der", "sch", "ich", "ein", "und", "cht", "ung", "gen"],
    "es": [" de", "de ", "la ", " la", "os ", "ión", "ent", "que"],
    "fr": ["es ", "le ", " le", "ent", "que", "ait", "eur", "oux"],
}


def lang_id_trigrams(docs: DataFrame) -> DataFrame:
    """Character-n-gram language ID (the classic Cavnar-Trenkle n-gram
    heuristic, trigram variant): every overlapping 3-gram of the
    lowercased text is matched against each language's fixed trigram
    profile; the predicted language is the argmax hit count with a
    deterministic lowest-code tie-break (same rule as lang_id).

    Pure map-side Column work — the trigram array is built with
    transform(sequence(...)) and scored with filter(array_contains),
    so no explode, no exchange, no UDF; cost is linear in text length.
    Complements the stopword-based lang_id (words vs characters — the
    char path is what holds up on unsegmented scripts).
    """
    lower = F.lower(F.col("text"))
    # guard: sequence(1, n) is DESCENDING for n < 1 in Spark, so clamp
    # short texts to an explicitly empty trigram array
    tris = F.when(
        F.length(lower) >= 3,
        F.expr(
            "transform(sequence(1, length(lower(text)) - 2),"
            " i -> substring(lower(text), i, 3))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    scores = []
    for i, (code, profile) in enumerate(sorted(LANG_TRIGRAMS.items())):
        prof = F.array(*[F.lit(t) for t in profile])
        hits = F.size(F.filter(tris, lambda t: F.array_contains(prof, t)))
        scores.append(
            F.struct(
                hits.alias("hits"),
                F.lit(-i).alias("rank"),  # ties -> lowest language code
                F.lit(code).alias("code"),
            )
        )
    best = F.greatest(*scores)
    return docs.select(
        "doc_id",
        best["code"].alias("pred_lang"),
        best["hits"].cast("long").alias("hits"),
        "lang",
    )


def tfidf_topk(docs: DataFrame, k: int = 5, round_dp: int = 6) -> DataFrame:
    """Per-document top-k TF-IDF terms — the keyword/topic profile a
    training-data pipeline uses for corpus inspection, cluster labeling
    and domain-mix audits.

    Smoothed IDF (the sklearn formula): idf = ln((N+1)/(df+1)) + 1, so
    a term present in every document still scores > 0 and no division
    ever sees zero. score = tf * idf rounded to ``round_dp``; ranking
    uses the ROUNDED score (desc, then word asc) so the order is
    bit-portable across engines.

    Shape at 100 TB: one (doc_id, word) exchange for tf, one word-keyed
    rollup for df joined back on word (both uniform keys), one
    single-row broadcast for N; the top-k window partitions by doc_id —
    per-task work bounded by a document's vocabulary, never the corpus.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("word"),
    )
    tf = toks.groupBy("doc_id", "word").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = tf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.agg(F.count("*").cast("long").alias("_n"))
    scored = tf.join(dfreq, "word").crossJoin(F.broadcast(n_docs)).select(
        "doc_id", "word", "tf", "df",
        F.round(
            F.col("tf")
            * (
                F.log((F.col("_n") + 1) / (F.col("df") + 1)) + F.lit(1.0)
            ),
            round_dp,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "word", "tf", "df", "score")
    )
