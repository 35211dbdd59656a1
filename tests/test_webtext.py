"""Unit tests for the webtext training-data operators
(operators/webtext.py): URL canonicalization corner cases, Gopher gate
boundaries, C4 line filtering, PII scrubbing."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from pdf_plumber_util_spark.operators.webtext import (
    c4_line_filter,
    canonical_url,
    gopher_quality,
    pii_scrub,
    url_dedup,
)


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]


def test_canonical_url_corner_cases(spark):
    got = _canon(spark, [
        # mixed case scheme/host, default https port, fragment
        "HTTPS://WWW.Example.COM:443/Path/#frag",
        # default http port
        "http://example.com:80/a",
        # non-default port kept
        "http://example.com:8080/a",
        # duplicate-slash collapse + trailing-slash strip
        "https://example.com//a///b//",
        # empty path -> '/'
        "https://example.com",
        # tracking params dropped, remainder sorted, '&&' empties ignored
        "https://example.com/p?utm_source=x&b=2&&a=1&gclid=z&fbclid=f&ref=r",
        # ALL params tracking -> no '?' at all
        "https://example.com/p?utm_campaign=x&utm_medium=y",
        # case preserved in path and query values
        "https://example.com/CaseSensitive?Q=Val",
    ])
    assert got == [
        "https://www.example.com/Path",
        "http://example.com/a",
        "http://example.com:8080/a",
        "https://example.com/a/b",
        "https://example.com/",
        "https://example.com/p?a=1&b=2",
        "https://example.com/p",
        "https://example.com/CaseSensitive?Q=Val",
    ]


def test_url_dedup_groups(spark):
    df = spark.createDataFrame(
        [
            (1, "https://A.com/x/"),
            (2, "HTTPS://a.COM:443/x"),
            (3, "https://a.com/x?utm_source=t"),
            (4, "https://b.com/y"),
        ],
        "doc_id long, url string",
    )
    rows = {r["doc_id"]: r for r in url_dedup(df).collect()}
    assert rows[1]["canonical_id"] == 1 and not rows[1]["is_duplicate"]
    assert rows[2]["canonical_id"] == 1 and rows[2]["is_duplicate"]
    assert rows[3]["canonical_id"] == 1 and rows[3]["group_size"] == 3
    assert rows[4]["canonical_id"] == 4 and rows[4]["group_size"] == 1


def test_gopher_boundaries(spark):
    mk = lambda n: " ".join(["the", "and"] + ["word"] * (n - 2))
    df = spark.createDataFrame(
        [
            (1, mk(50)),            # exactly min_words -> keep
            (2, mk(49)),            # one short -> drop
            (3, " ".join(["the", "and"] + ["x" * 11] * 48)),  # mean len > 10
            (4, " ".join(["the", "and"] + ["12345"] * 58)),   # alpha frac 2/60
            (5, " ".join(["word"] * 60)),                     # no stopwords
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert got[1]["keep"] and got[1]["n_words"] == 50
    assert not got[2]["keep"]
    assert not got[3]["keep"] and got[3]["mean_word_len"] > 10
    assert not got[4]["keep"] and got[4]["alpha_word_frac"] == pytest.approx(2 / 60)
    assert not got[5]["keep"] and got[5]["stop_hits"] == 0


def test_c4_line_filter_ordering_and_empty(spark):
    lines = spark.createDataFrame(
        [
            ("u1", 2, 1, "third kept line here"),
            ("u1", 1, 2, "second kept line"),
            ("u1", 1, 1, "first kept line"),
            ("u1", 1, 3, "too short"),
            ("u2", 1, 1, "nope"),
        ],
        "url string, page int, line_id int, text string",
    )
    got = {r["url"]: r for r in c4_line_filter(lines).collect()}
    # kept text in (page, line_id) order regardless of input order
    assert got["u1"]["kept_text"] == (
        "first kept line\nsecond kept line\nthird kept line here"
    )
    assert got["u1"]["n_lines_kept"] == 3 and got["u1"]["n_lines_dropped"] == 1
    # a url with zero kept lines still reports, with empty text
    assert got["u2"]["kept_text"] == "" and got["u2"]["n_lines_kept"] == 0


def test_c4_terminal_punct_mode(spark):
    lines = spark.createDataFrame(
        [("u", 1, 1, "ends with period words."), ("u", 1, 2, "no terminal punct words")],
        "url string, page int, line_id int, text string",
    )
    got = c4_line_filter(lines, require_terminal_punct=True).collect()[0]
    assert got["n_lines_kept"] == 1 and got["n_lines_dropped"] == 1
    assert got["kept_text"] == "ends with period words."


def test_pii_scrub_all_kinds(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b-c_1%d@sub.example.co.uk or 192.168.0.1 call 555-123-4567"),
            (2, "phone 555.123.4567 and 555 123 4567 but not 55-12-34"),
            (3, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_ips"] == 1 and got[1]["n_phones"] == 1
    assert got[1]["scrubbed_text"] == "mail <EMAIL> or <IP> call <PHONE>"
    assert got[2]["n_phones"] == 2
    assert "<PHONE>" in got[2]["scrubbed_text"] and "55-12-34" in got[2]["scrubbed_text"]
    assert got[3]["scrubbed_text"] == "clean text with no pii at all"
    assert got[3]["n_emails"] == got[3]["n_ips"] == got[3]["n_phones"] == 0


def test_repeated_spans_geometry_independent(spark):
    """A span repeated across pages is furniture even at varying y
    (the text-hash signal the geometric H1-H5 voting can't see); body
    lines and under-threshold repeats stay unflagged."""
    from pdf_plumber_util_spark.operators.webtext import repeated_spans

    rows = []
    for p in range(1, 7):  # 6 pages; whitespace varies but must unify
        header = "Running  Header" if p % 2 else "  Running Header "
        rows.append(("u", p, 1, header))
        rows.append(("u", p, 2, f"unique body line {p}"))
    rows += [("u", p, 3, "rare repeat") for p in (1, 2)]  # 2 < max(3, 3)
    df = spark.createDataFrame(rows, "url string, page int, line_number int, text string")
    got = repeated_spans(df).collect()
    flags = {(r["page"], r["line_number"]): r["is_repeated_furniture"] for r in got}
    assert all(flags[(p, 1)] for p in range(1, 7))
    assert not any(flags[(p, 2)] for p in range(1, 7))
    assert not flags[(1, 3)] and not flags[(2, 3)]
    # whitespace-normalized hashing: 'Running  Header' == 'Running Header'
    h = {r["span_hash"] for r in got if r["line_number"] == 1}
    assert len(h) == 1
    supports = {r["n_span_pages"] for r in got if r["line_number"] == 1}
    assert supports == {6}


def test_block_boilerplate_flags_nav_not_prose(spark):
    """Real HTML path: a nav strip that is 100% link text is flagged by
    link density; a long prose paragraph with one inline link is kept."""
    from pdf_plumber_util_spark.operators import (
        assign_line_ids_window,
        assemble_lines,
        build_segments,
        contextual_spacing_rules,
        drop_blank_lines,
        form_blocks,
    )
    from pdf_plumber_util_spark.operators.webtext import block_boilerplate
    from pdf_plumber_util_spark.sources.tokenizer import page_dims, tokenize_pages

    html = (
        "<header><a>Home</a> <a>About</a> <a>Products</a> <a>Contact</a>"
        " <a>Login</a></header>"
        + "".join(
            f"<p>Paragraph {i} has plenty of plain running prose words and"
            f" exactly one <a>inline link</a> among many ordinary words"
            f" that keep the link density far below the nav strip.</p>"
            for i in range(4)
        )
    )
    pages = spark.createDataFrame([("doc0", html.encode())], "url string, html binary")
    w = tokenize_pages(pages)
    wl = assign_line_ids_window(w)
    lines = drop_blank_lines(assemble_lines(wl, build_segments(wl), page_dims(w)))
    blocks = form_blocks(lines, contextual_spacing_rules(lines))
    out = block_boilerplate(wl, lines, blocks).collect()
    assert out, "no blocks produced"

    nav = [r for r in out if r["n_link_chars"] == r["n_chars"]]
    prose = [r for r in out if 0 < r["n_link_chars"] < r["n_chars"]]
    assert nav and all(r["is_boilerplate"] for r in nav)
    assert prose and not any(r["is_boilerplate"] for r in prose)
    # every line the blocker admitted is accounted for exactly once
    assert sum(r["n_lines"] for r in out) == blocks.agg(
        {"n_lines": "sum"}
    ).collect()[0][0]


def _midpage_links_page(spark):
    """One page with a related-links strip between its prose paragraphs."""
    prose = [
        f"<p>Body paragraph {i} carries plenty of ordinary prose words"
        f" with no anchors at all in this sentence of the page.</p>"
        for i in range(4)
    ]
    links = "<h3><a>Related</a> <a>Trending</a> <a>Popular</a> <a>Archive</a></h3>"
    html = "".join(prose[:2]) + links + "".join(prose[2:])
    return spark.createDataFrame([("d0", html.encode())], "url string, html binary")


def test_extract_documents_drop_boilerplate_optin(spark):
    """extract_documents(drop_boilerplate=True) removes a MID-PAGE
    related-links strip — the case the geometric header/footer zones
    cannot catch — and counts it dropped; the default path keeps
    byte-identical reference behavior (links text present)."""
    from pdf_plumber_util_spark.config import EngineConfig
    from pdf_plumber_util_spark.plans.extract import extract_documents

    pages = _midpage_links_page(spark)

    plain = extract_documents(pages).collect()[0]
    assert "Trending" in plain["body_text"]

    stripped = extract_documents(
        pages, cfg=EngineConfig(drop_boilerplate=True)
    ).collect()[0]
    assert "Trending" not in stripped["body_text"]
    assert "Body paragraph 2" in stripped["body_text"]
    assert stripped["n_blocks_dropped"] == plain["n_blocks_dropped"] + 1
    assert stripped["n_blocks_kept"] == plain["n_blocks_kept"] - 1


def test_cli_process_resumable_drop_boilerplate(spark, tmp_path, capsys):
    """cli process --resumable lands the body table with the run's config
    (the mid-page links strip is dropped under --drop-boilerplate),
    records the dropped block in the bucket sidecar, and a rerun skips
    every committed bucket."""
    from pdf_plumber_util_spark import cli

    pages = str(tmp_path / "pages")
    _midpage_links_page(spark).write.parquet(pages)
    out = str(tmp_path / "out")
    argv = ["process", "--resumable", "--drop-boilerplate", "--buckets", "4",
            "--input", pages, "--output", out]

    assert cli.main(argv) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["buckets_processed"] == 1 and first["docs"] == 1
    body = spark.read.parquet(out).collect()[0]["body_text"]
    assert "Trending" not in body and "Body paragraph 2" in body
    (marker,) = glob.glob(os.path.join(out, "_sidecar", "*.json"))
    assert json.load(open(marker))["blocks_dropped"] >= 1

    assert cli.main(argv) == 0
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert again["buckets_processed"] == 0


def test_gopher_stop_hits_counts_distinct_stopwords(spark):
    """Gopher rule: 'at least 2 OF THE listed words' — repeating one
    stopword many times is one unit of evidence, not many."""
    from pdf_plumber_util_spark.operators.webtext import gopher_quality

    filler = " ".join(f"word{i}" for i in range(48))
    docs = spark.createDataFrame(
        [
            (0, f"the {filler} the"),          # one distinct stopword, twice
            (1, f"the {filler} of"),           # two distinct stopwords
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert got[0]["stop_hits"] == 1 and not got[0]["keep"]
    assert got[1]["stop_hits"] == 2


def test_mix_sample_matches_hashlib_twin(spark):
    import hashlib

    from pdf_plumber_util_spark.operators.webtext import (
        mix_sample,
        rate_threshold_hex,
    )

    rows = [(i, ["en", "zh", "fr"][i % 3]) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.5, "zh": 0.25}
    out = {r.doc_id: r for r in mix_sample(df, rates, salt="mix1").collect()}
    assert len(out) == 60  # every doc reported, kept or not
    for doc_id, lang in rows:
        prefix = hashlib.md5(f"mix1:{doc_id}".encode()).hexdigest()[:8]
        thr = rate_threshold_hex(rates.get(lang, 1.0))
        expected = True if thr is None else prefix < thr
        assert out[doc_id].hash_prefix == prefix
        assert out[doc_id].keep == expected, (doc_id, lang)
    # monotone: raising a rate only ADDS documents (prefix-of-hash-order)
    bigger = {r.doc_id for r in mix_sample(df, {"en": 0.9, "zh": 0.6},
                                           salt="mix1").collect() if r.keep}
    smaller = {r.doc_id for r in out.values() if r.keep}
    assert smaller <= bigger
    # edges: rate 0 keeps nothing in the stratum, rate 1 keeps everything
    edge = {r.doc_id: r.keep for r in mix_sample(
        df, {"en": 0.0, "zh": 1.0}, salt="mix1").collect()}
    assert not any(edge[i] for i, lg in rows if lg == "en")
    assert all(edge[i] for i, lg in rows if lg != "en")


def test_mix_plan_rates(spark):
    from pdf_plumber_util_spark.operators.webtext import mix_plan

    df = spark.createDataFrame(
        [(1, "en", 1000), (2, "en", 3000), (3, "zh", 500), (4, "fr", 100)],
        "doc_id long, lang string, n_chars long",
    )
    plan = {r.stratum: r for r in mix_plan(
        df, targets={"en": 0.5, "zh": 0.5}, token_budget=2000).collect()}
    assert plan["en"].stratum_tokens == 4000
    assert plan["en"].rate == 0.5 * 2000.0 / 4000  # downsample to budget
    assert plan["zh"].rate == 1.0                  # capped: wants 1000, has 500
    assert plan["fr"].rate == 0.0                  # absent from targets


def test_pack_sequences_prefix_sum_twin(spark):
    from pdf_plumber_util_spark.operators.webtext import pack_sequences

    # sparse ids, a zero-token doc, and a doc longer than one pack
    rows = [(3, 10), (7, 0), (20, 25), (21, 5), (100, 7), (101, 3)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = {
        r.doc_id: r
        for r in pack_sequences(df, seq_len=16, bucket_span=3).collect()
    }
    assert len(out) == len(rows)
    offset = 0
    for doc_id, n in rows:  # already in doc_id order
        r = out[doc_id]
        assert r.token_offset == offset, (doc_id, r.token_offset, offset)
        assert r.n_tokens == n
        assert r.first_pack == offset // 16
        assert r.last_pack == ((offset + n - 1) // 16 if n else offset // 16)
        offset += n
    assert out[20].last_pack > out[20].first_pack  # straddles a boundary
    # invariance: bucket granularity must not change the answer
    alt = {
        r.doc_id: r
        for r in pack_sequences(df, seq_len=16, bucket_span=1000).collect()
    }
    assert all(alt[d].token_offset == out[d].token_offset for d, _ in rows)


def test_domain_gate_label_boundaries(spark):
    """Rules match whole label suffixes only: ads.net blocks sub.ads.net
    but never notads.net (the endswith trap). Literal and broadcast-join
    paths agree row-for-row; allow mode inverts."""
    from pdf_plumber_util_spark.operators.webtext import domain_gate

    df = spark.createDataFrame(
        [
            (1, "https://ads.net/x"),            # exact match
            (2, "https://sub.ads.net/x"),        # suffix match
            (3, "https://notads.net/x"),         # endswith trap: NOT blocked
            (4, "http://tracker.example.org:8080/p"),  # second rule, port
            (5, "https://clean.example.net/x"),  # no rule
            (6, "https://ADS.NET/caps"),         # case-folded host
        ],
        "doc_id long, url string",
    )
    rules = ["ads.net", "example.org"]
    got = {r.doc_id: r for r in domain_gate(df, rules).collect()}
    assert got[1].is_blocked and got[1].matched_rule == "ads.net"
    assert got[2].is_blocked and got[2].matched_rule == "ads.net"
    assert not got[3].is_blocked and got[3].matched_rule is None
    assert got[4].is_blocked and got[4].matched_rule == "example.org"
    assert not got[5].is_blocked
    assert got[6].is_blocked

    via_join = {r.doc_id: r for r in domain_gate(df, rules, via_join=True)
                .select("doc_id", "url", "host", "matched_rule", "is_blocked")
                .collect()}
    assert via_join == {
        r.doc_id: r for r in domain_gate(df, rules)
        .select("doc_id", "url", "host", "matched_rule", "is_blocked")
        .collect()
    }

    allowed = {r.doc_id: r.is_blocked
               for r in domain_gate(df, rules, mode="allow").collect()}
    assert allowed == {1: False, 2: False, 3: True, 4: False, 5: True,
                       6: False}

    # empty rule list: block mode passes everything, allow mode nothing
    none = domain_gate(df, [], mode="block")
    assert none.filter("is_blocked").count() == 0


def test_gopher_line_rules_each_rule_fires(spark):
    """Each line rule fires on its own planted pattern and only that
    pattern; a plain multi-line doc passes all three."""
    from pdf_plumber_util_spark.operators.webtext import gopher_line_rules

    docs = spark.createDataFrame(
        [
            (1, "• one\n• two\n• three"),            # 100% bullet lines
            (2, "end one...\nend two...\nplain"),    # 2/3 ellipsis > 0.3
            (3, "few words " + "# " * 5),            # 5 '#' / 12 words
            (4, "a plain line\nanother line\n- one bullet is fine"),
            (5, "dash-word lines\n-but this one starts with a dash"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_line_rules(docs).collect()}
    assert not out[1].keep and out[1].bullet_line_frac == 1.0
    assert not out[2].keep and out[2].ellipsis_line_frac == 2 / 3
    assert not out[3].keep and out[3].symbol_word_ratio > 0.1
    assert out[4].keep and out[4].bullet_line_frac == 1 / 3
    # a line starting with '-' counts as a bullet; 1/2 <= 0.9 still keeps
    assert out[5].keep and out[5].bullet_line_frac == 0.5


def test_dedup_lines_within_doc(spark):
    from pdf_plumber_util_spark.operators.webtext import (
        dedup_lines_within_doc,
    )

    docs = spark.createDataFrame(
        [
            (1, "nav\nbody one\nnav\nbody two\nnav"),
            (2, "all\nunique\nlines"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines_within_doc(docs).collect()}
    assert out[1].text == "nav\nbody one\nbody two"
    assert out[1].n_lines == 5 and out[1].n_lines_removed == 2
    assert out[2].text == "all\nunique\nlines"
    assert out[2].n_lines == 3 and out[2].n_lines_removed == 0
    # null text behaves like empty text: one empty line, nothing removed
    assert out[3].text == "" and out[3].n_lines == 1
    assert out[3].n_lines_removed == 0


def test_vocab_divergence_hand_computed(spark):
    import math

    from pdf_plumber_util_spark.operators.webtext import vocab_divergence

    a = spark.createDataFrame([(1, "x x y")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "x z")], "doc_id long, text string")
    rows = {r.word: r for r in vocab_divergence(a, b).collect()}
    # union vocab {x, y, z}: V=3, N_a=3, N_b=2
    assert set(rows) == {"x", "y", "z"}
    p_x, q_x = (2 + 1) / 6, (1 + 1) / 5
    assert abs(rows["x"].p - round(p_x, 6)) < 1e-12
    assert abs(rows["x"].q - round(q_x, 6)) < 1e-12
    assert abs(rows["x"].kl_term
               - round(p_x * math.log(p_x / q_x), 6)) < 1e-12
    # a word only in b contributes negatively (p < q)
    assert rows["z"].kl_term < 0
    # identical corpora diverge nowhere
    same = vocab_divergence(a, a).agg(F.sum(F.abs(F.col("kl_term")))).first()[0]
    assert same == 0.0


def test_mix_plan_temperature(spark):
    import math

    from pdf_plumber_util_spark.operators.webtext import (
        mix_plan_temperature,
        mix_sample,
    )

    docs = spark.createDataFrame(
        [(i, "en" if i < 90 else "fr", 100) for i in range(100)],
        "doc_id long, lang string, n_chars long",
    )
    out = {r.stratum: r for r in
           mix_plan_temperature(docs, alpha=0.5,
                                token_budget=5000).collect()}
    # hand-computed: tokens en=9000, fr=1000; z = sqrt(9000)+sqrt(1000)
    z = math.sqrt(9000) + math.sqrt(1000)
    exp_en = min(1.0, (math.sqrt(9000) / z) * 5000 / 9000)
    exp_fr = min(1.0, (math.sqrt(1000) / z) * 5000 / 1000)
    assert abs(out["en"].rate - round(exp_en, 6)) < 1e-12
    assert abs(out["fr"].rate - round(exp_fr, 6)) < 1e-12
    # alpha < 1 upsamples the tail: fr's rate exceeds its natural share
    assert out["fr"].rate > out["en"].rate
    # alpha = 1 reduces to natural sampling: every stratum gets the
    # same rate (budget / total tokens)
    nat = {r.stratum: r.rate for r in
           mix_plan_temperature(docs, alpha=1.0,
                                token_budget=5000).collect()}
    assert abs(nat["en"] - nat["fr"]) < 1e-9
    # the rates feed mix_sample unchanged (fr rate is 1.0: all kept;
    # en at ~0.42 is subsampled)
    rates = {k: v.rate for k, v in out.items()}
    sampled = mix_sample(docs, rates)
    kept = sampled.filter("keep").count()
    assert 10 < kept < 100
    assert sampled.filter("lang = 'fr' AND NOT keep").count() == 0
