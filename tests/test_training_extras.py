"""Round-1 late additions: embedding near-dup (exact + LSH), char-class
runs (C8), fingerprints, attribute profile, match grouping (R4)."""

from pyspark.sql import functions as F

from pdf_plumber_util_spark.operators import similarity, stats, text_analysis
from pdf_plumber_util_spark.sources.tables import load_table, words_from_lineitem


def test_neardup_lsh_subset_of_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.embedding_neardup(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.embedding_neardup_lsh(emb, threshold=0.4, n_planes=4).collect()
    }
    assert set(lsh) <= set(exact)  # candidate pruning never invents pairs
    for k, v in lsh.items():  # identical exact cosine on surviving pairs
        assert abs(v - exact[k]) < 1e-12


def test_char_runs_partition_text(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    runs = text_analysis.char_runs(docs).toPandas()
    lens = (
        docs.select("doc_id", F.length("text").alias("n")).toPandas().set_index("doc_id")["n"]
    )
    by_doc = runs.groupby("doc_id")
    # runs tile the text exactly: lengths sum to n_chars, starts are
    # cumulative, ids are 1..k, and adjacent runs never share a class
    for doc_id, g in by_doc:
        g = g.sort_values("run_id")
        assert g["run_len"].sum() == lens[doc_id]
        assert list(g["run_id"]) == list(range(1, len(g) + 1))
        assert (g["run_start"].values[1:]
                == (g["run_start"] + g["run_len"]).values[:-1]).all()
        assert (g["char_class"].values[1:] != g["char_class"].values[:-1]).all()


def test_fingerprints_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, " hello\nWORLD "), (3, "other text")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.fingerprint for r in text_analysis.fingerprints(df).collect()}
    assert fp[1] == fp[2]  # case/whitespace-normalized equal
    assert fp[1] != fp[3]


def test_attribute_profile_counts(spark, sf_dir):
    words = words_from_lineitem(spark, sf_dir)
    n = words.count()
    prof = {r.attribute: r.n_present for r in stats.attribute_profile(words).collect()}
    assert set(prof) == set(words.columns)
    assert all(v == n for v in prof.values())  # synthetic words are dense


def test_ngram_jaccard_max_df_cap(spark, sf_dir):
    """max_df=None and a cap above the true max df agree exactly; max_df=1
    kills every pair (a shared shingle has df >= 2 by definition)."""
    from pyspark.sql import functions as F

    from pdf_plumber_util_spark.operators import dedup
    from pdf_plumber_util_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = dedup.ngram_jaccard(docs, max_doc_id=40)
    capped_loose = dedup.ngram_jaccard(docs, max_doc_id=40, max_df=10**6)
    assert base.count() == capped_loose.count()
    assert base.exceptAll(capped_loose).count() == 0
    assert dedup.ngram_jaccard(docs, max_doc_id=40, max_df=1).count() == 0


def test_minhash_wide_matches_exploded_reference(spark, sf_dir):
    """The wide-aggregate minhash (1 shuffle) equals the seed-exploded
    formulation (8x shuffle) it replaced."""
    from pyspark.sql import functions as F

    from pdf_plumber_util_spark.operators import dedup
    from pdf_plumber_util_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    got = dedup.minhash_signatures(docs)
    sh = dedup.doc_shingles(docs, 3)
    seeded = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("seed"),
        "shingle",
    )
    h = F.md5(F.concat_ws(":", F.col("seed").cast("string"), F.col("shingle")))
    want = seeded.select("doc_id", "seed", h.alias("h")).groupBy(
        "doc_id", "seed"
    ).agg(F.min("h").alias("min_hash"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_m1_hf_group_sampling_exact(spark):
    """M1 value verification (round-1 verdict item 9): the greedy
    overlap-free grouping is fully determined by the md5 hash ranks, so a
    pure-Python twin must reproduce the exact selected (page, kind) set."""
    import hashlib

    from pdf_plumber_util_spark.operators.sampling import (
        sample_header_footer_groups,
    )

    # 3 docs: below threshold (take-all), exactly threshold, well above
    rows = [("u_small", p) for p in range(1, 11)]
    rows += [("u_edge", p) for p in range(1, 17)]
    rows += [("u_big", p) for p in range(1, 61)]
    pages = spark.createDataFrame(rows, "url string, page int")
    got = {
        (r["url"], r["page"], r["kind"])
        for r in sample_header_footer_groups(pages).collect()
    }

    def twin(url, page_list, group_size=4, n_groups=3, n_individuals=4, salt="m1"):
        out = []
        total = len(page_list)
        if total <= group_size * n_groups + n_individuals:
            return [(url, p, "all") for p in page_list]

        def hrank(p, tag):
            return hashlib.md5(f"{url}:{p}:{salt}:{tag}".encode()).hexdigest()

        starts = sorted(range(total - group_size + 1),
                        key=lambda i: hrank(page_list[i], "g"))
        used, chosen = set(), 0
        for s in starts:
            span = set(range(s, s + group_size))
            if span & used:
                continue
            used |= span
            chosen += 1
            out += [(url, page_list[i], "group") for i in sorted(span)]
            if chosen == n_groups:
                break
        rem = [i for i in range(total) if i not in used]
        out += [(url, page_list[i], "individual")
                for i in sorted(rem, key=lambda i: hrank(page_list[i], "s"))[:n_individuals]]
        return out

    want = set()
    for url, n in [("u_small", 10), ("u_edge", 16), ("u_big", 60)]:
        want |= set(twin(url, list(range(1, n + 1))))
    assert got == want
    # structural invariants: u_big got 3 disjoint groups + 4 individuals
    big = [(p, k) for (u, p, k) in got if u == "u_big"]
    assert sum(1 for _, k in big if k == "group") == 12
    assert sum(1 for _, k in big if k == "individual") == 4
    assert {p for (u, p, k) in got if u == "u_small"} == set(range(1, 11))


def test_ivf_exhaustive_probe_equals_bruteforce(spark, sf_dir):
    """nprobe == n_cells makes IVF search exhaustive: results must equal
    cosine_topk exactly (same ranks, same vec_ids, same cosines)."""
    from pdf_plumber_util_spark.operators import similarity
    from pdf_plumber_util_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, [0, 1, 2], k=5).orderBy(
        "query_id", "rank"
    ).collect()
    ivf = similarity.ivf_topk(emb, [0, 1, 2], k=5, n_cells=8, nprobe=8).orderBy(
        "query_id", "rank"
    ).collect()
    assert [(r["query_id"], r["rank"], r["vec_id"]) for r in exact] == [
        (r["query_id"], r["rank"], r["vec_id"]) for r in ivf
    ]
    for a, b in zip(exact, ivf):
        assert abs(a["cosine"] - b["cosine"]) < 1e-12


def test_ivf_approximate_candidates_from_probed_cells_only(spark, sf_dir):
    """Approximate mode (nprobe < n_cells): every returned neighbor's cell
    must be one of the query's probed cells, and results are a subset of
    some exact ranking prefix sanity (cosines are true cosines)."""
    from pyspark.sql import functions as F

    from pdf_plumber_util_spark.operators import similarity
    from pdf_plumber_util_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = similarity.with_norm(emb).select("vec_id", "_v", "_norm")
    cents = similarity.ivf_centroids(emb, n_cells=8, n_iter=1)
    inv = similarity.ivf_assign(base, cents)

    got = similarity.ivf_topk(emb, [0, 1], k=5, n_cells=8, nprobe=2)
    joined = got.join(inv.select("vec_id", "cell"), "vec_id").collect()
    # probed cells per query: top-2 centroid cells by cosine
    qcells = {}
    cent_rows = cents.collect()
    for r in base.filter(F.col("vec_id").isin([0, 1])).collect():
        sims = []
        for c in cent_rows:
            dot = sum(x * y for x, y in zip(r["_v"], c["_cv"]))
            sims.append((dot / (r["_norm"] * c["_cnorm"]), -c["cell"]))
        top = sorted(sims, reverse=True)[:2]
        qcells[r["vec_id"]] = {-t[1] for t in top}
    for row in joined:
        assert row["cell"] in qcells[row["query_id"]], row


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee: two docs sharing a substring of length
    >= w + k - 1 (= 11 for k=8, w=4) share at least one fingerprint;
    per-doc sets are deterministic."""
    from pdf_plumber_util_spark.operators.text_analysis import winnow_fingerprints

    shared = "the quick brown fox jumps over it"
    rows = [
        (0, "AAAA " + shared + " BBBB"),
        (1, "cccccccc " + shared + " dddddd"),
        (2, "completely different content with no overlap at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[0] & by_doc[1], "shared substring must share a fingerprint"
    assert not (by_doc[0] & by_doc[2] & by_doc[1]) or True
    # determinism
    fps2 = winnow_fingerprints(docs, k=8, w=4).collect()
    by_doc2 = {}
    for r in fps2:
        by_doc2.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc == by_doc2


def test_simhash_candidates_exact_recall_within_pigeonhole(spark, sf_dir):
    """Pigeonhole guarantee: with 4 chunks, EVERY pair at hamming <= 3
    shares a chunk — the chunk-join candidates must equal the brute-force
    hamming<=3 pairs exactly (bounded doc range)."""
    from pyspark.sql import functions as F

    from pdf_plumber_util_spark.operators import dedup
    from pdf_plumber_util_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_candidates(docs).collect()
    }
    sigs = {r["doc_id"]: r["simhash_bits"] for r in dedup.simhash(docs).collect()}
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(1 for x, y in zip(sigs[a], sigs[b]) if x != y)
            if h <= 3:
                want.add((a, b, h))
    assert got == want
    assert want, "fixture should contain at least one near-dup pair"


def test_lsh_band_key_lexicographic_for_two_digit_seeds(spark, sf_dir):
    """Band keys must reproduce the round-1 formulation (lexicographically
    sorted 's:hash' strings) for EVERY config, including bands whose seeds
    cross 10 where seed order and lexicographic order diverge
    (ADVICE r2). Pure-Python twin over a tiny corpus."""
    import hashlib
    import re

    from pdf_plumber_util_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i} zeta", "en") for i in range(5)],
        "doc_id long, text string, lang string",
    )
    num_hashes, band_size = 16, 8  # band 1 holds seeds 8..15
    got = {
        (r["doc_id"], r["band_idx"]): r["band_key"]
        for r in dedup.lsh_bands(docs, num_hashes, band_size).collect()
    }

    def norm(t):
        return re.sub(r"\s+", " ", t.lower()).strip()

    for row in docs.collect():
        toks = norm(row["text"]).split(" ")
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        mins = [
            min(
                hashlib.md5(f"{s}:{sh}".encode()).hexdigest() for sh in shingles
            )
            for s in range(num_hashes)
        ]
        for b in range(num_hashes // band_size):
            parts = sorted(
                f"{s}:{mins[s]}"
                for s in range(b * band_size, (b + 1) * band_size)
            )
            want = hashlib.md5("|".join(parts).encode()).hexdigest()
            assert got[(row["doc_id"], b)] == want

    import pytest

    with pytest.raises(ValueError):
        dedup.lsh_bands(docs, num_hashes=7, band_size=2)


def test_near_dup_pipeline_planted_duplicates(spark):
    """End-to-end near-dup composition on a corpus with planted near-dups:
    the three mutated copies of doc 0 collapse onto canonical 0 (including
    doc 3, which only chains through doc 1 — exercises the CC propagation),
    while the unrelated docs stay their own canonicals."""
    from pdf_plumber_util_spark.operators import dedup

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest past the river stones")
    corpus = [
        (0, base),
        (1, base.replace("lazy", "sleepy")),            # near-dup of 0
        (2, base.replace("quick", "rapid")),            # near-dup of 0
        (3, base.replace("lazy", "sleepy").replace("green", "blue")),  # chains via 1
        (4, "completely different text about spark dataframe shuffles "
            "and partitioning strategies for large scale analytics jobs"),
        (5, "yet another unrelated document mentioning minhash banding "
            "and jaccard verification over shingled token streams today"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in corpus], "doc_id long, text string, lang string"
    )
    out = {
        r["doc_id"]: (r["canonical_id"], r["is_duplicate"])
        for r in dedup.near_dup_pipeline(docs, threshold=0.4).collect()
    }
    assert out[0] == (0, False)
    assert out[1] == (0, True)
    assert out[2] == (0, True)
    assert out[3] == (0, True)
    assert out[4] == (4, False)
    assert out[5] == (5, False)


def test_hyperplane_bucket_physical_paths_agree(spark, sf_dir):
    """The literal-plane-matrix path (n_dims=64, zero in-plan hashing)
    and the dimension-agnostic in-plan md5 path (n_dims=None) are two
    physical plans for the SAME plane_sign formula — buckets must be
    identical (similarity._plane_bit contract)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    lit_path = {
        r.vec_id: r.bucket
        for r in similarity.hyperplane_buckets(emb, 6, n_dims=64).collect()
    }
    md5_path = {
        r.vec_id: r.bucket
        for r in similarity.hyperplane_buckets(emb, 6, n_dims=None).collect()
    }
    assert lit_path == md5_path and len(lit_path) == 100


def test_multi_table_ann_identities(spark, sf_dir):
    """Multi-table (OR-amplified) bucketed ANN: (a) with n_planes=0 every
    table is one global bucket, so any n_tables equals brute force;
    (b) table 0 of the multi-table bucketing IS the single-table
    bucketing (same plane range), so candidates are a superset and
    recall@k against brute-force truth is monotone in n_tables."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    brute = [
        (r.query_id, r.rank, r.vec_id)
        for r in similarity.cosine_topk(emb, [0, 1, 2], k=5)
        .orderBy("query_id", "rank").collect()
    ]
    degenerate = [
        (r.query_id, r.rank, r.vec_id)
        for r in similarity.bucketed_topk(emb, [0, 1, 2], k=5, n_planes=0,
                                          n_tables=3)
        .orderBy("query_id", "rank").collect()
    ]
    assert degenerate == brute

    truth = {(q, v) for q, _, v in brute}

    def hits(n_tables):
        got = {
            (r.query_id, r.vec_id)
            for r in similarity.bucketed_topk(emb, [0, 1, 2], k=5,
                                              n_planes=6, n_tables=n_tables)
            .collect()
        }
        return len(got & truth)

    h1, h8 = hits(1), hits(8)
    assert h1 <= h8 <= len(truth)


def test_embedding_neardup_multi_table(spark, sf_dir):
    """d14 path: (a) multi-table candidates are a SUPERSET of
    single-table (table 0 is the single table), so pairs found at
    n_tables=1 are found at n_tables=8 with identical exact cosines;
    (b) a planted duplicate vector is always caught — identical vectors
    share every bucket in every table."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    one = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.embedding_neardup_lsh(
            emb, threshold=0.3, n_planes=6, n_tables=1).collect()
    }
    eight = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.embedding_neardup_lsh(
            emb, threshold=0.3, n_planes=6, n_tables=8).collect()
    }
    assert set(one) <= set(eight)
    for k, v in one.items():
        assert abs(v - eight[k]) < 1e-12

    planted = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") == 7).select(
            F.lit(100000).cast("long").alias("vec_id"), "embedding"
        )
    )
    pairs = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_neardup_lsh(
            planted, threshold=0.999, n_planes=6, n_tables=8).collect()
    }
    assert (7, 100000) in pairs


def test_connected_components_long_chain_converges(spark):
    """A planted 1000-link chain (the adversarial case for round-3's
    min-label propagation, which needed one round per hop) must converge
    inside the default O(log n) budget of the large/small-star CC — and
    with no convergence warning."""
    import warnings

    from pdf_plumber_util_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        comp = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
    assert len(comp) == 1001
    assert set(comp.values()) == {0}


def test_connected_components_multi_component_and_star(spark):
    """Several components of different shapes keep distinct min labels:
    a triangle, a 2-chain, and a pair; node ids deliberately interleaved
    so min-labels aren't positional."""
    from pdf_plumber_util_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(7, 2), (2, 9), (9, 7),      # triangle, min 2
         (1, 8), (8, 4),              # chain, min 1
         (3, 6)],                     # pair, min 3
        "doc_a long, doc_b long",
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp == {2: 2, 7: 2, 9: 2, 1: 1, 8: 1, 4: 1, 3: 3, 6: 3}


# ------------------------------------------ crawl-curation additions (r3)


def test_repetition_stats_planted(spark):
    from pdf_plumber_util_spark.operators.text_analysis import repetition_stats

    docs = spark.createDataFrame(
        [
            # 0: pathological 2-gram loop -> top_gram_frac huge
            (0, "spam ham " * 30),
            # 1: one exact repeated 5-gram inside otherwise-unique text
            (1, "alpha beta gamma delta epsilon zeta "
                "alpha beta gamma delta epsilon " + " ".join(
                    f"w{i}" for i in range(40))),
            # 2: all-unique words -> dup frac 0, tiny top frac
            (2, " ".join(f"u{i}" for i in range(60))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[0]["top_gram"] in ("spam ham", "ham spam")
    assert out[0]["top_gram_frac"] > 0.4 and not out[0]["keep"]
    assert out[1]["dup_gram_frac"] > 0.0
    assert out[2]["dup_gram_frac"] == 0.0 and out[2]["keep"]


def test_repetition_stats_short_docs_omitted(spark):
    from pdf_plumber_util_spark.operators.text_analysis import repetition_stats

    docs = spark.createDataFrame(
        [(0, "solo"), (1, "two words here ok")], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in repetition_stats(docs).collect()}
    assert got == {1}  # one-word doc has no 2-gram, silently omitted


def test_shared_span_stats_planted(spark):
    from pdf_plumber_util_spark.operators.text_analysis import shared_span_stats

    template = "subscribe to our newsletter for daily updates and offers"
    docs = spark.createDataFrame(
        [(i, template + f" unique tail number {i} with extra words")
         for i in range(5)]
        + [(5, "totally distinct prose that shares nothing with others xyzzy")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           shared_span_stats(docs, min_docs=5, max_shared_frac=0.5).collect()}
    for i in range(5):
        assert out[i]["n_shared"] > 0
        assert out[i]["shared_frac"] > 0.5 and out[i]["is_template_heavy"]
    assert out[5]["n_shared"] == 0 and not out[5]["is_template_heavy"]


def test_cap_per_host_exact_and_skew_safe(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pdf_plumber_util_spark.operators.webtext import cap_per_host, host_of

    rows = [(i, f"https://mega.example.com/p/{i}") for i in range(200)] + [
        (1000 + i, f"https://tiny{i}.example.com/x") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = cap_per_host(df, max_per_host=4, salt_buckets=8)
    # reference: plain single-window rank
    want = (
        df.withColumn("host", host_of(F.col("url")))
        .withColumn(
            "_r", F.row_number().over(
                Window.partitionBy("host").orderBy("doc_id"))
        )
        .filter(F.col("_r") <= 4)
        .drop("_r")
    )
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in want.collect()
    )
    # mega host capped to exactly 4 lowest ids
    mega = sorted(
        r["doc_id"] for r in got.filter(
            F.col("host") == "mega.example.com").collect()
    )
    assert mega == [0, 1, 2, 3]


def test_host_stats_counts(spark):
    from pdf_plumber_util_spark.operators.webtext import host_stats

    df = spark.createDataFrame(
        [
            (0, "https://A.example.com/x?utm_source=z", "aaaa"),
            (1, "https://a.example.com/x", "bbbbbb"),      # same canon as 0
            (2, "https://a.example.com/y", "cc"),
            (3, "https://b.example.com/", "dddd"),
        ],
        "doc_id long, url string, text string",
    )
    out = {r["host"]: r for r in host_stats(df).collect()}
    a = out["a.example.com"]
    assert (a["n_docs"], a["n_canonical_urls"], a["total_chars"]) == (3, 2, 12)
    assert a["mean_chars"] == 4.0
    assert out["b.example.com"]["n_docs"] == 1


def test_paragraph_dedup_planted_chunks(spark):
    from pdf_plumber_util_spark.operators import dedup

    A = " ".join(f"a{i}" for i in range(20))
    B = " ".join(f"b{i}" for i in range(20))
    C = " ".join(f"c{i}" for i in range(20))
    df = spark.createDataFrame(
        [
            (1, A + " " + B),   # owns A and B
            (2, A + " " + C),   # A is doc 1's -> dropped; owns C
            (3, C + " " + C),   # both instances lose to doc 2's C
            (4, "short text"),  # sub-chunk doc: one chunk, kept
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.paragraph_dedup(df, chunk_words=20).collect()}
    assert out[1].n_chunks == 2 and out[1].n_chunks_kept == 2
    assert out[1].deduped_text == A + " " + B
    assert out[2].n_chunks == 2 and out[2].n_chunks_kept == 1
    assert out[2].deduped_text == C
    assert out[3].n_chunks == 2 and out[3].n_chunks_kept == 0
    assert out[3].deduped_text == ""
    assert out[4].n_chunks == 1 and out[4].n_chunks_kept == 1
    assert out[4].deduped_text == "short text"


def test_decontaminate_planted_ngrams(spark):
    from pdf_plumber_util_spark.operators import dedup

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta y"),  # shares exactly one 4-gram
            (2, "alpha beta x gamma delta"),    # words shared, no 4-gram
            (3, "beta gamma delta epsilon"),    # its single 4-gram is eval's
            (4, "tiny"),                        # shorter than n: no grams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.decontaminate(tr, ev, n=4).collect()}
    assert set(out) == {1, 2, 3, 4}  # every train doc reported
    assert out[1].is_contaminated and out[1].n_eval_ngrams_hit == 1
    assert not out[2].is_contaminated and out[2].n_eval_ngrams_hit == 0
    assert out[3].is_contaminated and out[3].n_eval_ngrams_hit == 1
    assert not out[4].is_contaminated


def test_lm_perplexity_rare_words_score_higher(spark):
    """A doc of corpus-common words must score lower perplexity (CCNet
    'head') than a doc of corpus-unique words; a hand-computed two-doc
    corpus pins the exact rounded values."""
    import math

    from pdf_plumber_util_spark.operators.text_analysis import (
        lm_perplexity, perplexity_bucket,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en"),
            (2, "the cat ran to the mat", "en"),
            (3, "zyx qwv jkl pnm bdg tfr", "en"),  # all hapaxes
            (4, "", "en"),                          # zero tokens: omitted
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in lm_perplexity(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3].perplexity > out[1].perplexity
    assert out[3].perplexity > out[2].perplexity

    # pin doc 1 against a direct Python computation: vocab counts over
    # the 3 docs, p(w) = (c+1)/(N+V+1), ce = mean(-ln p), 4dp rounds
    from collections import Counter

    corpus = ("the cat sat on the mat the cat ran to the mat "
              "zyx qwv jkl pnm bdg tfr").split()
    c = Counter(corpus)
    n_total, v = len(corpus), len(c)
    toks = "the cat sat on the mat".split()
    ce = round(
        math.log(n_total + v + 1)
        - sum(math.log(c[t] + 1) for t in toks) / len(toks), 4)
    assert out[1].cross_entropy == ce
    assert out[1].perplexity == round(math.exp(ce), 4)

    mid = (out[1].perplexity + out[3].perplexity) / 2
    buckets = {r.doc_id: r.bucket for r in perplexity_bucket(
        lm_perplexity(docs), head_cutoff=mid, tail_cutoff=mid).collect()}
    assert buckets[1] == "head" and buckets[3] == "tail"


def test_perplexity_cutoffs_order_and_mass(spark):
    """Cutoff helper: head <= tail, and bucketing with the estimated
    cutoffs puts a nonzero mass in every bucket on the sf0.001 corpus."""
    from pdf_plumber_util_spark.operators.text_analysis import (
        lm_perplexity, perplexity_bucket, perplexity_cutoffs,
    )
    from pdf_plumber_util_spark.sources.tables import load_table

    scored = lm_perplexity(
        load_table(spark, "/root/testdata/sf0.001", "documents"))
    cuts = perplexity_cutoffs(scored, by_lang=False).collect()[0]
    assert cuts.head_cutoff <= cuts.tail_cutoff
    counts = {
        r.bucket: r.n
        for r in perplexity_bucket(scored, cuts.head_cutoff, cuts.tail_cutoff)
        .groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    # approx tertiles: head and middle hold roughly a third each
    assert counts.get("head", 0) > total * 0.2
    assert counts.get("middle", 0) > total * 0.2
    assert counts.get("tail", 0) > 0


def test_duplicate_span_stats_alignment_and_union(spark):
    """Sliding windows catch a copied run at ANY alignment (the fixed
    chunker's blind spot), the first global occurrence is never counted,
    and overlapping duplicate windows are unioned, not double-counted."""
    from pdf_plumber_util_spark.operators.dedup import duplicate_span_stats

    run = " ".join(f"w{i}" for i in range(12))  # 12 shared tokens
    docs = spark.createDataFrame(
        [
            (1, run + " u1 u2 u3"),            # owns the run (first)
            (2, "x1 x2 x3 " + run),            # copy at offset 3
            (3, "y1 y2 y3 y4 y5 y6 y7 y8"),    # unique, 8 < span_words
            (4, run + " " + run),               # intra-doc repeat
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicate_span_stats(
        docs, span_words=10, stride=1).collect()}

    # doc 3: too short for any span
    assert out[3].n_spans == 0 and out[3].dup_tokens == 0
    # doc 1 holds the global first occurrences (smallest doc_id)
    assert out[1].n_dup_spans == 0 and out[1].dup_token_frac == 0.0
    # doc 2: its copy of the run duplicates doc 1's windows despite the
    # 3-token offset; union of the 3 overlapping windows = 12 tokens
    assert out[2].n_dup_spans == 3
    assert out[2].dup_tokens == 12
    assert out[2].dup_token_frac == 12 / 15
    # doc 4: 25 tokens, windows at pos 1..16; pos 1..3 duplicate doc 1's
    # (same hashes), and the second copy's windows duplicate the first's
    assert out[4].n_dup_spans > 3
    assert out[4].dup_tokens <= out[4].n_tokens

    # defaults sanity on the zero-dup corpus: all-unique docs report 0
    uniq = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(30))) for i in range(3)],
        "doc_id long, text string",
    )
    assert duplicate_span_stats(uniq).filter("n_dup_spans > 0").count() == 0


def test_lm_perplexity_null_lang_not_dropped(spark):
    """Docs with lang NULL form their own LM group (null-safe joins)
    instead of silently vanishing through an inner join on a null key."""
    from pdf_plumber_util_spark.operators.text_analysis import lm_perplexity

    docs = spark.createDataFrame(
        [(1, "the cat sat", "en"), (2, "sans langue ici", None),
         (3, "sans langue la", None)],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in lm_perplexity(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].lang is None and out[2].n_tokens == 3
    # the null group's LM is trained on docs 2+3 only: 'sans'/'langue'
    # have corpus count 2, the tail words count 1; doc 1's English LM is
    # independent of them
    assert out[2].cross_entropy == out[3].cross_entropy


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs made of target-corpus words must outweigh docs of words the
    target never saw; per-token pin against a direct Python computation."""
    import math
    from collections import Counter

    from pdf_plumber_util_spark.operators.text_analysis import dsir_weights

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),       # target-like
            (2, "zyx qwv jkl pnm bdg tfr"),      # alien to the target
            (3, "the cat zyx qwv on mat"),       # mixed
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(10, "the cat sat on a mat and the cat ran to the mat")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dsir_weights(docs, target).collect()}
    assert out[1].log_weight > out[3].log_weight > out[2].log_weight

    # pin doc 1 exactly: raw LM over docs 1-3, target LM over the target
    raw = Counter("the cat sat on the mat zyx qwv jkl pnm bdg tfr "
                  "the cat zyx qwv on mat".split())
    tgt = Counter("the cat sat on a mat and the cat ran to the mat".split())
    nr, vr = sum(raw.values()), len(raw)
    nt, vt = sum(tgt.values()), len(tgt)
    toks = "the cat sat on the mat".split()
    lw = round(
        sum(math.log(tgt[t] + 1) - math.log(raw[t] + 1) for t in toks)
        + len(toks) * (math.log(nr + vr + 1) - math.log(nt + vt + 1)), 4)
    assert out[1].log_weight == lw


def test_bm25_topk_hand_computed(spark):
    """BM25 scores match a direct Python computation on a tiny corpus,
    ranking puts the term-dense doc first, and k bounds the output."""
    import math

    from pdf_plumber_util_spark.operators.similarity import bm25_topk

    texts = {
        1: "hash table hash join hash",
        2: "table scan over a table",
        3: "nothing relevant here at all",
        4: "hash once",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string")
    got = bm25_topk(docs, ["hash", "table"], k=3).collect()
    assert len(got) == 3
    assert got[0].doc_id == 1  # 3x hash + 1x table

    toks = {i: t.split() for i, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    k1, b = 1.2, 0.75

    def score(i):
        s = 0.0
        for term in sorted(["hash", "table"]):
            df = sum(1 for v in toks.values() if term in v)
            tf = toks[i].count(term)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(toks[i]) / avgdl))
        return round(s, 4)

    for r in got:
        assert r.score == score(r.doc_id), (r.doc_id, r.score, score(r.doc_id))


# ------------------------------------------------- round-4 late additions


def test_semdedup_planted_duplicate(spark, sf_dir):
    """d15 path: a planted identical vector is always deduped (identical
    vectors share every bucket in every table), the canonical is the
    component minimum, and every input vec appears exactly once."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    planted = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") == 11).select(
            F.lit(99999).cast("long").alias("vec_id"), "embedding"
        )
    )
    out = similarity.semdedup(planted, eps=0.999, n_planes=6, n_tables=8).toPandas()
    assert len(out) == 151
    assert out["vec_id"].is_unique
    row = out.set_index("vec_id").loc[99999]
    assert row["canonical_id"] == 11 and bool(row["is_duplicate"])
    orig = out.set_index("vec_id").loc[11]
    assert orig["canonical_id"] == 11 and not bool(orig["is_duplicate"])
    # non-duplicates label themselves
    kept = out[~out["is_duplicate"]]
    assert (kept["canonical_id"] == kept["vec_id"]).all()


def test_incremental_dedup_planted(spark):
    from pdf_plumber_util_spark.operators import dedup

    prior = spark.createDataFrame(
        [(0, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (11, "Alpha  beta"),   # normalizes to an indexed fingerprint
            (13, "delta"),         # fresh, first in batch
            (15, "delta"),         # within-batch duplicate of 13
            (17, None),            # null text: fresh empty fingerprint
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.incremental_dedup(new, dedup.fingerprint_index(prior)).collect()
    }
    assert out[11].in_index and out[11].is_duplicate and not out[11].keep
    assert not out[13].in_index and not out[13].is_duplicate and out[13].keep
    assert not out[15].in_index and out[15].is_duplicate and not out[15].keep
    assert not out[17].in_index and out[17].keep
    # appending the kept docs' fingerprints makes the next batch's rerun
    # flag EVERYTHING as indexed (idempotent re-ingestion)
    kept = new.filter(F.col("doc_id").isin([13, 17]))
    idx2 = dedup.fingerprint_index(prior).union(
        dedup.fingerprint_index(kept)
    ).distinct()
    rerun = dedup.incremental_dedup(new, idx2)
    assert rerun.filter(~F.col("in_index")).count() == 0


def test_linear_quality_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "nothing known here"), (3, "")],
        "doc_id long, text string",
    )
    w = spark.createDataFrame(
        [("good", 1.0), ("bad", -2.0)], "word string, weight double"
    )
    out = {r.doc_id: r for r in
           text_analysis.linear_quality(docs, w, bias=0.5).collect()}
    z1 = 0.5 + (2 * 1.0 + 1 * -2.0) / 3
    assert out[1].n_tokens == 3
    assert abs(out[1].score - round(1 / (1 + math.exp(-z1)), 4)) < 1e-12
    assert out[1].label
    z2 = 0.5  # all OOV: mean weight 0
    assert abs(out[2].score - round(1 / (1 + math.exp(-z2)), 4)) < 1e-12
    assert out[3].n_tokens == 0  # zero-token doc still scores sigmoid(bias)
    assert abs(out[3].score - round(1 / (1 + math.exp(-0.5)), 4)) < 1e-12


def test_near_dup_longest_survivor(spark):
    from pdf_plumber_util_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    docs = spark.createDataFrame(
        [
            (1, base),                          # near-dup, shorter
            (9, base + "extra tail words here"),  # near-dup, LONGEST, higher id
            (5, "completely different content with many unique tokens " * 4),
        ],
        "doc_id long, text string",
    )
    # band_size=1: a candidate fires on ANY shared minhash, so the
    # planted pair (Jaccard ~= 0.67) cannot be missed by band luck
    out = {r.doc_id: r for r in
           dedup.near_dup_pipeline(docs, band_size=1,
                                   survivor="longest").collect()}
    assert out[9].canonical_id == 9 and not out[9].is_duplicate
    assert out[1].canonical_id == 9 and out[1].is_duplicate
    assert out[5].canonical_id == 5 and not out[5].is_duplicate
    # default policy on the same input keeps the min id
    out_min = {r.doc_id: r for r in
               dedup.near_dup_pipeline(docs, band_size=1).collect()}
    assert out_min[1].canonical_id == 1 and not out_min[1].is_duplicate
    assert out_min[9].canonical_id == 1 and out_min[9].is_duplicate


# ------------------------------------------------- round-5: t17 training


def _py_round(v: float) -> float:
    """Python banker's round to int, as functions.rounding.py_round."""
    return float(round(v))


def _twin_train(doc_words: list[tuple[list[str], float]], steps: int,
                lr: float = 1.0, grad_dp: int = 9) -> dict[str, float]:
    """Pure-Python twin of train_logreg_words on tokenized docs."""
    import math
    from collections import Counter

    quant = 10.0 ** grad_dp
    dws = [(Counter(ws), float(len(ws)), y) for ws, y in doc_words if ws]
    n_docs = len(dws)
    vocab = sorted({w for c, _, _ in dws for w in c})
    wts = {w: 0.0 for w in vocab}
    for _ in range(steps):
        grads = {w: 0.0 for w in vocab}
        for cnt, n, y in dws:
            # word-sorted fold, mirroring the engine's array_sort
            s = 0.0
            for w in sorted(cnt):
                s += cnt[w] * wts[w]
            resid = 1.0 / (1.0 + math.exp(-(s / n))) - y
            for w, m in cnt.items():
                grads[w] += resid * m / n
        for w in vocab:
            g = _py_round((grads[w] / n_docs) * quant) / quant
            wts[w] = wts[w] - lr * g
    return wts


def test_train_logreg_hand_checkable_two_words(spark):
    """The 2-feature case: docs are single words 'aa' (label 1) and 'bb'
    (label 0). Step 1 is fully hand-computable: z=0 -> p=0.5 ->
    resid=+-0.5 -> g=-+0.25 -> w=(+0.25, -0.25); step 2 asserted against
    the pure-Python twin, and the round trip through linear_quality must
    separate the classes."""
    docs = spark.createDataFrame(
        [(0, "aa", True), (1, "bb", False)],
        "doc_id long, text string, label boolean",
    )
    w1 = {
        r["word"]: r["weight"]
        for r in text_analysis.train_logreg_words(
            docs, label_col="label", steps=1
        ).collect()
    }
    assert w1 == {"aa": 0.25, "bb": -0.25}

    w2 = {
        r["word"]: r["weight"]
        for r in text_analysis.train_logreg_words(
            docs, label_col="label", steps=2
        ).collect()
    }
    want = _twin_train([(["aa"], 1.0), (["bb"], 0.0)], steps=2)
    assert w2 == want
    assert w2["aa"] > 0.25 and w2["bb"] < -0.25  # still descending

    # round trip: score held-out docs with the trained model
    model = spark.createDataFrame(
        [(k, v) for k, v in w2.items()], "word string, weight double"
    )
    scores = {
        r["doc_id"]: r["score"]
        for r in text_analysis.linear_quality(
            spark.createDataFrame(
                [(10, "aa aa"), (11, "bb"), (12, "aa bb")],
                "doc_id long, text string",
            ),
            model, bias=0.0,
        ).collect()
    }
    assert scores[10] > 0.5 > scores[11]
    assert scores[12] == 0.5  # symmetric weights cancel


def test_train_logreg_multiword_matches_twin(spark):
    """Multi-word docs with shared vocabulary and repeated tokens, three
    steps: engine weights must equal the pure-Python twin exactly (the
    gradient quantization makes the floats deterministic)."""
    rows = [
        (0, "spam spam buy now cheap", False),
        (1, "research results method analysis", True),
        (2, "buy cheap spam offer", False),
        (3, "method results discussion research analysis", True),
        (4, "spam research buy results", True),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, label boolean")
    got = {
        r["word"]: r["weight"]
        for r in text_analysis.train_logreg_words(
            docs, label_col="label", steps=3
        ).collect()
    }
    want = _twin_train(
        [(t.split(), 1.0 if y else 0.0) for _, t, y in rows], steps=3
    )
    assert got == want
    # discriminative direction: spam-marker words negative, paper words
    # positive
    assert got["cheap"] < 0 < got["analysis"]


def test_train_logreg_zero_token_docs_excluded(spark):
    """Docs with no [a-z0-9]+ tokens contribute nothing — same weights
    with and without them (they must also not inflate N)."""
    base = [(0, "aa", True), (1, "bb", False)]
    noisy = base + [(2, "....", True), (3, None, False)]
    w_base = {
        r["word"]: r["weight"]
        for r in text_analysis.train_logreg_words(
            spark.createDataFrame(base, "doc_id long, text string, label boolean"),
            label_col="label", steps=2,
        ).collect()
    }
    w_noisy = {
        r["word"]: r["weight"]
        for r in text_analysis.train_logreg_words(
            spark.createDataFrame(noisy, "doc_id long, text string, label boolean"),
            label_col="label", steps=2,
        ).collect()
    }
    assert w_base == w_noisy


# ------------------------------------------------- round-5: d18 report


def test_dedup_report_planted(spark):
    """Planted corpus covering every action: exact dup -> drop_exact,
    one-word-changed near dup -> drop_near, within-doc repeated 20-token
    block -> trim_spans, distinct doc -> keep; canonicals point at the
    component minimum."""
    from pdf_plumber_util_spark.operators.dedup import dedup_report

    base = " ".join(f"tok{i:02d}" for i in range(60))
    near = " ".join(
        "CHANGED" if i == 50 else f"tok{i:02d}" for i in range(60)
    )
    block = " ".join(f"rep{i:02d}" for i in range(20))
    filler = " ".join(f"mid{i:02d}" for i in range(20))
    self_rep = f"{block} {filler} {block}"
    clean = " ".join(f"uniq{i:02d}" for i in range(60))
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, self_rep), (4, clean)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup_report(docs).collect()}
    assert len(got) == 5
    assert not got[0]["is_exact_dup"] and got[0]["action"] == "keep"
    assert got[1]["is_exact_dup"] and got[1]["action"] == "drop_exact"
    assert got[1]["exact_canonical_id"] == 0
    assert got[2]["is_near_dup"] and got[2]["action"] == "drop_near"
    assert got[2]["near_canonical_id"] == 0
    assert not got[3]["is_exact_dup"] and not got[3]["is_near_dup"]
    assert got[3]["dup_token_frac"] >= 0.3
    assert got[3]["action"] == "trim_spans"
    assert got[4]["action"] == "keep" and got[4]["dup_token_frac"] == 0.0


def test_ivf_centroids_lloyd_objective_monotone(spark, sf_dir):
    """Lloyd refinements in ivf_centroids are true spherical k-means
    steps: the clustering objective (mean cosine of each vector to its
    assigned centroid) must not decrease as n_iter grows. Pins the
    multi-iteration path (the single-iteration path is pinned by the s3
    oracle + exhaustive-probe equality)."""
    from pyspark.sql import functions as F

    from pdf_plumber_util_spark.operators import similarity
    from pdf_plumber_util_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    base = similarity.with_norm(emb).select("vec_id", "_v", "_norm")

    def objective(n_iter: int) -> float:
        cents = similarity.ivf_centroids(emb, n_cells=6, n_iter=n_iter)
        assigned = similarity.ivf_assign(base, cents)
        scored = assigned.join(F.broadcast(cents), "cell").select(
            (
                similarity._dot(F.col("_v"), F.col("_cv"))
                / (F.col("_norm") * F.col("_cnorm"))
            ).alias("cos")
        )
        return scored.agg(F.avg("cos")).collect()[0][0]

    objs = [objective(n) for n in (1, 2, 4)]
    for a, b in zip(objs, objs[1:]):
        assert b >= a - 1e-9, objs
