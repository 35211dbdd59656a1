"""Round-5 operators: TF-IDF top-k terms (t18), deterministic shard plan
(t19), character-trigram language ID (t20)."""

import hashlib
import math
from collections import Counter

from pyspark.sql import functions as F

from pdf_plumber_util_spark.operators import text_analysis
from pdf_plumber_util_spark.operators.webtext import shuffle_shards
from pdf_plumber_util_spark.sources.tables import load_table


def test_tfidf_topk_hand_case(spark):
    # 3 docs; "apple" everywhere (idf floor), "cherry" unique to doc 3
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple banana banana banana"),
            (3, "apple cherry"),
        ],
        "doc_id long, text string",
    )
    rows = text_analysis.tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    idf = lambda df: math.log((3 + 1) / (df + 1)) + 1.0
    # doc 1: apple tf=2 df=3 vs banana tf=1 df=2
    d1 = {r.word: r for r in by_doc[1]}
    assert d1["apple"].rank == 1 and d1["apple"].tf == 2 and d1["apple"].df == 3
    assert abs(d1["apple"].score - round(2 * idf(3), 6)) < 1e-9
    assert d1["banana"].rank == 2
    # doc 3: the unique word dominates the ubiquitous one
    d3 = sorted(by_doc[3], key=lambda r: r.rank)
    assert [r.word for r in d3] == ["cherry", "apple"]
    assert abs(d3[0].score - round(idf(1), 6)) < 1e-9


def test_tfidf_topk_k_bound_and_tiebreak(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    out = text_analysis.tfidf_topk(docs, k=3).toPandas()
    assert (out.groupby("doc_id")["rank"].max() <= 3).all()
    # ranks are 1..k dense per doc, ordering obeys (score desc, word asc)
    for _, g in out.groupby("doc_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        keys = list(zip(-g["score"], g["word"]))
        assert keys == sorted(keys)


def test_lang_trigrams_hand_case(spark):
    docs = spark.createDataFrame(
        [
            (1, "the thing and the king", "en"),   # en trigrams dominate
            (2, "ich schreibe und schaue", "de"),  # de trigrams dominate
            (3, "xq", "en"),                       # < 3 chars: zero hits
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in text_analysis.lang_id_trigrams(docs).collect()}
    assert out[1].pred_lang == "en" and out[1].hits > 0
    assert out[2].pred_lang == "de" and out[2].hits > 0
    # zero hits everywhere -> tie broken to the lowest code
    assert out[3].hits == 0 and out[3].pred_lang == "de"


def test_lang_trigrams_matches_python_twin(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    got = {r.doc_id: (r.pred_lang, r.hits)
           for r in text_analysis.lang_id_trigrams(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        t = row.text.lower()
        tris = Counter(t[i:i + 3] for i in range(len(t) - 2)) if len(t) >= 3 else Counter()
        scores = {
            code: sum(n for g, n in tris.items() if g in set(prof))
            for code, prof in text_analysis.LANG_TRIGRAMS.items()
        }
        best = max(sorted(scores), key=lambda c: scores[c])
        assert got[row.doc_id] == (best, scores[best])


def test_shuffle_shards_layout(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = shuffle_shards(docs, n_shards=8).toPandas()
    assert len(out) == docs.count()
    assert set(out["shard"].unique()) <= set(range(8))
    for shard, g in out.groupby("shard"):
        g = g.sort_values("pos")
        # pos is 1..n dense and follows (sort_key, doc_id) order
        assert list(g["pos"]) == list(range(1, len(g) + 1))
        keys = list(zip(g["sort_key"], g["doc_id"]))
        assert keys == sorted(keys)
    # shard/key derivation matches the portable md5 rule exactly
    for r in out.head(50).itertuples():
        key = hashlib.md5(f"shard1:{r.doc_id}".encode()).hexdigest()
        assert r.sort_key == key
        assert r.shard == int(key[:8], 16) % 8


def test_shuffle_shards_partitioning_invariant(spark, sf_dir):
    """The layout is a pure function of (doc_id, salt): reshuffling the
    input rows or changing input partitioning must not move any doc."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    a = shuffle_shards(docs, n_shards=4).toPandas()
    b = shuffle_shards(docs.repartition(17, "n_chars"), n_shards=4).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)
    # a different salt is an independent epoch: some doc moves
    c = shuffle_shards(docs, n_shards=4, salt="shard2").toPandas()
    merged = a.merge(c, on="doc_id", suffixes=("_a", "_c"))
    assert (merged["sort_key_a"] != merged["sort_key_c"]).all()


def test_paragraph_neardup_planted(spark):
    """Planted layout: a boilerplate paragraph shared by all docs must
    flag everywhere; unique body paragraphs must not; a near-identical
    body pair (one word changed out of 30) must flag in both docs;
    sub-shingle paragraphs report false."""
    from pdf_plumber_util_spark.operators.dedup import paragraph_neardup

    boiler = "subscribe to our newsletter for daily updates and offers"
    body = " ".join(f"w{i}" for i in range(30))
    near = body.replace("w7", "zz")          # 1 token of 30 changed
    uniq1 = " ".join(f"a{i}" for i in range(30))
    uniq2 = " ".join(f"b{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\n\n{body}\n\nshort"),
            (2, f"{boiler}\n\n{near}\n\n{uniq1}"),
            (3, f"{boiler}\n\n{uniq2}"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.para_idx): r.has_near_dup
           for r in paragraph_neardup(docs).collect()}
    assert out[(1, 0)] and out[(2, 0)] and out[(3, 0)]   # boilerplate
    assert out[(1, 1)] and out[(2, 1)]                   # near-identical pair
    assert not out[(2, 2)] and not out[(3, 1)]           # unique bodies
    assert not out[(1, 2)]                               # < k tokens


def test_paragraph_neardup_within_doc_not_flagged(spark):
    """Two identical paragraphs INSIDE one doc are not cross-doc dups
    (that's u5's job): the flag requires a second distinct doc_id."""
    from pdf_plumber_util_spark.operators.dedup import paragraph_neardup

    p = " ".join(f"c{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, f"{p}\n\n{p}")], "doc_id long, text string"
    )
    out = paragraph_neardup(docs).collect()
    assert len(out) == 2 and not any(r.has_near_dup for r in out)


def test_drop_dup_paragraphs_reassembly(spark):
    """The shared boilerplate paragraph disappears from every doc, the
    survivors re-assemble in original order, counts reconcile, and a doc
    whose every paragraph is flagged keeps an empty string."""
    from pdf_plumber_util_spark.operators.dedup import drop_dup_paragraphs

    boiler = "subscribe to our newsletter for daily updates and offers"
    u1 = " ".join(f"a{i}" for i in range(20))
    u2 = " ".join(f"b{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\n\n{u1}\n\n{u2}", "en"),
            (2, f"{u1.replace('a3', 'xx')}\n\n{boiler}", "de"),
            (3, boiler, "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in drop_dup_paragraphs(docs).collect()}
    # doc 1: boiler + near-dup u1 removed, u2 survives alone
    assert out[1].text == u2
    assert out[1].n_paras == 3 and out[1].n_paras_removed == 2
    # doc 2: both paragraphs flagged -> empty text
    assert out[2].text == "" and out[2].n_paras_removed == 2
    # doc 3: single boilerplate paragraph -> empty text
    assert out[3].text == "" and out[3].n_paras_removed == 1
    # non-text columns ride through
    assert out[1].lang == "en" and out[3].lang == "fr"


def test_drop_dup_paragraphs_keeps_clean_docs_verbatim(spark):
    """A doc that loses no paragraph keeps its text byte-for-byte: runs of
    3+ newlines, whitespace-only paragraphs and NULL text survive (before,
    every doc was re-joined with exactly one blank line between kept
    paragraphs). A doc that does lose one is still re-assembled."""
    from pdf_plumber_util_spark.operators.dedup import drop_dup_paragraphs

    boiler = "subscribe to our newsletter for daily updates and offers"
    u1 = " ".join(f"a{i}" for i in range(20))
    u2 = " ".join(f"b{i}" for i in range(20))
    u3 = " ".join(f"c{i}" for i in range(20))
    clean = f"{u1}\n\n\n\n  \n\n{u2}\n"
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, None),
            (3, "   "),
            (4, f"{boiler}\n\n\n{u3}"),
            (5, boiler),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in drop_dup_paragraphs(docs).collect()}
    assert out[1].text == clean and out[1].n_paras_removed == 0
    assert out[1].n_paras == 2
    assert out[2].text is None and out[2].n_paras == 0
    assert out[3].text == "   " and out[3].n_paras == 0
    assert out[4].text == u3 and out[4].n_paras_removed == 1
    assert out[5].text == "" and out[5].n_paras_removed == 1


def test_curate_drop_dup_paragraphs_gate_interaction(spark):
    """curate(drop_dup_paragraphs=True): the boilerplate paragraph is
    stripped BEFORE the gates, so a doc reduced to nothing fails the
    quality gate while a doc with enough unique body survives."""
    from pdf_plumber_util_spark.plans.curate import curate_corpus

    boiler = "subscribe to our newsletter for daily updates and offers"
    body = " ".join(f"the word{i} and of thing{i}" for i in range(20))
    other = " ".join(f"the alpha{i} and of beta{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\n\n{body}"),
            (2, boiler),
            (3, f"{boiler}\n\n{other}"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in curate_corpus(
        docs, min_words=10, drop_dup_paragraphs=True
    ).collect()}
    assert boiler not in out[1].text
    assert out[1].quality_keep
    assert out[2].text == "" and not out[2].quality_keep
    assert not out[2].keep


def test_planted_paragraphs_null_text_matches_oracle(spark, sf_dir, tmp_path):
    """d19/d20/d21 treat NULL text as the empty string on both sides: a
    NULL-text doc keeps just the planted boilerplate paragraph in Spark
    and in the DuckDB twin (before, DuckDB's || turned the whole doc
    NULL and it had no paragraphs)."""
    import duckdb

    from pdf_plumber_util_spark import contract_extra as cx

    docs = load_table(spark, sf_dir, "documents")
    assert docs.columns[0] == "doc_id"
    null_doc = spark.createDataFrame(
        [(10**6,) + (None,) * (len(docs.columns) - 1)], docs.schema)
    docs.unionByName(null_doc).write.parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet/*.parquet')")

    def rows(df):
        df = df[sorted(df.columns)]
        return sorted(tuple(round(v, 9) if isinstance(v, float) else v
                            for v in r) for r in df.itertuples(index=False))

    for name in ("d19_paragraph_neardup", "d20_drop_dup_paragraphs",
                 "d21_paragraph_lsh_recall"):
        got = cx.EXTRA_QUERIES[name](spark, str(tmp_path)).toPandas()
        want = con.execute(cx.EXTRA_ORACLES[name]).fetchdf()
        assert rows(got) == rows(want), name
        if name == "d19_paragraph_neardup":
            null_paras = got[got.doc_id == 10**6]
            assert list(null_paras.para_idx) == [0], null_paras
            assert null_paras.has_near_dup.all()


def test_top_ngrams_df_semantics(spark):
    """df counts DOCUMENTS, not occurrences: a phrase repeated 10x inside
    one doc scores df=1; ranking ties break by shingle asc."""
    from pdf_plumber_util_spark.operators.dedup import top_ngrams

    spam = " ".join(["click here now"] * 10)
    docs = spark.createDataFrame(
        [
            (1, f"{spam} unique tail one"),
            (2, "buy cheap pills online today"),
            (3, "buy cheap pills online tomorrow"),
        ],
        "doc_id long, text string",
    )
    out = top_ngrams(docs, k=3, top=5).collect()
    by_shingle = {r.shingle: (r.rank, r.df) for r in out}
    # "buy cheap pills" and "cheap pills online" hit 2 docs each and tie;
    # the lexicographically smaller shingle takes rank 1
    assert by_shingle["buy cheap pills"] == (1, 2)
    assert by_shingle["cheap pills online"] == (2, 2)
    assert by_shingle["click here now"][1] == 1  # within-doc repeats: df 1
