"""The exchange placement around the shared builders is a performance
choice only. Production (extract_documents) repartitions the words by url
before lines_from_words; the contract's fixture lets the C1 window key on
(url, page) and re-keys the assembled lines to url. Both must give the
same lines and the same body text."""

import os

import pytest
from pyspark.sql import functions as F

from pdf_plumber_util_spark.plans.extract import (
    documents_from_lines,
    lines_from_words,
)
from pdf_plumber_util_spark.sources.pages import synth_pages
from pdf_plumber_util_spark.sources.tables import words_from_lineitem
from pdf_plumber_util_spark.sources.tokenizer import tokenize_pages


def _placements(words):
    """(lines, bodies) for url-first words and for two-level keying."""
    url_first, _ = lines_from_words(words.repartition(F.col("url")))
    two_level, _ = lines_from_words(words)
    out = []
    for lines in (url_first, two_level.repartition(F.col("url"))):
        lines = lines.persist()
        out.append((lines, documents_from_lines(lines).select("url", "body_text")))
    return out


def _rows(df):
    return sorted(df.collect(), key=lambda r: (r["url"], r["page"], r["line_id"]))


@pytest.mark.parametrize("source", ["synth_pages", "sf0.01_lineitem"])
def test_exchange_placement_same_lines_and_body(spark, sf_dir, source):
    if source == "synth_pages":
        words = tokenize_pages(synth_pages(spark, 24))
    else:
        words = words_from_lineitem(
            spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    (a_lines, a_body), (b_lines, b_body) = _placements(words)
    try:
        a = _rows(a_lines)
        assert a, "no lines built"
        assert a == _rows(b_lines)
        bodies = dict(a_body.collect())
        assert bodies == dict(b_body.collect())
        assert any(bodies.values())
    finally:
        a_lines.unpersist()
        b_lines.unpersist()
