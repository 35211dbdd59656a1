"""Tokenizer: pages(html) -> words DataFrame (the S1 analog).

The single mandatory pandas/Arrow UDF of the engine (input_hint: vectorized
UDFs only): a flat ``mapInPandas`` (one Arrow batch of plain columns per
input batch).

Partitioning note: ``mapInPandas`` ERASES output partitioning in Spark 4,
so nothing placed before tokenization feeds the downstream windows — the
C1 window inserts the pipeline's single word-sized exchange either way
(asserted in tests/test_plan_shape.py). A pre-tokenize repartition could
therefore only balance the UDF stage itself; the production plan adds
none, so the tokenizer runs on the input's own partitioning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WORD_STRUCT = StructType(
    [
        StructField("page", IntegerType()),
        StructField("word_idx", LongType()),
        StructField("text", StringType()),
        StructField("x0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("top", DoubleType()),
        StructField("bottom", DoubleType()),
        StructField("fontname", StringType()),
        StructField("size", DoubleType()),
        StructField("upright", BooleanType()),
        StructField("is_link", BooleanType()),
        StructField("tag", StringType()),
    ]
)

WORD_SCHEMA = StructType(
    [StructField("url", StringType())] + list(WORD_STRUCT.fields)
)


def _flat_tokenize(batches):
    from .render import WORD_FIELDS, layout_html_rows

    for pdf in batches:
        rows: list[tuple] = []
        urls: list[str] = []
        for url, html in zip(pdf["url"], pdf["html"]):
            # per-document failure isolation: at 10^12 docs a malformed
            # page must cost its own row, never the task — a doc whose
            # parse throws emits zero words and is counted as a parse
            # failure by the resumable audit (input - extracted per
            # bucket, plans/resume.py)
            try:
                ws = layout_html_rows(html.decode("utf-8", "replace"))
            except Exception:
                continue
            rows.extend(ws)
            urls.extend([url] * len(ws))
        cols = list(zip(*rows)) if rows else [[] for _ in WORD_FIELDS]
        out = {"url": urls}
        out.update({f: cols[i] for i, f in enumerate(WORD_FIELDS)})
        yield pd.DataFrame(out)


def tokenize_pages(pages: DataFrame) -> DataFrame:
    """pages -> one row per word. Columns: url + WORD_STRUCT fields +
    page_width/page_height (constant for the synthetic renderer).

    Flat mapInPandas (one Arrow batch of plain columns per input batch):
    ~2-3x the throughput of an array<struct> pandas_udf + posexplode —
    nested struct assembly and the JVM-side Generate both disappear.
    """
    words = pages.select("url", "html").mapInPandas(_flat_tokenize, WORD_SCHEMA)
    return words.withColumn("page_width", F.lit(612.0)).withColumn(
        "page_height", F.lit(792.0)
    )


OBJECT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page", IntegerType()),
        StructField("obj_idx", IntegerType()),
        StructField("obj_type", StringType()),
        StructField("x0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("top", DoubleType()),
        StructField("bottom", DoubleType()),
        StructField("meta", StringType()),
    ]
)


def _flat_objects(batches):
    from .render import OBJECT_FIELDS, layout_objects

    for pdf in batches:
        rows: list[tuple] = []
        urls: list[str] = []
        for url, html in zip(pdf["url"], pdf["html"]):
            objs = layout_objects(html.decode("utf-8", "replace"))
            rows.extend(objs)
            urls.extend([url] * len(objs))
        cols = list(zip(*rows)) if rows else [[] for _ in OBJECT_FIELDS]
        out = {"url": urls}
        out.update({f: cols[i] for i, f in enumerate(OBJECT_FIELDS)})
        yield pd.DataFrame(out)


def extract_objects(pages: DataFrame) -> DataFrame:
    """S5 (get_vectors.py:36-111): pages -> one row per non-text object
    (image / hyperlink annotation rect / <hr> line / image edge), per
    page sorted by y0. Same flat mapInPandas shape as the tokenizer."""
    return pages.select("url", "html").mapInPandas(_flat_objects, OBJECT_SCHEMA)


def page_dims(words: DataFrame) -> DataFrame:
    """(url, page, page_width, page_height) helper table."""
    return words.groupBy("url", "page").agg(
        F.first("page_width").alias("page_width"),
        F.first("page_height").alias("page_height"),
    )
