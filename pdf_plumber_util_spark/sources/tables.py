"""Testdata table loaders + the oracle-checkable synthetic words table.

The driver's correctness gate compares Spark results against DuckDB SQL
over the same parquet tables (TESTDATA.md). The geometric operators need a
*words* table, which testdata doesn't ship — so we derive one from
``lineitem`` with pure arithmetic that is expressible identically in both
engines (all values land on exact binary fractions: integers and .5
steps, so Spark and DuckDB produce bit-identical doubles).

Geometry contract (documented so expected clustering is computable):
  url     = 'doc' || (l_orderkey % 50)
  page    = (l_partkey % 3) + 1
  line_no = l_suppkey % 12            (implicit; clustering must recover it)
  top     = 72 + line_no*15 + (l_orderkey % 3)   -- jitter < y_tol=3
  bottom  = top + 10                              -- inter-line gap >= 13 > 3
  slot    = row_number within (url,page,line_no) by (l_orderkey,l_linenumber)
  x0      = 72 + (slot-1)*50
  x1      = x0 + 10 + l_quantity*0.5             -- gap to next >= 15 > x_tol
  text    = l_returnflag || l_linenumber
  fontname= A->'Times-Bold', N->'Times', R->'Helvetica'
  size    = F->10.0, O->12.0

Every (url, page) additionally carries two FURNITURE lines so the
header/footer operators (H1/H3/H5) discriminate on real candidates
(round-1 verdict: the all-body geometry made those oracle checks
vacuous 0-row matches):
  header: line_no=-1, top=20, bottom=30, text 'HDR-RUNNING', Times 8pt
          -> gap to first body line ~42-44pt >= 1.8x base spacing (~3pt)
  footer: line_no=99, top=760, bottom=770, text 'PG-FOOT', Times 8pt
          -> in the 1-inch footer zone (bottom > 720), huge gap before
The y-coords are page-invariant, so the A11 cross-page vote is unanimous
(header_bottom=30, footer_top=760) and the flagship drops 2 blocks/page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.errors import AnalysisException

    from ..exceptions import SourceNotFoundError

    path = f"{sf_dir}/{name}.parquet"
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            raise SourceNotFoundError(path, fmt="parquet", original_error=e) from e
        raise


def words_from_lineitem(spark: SparkSession, sf_dir: str,
                        tight_x: bool = False) -> DataFrame:
    """Synthetic words DF (schema compatible with the tokenizer output).

    ``tight_x=True`` switches to the C2 geometry: slot pitch 14 pt and
    ``x1 = x0 + 10 + (qty % 8) * 0.5``, so the inter-word gap is
    ``4 - (qty % 8) * 0.5`` in {0.5 .. 4.0} — some pairs fall inside the
    3.0 pt x-tolerance and merge, others don't (the default 50 pt pitch
    can never produce a merge, which left C2 untestable in round 1).
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.concat(F.lit("doc"), (F.col("l_orderkey") % 50).cast("string")).alias("url"),
        ((F.col("l_partkey") % 3) + 1).cast("int").alias("page"),
        (F.col("l_suppkey") % 12).cast("int").alias("line_no"),
        (
            F.lit(72.0)
            + (F.col("l_suppkey") % 12).cast("double") * 15.0
            + (F.col("l_orderkey") % 3).cast("double")
        ).alias("top"),
        F.concat(F.col("l_returnflag"), F.col("l_linenumber").cast("string")).alias(
            "text"
        ),
        F.when(F.col("l_returnflag") == "A", F.lit("Times-Bold"))
        .when(F.col("l_returnflag") == "N", F.lit("Times"))
        .otherwise(F.lit("Helvetica"))
        .alias("fontname"),
        F.when(F.col("l_linestatus") == "F", F.lit(10.0)).otherwise(F.lit(12.0)).alias(
            "size"
        ),
        F.lit(True).alias("upright"),
        F.col("l_quantity").cast("double").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn("bottom", F.col("top") + 10.0)
    # furniture rows (see module docstring): one header + one footer line
    # per (url, page), sorted first/last by line_no
    pg = base.select("url", "page").distinct()

    def _furn(line_no: int, top: float, text: str):
        return pg.select(
            "url",
            "page",
            F.lit(line_no).cast("int").alias("line_no"),
            F.lit(top).alias("top"),
            F.lit(text).alias("text"),
            F.lit("Times").alias("fontname"),
            F.lit(8.0).alias("size"),
            F.lit(True).alias("upright"),
            F.lit(0.0).alias("qty"),
            F.lit(-1).cast("long").alias("l_orderkey"),
            F.lit(-1).cast("int").alias("l_linenumber"),
            F.lit(top + 10.0).alias("bottom"),
        )

    base = base.unionByName(_furn(-1, 20.0, "HDR-RUNNING")).unionByName(
        _furn(99, 760.0, "PG-FOOT")
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem;
    # extend the sort key with every generation-relevant column so the
    # order is deterministic (residual ties are full attribute duplicates,
    # which yield identical words either way)
    order_cols = ["l_orderkey", "l_linenumber", "qty", "text", "size"]
    slot_w = Window.partitionBy("url", "page", "line_no").orderBy(*order_cols)
    idx_w = Window.partitionBy("url", "page").orderBy("line_no", *order_cols)
    pitch = 14.0 if tight_x else 50.0
    width = (
        (F.col("qty").cast("int") % 8).cast("double") * 0.5
        if tight_x
        else F.col("qty") * 0.5
    )
    geo = (
        base.withColumn("slot", F.row_number().over(slot_w))
        .withColumn("word_idx", (F.row_number().over(idx_w) - 1).cast("long"))
        .withColumn("x0", F.lit(72.0) + (F.col("slot") - 1).cast("double") * pitch)
        .withColumn("x1", F.col("x0") + 10.0 + width)
    )
    return geo.select(
        "url", "page", "word_idx", "text", "x0", "x1", "top", "bottom",
        "fontname", "size", "upright",
    ).withColumn("page_width", F.lit(612.0)).withColumn("page_height", F.lit(792.0))


# The same table as a DuckDB CTE fragment. Append query SQL after it.
# {x0} / {x1} are filled per geometry (default vs tight_x) below.
_WORDS_SQL_TEMPLATE = """
WITH _w0b AS (
  SELECT
    'doc' || CAST(l_orderkey % 50 AS VARCHAR) AS url,
    CAST(l_partkey % 3 AS INT) + 1 AS page,
    CAST(l_suppkey % 12 AS INT) AS line_no,
    CAST(72 + (l_suppkey % 12) * 15 + (l_orderkey % 3) AS DOUBLE) AS top,
    CAST(72 + (l_suppkey % 12) * 15 + (l_orderkey % 3) + 10 AS DOUBLE) AS bottom,
    l_returnflag || CAST(l_linenumber AS VARCHAR) AS text,
    CASE WHEN l_returnflag = 'A' THEN 'Times-Bold'
         WHEN l_returnflag = 'N' THEN 'Times'
         ELSE 'Helvetica' END AS fontname,
    CASE WHEN l_linestatus = 'F' THEN CAST(10.0 AS DOUBLE)
         ELSE CAST(12.0 AS DOUBLE) END AS size,
    TRUE AS upright,
    CAST(l_quantity AS DOUBLE) AS qty,
    l_orderkey, l_linenumber
  FROM lineitem
), _pg AS (
  SELECT DISTINCT url, page FROM _w0b
), _w0 AS (
  SELECT * FROM _w0b
  UNION ALL
  SELECT url, page, CAST(-1 AS INT), CAST(20.0 AS DOUBLE), CAST(30.0 AS DOUBLE),
    'HDR-RUNNING', 'Times', CAST(8.0 AS DOUBLE), TRUE, CAST(0.0 AS DOUBLE),
    CAST(-1 AS BIGINT), CAST(-1 AS INT)
  FROM _pg
  UNION ALL
  SELECT url, page, CAST(99 AS INT), CAST(760.0 AS DOUBLE), CAST(770.0 AS DOUBLE),
    'PG-FOOT', 'Times', CAST(8.0 AS DOUBLE), TRUE, CAST(0.0 AS DOUBLE),
    CAST(-1 AS BIGINT), CAST(-1 AS INT)
  FROM _pg
), words AS (
  SELECT url, page, line_no, top, bottom, text, fontname, size, upright,
    CAST(ROW_NUMBER() OVER (PARTITION BY url, page ORDER BY line_no, l_orderkey, l_linenumber, qty, text, size) - 1 AS BIGINT) AS word_idx,
    CAST({x0} AS DOUBLE) AS x0,
    CAST({x0} + 10 + {w} AS DOUBLE) AS x1,
    CAST(612.0 AS DOUBLE) AS page_width,
    CAST(792.0 AS DOUBLE) AS page_height
  FROM _w0
)
"""

_SLOT0_SQL = ("(ROW_NUMBER() OVER (PARTITION BY url, page, line_no "
              "ORDER BY l_orderkey, l_linenumber, qty, text, size) - 1)")

WORDS_FROM_LINEITEM_SQL = _WORDS_SQL_TEMPLATE.format(
    x0=f"72 + {_SLOT0_SQL} * 50", w="qty * 0.5"
)

# C2 geometry twin (see words_from_lineitem tight_x docstring)
WORDS_TIGHT_SQL = _WORDS_SQL_TEMPLATE.format(
    x0=f"72 + {_SLOT0_SQL} * 14", w="(CAST(qty AS INT) % 8) * 0.5"
)
