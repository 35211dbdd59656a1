"""Streaming corpus dedup.

The batch dedup family (operators/dedup.py) assumes the whole corpus is
visible at once; a continuous Common-Crawl ingest instead sees documents
arrive over time and must drop re-crawls NOW, with bounded state. This is
the streaming twin of exact_duplicates: first ARRIVAL wins (the temporal
analog of batch's min-doc_id canonical), keyed by the same normalized-text
md5 so a document dropped here is exactly one batch would have flagged.

Engine-completeness surface like streaming/events.py — the reference is
pure batch (SURVEY.md §2.14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import content_fingerprint


def dedup_stream(docs: DataFrame, ts_col: str = "ts",
                 text_col: str = "text",
                 watermark: str = "24 hours") -> DataFrame:
    """Streaming exact dedup via dropDuplicatesWithinWatermark on the
    normalized-content md5: within any `watermark`-wide event-time
    horizon, only the first-arriving copy of a text survives.

    Why WithinWatermark and not plain dropDuplicates: the unbounded form
    keeps every fingerprint ever seen in the state store — a corpus-sized
    state that grows forever on a crawl ingest. The watermark bound
    evicts fingerprints older than the horizon, so state is
    O(docs per horizon), the only shape that survives an unbounded
    stream. The trade is re-crawls farther apart than the horizon
    re-enter the corpus — exactly the window batch re-dedup (d1) mops up.

    Scale shape: one shuffle keyed by fingerprint into the state store
    (same uniform md5 key as the batch groupBy); no joins, no collects.

    Output: the surviving rows, with `fingerprint` attached.

    Null text is fingerprinted as empty text, matching batch
    exact_duplicates — so a document dropped here is exactly one the
    batch dedup would have flagged, null text included.
    """
    d = docs.withColumn("fingerprint", content_fingerprint(text_col))
    return (
        d.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def dedup_stream_against_index(docs: DataFrame, index: DataFrame,
                               ts_col: str = "ts",
                               text_col: str = "text",
                               watermark: str = "24 hours") -> DataFrame:
    """Streaming twin of operators.dedup.incremental_dedup: drop arriving
    docs whose fingerprint is already in a PRIOR corpus index (a static
    (fingerprint) table — operators.dedup.fingerprint_index output read
    from parquet), then first-arrival-wins within the stream's watermark
    horizon.

    The index probe is a stream-static LEFT ANTI join — Spark executes it
    per micro-batch against the static side with no streaming state, so
    the historical corpus costs zero state-store memory; only the
    within-horizon fingerprints live in state (same bound as
    dedup_stream). The static side is hash-partitioned on the same md5
    key; AQE broadcasts it when small.

    Batch parity: a doc dropped here is exactly one incremental_dedup
    would flag (in_index via the same fingerprint definition, nulls as
    empty; within-batch first-wins approximated by first-arrival within
    the watermark — re-crawls farther apart than the horizon are mopped
    up by the next index refresh, as in dedup_stream).
    """
    d = docs.withColumn("fingerprint", content_fingerprint(text_col))
    fresh = d.join(
        index.select("fingerprint").distinct(), "fingerprint", "left_anti"
    )
    return (
        fresh.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
