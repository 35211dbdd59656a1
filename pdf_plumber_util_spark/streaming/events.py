"""Structured Streaming surface.

The reference is pure batch (SURVEY.md §2.14: no watermarks/state anywhere),
so this module is the *engine-completeness* layer rather than a port: the
same aggregations the batch contract exposes (hourly rollups, 30-minute
sessionization) expressed as streaming plans, so a
Common-Crawl ingest can run continuously. Batch/stream parity is tested by
running the stream with availableNow over the same parquet input and
comparing to the batch query result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events(spark: SparkSession, path_dir: str, schema=None) -> DataFrame:
    """File-source stream over an events parquet directory."""
    if schema is None:
        schema = spark.read.parquet(path_dir).schema
    return spark.readStream.schema(schema).parquet(path_dir)


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h counts per event_type with late-data watermark."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            "sum_value",
        )
    )


def session_stream(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (the temporal twin of the spatial
    lag+cumsum sessionization used for lines/blocks)."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals maintained in explicit group state across triggers.

    This is the arbitrary-state escape hatch for semantics the built-in
    windowed aggregations can't express (the reference has no streaming at
    all, so this is engine-completeness surface like the rest of the
    module). Each trigger updates (n_events, sum_value) state per user and
    emits the running totals; over an availableNow run of static input the
    final emission per user equals the batch groupBy exactly, which the
    parity test pins.

    Scale shape: state is two scalars per user key — the state store
    shuffles by user_id once and stays partitioned; the pandas function
    sees one Arrow batch iterator per key per trigger.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))

    def update(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_once(stream_df: DataFrame, out_mode: str = "complete") -> list:
    """Execute a streaming plan with availableNow and return collected rows
    (test helper; uses an in-memory sink)."""
    import uuid

    name = "mem_" + uuid.uuid4().hex[:8]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(out_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark = stream_df.sparkSession
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    q.stop()
    return rows
