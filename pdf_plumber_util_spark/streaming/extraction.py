"""Streaming ingest of Common-Crawl-style pages through the flagship
extraction pipeline.

The north rule's production loop is "pages land continuously; extraction
keeps up; a restart resumes where it left off". The batch path covers
restart-by-anti-join (plans/resume.py); this module is the Structured
Streaming expression of the same contract: a file-source stream over the
pages table driven through ``foreachBatch``, with the source checkpoint
recording which input files are done.

Why foreachBatch and not a pure streaming plan: the extraction pipeline
is built from non-time window functions (C1 line clustering, segment
runs, block sessionization), which Structured Streaming cannot run
incrementally — and does not need to: one page is a self-contained unit
of work, so per-micro-batch batch semantics ARE the correct semantics
(no cross-batch state exists; every url's pages arrive in one file by
construction of crawl dumps, mirrored by partitioned parquet input).
``foreachBatch`` hands each micro-batch to the UNCHANGED batch plan
(`extract_documents`), so streaming output is byte-identical to a batch
run over the same files — pinned by tests/test_streaming.py.

Scale shape: ``maxFilesPerTrigger`` bounds a trigger's working set; the
checkpoint (WAL + sources/0 file log) lives on the cluster FS and
survives driver restarts. ``foreachBatch`` itself is AT-LEAST-ONCE (a
batch can rerun if the driver dies between the sink write and the offset
commit), so each micro-batch is one commit unit of the resumable writer:
``run_resumable`` into the batch's own ``_batch_id=N`` directory with one
bucket. The batch lands by dynamic partition overwrite, is audited from
the landed files, and publishes one ``_sidecar/bucket_0.json`` marker
(docs, chars, blocks kept / dropped, parse failures). A replayed batch
finds its marker and resumes instead of rewriting, so the composition is
effectively exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import DEFAULT, EngineConfig


def stream_pages(spark: SparkSession, pages_dir: str, schema=None,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a pages parquet directory (url, html, ...)."""
    if schema is None:
        schema = spark.read.parquet(pages_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


def streaming_extract(pages_stream: DataFrame, out_dir: str,
                      checkpoint_dir: str, cfg: EngineConfig = DEFAULT):
    """Drive the flagship batch plan per micro-batch; returns the started
    StreamingQuery (caller awaits/stops).

    Each trigger is one ``plans.resume.run_resumable`` commit unit: the
    new files' documents land under ``{out_dir}/_batch_id={batch_id}``
    and its ``_sidecar`` holds the batch's one marker, so
    ``spark.read.parquet(out_dir)`` reads every batch's rows (with
    ``_batch_id`` and ``url_bucket`` partition columns) and skips the
    sidecars.
    """
    from ..plans.resume import run_resumable

    def process(batch_df: DataFrame, batch_id: int) -> None:
        run_resumable(batch_df, batch_df.sparkSession,
                      f"{out_dir}/_batch_id={batch_id}", n_buckets=1, cfg=cfg)

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
