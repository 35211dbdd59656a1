"""Resumable, partition-committed writes with a lineage/metrics sidecar.

North-rule requirements: checkpoint per-partition lineage and extraction
metrics (chars extracted, blocks kept/dropped, parse failures) to a sidecar
table, and make the job resumable mid-run via anti-join against committed
partitions.

Implementation (Iceberg-API-compatible, parquet-backed in the sandbox):
  * The corpus is bucketed into ``n_buckets`` by ``pmod(xxhash64(url), n)``
    — the unit of commit and resume (Iceberg: ``bucket(n, url)`` partition
    transform).
  * ONE Spark job lands every remaining bucket via a dynamic-partition-
    overwrite ``partitionBy(url_bucket)`` write (idempotent the same way
    Iceberg's ``overwritePartitions`` is: only the rewritten buckets are
    replaced). Round 1 issued one filtered write job per bucket — 256
    sequential job submissions over a cached DF at --buckets 256.
  * Commit markers are published write-audit-publish: after the data
    lands, the AUDIT pass re-reads the landed files, aggregates the
    sidecar metrics per bucket, and only then publishes one marker per
    bucket (atomic rename). A crash between land and publish re-runs the
    unpublished buckets idempotently.
  * ``resume_filter`` anti-joins the input against committed buckets (J5).

All sidecar/marker IO goes through the Hadoop FileSystem API, so
--output may be file:, hdfs:, or s3a: (round-1 ADVICE: the os.listdir
implementation silently broke resume on non-POSIX paths).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig

BUCKET_COL = "url_bucket"
SIDECAR = "_sidecar"


# ------------------------------------------------- Hadoop FileSystem IO --


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _list_json(spark: SparkSession, dir_path: str) -> list[str]:
    fs, hpath, _ = _fs(spark, dir_path)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.endswith(".json") and not name.startswith("_tmp_"):
            out.append(f"{dir_path}/{name}")
    return sorted(out)


def _read_text(spark: SparkSession, path: str) -> str:
    # chunked read into a JVM byte[] buffer: the round-2 form pulled ONE
    # byte per py4j round-trip (ADVICE r2) — pathological past a few KB
    fs, hpath, jvm = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        buf = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, buf, 8192, False)
        return bytes(buf.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def _write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write via a _tmp_ sibling + rename (the FS-level publish step).

    Note: no fs.setWriteChecksum here — the FileSystem instance comes from
    the JVM-wide cache, so flipping it would disable checksums for every
    other user of the same FS (ADVICE r2). Checksum FSes may leave .crc
    siblings; _list_json filters to *.json so they're inert.
    """
    fs, hpath, jvm = _fs(spark, path)
    parent = hpath.getParent()
    fs.mkdirs(parent)
    tmp = jvm.org.apache.hadoop.fs.Path(parent, "_tmp_" + hpath.getName())
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    fs.delete(hpath, False)
    fs.rename(tmp, hpath)


def delete_dir(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FS (for --no-resume)."""
    fs, hpath, _ = _fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


# ------------------------------------------------------- resume contract --


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64("url"), F.lit(n_buckets)))


def committed_partitions(spark: SparkSession, sidecar_dir: str) -> list[int]:
    return [
        json.loads(_read_text(spark, p))[BUCKET_COL]
        for p in _list_json(spark, sidecar_dir)
    ]


def resume_filter(pages: DataFrame, spark: SparkSession, sidecar_dir: str,
                  n_buckets: int) -> DataFrame:
    """J5: anti-join input against committed buckets (tiny list -> isin;
    at cluster scale this is a broadcast anti-join against the sidecar)."""
    done = committed_partitions(spark, sidecar_dir)
    df = with_bucket(pages, n_buckets)
    if not done:
        return df
    done_df = spark.createDataFrame([(b,) for b in done], f"{BUCKET_COL} long")
    return df.join(F.broadcast(done_df), BUCKET_COL, "left_anti")


def publish_bucket(spark: SparkSession, sidecar_dir: str, meta: dict) -> None:
    _write_text_atomic(
        spark, f"{sidecar_dir}/bucket_{meta[BUCKET_COL]}.json", json.dumps(meta)
    )


def run_resumable(pages: DataFrame, spark: SparkSession, out_dir: str,
                  n_buckets: int = 8,
                  cfg: EngineConfig = DEFAULT) -> list[dict]:
    """Resumable end-to-end run: skip committed buckets, land every
    remaining bucket in ONE dynamic-partition-overwrite job, audit the
    landed files, publish one sidecar marker per bucket."""
    from .extract import extract_documents

    sidecar_dir = f"{out_dir}/{SIDECAR}"
    done = set(committed_partitions(spark, sidecar_dir))
    todo = resume_filter(pages, spark, sidecar_dir, n_buckets)
    # per-bucket input counts (url-sized aggregate) — the parse-failure
    # denominator: a doc that yields zero words (malformed page isolated
    # by the tokenizer) produces no output row, so
    # parse_failures = inputs - extracted per bucket
    input_counts = {
        int(r[BUCKET_COL]): r["n_in"]
        for r in todo.groupBy(BUCKET_COL).agg(F.count("*").alias("n_in")).collect()
    }
    docs = with_bucket(extract_documents(todo.drop(BUCKET_COL), cfg), n_buckets)

    t0 = time.time()
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        docs.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(out_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    wall = round(time.time() - t0, 3)

    # audit: read back what actually landed, then publish
    try:
        landed = spark.read.parquet(out_dir)
        fresh = landed
        if done:
            fresh = landed.filter(~F.col(BUCKET_COL).isin([int(b) for b in done]))
        stats = (
            fresh.groupBy(BUCKET_COL)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("chars_extracted").alias("chars"),
                F.sum("n_blocks_kept").alias("blocks_kept"),
                F.sum("n_blocks_dropped").alias("blocks_dropped"),
            )
            .collect()
        )
    except Exception:  # nothing ever landed (empty corpus / all failed)
        stats = []
    per_bucket = {int(r[BUCKET_COL]): r.asDict() for r in stats}
    metas = []
    # every input bucket commits — including a bucket whose docs ALL
    # parse-failed (zero landed rows): without its marker, resume would
    # reprocess the poison bucket forever
    for b in sorted(input_counts):
        r = per_bucket.get(b, {})
        n_docs = int(r.get("n_docs", 0))
        meta = {
            BUCKET_COL: b,
            "n_docs": n_docs,
            "chars_extracted": int(r.get("chars") or 0),
            "blocks_kept": int(r.get("blocks_kept") or 0),
            "blocks_dropped": int(r.get("blocks_dropped") or 0),
            "parse_failures": max(0, input_counts[b] - n_docs),
            "wall_sec": wall,  # single landing job; shared across buckets
        }
        publish_bucket(spark, sidecar_dir, meta)
        metas.append(meta)
    return metas
