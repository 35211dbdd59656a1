"""Streaming/batch parity: the streaming plans must produce exactly the
batch results when drained with availableNow over the same input."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pdf_plumber_util_spark.streaming.events import (
    hourly_counts_stream,
    run_stream_once,
    session_stream,
    stream_events,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream"))
    spark.read.parquet(f"{sf_dir}/events.parquet").write.mode("overwrite").parquet(out)
    return out


def test_hourly_parity(spark, events_dir):
    stream = hourly_counts_stream(stream_events(spark, events_dir))
    got = {
        (r["hour"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in run_stream_once(stream)
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    )
    want = {
        (r["hour"], r["event_type"]): (r["n"], round(r["sum_value"], 6)) for r in batch
    }
    assert got == want and len(got) > 10


def test_session_parity(spark, events_dir):
    stream = session_stream(stream_events(spark, events_dir))
    got = {}
    for r in run_stream_once(stream):
        got[r["user_id"]] = got.get(r["user_id"], 0) + 1
    # batch twin: 30-min-gap sessionization via lag+cumsum
    from pyspark.sql import Window

    ev = spark.read.parquet(events_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    flag = F.when(ts_us - F.lag(ts_us).over(w) > 1800 * 1_000_000, 1).otherwise(0)
    batch = (
        ev.withColumn("sid", F.sum(flag).over(w))
        .groupBy("user_id")
        .agg(F.countDistinct("sid").alias("n_sessions"))
        .collect()
    )
    want = {r["user_id"]: r["n_sessions"] for r in batch}
    assert got == want


def test_stateful_running_totals_parity(spark, events_dir):
    """applyInPandasWithState running totals: after draining the stream
    (availableNow, update mode), each user's LAST emission equals the
    batch groupBy totals."""
    from pdf_plumber_util_spark.streaming.events import running_user_totals

    stream = running_user_totals(stream_events(spark, events_dir))
    rows = run_stream_once(stream, out_mode="update")
    # update-mode memory sink may hold one emission per trigger; the last
    # per user is the final running total
    got = {}
    for r in rows:
        got[r["user_id"]] = (r["n_events"], r["sum_value"])
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(batch)
    for u in batch:
        assert got[u][0] == batch[u][0], u
        assert abs(got[u][1] - batch[u][1]) < 1e-6, u


def _drain(spark, pages_dir, out_dir, ckpt):
    from pdf_plumber_util_spark.streaming.extraction import (
        stream_pages,
        streaming_extract,
    )

    q = streaming_extract(stream_pages(spark, pages_dir), out_dir, ckpt)
    q.awaitTermination(120)
    return q


def _batch_markers(out_dir) -> list[dict]:
    """Each _batch_id=N directory's sidecar markers, in batch order."""
    batches = sorted(
        (d for d in os.listdir(out_dir) if d.startswith("_batch_id=")),
        key=lambda d: int(d.split("=")[1]),
    )
    out = []
    for d in batches:
        sidecar = os.path.join(out_dir, d, "_sidecar")
        names = [f for f in os.listdir(sidecar) if f.endswith(".json")]
        assert names == ["bucket_0.json"], (d, names)
        with open(os.path.join(sidecar, names[0])) as f:
            out.append(json.load(f))
    return out


def test_streaming_extraction_parity_and_resume(spark, tmp_path):
    """foreachBatch streaming extraction, each micro-batch one
    run_resumable commit unit: (1) drained availableNow output is
    byte-identical to the batch flagship over the same pages; (2) a
    restart with the same checkpoint processes ONLY new files, and a
    crash before the last offset commit (its commits/N deleted) re-runs
    that batch, which resumes from its marker: every url lands exactly
    once; (3) one bucket_0.json marker per batch, whose n_docs sum to
    the batch plan's doc count with no parse failure."""
    from pdf_plumber_util_spark.plans.extract import extract_documents
    from pdf_plumber_util_spark.sources.pages import synth_pages

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    all_pages = synth_pages(spark, 12).persist()
    first = all_pages.filter(F.xxhash64("url") % 2 == 0)
    second = all_pages.filter(F.xxhash64("url") % 2 != 0)

    # wave 1: half the corpus lands
    first.write.mode("overwrite").parquet(pages_dir)
    _drain(spark, pages_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == first.select("url").distinct().count()

    # wave 2: the rest lands; same checkpoint -> only new files process
    second.write.mode("append").parquet(pages_dir)
    _drain(spark, pages_dir, out_dir, ckpt)

    # crash after the last batch landed and published, before its offset
    # commit: the restart re-runs that batch
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    q = _drain(spark, pages_dir, out_dir, ckpt)
    rerun = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert rerun == [last]

    got = spark.read.parquet(out_dir)
    want = extract_documents(spark.read.parquet(pages_dir))
    # no duplicates across the restart and the replay, full coverage
    n_want = want.count()
    assert got.count() == got.select("url").distinct().count() == n_want
    # byte-identical body text per url vs the batch plan
    mismatch = (
        got.select("url", "body_text", "chars_extracted")
        .exceptAll(want.select("url", "body_text", "chars_extracted"))
        .count()
    )
    assert mismatch == 0
    # one marker per batch, per-batch lineage across both runs
    metas = _batch_markers(out_dir)
    assert len(metas) >= 2
    assert sum(m["n_docs"] for m in metas) == n_want
    assert all(m["parse_failures"] == 0 for m in metas)
    all_pages.unpersist()


def test_streaming_parse_failures_counted_and_committed(spark, tmp_path):
    """An empty and a non-html page in a stream wave: their batch still
    commits, and its marker counts both as parse failures."""
    from pdf_plumber_util_spark.sources.pages import synth_pages

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    good = synth_pages(spark, 3).select("url", "html")
    bad = spark.createDataFrame(
        [("https://bad.example.com/empty", b""),
         ("https://bad.example.com/junk", b"\x00\xff\xfe")],
        "url string, html binary",
    )
    good.unionByName(bad).write.parquet(pages_dir)
    _drain(spark, pages_dir, out_dir, str(tmp_path / "ckpt"))

    [meta] = _batch_markers(out_dir)
    assert (meta["n_docs"], meta["parse_failures"]) == (3, 2)
    assert spark.read.parquet(out_dir).count() == 3


def test_extract_cache_handle_releases_lines_cache(spark):
    """The streaming foreachBatch contract: run the extract action,
    unpersist every cache_handle entry, run the same action again. The
    rows match, and nothing stays cached: no persistent RDD, an empty
    cache manager (the state a cold benchmark repetition requires)."""
    from pdf_plumber_util_spark.contract import clear_shared_lines
    from pdf_plumber_util_spark.plans.extract import extract_documents
    from pdf_plumber_util_spark.sources.pages import synth_pages

    clear_shared_lines()
    spark.catalog.clearCache()
    # the local checkpoints earlier tests' iterative operators made (near-
    # dup components, model training) stay persisted until a JVM GC lets
    # Spark's ContextCleaner drop them; start from none
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    h: list = []
    docs = extract_documents(synth_pages(spark, 6), cache_handle=h)
    first = sorted(docs.collect())
    assert h and first
    for c in h:
        c.unpersist()
    assert sorted(docs.collect()) == first
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedup_stream_parity(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark on the
    normalized-content md5) drained with availableNow keeps exactly one
    survivor per batch-dedup fingerprint group, each survivor is a real
    input row, and unique docs all pass through."""
    from pdf_plumber_util_spark.operators.dedup import exact_duplicates
    from pdf_plumber_util_spark.streaming.dedup import dedup_stream
    from pdf_plumber_util_spark.streaming.events import run_stream_once

    src = str(tmp_path / "docs_stream")
    rows = [
        (1, "2026-01-01 00:00:00", "the same page text"),
        (2, "2026-01-01 00:05:00", "THE  same   page text"),  # norm-dup of 1
        (3, "2026-01-01 01:00:00", "a different page"),
        (4, "2026-01-01 02:00:00", "the same page text"),     # dup of 1
        (5, "2026-01-01 03:00:00", "unique third text"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, ts string, text string"
    ).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = dedup_stream(spark.readStream.schema(schema).parquet(src))
    got = run_stream_once(stream, out_mode="append")
    batch = spark.read.parquet(src)

    # one survivor per fingerprint group, same fingerprint universe as
    # the batch operator
    batch_fps = {r.fingerprint for r in exact_duplicates(
        batch.select("doc_id", "text")).collect()}
    surv_fps = [r.fingerprint for r in got]
    assert sorted(set(surv_fps)) == sorted(batch_fps)
    assert len(surv_fps) == len(set(surv_fps)) == 3

    # every survivor is an actual input row, text intact
    by_id = {r[0]: r for r in rows}
    for r in got:
        assert by_id[r.doc_id][2] == r.text
    # the unique docs always survive
    assert {3, 5} <= {r.doc_id for r in got}


def test_dedup_stream_against_index_parity(spark, tmp_path):
    """Stream-static index dedup: docs whose fingerprint is in the prior
    index never emit (zero streaming state for history), fresh docs
    dedup first-arrival-wins within the stream — exactly the rows batch
    incremental_dedup keeps."""
    from pdf_plumber_util_spark.operators.dedup import (
        fingerprint_index,
        incremental_dedup,
    )
    from pdf_plumber_util_spark.streaming.dedup import (
        dedup_stream_against_index,
    )
    from pdf_plumber_util_spark.streaming.events import run_stream_once

    prior = spark.createDataFrame(
        [(100, "already crawled page"), (101, "another old page")],
        "doc_id long, text string",
    )
    idx = fingerprint_index(prior)

    src = str(tmp_path / "docs_inc_stream")
    rows = [
        (1, "2026-01-01 00:00:00", "ALREADY  crawled page"),  # in index
        (2, "2026-01-01 00:10:00", "a brand new page"),
        (3, "2026-01-01 00:20:00", "a brand new page"),       # stream dup of 2
        (4, "2026-01-01 00:30:00", "fresh unique content"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, ts string, text string"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = dedup_stream_against_index(
        spark.readStream.schema(schema).parquet(src), idx
    )
    got = run_stream_once(stream, out_mode="append")
    # the indexed re-crawl (doc 1) never emits; exactly one of the
    # within-stream dup pair {2, 3} survives (which one is micro-batch
    # processing order, not pinned); the unique doc always passes
    ids = sorted(r.doc_id for r in got)
    assert len(ids) == 2 and 4 in ids and (set(ids) & {2, 3})
    assert 1 not in ids

    # batch parity at the GROUP level: the stream survives exactly one
    # doc per fingerprint group that batch incremental_dedup keeps
    batch = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "doc_id long, text string"
    )
    kept = incremental_dedup(batch, idx).filter("keep")
    kept_fps = {r.fingerprint for r in kept.collect()}
    assert sorted(r.fingerprint for r in got) == sorted(kept_fps)
