"""Resumable run: committed buckets are skipped on re-run (J5 anti-join),
sidecar metrics are published write-audit-publish, output is idempotent."""

import json
import os

import pytest

from pdf_plumber_util_spark.plans.resume import (
    BUCKET_COL,
    committed_partitions,
    resume_filter,
    run_resumable,
)
from pdf_plumber_util_spark.sources.pages import synth_pages


def test_resume_skips_committed(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = synth_pages(spark, 12)

    metas1 = run_resumable(pages, spark, out, n_buckets=4)
    assert len(metas1) >= 2
    done1 = committed_partitions(spark, os.path.join(out, "_sidecar"))
    assert sorted(done1) == sorted(m[BUCKET_COL] for m in metas1)
    total_docs = sum(m["n_docs"] for m in metas1)
    assert total_docs == 12
    for m in metas1:
        assert m["chars_extracted"] > 0
        assert m["blocks_kept"] > 0

    # simulate a crash after the first bucket: drop all but one marker
    sidecar = os.path.join(out, "_sidecar")
    # markers only — local checksum FS also leaves .crc siblings, which
    # the engine ignores (_list_json filters to *.json)
    markers = sorted(f for f in os.listdir(sidecar) if f.endswith(".json"))
    keep = markers[0]
    kept_bucket = json.load(open(os.path.join(sidecar, keep)))[BUCKET_COL]
    for f in os.listdir(sidecar):
        if f != keep:
            os.remove(os.path.join(sidecar, f))

    # resume: only the missing buckets are reprocessed
    metas2 = run_resumable(pages, spark, out, n_buckets=4)
    redone = sorted(m[BUCKET_COL] for m in metas2)
    assert kept_bucket not in redone
    assert sorted(redone + [kept_bucket]) == sorted(done1)

    # idempotence: outputs cover all docs exactly once
    result = spark.read.parquet(os.path.join(out, f"{BUCKET_COL}=*"))
    assert result.count() == 12
    assert result.select("url").distinct().count() == 12


def test_resume_filter_empty_when_all_committed(spark, tmp_path):
    out = str(tmp_path / "out2")
    pages = synth_pages(spark, 6)
    run_resumable(pages, spark, out, n_buckets=2)
    remaining = resume_filter(pages, spark, os.path.join(out, "_sidecar"), 2)
    assert remaining.count() == 0


def test_parse_failures_counted_and_committed(spark, tmp_path):
    """A doc that yields zero words (empty/broken html) is isolated by the
    tokenizer, counted as a parse failure in its bucket's sidecar, and its
    bucket still commits (a poison doc must not wedge resume)."""
    out = str(tmp_path / "out3")
    good = synth_pages(spark, 6).select("url", "html")
    bad = spark.createDataFrame(
        [("https://bad.example.com/empty", b""),
         ("https://bad.example.com/junk", b"\x00\xff\xfe not html at all")],
        "url string, html binary",
    )
    pages = good.unionByName(bad)
    metas = run_resumable(pages, spark, out, n_buckets=2)
    assert sum(m["n_docs"] for m in metas) <= 8
    total_fail = sum(m["parse_failures"] for m in metas)
    extracted = sum(m["n_docs"] for m in metas)
    assert extracted + total_fail == 8
    assert total_fail >= 1  # the empty doc can never produce words
    # both buckets committed despite failures
    assert sorted(m[BUCKET_COL] for m in metas) == [0, 1]
    # resume: nothing left to do
    remaining = resume_filter(pages, spark, os.path.join(out, "_sidecar"), 2)
    assert remaining.count() == 0


def test_run_resumable_releases_lines_cache(spark, tmp_path):
    """run_resumable unpersists the lines cache extract_documents makes
    once the landing write is done: nothing stays cached after the call
    (no persistent RDD, an empty cache manager)."""
    from pdf_plumber_util_spark.contract import clear_shared_lines

    clear_shared_lines()
    spark.catalog.clearCache()
    # start from no persisted RDD (earlier tests' local checkpoints stay
    # until a JVM GC lets Spark's ContextCleaner drop them)
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    metas = run_resumable(synth_pages(spark, 8), spark, str(tmp_path / "out"),
                          n_buckets=4)
    assert sum(m["n_docs"] for m in metas) == 8
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
