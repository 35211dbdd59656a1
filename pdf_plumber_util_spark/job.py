"""spark-submit entry point for the extraction pipeline.

Deployment (north_rule: spark-submit --py-files on a multi-executor
cluster):

    cd /root/repo && zip -qr /tmp/plumbspark.zip pdf_plumber_util_spark
    spark-submit \
        --master <cluster-master> \
        --py-files /tmp/plumbspark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        pdf_plumber_util_spark/job.py \
        --input  <pages table/parquet path> \
        --output <output dir> \
        --buckets 256 [--no-resume]

The job is resumable: committed url-hash buckets (recorded in the
`_sidecar` lineage/metrics table under --output) are skipped via
anti-join on re-run; each bucket commits write-audit-publish, so a
mid-run crash re-processes at most the in-flight bucket (idempotent
overwrite). Metrics per bucket: docs, chars extracted, blocks
kept/dropped, parse failures, wall seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python pdf_plumber_util_spark/job.py` puts the package dir (not
# the repo root) on sys.path; spark-submit --py-files has the same quirk
# when the zip isn't also on the driver path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="pages parquet/table path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--buckets", type=int, default=256,
                    help="url-hash commit buckets (Iceberg: bucket(N, url))")
    ap.add_argument("--no-resume", action="store_true",
                    help="ignore committed buckets and reprocess everything")
    ap.add_argument("--drop-boilerplate", action="store_true",
                    help="strip link-dominated / label-sparse blocks from body text")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pdf_plumber_util_spark.session import FIXED_CONF

    # the package's fixed settings: executors compile generated code too,
    # and the Spark driver builds the same plans
    spark = (SparkSession.builder.appName("plumbspark-extract")
             .config(map=FIXED_CONF).getOrCreate())

    from pdf_plumber_util_spark.plans.resume import (
        SIDECAR,
        delete_dir,
        run_resumable,
    )

    pages = spark.read.parquet(args.input)
    if args.no_resume:
        # Hadoop FS delete, so --output may be hdfs:// or s3a:// too
        delete_dir(spark, f"{args.output}/{SIDECAR}")
    cfg = None
    if args.drop_boilerplate:
        from pdf_plumber_util_spark.config import EngineConfig

        cfg = EngineConfig(drop_boilerplate=True)
    metas = run_resumable(pages, spark, args.output, n_buckets=args.buckets,
                          cfg=cfg)
    print(json.dumps({"buckets_processed": len(metas),
                      "docs": sum(m["n_docs"] for m in metas),
                      "chars": sum(m["chars_extracted"] for m in metas)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
