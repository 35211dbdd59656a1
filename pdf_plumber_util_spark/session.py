"""The one SparkSession factory, for every entry point of the package.

Every session gets ``FIXED_CONF``: the settings the plans rely on (AQE,
url co-partitioning, Arrow, UTC, codegen cache, call-site capture off).
When ``get_spark`` starts the JVM itself (a plain ``python`` process,
pytest, perfbench) it also sizes the session to this host: ``local[cores]``,
one shuffle partition per core, UI off and a fixed 2g heap. Under
spark-submit the JVM already runs, and master, shuffle partitions, heap
and UI are spark-submit's own flags.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Every fixed setting, applied by every session the package makes.
# Whole-stage codegen (compile counts are CodegenMetrics.
# METRIC_COMPILATION_TIME per extract_documents call, 4-core local session):
# - cache.maxEntries: the JVM-wide generated-class cache (an LRU, default
#   100) is smaller than the 205-325 distinct classes one extract call
#   compiles, so every class was evicted before its next use and each
#   warm call re-ran Janino on all of them (313, 207, 324, 216, 218
#   compiles on five back-to-back calls at 64/64/600/600/600 pages),
#   then ran the fresh classes before the JIT had compiled them. 2000 is
#   six times one extract call's count.
# - useIdInClassName=false: AQE picks sort-merge instead of broadcast
#   joins as the input grows, which renumbers the codegen stages; with
#   the stage id in the class name (GeneratedIteratorForCodegenStageN)
#   identical operator code then misses the cache (83 compiles on the
#   first 600-page call after the 64-page ones, 11 without the id).
# With both, the same five calls compile 251, 0, 11, 0, 0 classes.
# Call-site capture: PySpark 4.1 wraps every pyspark.sql.functions call
# to record its Python call site for error messages: each call looks up
# the active session, reads its conf, and sets and clears
# PySparkCurrentOrigin over py4j. Building one extract_documents plan
# makes 499 such calls; with capture off (and the analysis tail built over
# its cache leaf) the build's py4j calls fell from about 9,900 to about
# 3,800 (600 pages). Errors then carry no Python file:line in their
# DataFrame query context. PySpark reads the setting once per process,
# from the first active session it sees.
FIXED_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # the engine's pipelines hash-partition the word stream by url and
    # rely on every downstream join keyed (url, ...) reusing that
    # partitioning; the default (true) forces a full-join-key re-shuffle
    # of BOTH sides even when both are url-co-partitioned
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# The driver heap of a session get_spark starts, pinned (-Xms = -Xmx) so
# it does not grow under G1's ergonomics during the first passes, and not
# pre-touched, so resident memory is what the plans actually touch. It is
# the heap every perfbench number is measured at.
DRIVER_HEAP = "2g"


def get_spark(app_name: str = "pdf_plumber_util_spark",
              cores: int | None = None) -> SparkSession:
    """The package's session. ``cores`` sizes a session this call starts
    (default ``SPARK_GRAFT_CPUS``, else the CPUs this process may run
    on); a live session, or one under spark-submit, keeps its own."""
    builder = SparkSession.builder.appName(app_name).config(map=FIXED_CONF)
    # spark-submit starts the JVM before Python and hands PySpark its
    # gateway port (pyspark/java_gateway.py); without it PySpark starts a
    # local JVM from this builder's settings
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        if cores is None:
            cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                        or len(os.sched_getaffinity(0)))
        builder = builder.master(f"local[{cores}]").config(map={
            "spark.sql.shuffle.partitions": str(cores),
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        })
    return builder.getOrCreate()
