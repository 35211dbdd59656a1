"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what we'd set cluster-side: AQE on (runtime
skew-join + coalesce), Arrow for all pandas-UDF traffic, shuffle partitions
proportional to cores. At 100 TB the same knobs move to spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Whole-stage codegen settings, fixed for every session the package makes
# (get_spark here, and the cluster builder in job.py). Compile counts are
# CodegenMetrics.METRIC_COMPILATION_TIME per extract_documents call,
# 4-core local session.
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
CODEGEN_CONF = {
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.sql.codegen.useIdInClassName": "false",
}

# Every fixed setting, for each builder that starts a session: the codegen
# settings above, and PySpark's call-site capture turned off. PySpark 4.1
# wraps every pyspark.sql.functions call to record its Python call site
# for error messages: each call looks up the active session, reads its
# conf, and sets and clears PySparkCurrentOrigin over py4j. Building one
# extract_documents plan makes 499 such calls; with capture off (and the
# analysis tail built over its cache leaf) the build's py4j calls fell
# from about 9,900 to about 3,800 (600 pages). Errors then carry no Python
# file:line in their DataFrame query context. PySpark reads the setting
# once per process, from the first active session it sees.
FIXED_CONF = {
    **CODEGEN_CONF,
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "pdf_plumber_util_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        # one shuffle partition per core locally; cluster-side this scales
        # with executor count (set via spark-submit) and AQE coalesces.
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the engine's pipelines hash-partition the word stream by url and
        # rely on every downstream join keyed (url, ...) reusing that
        # partitioning; the default (true) forces a full-join-key
        # re-shuffle of BOTH sides even when both are url-co-partitioned
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(map=FIXED_CONF)
    )
    # Pin the initial heap to the max and pre-touch it: Spark only passes
    # -Xmx, so the heap otherwise grows from a small initial size under
    # G1's adaptive ergonomics for the first minutes of a job — measured
    # as a 1.3-1.4x inflated first pass whose length scales with
    # allocation rate (worse at higher parallelism). At cluster scale the
    # same flags go on executor JVMs. Committing the full heap up front
    # can fail on small hosts (CI runners/laptops), so it auto-disables
    # unless MemAvailable comfortably covers the heap; SPARK_GRAFT_PRETOUCH
    # =1/0 forces it either way. Like every config here, it only takes
    # effect for the JVM-creating call — getOrCreate() reusing a live
    # session ignores it.
    if _pretouch_ok(os.environ.get("SPARK_DRIVER_MEM", "8g")):
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            "-Xms" + os.environ.get("SPARK_DRIVER_MEM", "8g")
            + " -XX:+AlwaysPreTouch",
        )
    return builder.getOrCreate()


def _pretouch_ok(heap: str) -> bool:
    forced = os.environ.get("SPARK_GRAFT_PRETOUCH")
    if forced is not None:
        return forced != "0"
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(heap[-1].lower())
    heap_bytes = int(heap[:-1]) * mult if mult else int(heap)
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail = int(line.split()[1]) * 1024
                    # 1.25x margin: the JVM needs metaspace/stacks too
                    return avail > heap_bytes * 1.25
    except OSError:
        pass
    return False
