"""SparkSession factory tuned for this pipeline.

Local-mode settings mirror what the cluster deployment would set per
executor; at cluster scale the same code runs under spark-submit with
dynamic allocation. AQE is on so skewed shuffles (hot conversations /
hot surface forms) re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# CPUs this process may run on: its affinity mask, not the host's core
# count (containers and taskset narrow it). The env var wins.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# Generated classes the JVM keeps compiled (Spark's default is 100).
# Measured distinct classes: one in-session pipeline run at 40k turns
# needs 140; a session of in-session run, store, resume, consumers and
# datapipe queries at 15k turns needs 779; the whole pytest suite, which
# runs each plan about once, compiles 2,275. At 100 the LRU cache
# thrashed and every rerun of the pipeline recompiled ~110 classes
# through Janino and the JIT. Generated code depends on the plan, not
# the rows, so at this size every plan shape compiles once per session.
CODEGEN_CACHE_ENTRIES = 4096


def driver_memory(phys_bytes: int) -> str:
    """Default driver heap for a host with ``phys_bytes`` of RAM: half
    of it in whole GiB, at least 1g and at most 48g. The local-mode JVM
    holds every executor's heap; the Python workers need the rest."""
    return f"{min(48, max(1, phys_bytes // 2**31))}g"


def get_spark(
    app_name: str = "stanford_relation_extractor_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` controls local parallelism; ``shuffle_partitions`` defaults
    to the same value (local mode — on a real cluster this would be
    ~2-3x total cores, or left to AQE coalescing).
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        # batch-throughput GC: G1's pause-time goal costs wall time on
        # this many-threads-one-heap local mode (BENCH/BASELINE.md)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
