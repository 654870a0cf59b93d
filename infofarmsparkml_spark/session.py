"""SparkSession builder with scale-minded defaults.

Tuned for the test/bench harness (local[N], single JVM) but every
config choice is the one we would ship on a 1000-executor cluster:
AQE on (runtime shuffle-partition coalescing + skew-join splitting),
Arrow for the Python boundary, UTC session timezone so results are
comparable with the UTC-naive DuckDB oracle.

The generated-class cache holds the working set of one long-lived
session. Spark compiles each whole-stage and expression class with
Janino and caches it, 100 entries by default. That cache is split
into four segments that each evict on their own, so eviction starts
near 25 classes per segment. Measured on `local[4]`, one warm pass of
the 20 headline queries compiled 189 classes at the default and 0 at
4096; the perfbench write workload compiled 92 (fewer than 100, yet
every one again) and 0. All 282 queries compile 2,661 classes cold;
at 4096 a warm pass of them recompiled 70 instead of 3,373, and
keeping every class cost 20 MB more metaspace.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _driver_mem_default() -> str:
    """Driver heap when SPARK_DRIVER_MEM is unset: half the host's
    physical memory in whole GiB, at most 24g. A fixed 24g heap can
    outgrow a small host, and the kernel then OOM-kills the JVM; a
    heap sized to the host fails inside the JVM instead."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys // 2**31))}g"


def get_spark(
    app_name: str = "infofarmsparkml-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Shuffle partitions equal the core count — the right setting for
    local mode; on a real cluster you would size it to ~2-3x total
    cores or let AQE coalesce from a higher initial number (which we
    also enable).
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _driver_mem_default(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Room for every class the registry generates (2,661) plus the
        # slack the cache's four-segment split needs; at the default
        # 100 a warm query recompiles its classes. A static conf:
        # getOrCreate on a session that already exists ignores it.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
