"""SparkSession builder with scale-minded defaults.

Tuned for the test/bench harness (local[N], single JVM) but every
config choice is the one we would ship on a 1000-executor cluster:
AQE on (runtime shuffle-partition coalescing + skew-join splitting),
Arrow for the Python boundary, UTC session timezone so results are
comparable with the UTC-naive DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "infofarmsparkml-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the core count — the right
    setting for local mode; on a real cluster you would size it to
    ~2-3x total cores or let AQE coalesce from a higher initial
    number (which we also enable).
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    nshuffle = str(shuffle_partitions or int(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", nshuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.ts may be written as parquet TIMESTAMP(NANOS) (the
        # current files store µs). Spark 4.1.2 honors this conf: set,
        # such a column reads as BIGINT ns, which catalog._us_ts turns
        # into µs; unset, the read fails with PARQUET_TYPE_ILLEGAL.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
