"""Fixture catalog: load the driver-generated parquet tables.

Tables (FIXTURES.md): region nation customer supplier part orders
lineitem events documents embeddings. Parquet carries its own schema
— no inference. ``load_table`` is the single scan entry point so
every operator inherits predicate pushdown + column pruning from the
parquet source (verified by plan tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _set_nanos_as_long(spark: SparkSession) -> None:
    """Best-effort ``spark.sql.legacy.parquet.nanosAsLong=true``.

    On Spark 4.1.2 the conf is a no-op (NANOS arrive as µs
    TIMESTAMP_NTZ); on builds that honor it, it is the difference
    between a BIGINT read and a [PARQUET_TYPE_ILLEGAL] failure.
    Wrapped because some builds mark retired confs non-settable."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS). How Spark surfaces that
    column varies by version/conf: with ``nanosAsLong`` honored it is
    a BIGINT of ns-since-epoch; otherwise (current Spark 4.1.2, where
    that legacy conf is a no-op) it arrives as a µs-truncated
    TIMESTAMP_NTZ. Dispatch on the OBSERVED dtype rather than assuming
    either — both paths land on the same µs TimestampType, bit-identical
    to DuckDB's ``CAST(ts AS TIMESTAMP)`` for post-epoch data, so
    oracle SQL wraps ts the same way (verified in tests).

    The legacy conf is set (idempotently, best-effort) BEFORE the
    read: external harnesses run these queries on their own vanilla
    sessions, and Spark builds that still honor the conf reject
    TIMESTAMP(NANOS) outright ([PARQUET_TYPE_ILLEGAL]) without it —
    the dtype dispatch below can only run if the read succeeds."""
    from pyspark.sql import functions as F

    _set_nanos_as_long(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer `div`, NOT `/`: double division loses precision for
        # ns-since-epoch values (~1.7e18 > 2^53) and rounds instead of
        # truncating, drifting ±1µs from DuckDB's CAST.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # timestamp_ntz / timestamp: the read already truncated to µs;
    # a plain cast aligns the type with the oracle's CAST.
    return df.withColumn("ts", F.col("ts").cast("timestamp"))
