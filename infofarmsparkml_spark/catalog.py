"""Fixture catalog: load the driver-generated parquet tables.

Tables (FIXTURES.md): region nation customer supplier part orders
lineitem events documents embeddings. ``SCHEMAS`` declares the nine
non-``events`` tables, so a read skips parquet footer inference and
the Spark job it starts; a production job gets the same contract from
its metastore. ``events`` is declared too, except for the type of
``ts``, which ``_events_schema`` takes from one footer read on the
driver; its ``ts`` is normalized by ``_us_ts`` (shared with the
streaming read).
``load_table`` is the single scan entry point so every operator
inherits predicate pushdown + column pruning from the parquet source
(verified by plan tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Measured from the footers at sf0.001, sf0.01 and sf0.1 (guarded by
# tests/test_util.py); the date columns surface as timestamp_ntz.
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp_ntz"
    ),
    "documents": (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLES = (*SCHEMAS, "events")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. The nine declared tables start no Spark
    job here. A declared schema changes what a file that disagrees
    with it does (Spark 4.1.2): a column missing from the file reads
    as NULL without error; a column of another type raises when the
    query executes, except that an ``int`` file column widens to a
    declared ``bigint``."""
    if name == "events":
        return _load_events(spark, sf_dir)
    if name not in SCHEMAS:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def _events_schema(spark: SparkSession, path_glob: str) -> str:
    """The declared schema of the events files matching ``path_glob``
    (batch and stream read alike). Only ``ts``'s parquet type varies
    between writers, so it is read from the first file's footer on the
    driver (pyarrow, no Spark job): µs or ms without a time zone →
    ``timestamp_ntz``, with one → ``timestamp``, ``int64`` → ``bigint``.
    TIMESTAMP(NANOS) → ``bigint`` of ns, which Spark 4.1.2 reads only
    with ``spark.sql.legacy.parquet.nanosAsLong`` set (unset, the read
    fails with [PARQUET_TYPE_ILLEGAL]), so that one case sets it on the
    caller's session: the conf must hold when the read executes, after
    this returns. A directory written by Spark is read at its first
    part file."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    first = sorted(glob.glob(path_glob))[0]
    if os.path.isdir(first):
        first = sorted(glob.glob(os.path.join(first, "*.parquet")))[0]
    ts = pq.read_schema(first).field("ts").type
    if pa.types.is_int64(ts):
        ts_type = "bigint"
    elif pa.types.is_timestamp(ts) and ts.unit == "ns":
        _set_nanos_as_long(spark)
        ts_type = "bigint"
    elif pa.types.is_timestamp(ts):
        ts_type = "timestamp" if ts.tz else "timestamp_ntz"
    else:
        raise TypeError(f"events.ts in {first} is {ts}, not a timestamp or int64")
    return (
        f"event_id bigint, ts {ts_type}, user_id bigint, event_type string, "
        "value double, props string"
    )


def _set_nanos_as_long(spark: SparkSession) -> None:
    """Set ``spark.sql.legacy.parquet.nanosAsLong=true`` for a
    TIMESTAMP(NANOS) ``ts`` (tested in
    ``tests/test_streaming.py::test_events_loader_nanos_timestamp``).
    External harnesses run these queries on their own vanilla sessions,
    so the conf is set here rather than relied on from ``get_spark``; a
    build where it cannot be set cannot read the file, so a failure
    raises."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _us_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to µs TimestampType by its OBSERVED dtype:
    a BIGINT of ns-since-epoch for a TIMESTAMP(NANOS) file (read under
    ``nanosAsLong``), a TIMESTAMP_NTZ for a µs file. Both land
    bit-identical to DuckDB's ``CAST(ts AS TIMESTAMP)`` for post-epoch
    data, so oracle SQL wraps ts the same way (verified in tests)."""
    from pyspark.sql import functions as F

    if dict(df.dtypes)["ts"] == "bigint":
        # integer `div`, NOT `/`: double division loses precision for
        # ns-since-epoch values (~1.7e18 > 2^53) and rounds instead of
        # truncating, drifting ±1µs from DuckDB's CAST.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # timestamp_ntz / timestamp: the read already truncated to µs;
    # a plain cast aligns the type with the oracle's CAST.
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    return _us_ts(spark.read.schema(_events_schema(spark, path)).parquet(path))
