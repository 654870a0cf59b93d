"""Window functions (SURVEY.md §2.5, W1-W6).

Every ORDER BY includes a unique tiebreaker so ranks and frames are
deterministic — mandatory for an order-insensitive value-hash gate,
and good hygiene anyway. Partition keys are real entity keys
(custkey/user_id), so state stays distributed; no global windows
except the verification-only sort-position query (sorts.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from infofarmsparkml_spark.operators._util import cents, load_table, r
from infofarmsparkml_spark.registry import query


@query(
    "win_ranking",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       NTILE(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: ranking family over per-customer spend."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "win_analytic",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
       LAST_VALUE(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def win_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: lag/lead/first/nth/last over each customer's order
    history. first/nth use the default running frame; last uses the
    full-partition frame (the default would just echo the row)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.last("o_totalprice").over(wfull).alias("last_price"),
    )


@query(
    "win_frame_rows",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       SUM(l_quantity) OVER
         (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
       CAST(COUNT(*) OVER
         (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
          ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_window
FROM lineitem
""",
)
def win_frame_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: ROWS frames — running sum + bounded trailing count.
    l_quantity is integer-valued, so the double sum is exact.
    (l_orderkey, l_linenumber) is NOT unique in this data, so the
    ordering includes l_quantity: rows still tied are then
    identical in every output column and contribute identically to
    the running sum — the output multiset is order-invariant."""
    lf = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
    return lf.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.sum("l_quantity")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("running_qty"),
        F.count(F.lit(1)).over(w.rowsBetween(-1, W.currentRow)).alias("n_window"),
    )


@query(
    "win_frame_range",
    oracle="""
SELECT event_id, user_id,
       date_diff('second', TIMESTAMP '1970-01-01', CAST(ts AS TIMESTAMP))
         AS ts_sec,
       ROUND(AVG(value) OVER
         (PARTITION BY user_id
          ORDER BY date_diff('second', TIMESTAMP '1970-01-01',
                             CAST(ts AS TIMESTAMP))
          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS avg_1h,
       CAST(COUNT(*) OVER
         (PARTITION BY user_id
          ORDER BY date_diff('second', TIMESTAMP '1970-01-01',
                             CAST(ts AS TIMESTAMP))
          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1h
FROM events
""",
)
def win_frame_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: time-based RANGE frame — trailing 1-hour moving average
    per user. Epoch seconds via cast (floor), matching DuckDB's
    date_diff('second', epoch, ts)."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy(sec.alias("ts_sec"))
        .rangeBetween(-3600, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        sec.alias("ts_sec"),
        r(F.avg("value").over(w), 4).alias("avg_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


@query(
    "win_topk_per_group",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM ranked WHERE rn <= 3
""",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: top-3 orders per customer — the canonical distributed
    top-k-per-group: one shuffle on the group key, rank, filter.
    Never a driver-side loop."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "win_percent",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
)
def win_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: percent_rank / cume_dist — unique ordering makes both
    exact rational values, identical across engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "win_distinct_running",
    oracle="""
WITH firsts AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY event_type, user_id
                ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM events),
run AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         SUM(is_first) OVER (PARTITION BY event_type
                             ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS run_distinct
  FROM firsts)
SELECT event_type, hour,
       CAST(MAX(run_distinct) AS BIGINT) AS distinct_users_to_date
FROM run GROUP BY event_type, hour
""",
)
def win_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT user) per event type — the audience-
    growth curve. Spark (like most engines) forbids DISTINCT
    aggregates over ordered window frames, so this uses the standard
    decomposition: flag each user's FIRST event per type
    (row_number over (type, user)), then a running SUM of flags over
    (type, time) — two windows, both partition-bounded, no distinct
    state at all. At 100 TB both exchanges key on event_type(+user);
    no per-row set materializes anywhere, unlike the
    collect_set-over-window formulation whose state grows with
    cardinality. Rolled up to hourly (max of the running count) to
    keep the output audit-sized."""
    ev = load_table(spark, sf_dir, "events")
    w_first = W.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "is_first"
        ),
    )
    run = flagged.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.sum("is_first").over(w_run).alias("run_distinct"),
    )
    return run.groupBy("event_type", "hour").agg(
        F.max("run_distinct").alias("distinct_users_to_date")
    )


@query(
    "win_median_rolling",
    oracle="""
WITH v AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events)
SELECT user_id, ts, event_id,
       CAST(median(vc) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS rolling_median_cents
FROM v
""",
)
def win_median_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median over the trailing 7 events per user —
    the robust-smoothing counterpart to the mean-based rolling
    stats. Values go through the exact-cents integer view first, so
    the only non-integer the median can produce is a .5 midpoint of
    an even-length frame — exactly representable, hence
    hash-identical across engines with no rounding step. Spark
    forbids `median` over an ordered frame but accepts the
    equivalent `percentile(x, 0.5)` (exact, interpolating — same
    midpoint rule as DuckDB's median); the frame is 7 rows
    regardless of data volume, so state per window is O(7) and the
    single exchange keys on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        cents("value").alias("vc"),
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.percentile(F.col("vc"), F.lit(0.5))
        .over(w)
        .alias("rolling_median_cents"),
    )
