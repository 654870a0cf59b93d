"""Large-scale pipeline composites: batch sessionization, funnel
analysis, and distributed total sort (SURVEY.md §2 extensions —
the event-analytics shapes a 100 TB clickstream pipeline runs
daily).

Scale posture: sessionization and funnels partition by user_id —
one shuffle each, state bounded per user. Total sort uses
repartitionByRange (sampled range boundaries) so each partition
sorts independently and the output is globally ordered without a
single-reducer bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from infofarmsparkml_spark.operators._util import load_table
from infofarmsparkml_spark.registry import query


@query(
    "win_sessionize",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN date_diff('second',
                LAG(CAST(ts AS TIMESTAMP)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id),
                CAST(ts AS TIMESTAMP)) > 1800
              OR LAG(ts) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(is_new) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM ordered)
SELECT user_id, session_no, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sess GROUP BY user_id, session_no
""",
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts
    after a >30-min silence. lag → flag → running sum → group, all
    partitioned by user_id: exactly one shuffle of the events table,
    no per-user state beyond the window sort. This is the batch twin
    of `stream_session` (session_window) and the pattern that holds
    at clickstream scale."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(order)
    flagged = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(order.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "events_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view'
             THEN CAST(ts AS TIMESTAMP) END) AS t_view,
         MIN(CASE WHEN event_type = 'click'
             THEN CAST(ts AS TIMESTAMP) END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase'
             THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
  FROM events GROUP BY user_id)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS viewed,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
FROM firsts
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel view → click → purchase, ordered by each
    user's FIRST occurrence of each step. One conditional-min
    aggregation per user (single shuffle), then a global roll-up —
    no self-joins, no window sort. NULL-comparison semantics make
    'step missing' drop out of the strict > tests on both engines."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(viewed, 1).otherwise(0)).alias("viewed"),
        F.sum(F.when(clicked, 1).otherwise(0)).alias("clicked_after_view"),
        F.sum(F.when(purchased, 1).otherwise(0)).alias("purchased_after_click"),
    )


@query(
    "events_retention",
    oracle="""
WITH f AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_ts
  FROM events GROUP BY user_id)
SELECT DATE_DIFF('day', CAST(f.first_ts AS DATE),
                 CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) AS day_no,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY day_no
""",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: distinct users active N days after their
    own first event. The per-user first timestamp comes from a
    window min over ONE hashpartitioning(user_id) exchange (no
    self-join of the events table); the day_no roll-up with its
    distinct-user partials is the only other shuffle."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_ts = F.min("ts").over(W.partitionBy("user_id"))
    return (
        ev.withColumn(
            "day_no",
            F.datediff(F.to_date("ts"), F.to_date(first_ts)).cast("long"),
        )
        .groupBy("day_no")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "sort_range_partitioned",
    oracle="""
SELECT o_orderkey, o_totalprice,
       RANK() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
FROM orders
WHERE o_totalprice > 100000
""",
)
def sort_range_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed total sort + global rank WITHOUT a global window.

    A bare `rank() OVER (ORDER BY ...)` collapses to one partition —
    the single-reducer anti-pattern. The rank comes from
    `sorts.global_row_number` instead (range-partitioned sort,
    monotonic-id in-partition ranks, broadcast per-partition
    offsets; size-gated materialization — see its docstring): the
    compound key is unique, so rank == row_number. The rank column
    makes global order checkable by the order-insensitive hash."""
    from infofarmsparkml_spark.operators.sorts import global_row_number

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_totalprice")
    )
    key = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    return global_row_number(orders, key, "price_rank", n_parts=8)


@query(
    "events_attribution",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events),
purch AS (SELECT * FROM e WHERE event_type = 'purchase'),
touch AS (SELECT * FROM e WHERE event_type IN ('view', 'click')),
joined AS (
  SELECT p.event_id, p.user_id, p.us,
         COUNT(t.event_id) AS n_touches,
         arg_min(t.event_type, printf('%020d-%020d', t.us, t.event_id))
           AS first_touch_type,
         arg_max(t.event_type, printf('%020d-%020d', t.us, t.event_id))
           AS last_touch_type
  FROM purch p LEFT JOIN touch t
    ON p.user_id = t.user_id
   AND t.us BETWEEN p.us - 259200000000 AND p.us - 1
  GROUP BY p.event_id, p.user_id, p.us)
SELECT event_id, user_id,
       CAST(n_touches AS BIGINT) AS n_touches,
       first_touch_type, last_touch_type
FROM joined
""",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch marketing attribution: each purchase is
    credited to the earliest and latest view/click by the same user
    inside a 3-day lookback. Spark plan: NO purchase×touch join —
    one range-frame window (`rangeBetween(-3 days, -1 µs)` over
    unix_micros) on a single user_id exchange computes
    min/max-struct and touch count in the same pass, then only
    purchase rows project out. The oracle is the O(n·w) relational
    twin (range self-join + arg_min/arg_max on the identical
    (µs, event_id) total order). At 100 TB the window form scans
    events once and keeps state bounded by the lookback, where the
    self-join would re-shuffle both sides and explode hot users."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        us.alias("us"),
    )
    is_touch = F.col("event_type").isin("view", "click")
    touch_struct = F.when(
        is_touch, F.struct(F.col("us"), F.col("event_id"), F.col("event_type"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-259200000000, -1)
    )
    scored = base.select(
        "event_id",
        "user_id",
        "event_type",
        F.count(F.when(is_touch, F.lit(1))).over(w).alias("n_touches"),
        F.min(touch_struct).over(w).alias("ft"),
        F.max(touch_struct).over(w).alias("lt"),
    )
    return scored.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "n_touches",
        F.col("ft.event_type").alias("first_touch_type"),
        F.col("lt.event_type").alias("last_touch_type"),
    )


@query(
    "win_pattern_match",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         lead(event_id, 2) OVER w AS end_event_id,
         lead(CAST(ts AS TIMESTAMP), 2) OVER w AS end_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_id AS start_event_id, ts AS start_ts,
       end_event_id, end_ts,
       CAST(date_diff('second', ts, end_ts) AS BIGINT) AS span_sec
FROM seq
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
""",
)
def win_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style event-sequence detection: find every
    user whose stream contains the CONSECUTIVE pattern
    view → click → purchase, emitting the match's endpoints and
    span. Spark has no MATCH_RECOGNIZE; for fixed-length patterns
    the lowering is k-1 `lead` probes over ONE (user, time) window —
    no self-join, no path enumeration, state bounded by the pattern
    length. (Variable-length regex patterns lower to the sessionize
    + aggregate shape instead — see `win_sessionize`.) Matches can
    overlap (a row may start one match and sit inside another), the
    same semantics as MATCH_RECOGNIZE AFTER MATCH SKIP TO NEXT ROW."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("event_id", 2).over(w).alias("end_event_id"),
        F.lead("ts", 2).over(w).alias("end_ts"),
    )
    return seq.filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
    ).select(
        "user_id",
        F.col("event_id").alias("start_event_id"),
        F.col("ts").alias("start_ts"),
        "end_event_id",
        "end_ts",
        (
            (F.unix_timestamp("end_ts") - F.unix_timestamp("ts"))
        ).cast("long").alias("span_sec"),
    )


@query(
    "events_rfm",
    oracle="""
WITH base AS (
  SELECT user_id,
         date_diff('second', MAX(CAST(ts AS TIMESTAMP)),
                   TIMESTAMP '2025-01-01 00:00:00') // 86400
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS monetary
  FROM events GROUP BY user_id),
scored AS (
  SELECT *,
         ntile(4) OVER (ORDER BY recency_days ASC, user_id) AS r_q,
         ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_q,
         ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
  FROM base)
SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, frequency,
       monetary,
       CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
       CAST(m_q AS INTEGER) AS m_q,
       CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
         || CAST(m_q AS VARCHAR) AS rfm_segment
FROM scored
""",
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic marketing-analytics composite: per-user last-seen
    gap to a fixed anchor date, event count, and exact-cents value
    sum, each quartiled with `ntile` and concatenated into the
     'RFM segment' label. Shape: one hash aggregate over the events
    table (map-side combinable), then three ntile windows over the
    tiny per-user frame — at 100 TB the heavy pass is the aggregate;
    the windows see one row per user. ntile ties are broken by
    user_id in the ORDER BY so the quartile assignment is total-
    ordered and identical on both engines."""
    ev = load_table(spark, sf_dir, "events")
    from infofarmsparkml_spark.operators._util import cents, ts_lit

    anchor = ts_lit("2025-01-01")
    base = ev.groupBy("user_id").agg(
        F.floor(
            (F.unix_timestamp(anchor) - F.unix_timestamp(F.max("ts")))
            / F.lit(86400)
        ).cast("long").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(cents("value")).cast("double") / F.lit(100.0)).alias(
            "monetary"
        ),
    )
    r_q = F.ntile(4).over(W.orderBy(F.asc("recency_days"), F.asc("user_id")))
    f_q = F.ntile(4).over(W.orderBy(F.desc("frequency"), F.asc("user_id")))
    m_q = F.ntile(4).over(W.orderBy(F.desc("monetary"), F.asc("user_id")))
    scored = base.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        r_q.alias("r_q"),
        f_q.alias("f_q"),
        m_q.alias("m_q"),
    )
    return scored.select(
        "*",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ).alias("rfm_segment"),
    )
