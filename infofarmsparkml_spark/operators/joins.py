"""Joins (SURVEY.md §2.3, J1-J11).

Scale posture: dimension tables (region/nation/supplier, derived
calendars) are explicitly broadcast — no shuffle of the fact table
for those joins at any scale. Large-large joins (lineitem⋈orders)
go sort-merge with AQE handling skew. As-of joins use the
distributed window-pick pattern (partition by entity key), not a
driver-side merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from infofarmsparkml_spark.operators._util import (
    load_table,
    money,
    net_cents,
    net_price_exact,
    r,
    cents,
    sum_cents,
    sum_money,
)
from infofarmsparkml_spark.registry import query


@query(
    "join_inner_hash",
    oracle="""
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
""",
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: equi inner join — Catalyst picks broadcast-hash here
    (customer is far under the threshold); at larger dims AQE
    re-plans from runtime sizes."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_broadcast",
    oracle="""
SELECT n_name, r_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: star join with explicitly broadcast dims — the fact
    table is scanned exactly once with zero shuffles before the
    final 2-key aggregation.

    r17 (VERDICT r16 #1, settled by measurement): r16 pre-flattened
    the supplier→nation→region snowflake into one broadcast dim so
    each fact row paid a single hash probe, kept on at-scale
    arithmetic despite a neutral-to-negative local reading. The
    clean interleaved A/B this round (9 rounds, idle host, results
    identical per arm; plans/r17/AB_join_broadcast.json,
    OPTIMIZATION_r17.md) measured the CHAINED form
    faster at BOTH sf0.1 (min 0.92 vs 1.05 s) and the 10× sf1
    fixture (min 0.87 vs 0.93 s, median 0.99 vs 1.07 s): this query
    is fixed-overhead-dominated even at 6M fact rows, and the dim
    pre-flatten is an extra job per run that never pays back, while
    Catalyst already pipelines the three chained probes inside one
    codegen stage with no materialized intermediate row. REVERTED
    to chained broadcasts per the decision rule (no headline query
    ships slower than its own before-arm). tpch_q5/q9 KEEP their
    flattens: there the flatten also moves a selective region/
    nation filter to the first probe, which this unfiltered
    aggregate-everything query lacks."""
    lf = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        lf.join(
            F.broadcast(load_table(spark, sf_dir, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name", "r_name")
        .agg(
            sum_cents(net_cents(), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_sortmerge",
    oracle="""
SELECT o_orderpriority,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY o_orderpriority
""",
)
def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: large-large join forced to sort-merge via hint — the
    strategy that scales when neither side broadcasts; both sides
    shuffle-partition on the join key once."""
    lf = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    return (
        lf.hint("merge")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            r(F.sum("l_extendedprice")).alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_outer_left",
    oracle="""
SELECT c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
  ON c_custkey = o.o_custkey
""",
)
def join_outer_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4a: left outer — unmatched customers null-extended."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@query(
    "join_outer_right",
    oracle="""
SELECT o_orderkey, o_totalprice, c.c_custkey, c.c_name
FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
RIGHT JOIN orders ON c.c_custkey = o_custkey
""",
)
def join_outer_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4b: right outer — unmatched orders null-extended."""
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    orders = load_table(spark, sf_dir, "orders")
    return rich.join(orders, rich.c_custkey == orders.o_custkey, "right").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name"
    )


@query(
    "join_outer_full",
    oracle="""
SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
  ON c.c_custkey = o.o_custkey
""",
)
def join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4c: full outer — unmatched rows on BOTH sides survive."""
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return rich.join(big, rich.c_custkey == big.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"
    )


@query(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: left semi (EXISTS) — emits each left row at most once,
    shuffles only the join key of the right side."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: left anti (NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    pend = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(pend, cust.c_custkey == pend.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_theta",
    oracle="""
SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
FROM customer JOIN supplier
  ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
""",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: non-equi band join → BroadcastNestedLoop with the small
    side broadcast. At scale you'd bucketize acctbal and equi-join
    on bucket first (see join_range_interval for that pattern)."""
    cust = load_table(spark, sf_dir, "customer")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    cond = (F.col("c_acctbal") >= F.col("s_acctbal") - 100) & (
        F.col("c_acctbal") <= F.col("s_acctbal") + 100
    )
    return cust.join(supp, cond, "inner").select(
        "c_custkey", "s_suppkey", "c_acctbal", "s_acctbal"
    )


@query(
    "join_cross",
    oracle="SELECT r_name, s_name FROM region CROSS JOIN supplier",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: cartesian product of two small dims."""
    reg = load_table(spark, sf_dir, "region")
    supp = load_table(spark, sf_dir, "supplier")
    return reg.crossJoin(supp).select("r_name", "s_name")


@query(
    "join_range_interval",
    oracle="""
WITH months AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
    AS month_start FROM orders
)
SELECT month_start, COUNT(*) AS n_items, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM months JOIN lineitem
  ON l_shipdate >= month_start
 AND l_shipdate < month_start + INTERVAL 1 MONTH
GROUP BY month_start
""",
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: interval join fact-to-calendar via BUCKETIZED equi-join:
    each fact row derives its covering month bucket, the join is a
    BroadcastHashJoin on the bucket key, and the interval predicate
    stays as a (here trivially-true) residual filter — the general
    range-join lowering, where an interval spanning k buckets probes
    k keys. The first formulation relied on BroadcastNestedLoopJoin
    ("the calendar is tiny") — but BNLJ cost is |fact|×|dim|
    PREDICATE EVALS, not dim size: 600k×77 = 46M timestamp
    comparisons took 7.4 s at sf0.1 where the hash probe takes 0.5 s,
    and at 100 TB the ×77 never goes away. Plan-pinned hash join."""
    orders = load_table(spark, sf_dir, "orders")
    lf = load_table(spark, sf_dir, "lineitem").withColumn(
        "_mb", F.date_trunc("month", F.col("l_shipdate"))
    )
    months = F.broadcast(
        orders.select(
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start")
        ).distinct()
    )
    cond = (
        (F.col("_mb") == F.col("month_start"))
        & (F.col("l_shipdate") >= F.col("month_start"))
        & (
            F.col("l_shipdate")
            < F.col("month_start") + F.expr("INTERVAL '1' MONTH")
        )
    )
    return (
        months.join(lf, cond, "inner")
        .groupBy("month_start")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            r(F.sum("l_quantity")).alias("sum_qty"),
        )
    )


@query(
    "join_asof",
    oracle="""
WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'click'),
     j AS (
       SELECT p.event_id AS purchase_id, p.ts AS purchase_ts,
              c.event_id AS click_id,    c.ts AS click_ts,
              ROW_NUMBER() OVER (PARTITION BY p.event_id
                                 ORDER BY c.ts DESC, c.event_id DESC) AS rn
       FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
     )
SELECT purchase_id, purchase_ts, click_id, click_ts FROM j WHERE rn = 1
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: as-of join — for each purchase, the latest click by the
    same user at-or-before it. Spark has no native asof; the LINEAR
    distributed formulation is union-sort + forward-fill: tag both
    event kinds, sort each user's merged timeline once (clicks
    ordered before purchases at equal ts, so ties count as 'at or
    before'), carry the last-seen click forward with
    last(ignorenulls), and keep the purchase rows. ONE shuffle on
    user_id and O(events) work — no per-user purchases×clicks pair
    expansion like the naive range-join + pick-latest shape, which
    goes quadratic on heavy users at 100 TB. The inner-asof
    semantics (purchases with no prior click drop out) fall out of
    the null filter."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("kind"),
    )
    # clicks (kind 0) sort before purchases (kind 1) at equal ts;
    # among same-ts clicks the LAST carried is the highest event_id,
    # matching the (ts DESC, event_id DESC) pick of the oracle.
    w = W.partitionBy("user_id").orderBy("ts", "kind", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    click_id = F.when(F.col("kind") == 0, F.col("event_id"))
    click_ts = F.when(F.col("kind") == 0, F.col("ts"))
    filled = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "kind",
        F.last(click_id, ignorenulls=True).over(w).alias("click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("click_ts"),
    )
    return (
        filled.filter((F.col("kind") == 1) & F.col("click_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "click_id",
            "click_ts",
        )
    )


@query(
    "join_multikey_selfjoin",
    oracle="""
SELECT a.l_orderkey AS okey,
       a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
       a.l_partkey AS part_a, b.l_partkey AS part_b
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
""",
)
def join_multikey_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: self-join for within-order line pairs — equi key plus
    inequality to emit each unordered pair once. Co-partitioned on
    l_orderkey, so one shuffle serves both sides."""
    lf = load_table(spark, sf_dir, "lineitem")
    a = lf.alias("a")
    b = lf.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("okey"),
        F.col("a.l_linenumber").alias("ln_a"),
        F.col("b.l_linenumber").alias("ln_b"),
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )


@query(
    "join_skew_salted",
    oracle="""
SELECT o_orderstatus,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR)
            AS DOUBLE) AS sum_price,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: salted join — the manual skew-mitigation pattern for
    when one join key carries a disproportionate share of rows and
    AQE's skew splitting isn't available (e.g. pre-shuffle stage
    reuse). The fact side gets a deterministic salt in [0, 8) from
    xxhash64 of its line identity; the build side is exploded 8×
    with every salt value; joining on (key, salt) splits each hot
    key's rows across 8 reducers. Result is identical to the
    unsalted join — which is exactly what the oracle checks.
    """
    nsalt = 8
    lf = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(nsalt)),
    )
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(nsalt)]))
    )
    return (
        lf.join(
            orders,
            (lf.l_orderkey == orders.o_orderkey) & (lf.salt == orders.salt),
        )
        .groupBy("o_orderstatus")
        .agg(
            sum_cents(cents("l_extendedprice"), "sum_price", 2),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# the conf regime under which Catalyst injects a runtime bloom
# filter: creation side (filtered orders) small enough to build the
# sketch, application-side scan threshold dropped so the sf0.1
# fixture qualifies (production keeps the 10 GB default — at 100 TB
# every fact scan clears it), broadcast disabled so the shuffle-join
# path the rule targets is actually taken at fixture scale
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _runtime_bloom_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join `join_runtime_bloom` executes (assumes `_BLOOM_CONFS`
    are set on the session): urgent orders x lineitem, revenue by
    order status. Shared with the plan test so the asserted plan is
    the exact plan the operator runs."""
    lf = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        lf.join(orders, lf.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            sum_cents(cents("l_extendedprice"), "sum_price", 2),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_runtime_bloom",
    oracle="""
SELECT o_orderstatus,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR)
            AS DOUBLE) AS sum_price,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
""",
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: runtime bloom-filter join pruning — the third leg of the
    fact-scan-pruning triad next to broadcast (`join_broadcast`,
    needs a small dim) and dynamic partition pruning (`join_dpp`,
    needs the fact partitioned on the key). When the dim is too big
    to broadcast and the fact isn't laid out on the join key,
    Catalyst can still build a bloom sketch of the FILTERED dim keys
    (`bloom_filter_agg`) and push `might_contain(xxhash64(key))`
    into the fact scan as a semi-join reduction, cutting the rows
    that enter the shuffle to roughly the selectivity of the dim
    predicate — at 100 TB that is the difference between shuffling
    the whole fact table and shuffling the ~20% that can match.
    The conf regime is scoped: Catalyst reads session confs at
    OPTIMIZATION time, so the query is materialized eagerly
    (`localCheckpoint` on the 3-row aggregate) under `_BLOOM_CONFS`
    and every conf is restored before returning — no session
    pollution (the r5 observe/MLlib lesson). The executed plan's
    bloom nodes are asserted in tests/test_plans.py against THIS
    plan via the shared `_runtime_bloom_plan` builder; the bloom
    filter is semantics-preserving, so the oracle is the plain
    filtered join."""
    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        out = _runtime_bloom_plan(spark, sf_dir).localCheckpoint()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out
