"""TPC-H-shaped composite queries over the trimmed fixture schema.

These exercise multi-join + aggregation pipelines end-to-end the way
analysts actually combine the §2 operators. Shapes are adapted to
the trimmed columns (no shippriority/shipmode/comment); Q1 is the
flagship `agg_groupby`. Join strategy: dims broadcast, fact-fact
sort-merge, aggregation-before-join where the shape allows (Q18
pre-aggregates lineitem before touching orders — at 100 TB that's
the difference between shuffling 6 B rows and 150 M groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from infofarmsparkml_spark.operators._util import (
    cents,
    load_table,
    net_cents,
    r,
    sum_cents,
    ts_lit,
)
from infofarmsparkml_spark.operators import aggregates as _aggregates
from infofarmsparkml_spark.registry import _ORACLES, query


# Q1 IS the flagship `agg_groupby`; registered under its TPC-H name
# too so the suite reads q1..q22 without cross-referencing. The
# oracle is shared by reference (aggregates is imported above, so
# its registration has already run).
@query("tpch_q1", oracle=_ORACLES["agg_groupby"])
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — pricing summary report; delegates to `agg_groupby`."""
    return _aggregates.agg_groupby(spark, sf_dir)


@query(
    "tpch_q3",
    oracle="""
SELECT l_orderkey, o_orderdate,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape (shipping priority): segment filter pushed into the
    customer scan; customer joins broadcast; lineitem never
    shuffles before the final group-by."""
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < ts_lit("1998-01-01")
    )
    lf = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > ts_lit("1998-01-01")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lf, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum_cents(net_cents(), "revenue"))
    )


@query(
    "tpch_q5",
    oracle="""
SELECT n_name, CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape (supplier volume by nation within a region; the
    customer-nation = supplier-nation clause is dropped — the
    synthetic keys never align, making it trivially empty).

    r16 (guide §3.1): supplier→nation→region(ASIA) pre-flattened
    into one broadcast dim keyed s_suppkey — the region filter now
    drops non-ASIA fact rows at the FIRST (only) dim probe instead
    of the third, and each surviving row pays one probe, not three.
    Results identical (inner FK-chain joins commute)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts_lit("1996-01-01"))
        & (F.col("o_orderdate") < ts_lit("1997-01-01"))
    )
    lf = load_table(spark, sf_dir, "lineitem")
    dim = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "n_name")
    )
    return (
        orders.join(lf, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            sum_cents(net_cents(), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q6",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * CAST(l_discount AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 (forecast revenue change): pure scan-filter-aggregate —
    every predicate reaches the parquet reader."""
    lf = load_table(spark, sf_dir, "lineitem")
    return (
        lf.filter(
            (F.col("l_shipdate") >= ts_lit("1996-01-01"))
            & (F.col("l_shipdate") < ts_lit("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            sum_cents(cents("l_extendedprice") * cents("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q10",
    oracle="""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
""",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape (returned-item reporting by customer)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts_lit("1996-01-01"))
        & (F.col("o_orderdate") < ts_lit("1996-04-01"))
    )
    lf = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lf, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum_cents(net_cents(), "revenue"))
    )


@query(
    "tpch_q18",
    oracle="""
WITH big AS (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 200
)
SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
""",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape (large-volume customers): lineitem pre-aggregates
    to order granularity BEFORE joining — the aggregation-pushdown
    pattern that cuts the join input by the average order width.
    l_quantity is integer-valued so the HAVING threshold is exact."""
    lf = load_table(spark, sf_dir, "lineitem")
    big = (
        lf.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 200)
        .select("l_orderkey", r(F.col("raw_qty")).alias("sum_qty"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


@query(
    "tpch_q4",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape (order-priority checking). The commit/receipt-date
    clause is adapted to the trimmed schema as `l_shipdate >
    o_orderdate` — same EXISTS-decorrelation shape: left-semi join
    on orderkey with the extra non-equi predicate, then count by
    priority. Lineitem is the probe side and never materializes
    beyond the semi-join."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts_lit("1996-01-01"))
        & (F.col("o_orderdate") < ts_lit("1996-04-01"))
    )
    lf = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            lf,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q14",
    oracle="""
SELECT CAST(CAST(
         100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                   THEN CAST(l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l_discount AS DECIMAL(12,4)))
                   ELSE CAST(0 AS DECIMAL(12,4)) END)
       AS VARCHAR) AS DOUBLE) AS promo_revenue,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE)
         AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-02-01'
""",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape (promotion effect): date-filtered lineitem joins a
    broadcast part dim; conditional exact-money aggregate. The usual
    promo/total ratio is surfaced as two exact sums instead of one
    division so the oracle hash-match stays float-robust. 100 × a sum
    in 1e-4 units is the same sum read in 1e-2 units."""
    lf = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= ts_lit("1996-01-01"))
        & (F.col("l_shipdate") < ts_lit("1996-02-01"))
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    )
    promo = F.when(F.col("p_type").like("PROMO%"), net_cents()).otherwise(0)
    return lf.join(part, F.col("l_partkey") == F.col("p_partkey")).agg(
        sum_cents(promo, "promo_revenue", 2),
        sum_cents(net_cents(), "total_revenue"),
    )


@query(
    "tpch_q19",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 45
       AND l_quantity BETWEEN 20 AND 40)
""",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape (discounted revenue, disjunctive predicates): the
    brand/size arms prune the broadcast part side before the join;
    the mixed part×lineitem disjunction evaluates post-join inside
    whole-stage codegen — no fallback to nested-loop."""
    lf = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            (
                (F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
            )
            | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 30))
            | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 45))
        )
    )
    arm = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 45)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        lf.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(arm)
        .agg(
            sum_cents(net_cents(), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q7",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape (volume shipping): five-way join where every dim
    side (supplier, customer, nation×2) broadcasts; the only
    shuffle left is lineitem⋈orders plus the final aggregation.
    The nation-pair disjunction is applied after both nation joins
    resolve — Catalyst cannot split it per-side."""
    lf = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= ts_lit("1996-01-01"))
        & (F.col("l_shipdate") < ts_lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    cust = F.broadcast(load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    nation = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")))
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
        | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        lf.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(sum_cents(net_cents(), "revenue"))
    )


@query(
    "tpch_q8",
    oracle="""
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                 THEN CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1 - CAST(l_discount AS DECIMAL(12,4)))
                 ELSE CAST(0 AS DECIMAL(12,4)) END) AS VARCHAR) AS DOUBLE)
         AS nation_volume,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE)
         AS total_volume
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY o_year
""",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape (national market share): the classic
    sum(case)/sum() market-share ratio surfaced as exact numerator
    + denominator (division of two independently-rounded doubles is
    the one place engines legitimately diverge). Customer-side
    nation→region restricts the probe; supplier-side nation labels
    the contribution."""
    region_name = "ASIA"
    lf = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts_lit("1996-01-01"))
        & (F.col("o_orderdate") < ts_lit("1998-01-01"))
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region_name)
    cust_region = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .join(
            nation.select("n_nationkey", "n_regionkey"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("c_custkey")
    )
    supp_nation = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    return (
        lf.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust_region, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            sum_cents(
                F.when(F.col("supp_nation") == "NATION_3", net_cents()).otherwise(0),
                "nation_volume",
            ),
            sum_cents(net_cents(), "total_volume"),
        )
    )


@query(
    "tpch_q9",
    oracle="""
SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                   * (1 - CAST(l_discount AS DECIMAL(12,4)))
              - CAST(p_retailprice AS DECIMAL(12,4))
                   * CAST(l_quantity AS DECIMAL(12,4)) * 0.01
           ) AS VARCHAR) AS DOUBLE) AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, o_year
""",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit): the fixture has no
    partsupp.ps_supplycost, so unit cost is modeled as 1% of
    p_retailprice — same five-way join + expression shape. Profit is
    summed in exact 1e-6 units: net revenue (1e-4 units) × 100 minus
    cents(price) × cents(quantity), which is that 1% cost in 1e-6.
    part/supplier+nation broadcast; only lineitem⋈orders shuffles.

    r16 (guide §3.1): supplier→nation pre-flattened into one
    broadcast dim keyed s_suppkey (as tpch_q8 already did), so each
    fact row pays two probes (part, supplier-nation) instead of
    three. Results identical."""
    lf = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_nation = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    F.col("n_nationkey"), F.col("n_name").alias("nation")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = net_cents() * 100 - cents("p_retailprice") * cents("l_quantity")
    return (
        lf.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(sum_cents(profit, "profit", 6))
    )


@query(
    "tpch_q12",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate
  AND l_shipdate <  o_orderdate + INTERVAL 30 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
""",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (shipping modes / priority): the fixture has no
    l_shipmode, so lines are classed by l_returnflag and lateness is
    `shipdate within [orderdate, orderdate+30d)` — conditional count
    aggregates over an equi-join with residual range predicates."""
    lf = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= ts_lit("1996-01-01"))
        & (F.col("l_shipdate") < ts_lit("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lf.join(
            orders,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q13",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) t
GROUP BY c_count
""",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 (customer order-count distribution): left outer join so
    zero-order customers survive as c_count=0, then a second
    aggregation over the first — two shuffles by design, the second
    over a tiny domain (distinct counts)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "tpch_q15",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,4))
             * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name,
       CAST(CAST(total_revenue AS VARCHAR) AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 (top supplier): revenue per supplier in a quarter, then
    keep the max. The max is computed on the EXACT long sums (not
    the double surface), so ties/equality are engine-independent.
    The 1-row max broadcasts back against the revenue aggregate."""
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= ts_lit("1996-01-01"))
            & (F.col("l_shipdate") < ts_lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(net_cents()).alias("rev_c"),
            sum_cents(net_cents(), "total_revenue"),
        )
    )
    top = F.broadcast(rev.agg(F.max("rev_c").alias("max_rev")))
    supp = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        rev.join(top, F.col("rev_c") == F.col("max_rev"))
        .join(supp, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q17",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
         AS small_qty_revenue,
       COUNT(*) AS n_lines
FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
WHERE p_brand = 'Brand#1'
  AND l1.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                       FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
""",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 (small-quantity orders): correlated scalar subquery
    decorrelated by hand — pre-aggregate avg(l_quantity) per
    partkey, then join the threshold back to the brand-filtered
    lines. l_quantity values are whole numbers, so the double avg is
    exact and the 0.2× threshold compares identically everywhere."""
    lf = load_table(spark, sf_dir, "lineitem")
    avg_qty = lf.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.avg("l_quantity") * F.lit(0.2)).alias("qty_threshold")
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    return (
        lf.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(avg_qty, F.col("ap_key") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            sum_cents(cents("l_extendedprice"), "small_qty_revenue", 2),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q21",
    oracle="""
WITH x AS (SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS smax
           FROM lineitem GROUP BY l_orderkey, l_suppkey),
     w AS (SELECT l_orderkey, MAX(smax) AS omax, COUNT(*) AS nsupp
           FROM x GROUP BY l_orderkey),
     l AS (SELECT x.l_orderkey, x.l_suppkey
           FROM x JOIN w ON x.l_orderkey = w.l_orderkey
           WHERE x.smax = w.omax AND w.nsupp >= 2),
     u AS (SELECT l_orderkey FROM l GROUP BY l_orderkey HAVING COUNT(*) = 1)
SELECT s_name, COUNT(*) AS numwait
FROM l
JOIN u ON l.l_orderkey = u.l_orderkey
JOIN orders   ON o_orderkey = l.l_orderkey AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = l.l_suppkey
GROUP BY s_name
""",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (suppliers who kept orders waiting): without
    commit/receipt dates, the 'blamed' supplier is the UNIQUE latest
    shipper in a multi-supplier finished order — the same
    exists/not-exists double-filter expressed as window aggregates
    over ONE shuffle of lineitem (r16, guide §2.4): the groupBy
    used to hash-partition on (orderkey, suppkey) and the window
    then re-exchanged the aggregate on orderkey — but partial
    aggregation removes only ~0.2% of lineitem rows here (~4 lines
    per order, suppliers near-distinct within an order), so that
    shape shuffled ~2N rows across two barriers. Repartitioning the
    projected scan by l_orderkey FIRST satisfies both the groupBy
    (hash on a subset of the grouping keys is a valid clustered
    distribution) and the window's partitionBy, so the aggregate
    and both windows run on one exchange of N projected rows —
    plan: Exchange(l_orderkey) -> HashAggregate -> Sort -> Window,
    no second Exchange (pinned in tests/test_plans.py). The
    trade-off (no map-side combine before the shuffle) is ~free at
    0.998 distinct-ratio; on a dataset where (orderkey, suppkey)
    collapsed rows substantially the old two-exchange shape would
    win instead."""
    from pyspark.sql import Window

    x = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("smax"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        x.withColumn("omax", F.max("smax").over(w))
        .withColumn("nsupp", F.count(F.lit(1)).over(w))
        .withColumn(
            "nlate", F.sum(F.when(F.col("smax") == F.col("omax"), 1).otherwise(0)).over(w)
        )
        .filter((F.col("smax") == F.col("omax")) & (F.col("nsupp") >= 2) & (F.col("nlate") == 1))
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        flagged.join(orders, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q2",
    oracle="""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
best AS (
  SELECT l_partkey, l_suppkey, unit_cost,
         MIN(unit_cost) OVER (PARTITION BY l_partkey) AS best_cost
  FROM cost)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
FROM best
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE unit_cost = best_cost
  AND p_size BETWEEN 1 AND 15
  AND p_type = 'SMALL'
  AND r_name = 'EUROPE'
""",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (minimum-cost supplier): the fixture has no partsupp,
    so the supply relation is reconstructed from lineitem and unit
    cost is min(l_extendedprice / l_quantity) per (part, supplier) —
    IEEE double division is bit-identical across engines, so the
    min-cost equality needs no rounding. The heavy fact table
    aggregates FIRST (one shuffle on (partkey, suppkey)), the
    per-part minimum is a window over the tiny aggregate, and every
    dimension (part, supplier, nation, region) broadcasts."""
    from pyspark.sql import Window

    lf = load_table(spark, sf_dir, "lineitem")
    cost = lf.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = cost.withColumn(
        "best_cost", F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("unit_cost") == F.col("best_cost"))
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(1, 15) & (F.col("p_type") == "SMALL"))
        .select("p_partkey", "p_name")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    return (
        best.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost")
    )


@query(
    "tpch_q11",
    oracle="""
WITH v AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_8')
  GROUP BY l_partkey)
SELECT l_partkey,
       CAST(CAST(value_dec AS VARCHAR) AS DOUBLE) AS part_value
FROM v
WHERE CAST(value_dec AS DOUBLE)
      > (SELECT CAST(SUM(value_dec) AS DOUBLE) * 0.001 FROM v)
""",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (important stock): no partsupp, so a part's
    'inventory value' is the summed extendedprice shipped by
    suppliers of the chosen nations. Sums are exact (long cents /
    decimal on the oracle side); the HAVING-fraction threshold is a
    1-row global aggregate that broadcasts back as a cross join —
    the standard decorrelation of Q11's scalar subquery. Both
    engines derive the compared doubles from exact integer sums, so
    the > test is deterministic. The value subtree appears twice in
    the logical plan but executes ONCE: Spark's exchange reuse
    (static plan shows ReusedExchange with AQE off; AQE reuses at
    runtime) dedups the per-part aggregation shuffle, so the fact
    table is scanned a single time."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey")
    )
    v = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("value_c"))
    )
    total = F.broadcast(v.agg(F.sum("value_c").alias("total_c")))
    return (
        v.crossJoin(total)
        .filter(
            F.col("value_c").cast("double")
            > F.col("total_c").cast("double") * F.lit(0.001)
        )
        .select(
            "l_partkey",
            (F.col("value_c").cast("double") / F.lit(100.0)).alias("part_value"),
        )
    )


@query(
    "tpch_q16",
    oracle="""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (parts/supplier relationship): distinct-supplier
    count per (brand, type, size) over the lineitem-derived supply
    relation; 'complaint' suppliers are modeled as negative account
    balance and removed with a broadcast anti-join (the NOT IN is
    safe to rewrite as anti-join because s_suppkey is never null).
    Part prunes before broadcasting; the distinct agg does its
    partial dedup map-side."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q20",
    oracle="""
WITH shipped AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%gear%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey),
flagged AS (
  SELECT l_partkey, l_suppkey, qty,
         SUM(qty) OVER (PARTITION BY l_partkey) AS part_total
  FROM shipped)
SELECT s_name, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_dominant_parts
FROM flagged JOIN supplier ON s_suppkey = l_suppkey
WHERE qty > 0.5 * part_total
GROUP BY s_name
""",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (potential part promotion): without ps_availqty the
    'excess stock' test becomes 'this supplier shipped more than
    half of the part's yearly volume' — same nested-aggregate +
    semi-join chain: name-filtered parts broadcast into a
    (part, supplier) aggregate, a per-part window computes the
    denominator without a second shuffle of the base data, and the
    surviving pairs roll up per supplier. l_quantity is
    integer-valued so the 0.5× comparison is exact in double."""
    from pyspark.sql import Window

    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= ts_lit("1996-01-01"))
            & (F.col("l_shipdate") < ts_lit("1997-01-01"))
        )
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    flagged = shipped.withColumn(
        "part_total", F.sum("qty").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("qty") > F.lit(0.5) * F.col("part_total"))
    supp = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        flagged.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_partkey").alias("n_dominant_parts"))
    )


@query(
    "tpch_q22",
    oracle="""
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
         AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_nationkey
""",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (global sales opportunity): rich customers with no
    RECENT orders (none since 1999), grouped by nation. Scalar-subquery average broadcasts as
    a 1-row cross join; the no-orders test is a left-anti join
    against just the o_custkey column."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = F.broadcast(
        cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= ts_lit("1999-01-01"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            sum_cents(cents("c_acctbal"), "totacctbal", 2),
        )
    )
