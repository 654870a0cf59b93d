"""SQL entry point (SURVEY.md §3.2 E2) + subquery surface.

Every query here goes through ``spark.sql`` — the second of the
three engine entry points — with the fixture frames bound as SQL
parameters (``{lineitem}`` in the text, ``lineitem=df`` in the call),
so no temp view is left in the caller's catalog. Each exercises the
subquery shapes Catalyst must decorrelate (SURVEY.md §4:
``RewriteCorrelatedScalarSubquery``): scalar subqueries, correlated
scalar aggregates, EXISTS/IN semi-joins, CTEs, and lateral
(correlated FROM-clause) subqueries. Decorrelation rewrites each
into joins/aggregations — no per-row re-execution — which is what
makes these shapes viable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from infofarmsparkml_spark.operators._util import load_table
from infofarmsparkml_spark.registry import query


@query(
    "sql_scalar_subquery",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
""",
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: customers above the global
    mean balance. Catalyst plans the subquery as an independent
    aggregate whose single-row result broadcasts into the filter."""
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM {customer}
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM {customer})
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "sql_correlated_scalar",
    oracle="""
SELECT l.l_orderkey, l.l_partkey, l.l_quantity
FROM lineitem l
WHERE l.l_quantity < (
  SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = l.l_partkey
)
""",
)
def sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate (TPC-H Q17 shape): lineitems
    below half their part's average quantity. Decorrelates to a
    per-part aggregate + join — one pass over the fact table, not
    one subquery per row. l_quantity is integer-valued, so the
    double average is exact and the comparison engine-stable."""
    return spark.sql(
        """
        SELECT l.l_orderkey, l.l_partkey, l.l_quantity
        FROM {lineitem} l
        WHERE l.l_quantity < (
          SELECT 0.5 * AVG(l2.l_quantity) FROM {lineitem} l2
          WHERE l2.l_partkey = l.l_partkey
        )
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "sql_exists_in",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
  AND o_custkey IN (
        SELECT c_custkey
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA')
""",
)
def sql_exists_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + IN-subquery: high-quantity orders from
    ASIA customers. Both predicates become left-semi joins (the
    customer side over broadcast-sized dims)."""
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM {orders}
        WHERE EXISTS (SELECT 1 FROM {lineitem}
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
          AND o_custkey IN (
                SELECT c_custkey
                FROM {customer}
                JOIN {nation} ON c_nationkey = n_nationkey
                JOIN {region} ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA')
        """,
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
        customer=load_table(spark, sf_dir, "customer"),
        nation=load_table(spark, sf_dir, "nation"),
        region=load_table(spark, sf_dir, "region"),
    )


@query(
    "sql_cte",
    oracle="""
WITH cust_rev AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_d,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey,
       CAST(CAST(rev_d AS VARCHAR) AS DOUBLE) AS revenue,
       n_orders
FROM cust_rev
WHERE CAST(rev_d AS DOUBLE) >
      (SELECT AVG(CAST(rev_d AS DOUBLE)) FROM cust_rev)
""",
)
def sql_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE referenced twice (rows + its own average): customers
    whose total order revenue exceeds the mean customer revenue.
    Revenue sums in DECIMAL (exact, order-independent) and
    surfaces as double via string, the SQL form of _util.sum_cents."""
    return spark.sql(
        """
        WITH cust_rev AS (
          SELECT o_custkey,
                 SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_d,
                 COUNT(*) AS n_orders
          FROM {orders} GROUP BY o_custkey
        )
        SELECT o_custkey,
               CAST(CAST(rev_d AS STRING) AS DOUBLE) AS revenue,
               n_orders
        FROM cust_rev
        WHERE CAST(rev_d AS DOUBLE) >
              (SELECT AVG(CAST(rev_d AS DOUBLE)) FROM cust_rev)
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_lateral_view",
    oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS tok
FROM documents
WHERE lang = 'en'
""",
)
def sql_lateral_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode — the SQL-surface twin of fn_explode,
    through the generator path of the SQL parser."""
    return spark.sql(
        """
        SELECT doc_id, tok
        FROM {documents}
        LATERAL VIEW explode(split(text, ' ')) t AS tok
        WHERE lang = 'en'
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


@query(
    "sql_lateral_join",
    oracle="""
SELECT c_custkey, t.max_price, t.n_orders
FROM customer, LATERAL (
  SELECT MAX(o_totalprice) AS max_price, COUNT(*) AS n_orders
  FROM orders WHERE o_custkey = c_custkey
) t
""",
)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral correlated subquery in FROM (Spark ≥3.2): per
    customer, the max order price and order count. A scalar-agg
    lateral always yields one row (NULL max / 0 count for
    order-less customers), so the join preserves all customers;
    decorrelates to an outer join against a grouped aggregate."""
    return spark.sql(
        """
        SELECT c_custkey, t.max_price, t.n_orders
        FROM {customer}, LATERAL (
          SELECT MAX(o_totalprice) AS max_price, COUNT(*) AS n_orders
          FROM {orders} WHERE o_custkey = c_custkey
        ) t
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_not_in_null_aware",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_custkey NOT IN
      (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
GROUP BY o_orderpriority
""",
)
def sql_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery — the NULL-AWARE anti join, a different
    Catalyst path than `left_anti`: if the subquery produced any
    NULL the whole predicate would be UNKNOWN for every row (3VL),
    so the planner emits a null-aware BroadcastHashJoin rather than
    a plain anti join. Here the key is non-null so results match
    the anti-join reading, but the plan shape is the NAAJ one. The
    build side must broadcast — at scale, keep NOT IN subqueries
    small or rewrite to anti-join on a provably non-null key."""
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM {orders}
        WHERE o_custkey NOT IN
              (SELECT c_custkey FROM {customer} WHERE c_acctbal < 0)
        GROUP BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE ladder(lvl, lo) AS (
  SELECT 0, CAST(0.0 AS DOUBLE)
  UNION ALL
  SELECT lvl + 1, lo + 1000.0 FROM ladder WHERE lvl < 9
)
SELECT l.lvl, l.lo, COUNT(c.c_custkey) AS n_customers
FROM ladder l
LEFT JOIN customer c
  ON c.c_acctbal >= l.lo AND c.c_acctbal < l.lo + 1000.0
GROUP BY l.lvl, l.lo
""",
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (new in Spark 4): the anchor row plus an
    iterated step build a 10-rung balance ladder, then a theta left
    join buckets customers onto it. Each recursion step is its own
    tiny job over the previous increment — fine here because the
    recursive side is a constant-size dimension; at scale keep the
    recursive branch small (the big table belongs OUTSIDE the CTE,
    joined once, exactly as here — the ladder broadcasts)."""
    return spark.sql(
        """
        WITH RECURSIVE ladder(lvl, lo) AS (
          SELECT 0, CAST(0.0 AS DOUBLE)
          UNION ALL
          SELECT lvl + 1, lo + 1000.0 FROM ladder WHERE lvl < 9
        )
        SELECT l.lvl, l.lo, COUNT(c.c_custkey) AS n_customers
        FROM ladder l
        LEFT JOIN {customer} c
          ON c.c_acctbal >= l.lo AND c.c_acctbal < l.lo + 1000.0
        GROUP BY l.lvl, l.lo
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "sql_parameterized",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS VARCHAR)
            AS DOUBLE) AS revenue
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2b: parameterized SQL (Spark 3.4+ named-parameter binding) —
    the injection-safe form for user-supplied thresholds: values
    bind as TYPED literals through `spark.sql(query, args=...)`,
    never string-spliced, and Catalyst constant-folds them exactly
    like inline literals (same pushed filter, same plan). The oracle
    inlines the same constants."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS STRING)
                    AS DOUBLE) AS revenue
        FROM {orders}
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000.0, "status": "O"},
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_scripting",
    oracle="""
WITH tot AS (
  SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM lineitem),
cand AS (SELECT t FROM (VALUES (1),(2),(4),(8),(16),(32),(64),(128)) v(t)),
cov AS (
  SELECT c.t,
         (SELECT CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice * 100)
                                         AS BIGINT)), 0) AS BIGINT)
          FROM lineitem WHERE l_quantity <= c.t) AS covered_cents
  FROM cand c)
SELECT CAST(t AS INTEGER) AS threshold, covered_cents, total_cents
FROM cov, tot
WHERE covered_cents * 10 >= total_cents * 9
ORDER BY t LIMIT 1
""",
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2c: SQL scripting (Spark 4.1 ``BEGIN…END`` control flow) —
    a doubling threshold search: the smallest power-of-two quantity
    cutoff whose lineitems cover >= 90% of total revenue. Each WHILE
    iteration is driver-side control flow around a fully distributed
    statement (a pushed-filter scan + exact-cents aggregate), the
    scripting contract at scale: the loop variable lives on the
    driver, the data never does. Revenue is compared in integer
    cents (the repo's exact-money convention) so the 90% gate is an
    integer inequality — bit-identical in DuckDB, whose oracle
    evaluates the same candidates set-wise and takes the first
    satisfying threshold (equivalent to the doubling search because
    coverage is monotone in t; the candidate list covers the
    fixture-wide l_quantity domain of 1-50 at every SF)."""
    return spark.sql(
        """
        BEGIN
          DECLARE t INT DEFAULT 1;
          DECLARE cov BIGINT DEFAULT 0;
          DECLARE total BIGINT DEFAULT 0;
          SET total = (SELECT SUM(CAST(ROUND(l_extendedprice * 100)
                                       AS BIGINT)) FROM {lineitem});
          SET cov = (SELECT COALESCE(SUM(CAST(ROUND(l_extendedprice * 100)
                                              AS BIGINT)), 0)
                     FROM {lineitem} WHERE l_quantity <= t);
          WHILE cov * 10 < total * 9 DO
            SET t = t * 2;
            SET cov = (SELECT COALESCE(SUM(CAST(ROUND(l_extendedprice * 100)
                                                AS BIGINT)), 0)
                       FROM {lineitem} WHERE l_quantity <= t);
          END WHILE;
          SELECT t AS threshold, cov AS covered_cents,
                 total AS total_cents;
        END
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "sql_udf",
    oracle="""
WITH tiers(lo, hi, tier) AS (
  VALUES (0, 10, 'small'), (10, 25, 'mid'), (25, 100, 'large'))
SELECT l.l_orderkey, l.l_linenumber,
       l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax) AS charge,
       t.tier
FROM lineitem l JOIN tiers t
  ON l.l_quantity > t.lo AND l.l_quantity <= t.hi
""",
)
def sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2d: SQL-defined UDFs (Spark 4.1 ``CREATE FUNCTION … RETURN``)
    — both kinds: a scalar function (the TPC-H charge formula) and a
    TABLE function (quantity tier boundaries) consumed as a relation.
    SQL UDFs are the zero-overhead extension point: the body inlines
    into the plan at resolution (the charge lands inside whole-stage
    codegen, the tier table function becomes a 3-row broadcast join —
    no Python worker, no serde), so unlike D5's row-at-a-time Python
    UDF they cost nothing at 100 TB. The charge column follows the
    `udf_plain` precedent: the raw IEEE product compares at full
    precision because both engines multiply in the same order."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ifsml_charge(
            price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS DOUBLE
        RETURN price * (1 - disc) * (1 + tax)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ifsml_qty_tiers()
        RETURNS TABLE(lo INT, hi INT, tier STRING)
        RETURN SELECT * FROM VALUES
          (0, 10, 'small'), (10, 25, 'mid'), (25, 100, 'large')
          AS t(lo, hi, tier)
        """
    )
    return spark.sql(
        """
        SELECT l.l_orderkey, l.l_linenumber,
               ifsml_charge(l.l_extendedprice, l.l_discount, l.l_tax)
                 AS charge,
               t.tier
        FROM {lineitem} l JOIN ifsml_qty_tiers() t
          ON l.l_quantity > t.lo AND l.l_quantity <= t.hi
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )
