"""Warehouse-maintenance ETL composites: MERGE-style upsert, SCD
type-2 dimension building, and data-quality profiling.

These are the operations that keep a 100 TB lakehouse current:
upserts land the daily delta, SCD2 turns a change log into validity
intervals, and the DQ profile is the cheap full-scan audit run
before promoting a partition. All three are pure DataFrame
compositions — one shuffle each on their natural key — with exact
DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from infofarmsparkml_spark.operators._util import load_table
from infofarmsparkml_spark.registry import query

_ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


@query(
    "etl_merge_upsert",
    oracle="""
WITH keymax AS (SELECT MAX(o_orderkey) AS mk FROM orders),
src AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT o_orderkey + (SELECT mk FROM keymax) + 1, o_custkey, 'U',
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT COALESCE(s.o_orderkey, t.o_orderkey)           AS o_orderkey,
       COALESCE(s.o_custkey, t.o_custkey)             AS o_custkey,
       COALESCE(s.o_orderstatus, t.o_orderstatus)     AS o_orderstatus,
       COALESCE(s.o_totalprice, t.o_totalprice)       AS o_totalprice,
       COALESCE(s.o_orderdate, t.o_orderdate)         AS o_orderdate,
       COALESCE(s.o_orderpriority, t.o_orderpriority) AS o_orderpriority
FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
""",
)
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT) without a table format: full outer join target⋈source on
    the key, source wins per column via COALESCE. The source here is
    a deterministic delta derived from the fixture (urgent orders
    updated to status 'U', plus the same rows re-keyed as inserts).
    At scale this is the shuffle-on-key plan Delta/Iceberg MERGE
    lowers to anyway; with a bucketed target (see `sink_bucketed`)
    the target side needs no exchange at all.

    Inserted keys are offset by MAX(o_orderkey)+1 (a broadcast 1-row
    MAX agg answered from parquet footer stats — effectively free,
    exact integer in both engines) so synthetic insert keys can
    never collide with real ones at any scale factor — the same
    key-domain derivation as `etl_cdc_apply`/`etl_snapshot_diff`."""
    tgt = load_table(spark, sf_dir, "orders")
    keymax = tgt.agg(F.max("o_orderkey").alias("mk"))
    upd = tgt.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_orderstatus", F.lit("U")
    )
    ins = (
        upd.crossJoin(F.broadcast(keymax))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("mk") + 1)
        .drop("mk")
    )
    src = upd.select(*_ORDER_COLS).union(ins.select(*_ORDER_COLS))
    t, s = tgt.alias("t"), src.alias("s")
    merged = t.join(s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer")
    return merged.select(
        *[
            F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c)
            for c in _ORDER_COLS
        ]
    )


@query(
    "etl_scd2",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
         LAG(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type AS attr_value, ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
       (LEAD(ts) OVER w IS NULL) AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 from a change log: collapse consecutive repeats of
    the tracked attribute (event_type per user), then lead() closes
    each version's validity interval; the open interval is the
    current row. Two windows over the same (user_id, ts) sort —
    Catalyst reuses one sort+shuffle for both. This is the standard
    dimension-history build: deterministic, no state, re-runnable on
    any partition of users independently."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(order))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .drop("prev_type")
    )
    return changes.select(
        "user_id",
        F.col("event_type").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(order).alias("valid_to"),
        F.row_number().over(order).alias("version"),
        F.lead("ts").over(order).isNull().alias("is_current"),
    )


@query(
    "dq_profile",
    oracle="""
SELECT 'o_orderkey' AS col_name,
       COUNT(*) - COUNT(o_orderkey) AS n_nulls,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS DOUBLE) AS min_v,
       CAST(MAX(o_orderkey) AS DOUBLE) AS max_v
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       MIN(o_totalprice), MAX(o_totalprice)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority), NULL, NULL
FROM orders
""",
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: per-column null count, exact distinct
    count, numeric min/max — the audit table written next to every
    promoted partition. Computed as ONE pass over the table (a
    single global aggregate producing all measures, then a
    zero-shuffle melt into per-column rows), not one scan per
    column; at 100 TB swap the exact distincts for
    `approx_count_distinct` and keep the same shape."""
    od = load_table(spark, sf_dir, "orders")
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    profiled = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
                "o_orderpriority"]
    aggs = []
    for c in profiled:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__distinct"))
        if c in numeric:
            aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
    wide = od.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            (F.col(f"{c}__min") if c in numeric else F.lit(None).cast("double")
             ).alias("min_v"),
            (F.col(f"{c}__max") if c in numeric else F.lit(None).cast("double")
             ).alias("max_v"),
        )
        for c in profiled
    ]
    return wide.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.col_name", "p.n_nulls", "p.n_distinct", "p.min_v", "p.max_v")


@query(
    "dq_skew_report",
    oracle="""
WITH kc AS (
  SELECT o_custkey AS key, COUNT(*) AS cnt
  FROM orders GROUP BY o_custkey
)
SELECT COUNT(*) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       ROUND(AVG(cnt), 4) AS avg_cnt,
       ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top1_share,
       CAST(COUNT(*) FILTER (WHERE cnt > 2.0 * (
           SELECT AVG(cnt) FROM kc)) AS BIGINT) AS n_hot_keys
FROM kc
""",
)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the pre-flight check before a
    100 TB shuffle: per-key counts reduced to key cardinality, max
    and mean load, the heaviest key's share of all rows, and how
    many keys exceed 2× the mean. When top1_share or n_hot_keys is
    high, the downstream join wants salting (`join_skew_salted`) or
    AQE skew split. Two tiny aggregations; the per-key table never
    leaves the executors."""
    od = load_table(spark, sf_dir, "orders")
    kc = od.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # mean load joins back as a broadcast scalar — no driver collect,
    # so the whole report stays one distributed pipeline
    avg_df = kc.agg(F.avg("cnt").alias("avg_all"))
    return kc.crossJoin(F.broadcast(avg_df)).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 4).alias("avg_cnt"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top1_share"),
        F.count_if(F.col("cnt") > 2.0 * F.col("avg_all")).alias("n_hot_keys"),
    )


@query(
    "dq_expectations",
    oracle="""
WITH checks AS (
  SELECT
    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS positive_quantity,
    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS discount_in_unit_range,
    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS shipdate_not_null,
    CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS positive_price,
    CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)
      AS BIGINT) AS returnflag_in_domain,
    CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem)
SELECT rule, n_violations, n_rows,
       ROUND(n_violations * 1.0 / n_rows, 6) AS violation_rate
FROM checks UNPIVOT (n_violations FOR rule IN
  (positive_quantity, discount_in_unit_range, shipdate_not_null,
   positive_price, returnflag_in_domain))
""",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based expectation suite (the Great-Expectations shape):
    each data-contract rule becomes one conditional-sum aggregate,
    so the WHOLE suite is a single pass over the table — one scan,
    one reduce, no per-rule jobs — then an in-place unpivot to the
    (rule, n_violations, rate) report. At 100 TB this is the only
    affordable shape: rule count grows the projection, not the
    number of scans."""
    lf = load_table(spark, sf_dir, "lineitem")

    def viol(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    checks = lf.agg(
        viol(F.col("l_quantity") <= 0, "positive_quantity"),
        viol(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            "discount_in_unit_range",
        ),
        viol(F.col("l_shipdate").isNull(), "shipdate_not_null"),
        viol(F.col("l_extendedprice") <= 0, "positive_price"),
        viol(
            ~F.col("l_returnflag").isin("A", "N", "R"),
            "returnflag_in_domain",
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )
    melted = checks.unpivot(
        ["n_rows"],
        [
            "positive_quantity",
            "discount_in_unit_range",
            "shipdate_not_null",
            "positive_price",
            "returnflag_in_domain",
        ],
        "rule",
        "n_violations",
    )
    return melted.select(
        "rule",
        "n_violations",
        "n_rows",
        F.round(F.col("n_violations") / F.col("n_rows"), 6).alias(
            "violation_rate"
        ),
    )


@query(
    "etl_cdc_apply",
    oracle="""
WITH keymax AS (SELECT MAX(c_custkey) AS mk FROM customer),
chg AS (
  SELECT c_custkey, 1 AS seq, 'D' AS op,
         c_name, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, 1, 'U', c_name, 'UPDATED'
  FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey, 2, 'D', c_name, 'UPDATED'
  FROM customer WHERE c_custkey % 20 = 1
  UNION ALL
  SELECT c_custkey + (SELECT mk FROM keymax) + 1, 1, 'I',
         c_name || ' (new)', c_mktsegment
  FROM customer WHERE c_custkey % 10 = 2),
last AS (
  SELECT * FROM (
    SELECT chg.*, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                     ORDER BY seq DESC) AS rn
    FROM chg) WHERE rn = 1),
untouched AS (
  SELECT c.c_custkey, c.c_name, c.c_mktsegment
  FROM customer c WHERE NOT EXISTS
    (SELECT 1 FROM last l WHERE l.c_custkey = c.c_custkey)),
applied AS (
  SELECT c_custkey, c_name, c_mktsegment FROM last WHERE op <> 'D')
SELECT * FROM untouched UNION ALL SELECT * FROM applied
""",
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (the Debezium-merge shape): a
    sequenced stream of I/U/D operations is reduced to its
    last-writer-wins state per key, then applied to the base table —
    deletes drop the row, updates replace it, inserts add it, keys
    never mentioned pass through. The fixture changelog exercises
    all paths including update-then-delete on the same key (seq 2
    wins). Inserted keys are offset by MAX(c_custkey)+1 (exact
    integer, identical in both engines) so synthetic keys can never
    collide with real ones at any scale factor — the same
    key-domain derivation as `etl_snapshot_diff`.

    Scale: the changelog compacts FIRST (one window on the CDC key,
    WindowGroupLimit-bounded) so the expensive joins against the
    base table carry one row per changed key, not one per change
    event; apply = one left-anti (drop touched) + union of the
    compacted survivors and pass-throughs, all shuffling on the
    uniformly-hashed primary key."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    # Key-domain-derived insert offset (broadcast 1-row MAX agg,
    # answered from parquet footer stats — effectively free).
    keymax = cust.agg(F.max("c_custkey").alias("mk"))
    chg = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", F.lit(1).alias("seq"), F.lit("D").alias("op"),
                "c_name", "c_mktsegment")
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 1).select(
                "c_custkey", F.lit(1).alias("seq"), F.lit("U").alias("op"),
                "c_name", F.lit("UPDATED").alias("c_mktsegment"))
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 20 == 1).select(
                "c_custkey", F.lit(2).alias("seq"), F.lit("D").alias("op"),
                "c_name", F.lit("UPDATED").alias("c_mktsegment"))
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 2)
            .crossJoin(F.broadcast(keymax))
            .select(
                (F.col("c_custkey") + F.col("mk") + 1).alias("c_custkey"),
                F.lit(1).alias("seq"), F.lit("I").alias("op"),
                F.concat(F.col("c_name"), F.lit(" (new)")).alias("c_name"),
                "c_mktsegment")
        )
    )
    # The fixture changelog is synthesized from the base table with
    # four filters; checkpoint it so the compaction/apply consumers
    # don't re-derive it (9 scans observed in the plan audit — a
    # real changelog is its own source and wouldn't re-scan).
    chg = chg.localCheckpoint()
    w = W.partitionBy("c_custkey").orderBy(F.desc("seq"))
    last = (
        chg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "seq")
    )
    untouched = cust.join(
        last.select("c_custkey"), "c_custkey", "left_anti"
    )
    applied = last.filter(F.col("op") != "D").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return untouched.unionByName(applied)


@query(
    "etl_incremental_agg",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         / COUNT(*) AS avg_price,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders GROUP BY o_orderpriority
""",
)
def etl_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: per-priority order
    stats computed as MERGEABLE PARTIALS on a base partition
    (orderdate < 1999) and a delta partition separately, then
    combined by partial-merge algebra (Σn, Σsum, min-of-min,
    max-of-max; AVG re-derived from merged sums) — never by
    rescanning the base. The oracle recomputes from scratch over the
    full table, proving merge(partials) ≡ recompute. This is the
    refresh pattern that keeps a 100 TB rollup current at delta
    cost: each partial is a map-side-combinable hash aggregate, the
    merge is a shuffle over |groups| rows. Money sums ride exact
    integer cents end-to-end so the merged double equals the
    recomputed one bit-for-bit."""
    from infofarmsparkml_spark.operators._util import cents, ts_lit

    orders = load_table(spark, sf_dir, "orders")
    cut = ts_lit("1999-01-01")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("o_totalprice")).alias("sum_c"),
            F.min("o_orderdate").alias("d0"),
            F.max("o_orderdate").alias("d1"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cut))
    delta = partial(orders.filter(F.col("o_orderdate") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_c").alias("sum_c"),
            F.min("d0").alias("first_order"),
            F.max("d1").alias("last_order"),
        )
    )
    total = F.col("sum_c").cast("double") / F.lit(100.0)
    return merged.select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        total.alias("total_price"),
        (total / F.col("n")).alias("avg_price"),
        "first_order",
        "last_order",
    )


@query(
    "dq_referential_integrity",
    oracle="""
SELECT * FROM (
  SELECT 'orders.o_custkey->customer' AS fk,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem.l_partkey->part',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey)
""",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the three fact→dim edges —
    the referential check run before promoting a landed partition.
    Each edge is ONE broadcast left join (dims are the small side)
    plus a global count/sum — the fact table is scanned once per
    edge with only the key column read (column pruning), no shuffle
    beyond the final single-row aggregate. Built on a reusable
    helper (`fk_orphan_audit`) unit-tested with planted orphans."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    # The two lineitem edges share ONE fact pass: both FK columns
    # ride the same scan through both broadcast joins, and the two
    # orphan counts come out of one aggregate (a second full fact
    # scan is the difference between 1x and 2x the dominant cost at
    # 100 TB). The orders edge keeps the reusable helper.
    li_both = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(part.select("p_partkey")),
            lineitem["l_partkey"] == part["p_partkey"],
            "left",
        )
        .join(
            F.broadcast(supplier.select("s_suppkey")),
            lineitem["l_suppkey"] == supplier["s_suppkey"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("p_partkey").isNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("orph_part"),
            F.sum(
                F.when(F.col("s_suppkey").isNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("orph_supp"),
        )
    )
    li_edges = li_both.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem.l_partkey->part").alias("fk"),
                    F.col("n_rows").alias("n_rows"),
                    F.col("orph_part").alias("n_orphans"),
                ),
                F.struct(
                    F.lit("lineitem.l_suppkey->supplier").alias("fk"),
                    F.col("n_rows").alias("n_rows"),
                    F.col("orph_supp").alias("n_orphans"),
                ),
            )
        ).alias("e")
    ).select("e.fk", "e.n_rows", "e.n_orphans")
    return fk_orphan_audit(
        orders, "o_custkey", customer, "c_custkey",
        "orders.o_custkey->customer",
    ).unionByName(li_edges)


def fk_orphan_audit(
    fact: DataFrame,
    fk: str,
    dim: DataFrame,
    pk: str,
    label: str,
) -> DataFrame:
    """One FK edge audit: broadcast the dimension keys, left-join the
    fact's FK column, count rows and unmatched rows. Null FKs count
    as orphans (a null reference is still a dangling edge)."""
    joined = fact.select(fk).join(
        F.broadcast(dim.select(pk)), fact[fk] == dim[pk], "left"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col(pk).isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_orphans"),
    ).select(F.lit(label).alias("fk"), "n_rows", "n_orphans")


@query(
    "etl_snapshot_diff",
    oracle="""
WITH keymax AS (SELECT MAX(c_custkey) AS mk FROM customer),
new_snap AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 6 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 20 <> 3
  UNION ALL
  SELECT c_custkey + (SELECT mk FROM keymax) + 1, c_acctbal FROM customer
  WHERE c_custkey % 25 = 4),
diff AS (
  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
         CASE WHEN n.c_custkey IS NULL THEN 'D'
              WHEN o.c_custkey IS NULL THEN 'I'
              WHEN o.c_acctbal <> n.c_acctbal THEN 'U'
              ELSE 'S' END AS change_type,
         o.c_acctbal AS old_acctbal, n.c_acctbal AS new_acctbal
  FROM customer o FULL OUTER JOIN new_snap n ON o.c_custkey = n.c_custkey)
SELECT c_custkey, change_type, old_acctbal, new_acctbal
FROM diff WHERE change_type <> 'S'
""",
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two table versions into
    row-level Insert/Update/Delete records — the audit that catches
    a bad backfill before it ships, and the changelog generator for
    downstream CDC consumers. The 'new' snapshot is derived
    deterministically from the base (drops, inserts, +100 balance
    updates) so both engines see identical versions. Inserted keys
    are offset by MAX(c_custkey)+1 (exact integer, identical in
    both engines) so synthetic keys can never collide with real
    ones at any scale factor. ONE full-outer
    sort-merge join on the key, unchanged rows filtered out —
    compare cost is O(n) rows with only the compared columns read.
    Money equality compares the same parquet doubles on both
    engines (no arithmetic beyond an exact +100), so 'U' detection
    is bit-safe."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    # Key-domain-derived insert offset: a broadcast 1-row MAX agg
    # (parquet scans answer MAX from footer stats; the cross join is
    # a BroadcastNestedLoopJoin over one row — effectively free).
    keymax = cust.agg(F.max("c_custkey").alias("mk"))
    new_snap = (
        cust.filter(F.col("c_custkey") % 20 != 3)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 10 == 6, F.col("c_acctbal") + 100.0
            ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 25 == 4)
            .crossJoin(F.broadcast(keymax))
            .select(
                (F.col("c_custkey") + F.col("mk") + 1).alias("c_custkey"),
                "c_acctbal",
            )
        )
    )
    o = cust.alias("o")
    n = new_snap.alias("n")
    joined = o.join(
        n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer"
    )
    change = (
        F.when(F.col("n.c_custkey").isNull(), F.lit("D"))
        .when(F.col("o.c_custkey").isNull(), F.lit("I"))
        .when(F.col("o.c_acctbal") != F.col("n.c_acctbal"), F.lit("U"))
        .otherwise(F.lit("S"))
    )
    return joined.select(
        F.coalesce(F.col("o.c_custkey"), F.col("n.c_custkey")).alias(
            "c_custkey"
        ),
        change.alias("change_type"),
        F.col("o.c_acctbal").alias("old_acctbal"),
        F.col("n.c_acctbal").alias("new_acctbal"),
    ).filter(F.col("change_type") != "S")


@query(
    "dq_observe_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_quantity >= 45 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem
""",
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation-API data-quality metrics: `df.observe(...)`
    attaches aggregate metrics to a DataFrame that are collected AS
    A SIDE EFFECT of whatever action already runs — a pipeline gets
    its row counts, guard-rail counters and exact checksums for
    free, with NO second pass over the data (here the driving
    action is a noop-format write, i.e. one full scan total). This
    is the at-scale DQ instrument: at 100 TB a separate audit query
    doubles the I/O bill; observe() rides the write you were doing
    anyway. Metrics are integer-exact (cents), so the emitted row
    hash-matches the direct aggregate the oracle runs."""
    from pyspark.sql import Observation

    from infofarmsparkml_spark.operators._util import cents

    # Run the observed action in a THROWAWAY newSession(): the
    # Observation stays registered on its session after `get`, and a
    # later MLlib job on the same session fails to serialize its
    # closure. Reproduced on Spark 4.1.2 with `spark` in place of the
    # newSession: tests/test_operators.py::
    # test_observe_metrics_do_not_poison_mllib fails in ml_svm_linear
    # (LinearSVC) with "Task not serializable", caused by
    # java.io.NotSerializableException:
    # org.apache.spark.sql.classic.ObservationManager (KMeans and
    # LogisticRegression fits did not hit it). newSession shares the
    # SparkContext but has its own ObservationManager, so the leak
    # dies with it.
    obs_spark = spark.newSession()
    obs = Observation("dq_metrics")
    lf = load_table(obs_spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("l_quantity") >= 45, 1).otherwise(0)
        ).cast("long").alias("n_high_qty"),
        F.sum(cents("l_extendedprice")).alias("sum_price_cents"),
    )
    lf.write.mode("overwrite").format("noop").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_high_qty"], m["sum_price_cents"])],
        "n_rows bigint, n_high_qty bigint, sum_price_cents bigint",
    )
