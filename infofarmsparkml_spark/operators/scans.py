"""Scans / sources / sinks (SURVEY.md §2.1, S1-S5).

Parquet is the primary source: Catalyst pushes predicates into the
scan (row-group skipping) and prunes columns (ReadSchema), which is
what makes S5's plan the one we'd want at 100 TB. CSV/JSON sources
use explicit schemas — no inference at scale. Every sink's re-read
declares the schema of the frame it just wrote, so no re-read starts
a footer-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from infofarmsparkml_spark.operators._util import (
    cents,
    load_table,
    materialize_once,
    scoped_confs,
    scratch_dir,
    sum_cents,
    ts_lit,
)
from infofarmsparkml_spark.registry import query


@query(
    "scan_parquet",
    oracle="SELECT * FROM lineitem",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: plain parquet scan of the fact table."""
    return load_table(spark, sf_dir, "lineitem")


NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@query(
    "scan_csv",
    oracle="SELECT * FROM nation",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: CSV source with explicit schema (round-trips nation
    through CSV — lossless: int + string columns only)."""
    out = scratch_dir("nation_csv", sf_dir)
    load_table(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").csv(
        out, header=True
    )
    return spark.read.schema(NATION_SCHEMA).csv(out, header=True)


REGION_SCHEMA = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)


@query(
    "scan_json_lines",
    oracle="SELECT * FROM region",
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: JSON-lines source with explicit schema (region round-trip)."""
    out = scratch_dir("region_json", sf_dir)
    load_table(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").json(out)
    return spark.read.schema(REGION_SCHEMA).json(out)


@query(
    "sink_parquet",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: partitioned parquet sink + re-read. Partitioning by a
    low-cardinality column is the at-scale layout choice: readers
    of one flag touch 1/3 of the files (partition pruning). The
    re-read declares lineitem's schema, so the build starts only the
    write job."""
    out = scratch_dir("lineitem_by_flag", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    reread = spark.read.schema(li.schema).parquet(out)
    return reread.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_rows"))


def _lineitem_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem hive-partitioned by l_returnflag, shared by
    `scan_partition_pruned` and `join_dpp`. The copy is a pure
    function of the immutable fixture, so materialize_once writes it
    once per application, not per run (the rewrite was 5.6 s of
    join_dpp's 5.7 s at sf0.1). It is read back under lineitem's
    declared schema, so the read starts no footer-inference job."""
    li = load_table(spark, sf_dir, "lineitem")
    path = materialize_once(
        scratch_dir("li_by_returnflag", sf_dir),
        lambda p: li.write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(p),
    )
    return spark.read.schema(li.schema).parquet(path)


@query(
    "scan_partition_pruned",
    oracle="""
SELECT l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n_rows
FROM lineitem WHERE l_returnflag = 'R'
GROUP BY l_linestatus
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4b: partition PRUNING on a hive-partitioned layout — the
    read-side payoff of `sink_parquet`'s write-side layout choice.
    The l_returnflag='R' filter resolves against directory names at
    planning time (plan shows PartitionFilters, asserted in
    tests/test_plans.py), so at 100 TB the other flags' files are
    never opened, listed row groups only."""
    return (
        _lineitem_by_returnflag(spark, sf_dir)
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "scan_projected",
    oracle="""
SELECT l_orderkey, l_extendedprice
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1996-01-01'
""",
)
def scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: pruned + pushed-down scan — the plan must show
    ReadSchema with only 3 columns and PushedFilters on l_shipdate
    (asserted in tests/test_plans.py)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < ts_lit("1996-01-01"))
        .select("l_orderkey", "l_extendedprice")
    )


@query(
    "sink_bucketed",
    oracle="""
SELECT o_orderpriority,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: bucketed-table sink + shuffle-free co-located join. Both
    sides are written bucketBy(8) on the join key and sorted within
    buckets, so the subsequent sort-merge join needs NO Exchange
    (asserted in tests/test_plans.py) — the at-scale answer to
    repeated large-large joins on a stable key: pay the shuffle
    once at write time, never at read time."""
    li_tbl, od_tbl = "ifsml_li_bucketed", "ifsml_od_bucketed"
    for tbl in (li_tbl, od_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", scratch_dir("li_bucketed", sf_dir))
        .mode("overwrite")
        .saveAsTable(li_tbl)
    )
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", scratch_dir("od_bucketed", sf_dir))
        .mode("overwrite")
        .saveAsTable(od_tbl)
    )
    li = spark.table(li_tbl)
    od = spark.table(od_tbl)
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_dpp",
    oracle="""
WITH flags(flag, keep) AS (VALUES ('R', 1), ('A', 0), ('N', 0))
SELECT l.l_linestatus, COUNT(*) AS n_rows,
       ROUND(SUM(l.l_quantity), 2) AS sum_qty
FROM lineitem l JOIN flags f ON l.l_returnflag = f.flag
WHERE f.keep = 1
GROUP BY l.l_linestatus
""",
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is hive-partitioned
    on the join key, the dim side is filtered at runtime — Spark
    injects the dim's surviving keys as a partition filter
    (`dynamicpruning` subquery in the plan, asserted in
    tests/test_plans.py), so only matching partitions are read.
    This is THE mechanism that makes star-schema joins affordable
    at 100 TB: the broadcasted dim filter prunes the fact scan
    before it starts."""
    fact = _lineitem_by_returnflag(spark, sf_dir)
    flags = spark.createDataFrame(
        [("R", 1), ("A", 0), ("N", 0)], "flag string, keep int"
    )
    dim = flags.filter(F.col("keep") == 1)
    return (
        fact.join(dim, fact.l_returnflag == dim.flag)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "sink_csv_roundtrip",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS sum_bal
FROM customer
GROUP BY c_mktsegment
""",
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: CSV sink + schema'd re-read. Values must survive the
    text round-trip exactly: doubles are written with full precision
    (Spark's CSV writer emits shortest-round-trip decimals) and read
    back under an EXPLICIT schema — `inferSchema` stays off, per the
    §1.2 schema policy, and header names carry the mapping."""
    out = scratch_dir("customer_csv", sf_dir)
    cu = load_table(spark, sf_dir, "customer")
    cu.write.mode("overwrite").option("header", True).csv(out)
    reread = spark.read.schema(cu.schema).option("header", True).csv(out)
    return reread.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
    )


@query(
    "etl_compact_small_files",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY o_orderpriority
""",
)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the lakehouse maintenance job: a
    fragmented table is rewritten range-partitioned on the sort key
    into few large files, then audited against the source. Range
    partitioning keeps each output file a contiguous key span
    (min/max file stats then prune reads); at 100 TB the
    repartition count comes from target_file_size, not a constant.

    The fragmented input is simulated with a 64-way repartition
    write of orders. It is a pure function of the immutable fixture,
    so materialize_once writes it once per application, as
    `_lineitem_by_returnflag` is (perfbench `write_stream`, sf0.02 on
    `local[4]`: query median 2.85 → 0.99 s over 12 pairs). Only this
    input is cached: every call runs the whole compaction
    (range-partitioned write, re-read, audit aggregate). Both reads
    declare orders' schema, so neither starts a footer-inference
    job."""
    od = load_table(spark, sf_dir, "orders")
    frag = materialize_once(
        scratch_dir("orders_fragmented", sf_dir),
        lambda p: od.repartition(64).write.mode("overwrite").parquet(p),
    )
    compact = scratch_dir("orders_compacted", sf_dir)
    (
        spark.read.schema(od.schema)
        .parquet(frag)
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(compact)
    )
    reread = spark.read.schema(od.schema).parquet(compact)
    return reread.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def bucketed_join_plan_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-only fragment over the bucketed tables (written by
    sink_bucketed) for the no-Exchange plan assertion. The merge
    hint pins sort-merge (at tiny scale AQE would broadcast) so the
    assertion exercises the bucketed-exchange elision."""
    li = spark.table("ifsml_li_bucketed")
    od = spark.table("ifsml_od_bucketed")
    return li.hint("merge").join(od, li.l_orderkey == od.o_orderkey)


def zvalue(col_a, col_b):
    """Morton/Z-order interleave of two non-negative int columns
    (bit i of a → bit 2i, bit i of b → bit 2i+1). Built from plain
    shift/and/sum expressions so the whole thing stays inside
    whole-stage codegen — no UDF.

    Domain bound: exact (bijective) for keys < 2**31, the full
    positive INT32 range — 2 dims × 31 bits = 62 interleaved bits,
    still inside a signed LONG. (An older 16-bit width silently
    aliased keys above 65535 — e.g. l_partkey at sf ≥ ~0.33 —
    degrading Z-cluster locality at scale.)"""
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    z = F.lit(0).cast("long")
    for i in range(31):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(a.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(
                F.shiftrightunsigned(b.cast("long"), i) % 2, 2 * i + 1
            )
        )
    return z


@query(
    "sink_zorder",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
FROM lineitem
""",
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered sink: range-partition + sort lineitem by
    the Morton interleave of (l_partkey, l_suppkey), so each output
    file covers a small RECTANGLE of the 2D key space rather than a
    full stripe. A reader filtering on either key (or both) then
    prunes most files from parquet min/max footer stats alone —
    the data-layout half of multi-dimensional pruning that
    partitionBy can't give (it handles one dimension; Z-order
    handles several with one sort). The write is one
    repartitionByRange shuffle on the z-value (sampled range
    boundaries — no single reducer) + an in-partition sort.
    Returned frame is the re-read content, under the schema just
    written; the oracle proves the round trip lossless. File-bound tightness is asserted in
    tests/test_plans.py from the parquet footers."""
    lf = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    out = scratch_dir("lineitem_zorder", sf_dir)
    (
        lf.withColumn("z", zvalue("l_partkey", "l_suppkey"))
        .repartitionByRange(16, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.schema(lf.schema).parquet(out)


@query(
    "scan_schema_evolution",
    oracle="""
SELECT r_regionkey, r_name,
       CASE WHEN r_regionkey < 3 THEN NULL ELSE len(r_name) END AS name_len
FROM region
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written at
    different times — the older one lacking a later-added column —
    merged into one frame with `mergeSchema`, missing values NULL.
    This is how a long-lived 100 TB dataset actually looks (columns
    get added; history is never rewritten). Schema merge happens at
    planning from footer metadata only; no data rewrite, and batch
    files keep pruning independently."""
    region = load_table(spark, sf_dir, "region")
    out = scratch_dir("region_evolved", sf_dir)
    old = region.filter(F.col("r_regionkey") < 3).select(
        "r_regionkey", "r_name"
    )
    new = region.filter(F.col("r_regionkey") >= 3).select(
        "r_regionkey",
        "r_name",
        F.length("r_name").cast("int").alias("name_len"),
    )
    old.write.mode("overwrite").parquet(f"{out}/batch=old")
    new.write.mode("overwrite").parquet(f"{out}/batch=new")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/batch=old", f"{out}/batch=new"
    )
    return merged.select("r_regionkey", "r_name", "name_len")


@query(
    "etl_partition_overwrite",
    oracle="""
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rewritten
FROM (
  SELECT l_returnflag,
         CASE WHEN l_returnflag = 'R' THEN -l_quantity ELSE l_quantity END
           AS l_quantity
  FROM lineitem)
GROUP BY l_returnflag
""",
)
def etl_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill
    primitive: rewrite ONE hive partition ('R') in place while the
    other partitions' files are untouched (INSERT OVERWRITE
    semantics with partitionOverwriteMode=dynamic). At 100 TB this
    is the difference between a 1-partition backfill and a full
    rewrite. The rewritten partition negates l_quantity so the
    oracle can prove both that 'R' changed and that 'A'/'N' kept
    their original bytes. The re-read declares the written schema, so
    the build starts only its two write jobs."""
    lf = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    out = scratch_dir("lineitem_dyn_overwrite", sf_dir)
    lf.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    dynamic = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    with scoped_confs(spark, dynamic):
        (
            lf.filter(F.col("l_returnflag") == "R")
            .withColumn("l_quantity", -F.col("l_quantity"))
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(out)
        )
    reread = spark.read.schema(lf.schema).parquet(out)
    return reread.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rewritten"),
    )


@query(
    "scan_orc",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) AS VARCHAR)
            AS DOUBLE) AS sum_price
FROM orders GROUP BY o_orderpriority
""",
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round trip — the second columnar format a
    Spark shop actually meets (Hive estates). Write orders as ORC,
    re-read under orders' schema (no footer-inference job),
    aggregate; the oracle checks the round trip preserved
    every row and value. ORC gets the same vectorized reader,
    predicate pushdown, and column pruning treatment as parquet in
    Spark, so the 100 TB posture is unchanged; the price sum is an
    exact cents sum like the other money aggregates."""
    orders = load_table(spark, sf_dir, "orders")
    out = scratch_dir("orders_orc", sf_dir)
    orders.write.mode("overwrite").orc(out)
    reread = spark.read.schema(orders.schema).orc(out)
    return reread.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        sum_cents(cents("o_totalprice"), "sum_price", 2),
    )


@query(
    "scan_text",
    oracle="""
SELECT r_name AS value FROM region
""",
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text source round trip — the rawest ingestion format (one
    string column per line), where every log/crawl pipeline starts
    before schema is imposed. Write region names as lines, read them
    back with `spark.read.text`; parsing into columns is then plain
    DataFrame expressions (see scan_csv/scan_json_lines for the
    schema-ed siblings). Line-splittable at any scale."""
    out = scratch_dir("region_text", sf_dir)
    (
        load_table(spark, sf_dir, "region")
        .select(F.col("r_name"))
        .coalesce(1)
        .write.mode("overwrite")
        .text(out)
    )
    return spark.read.text(out)


@query(
    "scan_json_permissive",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM documents WHERE doc_id % 50 <> 7 GROUP BY lang
UNION ALL
SELECT '_corrupt', CAST(COUNT(*) AS BIGINT)
FROM documents WHERE doc_id % 50 = 7
""",
)
def scan_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record-tolerant JSON ingestion: the landed file carries
    deterministically corrupted lines (every doc_id ≡ 7 mod 50 is
    written truncated mid-object); the PERMISSIVE read routes them
    into a corrupt-record column instead of failing the batch — the
    posture a 100 TB crawl ingest needs, where one mangled line must
    never kill the job. Output audits good rows per lang plus the
    quarantined count; the oracle predicts both straight from the
    source table. Line-splittable JSON, so the read parallelizes by
    byte range at any scale."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    line = F.when(
        F.col("doc_id") % 50 == 7,
        # truncated mid-object: unparseable, lands in _bad
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string")),
    ).otherwise(F.to_json(F.struct("doc_id", "lang", "source")))
    out = scratch_dir("docs_json_dirty", sf_dir)
    docs.select(line.alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("_bad", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(out)
    )
    # One pass, referencing lang AND _bad together (Spark disallows
    # projecting ONLY the corrupt-record column from a raw read).
    bucket = F.when(
        F.col("_bad").isNotNull(), F.lit("_corrupt")
    ).otherwise(F.col("lang"))
    return parsed.groupBy(bucket.alias("lang")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@query(
    "scan_xml_roundtrip",
    oracle="SELECT * FROM nation",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: XML source/sink round trip (spark-xml is built into
    Spark 4 — `format("xml")`, no external jar). nation is written
    as <nations><nation .../></nations> and read back under an
    EXPLICIT schema; like every text source here, inference stays
    off — at 100 TB schema inference is a full extra pass, and XML
    inference additionally guesses numerics from lexical shape.
    Lossless for int + string columns; the oracle is the original
    table."""
    out = scratch_dir("nation_xml", sf_dir)
    (
        load_table(spark, sf_dir, "nation")
        .coalesce(1)
        .write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .xml(out)
    )
    return (
        spark.read.schema(NATION_SCHEMA)
        .option("rowTag", "nation")
        .xml(out)
    )
