"""UDF / UDAF / UDTF surface (SURVEY.md §2.10, D1-D5).

The hierarchy that matters at 100 TB:
  built-in expr  >>  Arrow-vectorized pandas UDF  >>  row Python UDF.
Pandas UDFs move columnar Arrow batches across the JVM↔Python
boundary (one serde per batch); row UDFs pay pickle serde per ROW —
D5 exists only as the documented anti-pattern and is perf-compared
to D1 in the benchmark suite.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from infofarmsparkml_spark.operators._util import load_table
from infofarmsparkml_spark.registry import query


def _net_price_arrow():
    # constructed lazily: pandas_udf registration needs a live session
    @F.pandas_udf("double")
    def net_price(price: pd.Series, disc: pd.Series) -> pd.Series:
        # same IEEE-754 elementwise ops as the SQL expression → exact
        return price * (1.0 - disc)

    return net_price


@query(
    "udf_scalar_arrow",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
""",
)
def udf_scalar_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: scalar pandas UDF (Arrow batches) — bit-identical to the
    built-in expression; used when logic genuinely needs Python
    (e.g. a third-party scoring lib)."""
    lf = load_table(spark, sf_dir, "lineitem")
    return lf.select(
        "l_orderkey",
        "l_linenumber",
        _net_price_arrow()(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "net_price"
        ),
    )


def _weighted_mean():
    @F.pandas_udf("double")
    def wmean(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    return wmean


@query(
    "udaf_grouped_agg",
    oracle="""
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6)
         AS wavg_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: grouped-agg pandas UDF — quantity-weighted mean price.
    Rounded on both sides: pandas uses pairwise summation, SQL
    engines sequential, so raw sums differ in the last ulps."""
    lf = load_table(spark, sf_dir, "lineitem")
    return (
        lf.groupBy("l_returnflag")
        .agg(
            _weighted_mean()(F.col("l_extendedprice"), F.col("l_quantity")).alias(
                "wavg"
            )
        )
        .select("l_returnflag", F.round("wavg", 6).alias("wavg_price"))
    )


_NORM_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("price_z", T.DoubleType()),
    ]
)


def _normalize_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # per-group z-score; ddof=1 matches STDDEV_SAMP
    mu = pdf["l_extendedprice"].mean()
    sd = pdf["l_extendedprice"].std(ddof=1)
    out = pdf[["l_orderkey", "l_linenumber", "l_returnflag"]].copy()
    out["price_z"] = ((pdf["l_extendedprice"] - mu) / sd).round(6)
    return out


@query(
    "udtf_grouped_map",
    oracle="""
SELECT l_orderkey, l_linenumber, l_returnflag,
       ROUND((l_extendedprice - AVG(l_extendedprice) OVER w)
             / STDDEV_SAMP(l_extendedprice) OVER w, 6) AS price_z
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag)
""",
)
def udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: grouped-map applyInPandas — per-group normalization
    (the SNIPPETS-retrieved pattern, SNIPPETS.md:73-86). One
    shuffle on the group key; each group must fit one worker's
    memory — at 100 TB that means normalizing within bounded keys
    (here: 3 return flags is actually the WORST case; a real
    pipeline would key by (flag, month) — the window-function twin
    in the oracle is the preferred formulation at scale)."""
    lf = load_table(spark, sf_dir, "lineitem")
    return (
        lf.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag")
        .applyInPandas(_normalize_group, schema=_NORM_SCHEMA)
    )


@query(
    "udtf_python",
    oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS token
FROM documents
""",
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: Python UDTF (table function) — tokenizer emitting one
    row per token via LATERAL join; generator twin of explode."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string")
    class Tokenize:
        def eval(self, text: str):
            if text:
                for tok in text.split(" "):
                    yield (tok,)

    spark.udtf.register("ifsml_tokenize", Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, t.token
        FROM {documents} d, LATERAL ifsml_tokenize(d.text) t
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


@query(
    "udf_plain",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
FROM lineitem
""",
)
def udf_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: row-at-a-time Python UDF — ANTI-PATTERN (per-row pickle
    serde, no codegen, no vectorization); registered only so the
    benchmark can quantify the gap vs D1/built-ins."""

    @F.udf(T.DoubleType())
    def charge(price, disc, tax):
        return price * (1.0 - disc) * (1.0 + tax)

    lf = load_table(spark, sf_dir, "lineitem")
    return lf.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


@query(
    "udf_map_in_arrow",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
         AS net_cents
FROM lineitem WHERE l_quantity >= 45
""",
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: `mapInPandas`'s zero-copy sibling `mapInArrow` — the
    batch iterator yields pyarrow RecordBatches directly, skipping
    the Arrow→pandas→Arrow conversion entirely. The right choice
    when the Python logic is itself Arrow-native (pyarrow.compute
    here): no pandas object allocation, no dtype coercion surprises
    (int64 stays int64, no NaN-forced float). Net-price cents are
    computed with pyarrow kernels and rounded exactly as the
    codegen/cent path would."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lf = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    )

    def net_cents(batches):
        for batch in batches:
            net = pc.multiply(
                batch.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), batch.column("l_discount")),
            )
            # round_mode matters: pyarrow defaults to half-to-even,
            # but Spark's round()/DuckDB's round() are half-up —
            # prices are positive, so half_towards_infinity matches
            cents = pc.cast(
                pc.round(
                    pc.multiply(net, pa.scalar(100.0)),
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            # cast ids to the DECLARED schema: the fixture stores
            # l_linenumber as int32, and Spark's Arrow reader trusts
            # the returned schema literally (an int32 vector behind a
            # bigint field throws UNSUPPORTED_CALL at read time)
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(batch.column("l_orderkey"), pa.int64()),
                    pc.cast(batch.column("l_linenumber"), pa.int64()),
                    cents,
                ],
                ["l_orderkey", "l_linenumber", "net_cents"],
            )

    return lf.mapInArrow(
        net_cents,
        "l_orderkey bigint, l_linenumber bigint, net_cents bigint",
    )


@query(
    "udtf_analyze",
    oracle="""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents),
idx AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tok)
SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
FROM idx
""",
)
def udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4b: polymorphic Python UDTF (Spark 4 ``analyze()`` API) —
    the output SCHEMA is computed at plan time from the constant
    argument: ``ifsml_ngrams(text, 3)`` resolves to columns
    (w1, w2, w3), ``(text, 2)`` would resolve to (w1, w2), with no
    code change. ``analyze`` runs once on the driver during
    resolution (AnalyzeArgument carries the constant's value);
    ``eval`` then streams per-row on executors like any UDTF — the
    table-function analogue of a schema-inferring reader, and the
    API that makes generic text/feature expanders reusable across
    callers instead of hardcoding one width per function. The
    oracle rebuilds the trigram windows relationally (1-indexed
    token slides); tokenization is lower + whitespace-split with
    empties dropped on both engines."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class NGrams:
        @staticmethod
        def analyze(
            text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            schema = StructType()
            for i in range(1, int(n.value) + 1):
                schema = schema.add(f"w{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):
            toks = [t for t in (text or "").lower().split() if t]
            for i in range(len(toks) - n + 1):
                yield tuple(toks[i : i + n])

    spark.udtf.register("ifsml_ngrams", NGrams)
    return spark.sql(
        """
        SELECT d.doc_id, t.*
        FROM {documents} d, LATERAL ifsml_ngrams(d.text, 3) t
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


@query(
    "udf_cogroup_arrow",
    oracle="""
WITH oh AS (
  SELECT o_orderkey % 32 AS bucket,
         COUNT(*) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS header_cents
  FROM orders GROUP BY 1),
li AS (
  SELECT l_orderkey % 32 AS bucket,
         COUNT(*) AS n_items,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS items_cents
  FROM lineitem GROUP BY 1)
SELECT CAST(oh.bucket AS BIGINT) AS bucket,
       CAST(oh.n_orders AS BIGINT) AS n_orders,
       CAST(COALESCE(li.n_items, 0) AS BIGINT) AS n_items,
       CAST(oh.header_cents AS BIGINT) AS header_cents,
       CAST(COALESCE(li.items_cents, 0) AS BIGINT) AS items_cents
FROM oh LEFT JOIN li USING (bucket)
""",
)
def udf_cogroup_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: cogrouped ``applyInArrow`` (Spark 4) — the two-table
    grouped-map entry point: orders and lineitem shard on the same
    key-bucket, and each bucket's TWO Arrow tables arrive in one
    Python call for batch reconciliation (exact-cents header vs
    item totals — the audit shape that catches partial loads).
    Receiving ``pyarrow.Table`` pairs directly skips the pandas
    conversion entirely (the same win as mapInArrow over
    mapInPandas). Scale contract: one Python call per BUCKET, so the
    bucket count — not the row count — is the parallelism/batch
    knob; per-order cogrouping would mean one interpreter call per
    order. Per-element cents rounding happens before the Arrow sum,
    so every total is an exact integer on both engines."""
    import pyarrow as pa
    import pyarrow.compute as pc

    od = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 32).alias("bucket"), "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 32).alias("bucket"), "l_extendedprice"
    )

    def reconcile(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0:
            # lineitems whose bucket has no order header (impossible
            # under the FK, but the cogroup contract allows it)
            return pa.table(
                {
                    "bucket": pa.array([], pa.int64()),
                    "n_orders": pa.array([], pa.int64()),
                    "n_items": pa.array([], pa.int64()),
                    "header_cents": pa.array([], pa.int64()),
                    "items_cents": pa.array([], pa.int64()),
                }
            )
        bucket = left.column("bucket")[0].as_py()
        hdr = pc.sum(
            pc.round(pc.multiply(left.column("o_totalprice"), 100.0))
        ).as_py()
        items = pc.sum(
            pc.round(pc.multiply(right.column("l_extendedprice"), 100.0))
        ).as_py()
        return pa.table(
            {
                "bucket": pa.array([bucket], pa.int64()),
                "n_orders": pa.array([left.num_rows], pa.int64()),
                "n_items": pa.array([right.num_rows], pa.int64()),
                "header_cents": pa.array([int(hdr)], pa.int64()),
                "items_cents": pa.array([int(items or 0)], pa.int64()),
            }
        )

    return (
        od.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInArrow(
            reconcile,
            "bucket long, n_orders long, n_items long, "
            "header_cents long, items_cents long",
        )
    )
