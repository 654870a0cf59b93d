"""Pandas API on Spark (``pyspark.pandas``) — the migration surface
for pandas users: pandas idioms (assign / groupby / agg / merge)
that compile to the same Catalyst plans as the DataFrame API.

The one 100-TB trap in this API is the DEFAULT INDEX: the stock
``sequence`` index materializes a globally ordered row number (a
single-partition pass) on every frame creation. The query below
pins ``compute.default_index_type = distributed`` — monotonic ids
computed partition-locally with no extra shuffle — which is the
required setting for any at-scale use; the output never exposes the
index, so results are identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from infofarmsparkml_spark.operators._util import load_table, scoped_confs
from infofarmsparkml_spark.registry import query


@query(
    "ps_pandas_api",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def ps_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-on-Spark revenue rollup: catalog table → assign →
    groupby([...]).agg(named) → reset_index → to_spark(). Every step
    stays lazy in Catalyst (to_spark hands back the logical plan, no
    materialization), so the pandas dialect costs nothing over the
    DataFrame API at any scale — PROVIDED the default index is
    ``distributed`` (scoped to the build): the stock sequence
    index would add a global row-numbering pass per frame. Money is
    folded to exact integer cents before the sum (the repo's
    exact-money convention), so the rollup hash-matches DuckDB."""
    # pandas-on-Spark keeps this option as a JSON-encoded session conf
    with scoped_confs(
        spark, {"pandas_on_Spark.compute.default_index_type": '"distributed"'}
    ):
        psdf = load_table(spark, sf_dir, "lineitem").pandas_api()
        psdf = psdf.assign(
            revenue_cents=(psdf["l_extendedprice"] * 100)
            .round(0)
            .astype("int64")
        )
        out = (
            psdf.groupby(["l_returnflag", "l_linestatus"])
            .agg(
                n_rows=("l_orderkey", "count"),
                revenue_cents=("revenue_cents", "sum"),
            )
            .reset_index()
        )
        return out.to_spark()
