"""Branch-consistency guard for global_row_number /
sort_range_partitioned (ADVICE r16, VERDICT r16 #6).

The lazy shape executes the range exchange twice (offsets branch +
stream branch) and is only correct while both executions sample the
same boundaries and stamp ids in sorted order. These tests check the
RESULT of that assumption directly against an independently computed
ground truth, on both arms of the r17 size gate (lazy and
checkpointed), so a Spark upgrade that breaks either behaviour fails
loudly here instead of silently mis-ranking.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from infofarmsparkml_spark import registry

GATE = "spark.infofarmsparkml.rownum.materializeBytes"


def q(name):
    fn, _ = registry.get(name)
    return fn


def _truth_sort_multi(spark, sf_dir):
    """Ground-truth ranks via a plain global window (single
    partition — fine at test scale, the anti-pattern at scale)."""
    from infofarmsparkml_spark.operators._util import load_table

    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_or_null"),
        "o_totalprice",
    ).coalesce(1)
    w = W.orderBy(
        F.col("status_or_null").asc_nulls_last(),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    )
    return t.withColumn("sort_pos", F.row_number().over(w).cast("int")).select(
        "o_orderkey", "status_or_null", "o_totalprice", "sort_pos"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_global_row_number_lazy_arm_matches_truth(spark, sf_dir):
    got = _rows(q("sort_multi")(spark, sf_dir))
    want = _rows(_truth_sort_multi(spark, sf_dir))
    assert got == want


def test_global_row_number_checkpoint_arm_matches_truth(spark, sf_dir):
    """Force the materialized arm (gate at 0 bytes) and require the
    identical output AND the structural one-execution property (the
    offsets branch reads the checkpointed RDD, so at most one
    parquet scan of orders appears in the plan)."""
    prev = spark.conf.get(GATE, None)
    spark.conf.set(GATE, "0")
    try:
        df = q("sort_multi")(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan, plan[:2000]
        assert plan.count("Scan parquet") == 0, plan[:2000]
        got = _rows(df)
    finally:
        if prev is None:
            spark.conf.unset(GATE)
        else:
            spark.conf.set(GATE, prev)
    want = _rows(_truth_sort_multi(spark, sf_dir))
    assert got == want


def test_sort_range_partitioned_both_arms_match_truth(spark, sf_dir):
    from infofarmsparkml_spark.operators._util import load_table

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 100000
    )
    w = W.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    want = _rows(
        orders.coalesce(1)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("price_rank"),
        )
    )
    assert _rows(q("sort_range_partitioned")(spark, sf_dir)) == want
    prev = spark.conf.get(GATE, None)
    spark.conf.set(GATE, "0")
    try:
        assert _rows(q("sort_range_partitioned")(spark, sf_dir)) == want
    finally:
        if prev is None:
            spark.conf.unset(GATE)
        else:
            spark.conf.set(GATE, prev)


def test_global_row_number_unknown_estimate_takes_checkpoint_arm(
    spark, sf_dir, monkeypatch
):
    """An unavailable size estimate must select the checkpointed arm
    (the one with the one-execution guarantee), never the lazy one."""
    from infofarmsparkml_spark.operators import sorts

    monkeypatch.setattr(sorts, "_estimated_bytes", lambda df: None)
    df = q("sort_multi")(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:2000]
    assert _rows(df) == _rows(_truth_sort_multi(spark, sf_dir))
