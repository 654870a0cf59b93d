#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with the noop sink (full pipeline runs, nothing
collects to the driver). Per query: 1 warmup + 3 timed runs, median
reported. value = sum of per-query medians (total headline wall
seconds) — lower is better.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "agg_groupby",          # flagship TPC-H Q1 shape
    "agg_grouping_sets",
    "scan_projected",
    "join_broadcast",       # star join, broadcast dims
    "join_sortmerge",       # large-large
    "join_asof",
    "win_topk_per_group",
    "limit_topk",
    "ml_word_count",
    "llm_exact_dedup",
    "llm_cosine_topk",
    "udf_scalar_arrow",     # Arrow boundary
    "fn_array",             # higher-order exprs
    "tpch_q3",              # multi-join composites
    "tpch_q6",
    "tpch_q18",
    "tpch_q8",              # shuffle-heavy composites: 8-table join
    "tpch_q9",              # 6-table join + part-LIKE filter
    "tpch_q21",             # 4-way self-join with EXISTS/NOT EXISTS
    "sql_correlated_scalar",  # decorrelated subquery
]


def bench_query(fn, spark, sf_dir: str, runs: int = 3) -> float:
    def run() -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run()  # warmup (plan + code cache)
    return statistics.median(run() for _ in range(runs))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from infofarmsparkml_spark import registry
    from infofarmsparkml_spark.session import get_spark

    # 1-min load BEFORE the session spins up: the r5 bench regressed
    # 0.98x->1.38x purely from machine contention during the driver's
    # window; recording load with every number lets any future reader
    # separate plan regressions from a busy box (VERDICT r5 #3).
    load_start = round(os.getloadavg()[0], 2)
    spark = get_spark(app_name="infofarmsparkml-bench")
    qs = registry.queries()
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        # One broken query must cost ONLY its own row, never the
        # whole bench (round 2 lost every number to one error).
        try:
            times[name] = round(bench_query(qs[name], spark, sf_dir), 3)
            print(f"# {name}: {times[name]}s", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    # An erroring query must never FLATTER the headline: summing only
    # the successes would make a broken (slow) query look like a
    # speedup. With any error, value=null and incomplete=true so the
    # total is never compared against a clean run.
    out = {
        "metric": "headline_total_sec",
        "value": None if errors else round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # load context: >~2-3 at start (32 cpus) means another JVM
        # was competing and the numbers overstate query cost
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
        # the session's task slots and master, so a reader can check
        # that SPARK_GRAFT_CPUS reached the session
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    if errors:
        out["errors"] = errors
        out["incomplete"] = True
        out["partial_total_sec"] = round(sum(times.values()), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
