#!/usr/bin/env python
"""Second-decade scale smoke (VERDICT r11 #2): the 100-TB posture
previously rested on ONE empirical decade (sf0.1 -> 10 disjoint
copies). This sweep extends it to TWO: the top heavy operators run
at sf0.1, sf1 (10 copies) and sf10 (100 copies), recording both
decade ratios — a well-scaling op should hold ~linear (ratio ~<=10)
across BOTH decades, and superlinearity that only appears in the
second decade (e.g. a broadcast side crossing its threshold, a
shuffle spilling) is exactly what a single-decade smoke cannot see.

Fixture synthesis is the r6 bijective-token trick at 100 copies:
each table is the union of N key-shifted disjoint copies (every key
column shifted by copy_index * (max_key + 1)), document texts get a
per-copy suffix on EVERY token (cross-copy shingle sets disjoint,
within-copy similarity intact), embeddings a DIRECTIONALLY
decorrelating per-copy perturbation (r14, VERDICT r13 #2 — the old
tiny rotation left copies at cosine ~0.997, so LSH bucket occupancy
grew quadratically in copy factor; see
scale_smoke._decorrelate_embedding). Built with a crossJoin against
range(N) rather than a 100-way union so the build plan stays flat.

Measurement fidelity (beyond the r5-era gc/ordering hygiene, which
is kept): the co-purchase edge scratch is WARMED once per scale
before the graph cohort and its build time reported separately
("edges_warm_sec") — in earlier sweeps the first graph op at each
scale silently paid that one-time materialization inside its ratio
(scratch lives as long as the Spark application, so every scale
starts cold), which is fixture-build cost, not algorithm scaling.

Writes SCALE_SMOKE_r{N}.json at the repo root:
  {op: {"sf0.1_sec": a, "sf1_sec": b, "sf10_sec": c,
        "ratio_d1": b/a, "ratio_d2": c/b}}

Usage: python scripts/scale_smoke2.py [round_number]
Env: SPARK_DRIVER_MEM should be raised (64g recommended) — the
sf10 co-purchase edge set is ~240M checkpointed rows.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from scale_smoke import (  # noqa: E402  (sf1 builder)
    KEYS,
    SRC,
    _decorrelate_embedding,
    build_fixture,
)

D1 = "/tmp/infofarmsparkml_sf1"
D10 = "/tmp/infofarmsparkml_sf10"
COPIES10 = 100

# VERDICT r11 #2's named top-6, plus the round's new delta-pagerank
# twin so its first smoke is two-decade from day one. LSH/document
# ops first, iterative graph ops last (r6 lesson: heap pressure from
# the graph cohort inflates LSH measurements taken after it).
OPS = [
    "llm_minhash_lsh_dedup",
    "llm_knn_join",
    "llm_dup_substring",
    "graph_kcore_exact",
    "graph_triangles_doulion",
    "graph_pagerank",
    "graph_pagerank_delta",
]

GRAPH_OPS = {o for o in OPS if o.startswith("graph_")}


def build_fixture10(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(D10, exist_ok=True)
    for table, keys in KEYS.items():
        out = f"{D10}/{table}.parquet"
        if os.path.exists(out):
            continue
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        if not keys:
            df.write.mode("overwrite").parquet(out)
            continue
        maxes = df.agg(*[F.max(k).alias(k) for k in keys]).collect()[0]
        copies = spark.range(COPIES10).select(F.col("id").alias("_ci"))
        c = df.crossJoin(copies)
        for k in keys:
            c = c.withColumn(k, F.col(k) + F.col("_ci") * (int(maxes[k]) + 1))
        if table == "documents":
            c = c.withColumn(
                "text",
                F.regexp_replace(
                    "text",
                    F.lit(r"(\S+)"),
                    F.concat(F.lit("$1c"), F.col("_ci").cast("string")),
                ),
            )
        if table == "embeddings":
            # clone-free decorrelation (VERDICT r13 #2) — see
            # scale_smoke._decorrelate_embedding
            c = c.withColumn("embedding", _decorrelate_embedding(F))
        c.drop("_ci").write.mode("overwrite").parquet(out)
        print(f"# built {table} x{COPIES10}", file=sys.stderr)


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "x"
    from infofarmsparkml_spark import registry
    from infofarmsparkml_spark.session import get_spark

    spark = get_spark(app_name="infofarmsparkml-scale-smoke2")
    t0 = time.time()
    build_fixture(spark)  # sf1 (no-op if already built)
    build_fixture10(spark)
    build_sec = round(time.time() - t0, 2)
    print(f"# fixtures ready in {build_sec}s", file=sys.stderr)

    scales = [("sf0.1_sec", SRC), ("sf1_sec", D1), ("sf10_sec", D10)]
    # warm the shared co-purchase edge scratch per scale, timed
    # separately so no graph op's ratio swallows the one-time build
    edges_warm: dict[str, float] = {}
    deg_fn, _ = registry.get("graph_degree")
    for label, sf_dir in scales:
        gc.collect()
        t = time.time()
        deg_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        edges_warm[label] = round(time.time() - t, 2)
    print(f"# edges warm: {edges_warm}", file=sys.stderr)

    results: dict[str, dict] = {}
    for name in OPS:
        fn, _ = registry.get(name)
        row: dict = {}
        for label, sf_dir in scales:
            gc.collect()
            t = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            row[label] = round(time.time() - t, 2)
        row["ratio_d1"] = round(row["sf1_sec"] / max(row["sf0.1_sec"], 1e-9), 2)
        row["ratio_d2"] = round(row["sf10_sec"] / max(row["sf1_sec"], 1e-9), 2)
        results[name] = row
        print(f"# {name}: {row}", file=sys.stderr)

    peak_gb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6
    out = {
        "copies": [10, COPIES10],
        "note": "two-decade smoke: sf1/sf10 = 10/100 disjoint "
        "key-shifted copies of sf0.1; near-linear = each decade "
        "ratio ~<=10. edges_warm_sec is the per-scale one-time "
        "co-purchase scratch build, kept OUT of the graph ops' "
        "ratios (it contaminated first-graph-op ratios in earlier "
        "sweeps).",
        "edges_warm_sec": edges_warm,
        "fixture_build_sec": build_sec,
        "python_peak_rss_gb": round(peak_gb, 2),
        "spark_driver_mem": spark.conf.get("spark.driver.memory"),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "ops": results,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, f"SCALE_SMOKE_r{rnd}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
