#!/usr/bin/env python
"""Interleaved A/B of two query callables on one Spark session.

Each arm is ``module:function``: an importable module (the repo root
is on the path; put other directories on PYTHONPATH) and a callable
``(spark, sf_dir) -> DataFrame``. Protocol:

1. both results are collected and must hold the same rows (compared
   as sorted multisets) with the same column names and types;
2. each arm runs once more unmeasured (warm-up);
3. ``--rounds`` (at least 7) timed rounds alternate which arm runs
   first; a sample is build + noop-sink write, as bench.py times it.

Prints one JSON object: per-arm samples, min and median, the row
count, and the load average before and after the timed rounds.

Usage: python scripts/ab.py A_MODULE:FUNC B_MODULE:FUNC
           [--sf-dir DIR] [--rounds N]
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from infofarmsparkml_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402


def load_arm(spec: str):
    module, sep, func = spec.partition(":")
    if not sep or not module or not func:
        raise SystemExit(f"arm must be module:function, got {spec!r}")
    return getattr(importlib.import_module(module), func)


def run_noop(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="arm A, module:function")
    ap.add_argument("b", help="arm B, module:function")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--rounds", type=int, default=7)
    args = ap.parse_args()
    if args.rounds < 7:
        ap.error("--rounds must be at least 7")

    arms = {"a": load_arm(args.a), "b": load_arm(args.b)}
    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    for k, fn in arms.items():
        df = fn(spark, args.sf_dir)
        rows = sorted(repr(tuple(r)) for r in df.collect())
        results[k] = (df.dtypes, rows)
    if results["a"] != results["b"]:
        raise SystemExit(
            f"results differ: A {results['a'][0]} {len(results['a'][1])} rows, "
            f"B {results['b'][0]} {len(results['b'][1])} rows"
        )

    for fn in arms.values():
        run_noop(fn, spark, args.sf_dir)
    load_before = os.getloadavg()
    samples: dict[str, list[float]] = {"a": [], "b": []}
    for i in range(args.rounds):
        for k in ("a", "b") if i % 2 == 0 else ("b", "a"):
            samples[k].append(round(run_noop(arms[k], spark, args.sf_dir), 3))

    out = {
        "sf_dir": args.sf_dir,
        "master": spark.sparkContext.master,
        "rows": len(results["a"][1]),
        "results_equal": True,
    }
    for k, spec in (("a", args.a), ("b", args.b)):
        v = samples[k]
        out[k] = {
            "arm": spec,
            "samples": v,
            "min": min(v),
            "median": round(statistics.median(v), 3),
        }
    out["loadavg_before"] = [round(x, 2) for x in load_before]
    out["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
