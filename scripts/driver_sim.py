#!/usr/bin/env python
"""Driver simulation: full-registry parity sweep on a VANILLA
SparkSession (the external driver builds its own session, not our
tuned get_spark). Mirrors the driver's correctness gate at sf0.01
and writes a per-query artifact (PARITY_r{N}.json) so the green
state is citable without a rerun.

Usage: python scripts/driver_sim.py [round_number]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine via the PYTHONPATH they inherit
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [ROOT, os.environ.get("PYTHONPATH")])
)


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "x"
    load_start = round(os.getloadavg()[0], 2)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECTNESS", "/root/testdata/sf0.01")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from infofarmsparkml_spark.verify import compare_frames, duck_connect

    df = E.entry(spark)
    assert len(df.collect()) > 0, "entry() returned no rows"
    qs, os_ = E.queries(), E.oracle_sql()
    con = duck_connect(sf)
    results: dict[str, dict] = {}
    fails: list[str] = []
    t0 = time.time()
    for name, fn in sorted(qs.items()):
        t = time.time()
        try:
            sdf = fn(spark, sf).toPandas()
            if name in os_:
                ok, msg = compare_frames(sdf, con.execute(os_[name]).fetchdf())
                kind = "sql_oracle"
            else:
                ok, msg = True, f"rows-only ({len(sdf)})"
                kind = "rows_only"
            results[name] = {
                "ok": bool(ok),
                "kind": kind,
                "rows": int(len(sdf)),
                "msg": str(msg)[:200],
                "sec": round(time.time() - t, 2),
            }
        except Exception as e:  # noqa: BLE001
            ok = False
            results[name] = {
                "ok": False,
                "kind": "error",
                "rows": None,
                "msg": f"{type(e).__name__}: {e}"[:200],
                "sec": round(time.time() - t, 2),
            }
        status = "PASS" if results[name]["ok"] else "FAIL"
        print(f"{status} {name}: {results[name]['msg']}", flush=True)
        if not results[name]["ok"]:
            fails.append(name)
        # Hygiene: memory sinks and localCheckpoint RDDs pile up on one
        # session and slowed the sweep's tail 2x (stream_stream_fullouter
        # 21.6 s at ~230 vs 10.4 s alone, r6); a gc every 8th query
        # (~0.18 s each) keeps the tail flat.
        sdf = None
        if len(results) % 8 == 0:
            import gc

            for tbl in spark.catalog.listTables():
                if tbl.name.startswith("ifsml_"):
                    spark.catalog.dropTempView(tbl.name)
            gc.collect()
    summary = {
        "sf_dir": sf,
        # same context discipline as bench.py (VERDICT r5 #3): the
        # box's perf band swings ~1.5x for identical code, so every
        # wall number carries its own load context
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
        "n_queries": len(qs),
        "n_sql_oracled": len(os_),
        "n_pass": sum(1 for r in results.values() if r["ok"]),
        "n_fail": len(fails),
        "fails": fails,
        "total_sec": round(time.time() - t0, 1),
        "queries": results,
    }
    out = f"PARITY_r{rnd}.json"
    with open(out, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"\n{summary['n_pass']}/{summary['n_queries']} pass "
          f"({summary['n_sql_oracled']} oracled) in {summary['total_sec']}s "
          f"-> {out}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
