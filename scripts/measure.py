#!/usr/bin/env python
"""One measurement tool for the registry: three subcommands that share
one cleanup rule between queries (``_isolated``) and one warm-up
(``_warm_up``).

contract OUT SF_DIR... [NAME...]
    The driver contract on a VANILLA ``local[8]`` session (the external
    driver builds its own session, not ``get_spark``): ``entry()`` is
    checked first, then every registered query (or the NAMEs) runs at
    each SF_DIR. Per query and fixture OUT records the parity fields
    (``ok kind rows msg sec``, oracle via DuckDB) and the fingerprints:
    ``oracle_md5``, ``schema``, ``rows_md5`` (md5 of
    ``json.dumps([columns, sorted(str(row))])`` over
    ``verify.canon_frame``), the normalized simple plan and its
    ``plan_md5``, plan ``nodes`` counts, the UDF names under each
    ``ArrowEvalPython`` node, ``build_jobs`` (jobs started by the
    registry call, by job group) and the ``confs_added`` /
    ``views_added`` session diff around the query.

contract --diff A B
    One line per changed (fixture, query, field) between two snapshots,
    exit 1 if there is any. ``sec`` and the plan text are not compared
    (``plan_md5`` stands for the plan).

profile SF_DIR OUT [CHUNK] [NAME...]
    Wall time of each query's collect on the tuned ``get_spark``
    session, CHUNK queries (default 40) per fresh JVM so heap and
    code-cache state cannot build up past a chunk; CHUNK 0 runs all in
    this process. One NAME with CHUNK 1 is the isolated measure of one
    query.

scale ROUND COPIES... [NAME...]
    Scaling ratios: each query (default: the one- or two-decade op
    list below) written to a noop sink at the sf0.1 fixture and at
    fixtures of COPIES disjoint key-shifted copies of it (10 copies is
    sf1, 100 is sf10). Writes SCALE_SMOKE_r{ROUND}.json at the repo
    root.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import re
import resource
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Plan ids, expression ids, lambda variable suffixes (a JVM-wide
# counter), JVM lambda class names and the per-application scratch root
# change from one process to the next.
PLAN_NORMALIZE = [
    (r"#\d+L?", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"\[id=#?\d+\]", "[id=N]"),
    (r"(lambda \w+?)_\d+\b", r"\1_N"),
    (r"\$\$Lambda[^,\s]*", "$$Lambda"),
]
SCRATCH_TOKEN = "<scratch>"
# node names recorded per plan (plans.plan_nodes counts every name)
NODES = [
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "CartesianProduct", "BroadcastNestedLoopJoin",
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "Exchange",
    "ReusedExchange", "Window", "Generate", "InMemoryTableScan", "FileScan",
]
NOT_COMPARED = ("sec", "plan")

# scale: the priciest operators, LSH and document ops before the
# iterative graph ops (heap pressure from the graph cohort inflated
# LSH measurements taken after it); agg_groupby is the linearity
# control. The two-decade list runs when more than one COPIES is given.
SCALE_OPS = {
    "one_decade": [
        "llm_minhash_lsh_dedup", "llm_knn_join", "llm_semantic_dedup",
        "llm_diversity_sample", "llm_curation_pipeline", "ts_gap_fill_locf",
        "ts_interpolate_linear", "graph_pagerank", "graph_triangles",
        "graph_kcore", "llm_bm25_topk", "llm_dup_substring", "graph_cc_star",
        "graph_label_propagation", "join_runtime_bloom",
        "graph_triangles_doulion", "sample_hash_deterministic",
        "graph_kcore_exact", "agg_groupby",
    ],
    "two_decade": [
        "llm_minhash_lsh_dedup", "llm_knn_join", "llm_dup_substring",
        "graph_kcore_exact", "graph_triangles_doulion", "graph_pagerank",
        "graph_pagerank_delta",
    ],
}
SCALE_NOTES = {
    "graph_triangles": (
        "ratio is linear in the 10x path count; fresh-JVM reruns span "
        "10-14x (single-JVM GC variance, not plan shape: wider AQE "
        "initial partitions and a 2x heap both probed, neither helps)"
    ),
}
# key columns shifted per copy (disjoint shards that keep every FK
# relationship internally consistent); the tiny dims are copied as-is
SCALE_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "nation": [],
    "region": [],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


# ---------------------------------------------------------------- shared


def _tables(spark) -> dict[str, bool]:
    return {t.name: t.isTemporary for t in spark.catalog.listTables()}


@contextlib.contextmanager
def _isolated(spark):
    """The one cleanup rule between queries: yields a dict that gets the
    session diff of the block (``confs_added``: keys set or changed,
    None for a key removed; ``views_added``: tables and views), then
    puts the session back: the added tables dropped, the confs
    restored, the cache cleared, every persisted RDD (lingering
    localCheckpoints) unpersisted and a Python and a JVM GC run, so no
    query's number carries an earlier query's state."""
    confs, tables = dict(spark.conf.getAll), _tables(spark)
    diff: dict = {}
    try:
        yield diff
    finally:
        now = dict(spark.conf.getAll)
        diff["confs_added"] = {
            k: now.get(k) for k in sorted(set(now) | set(confs))
            if now.get(k) != confs.get(k)
        }
        now_tables = _tables(spark)
        diff["views_added"] = sorted(set(now_tables) - set(tables))
        for name in diff["views_added"]:
            if now_tables[name]:
                spark.catalog.dropTempView(name)
            else:
                spark.sql(f"DROP TABLE IF EXISTS {name}")
        for k in diff["confs_added"]:
            if confs.get(k) is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, confs[k])
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        gc.collect()
        spark._jvm.System.gc()


def _warm_up(spark, sf_dir: str) -> float:
    """Absorb one-time costs outside every measured query: Python
    worker start, JIT and codegen, and the co-purchase edge scratch
    that every graph op reads (built once per application and
    fixture). Returns its seconds."""
    from infofarmsparkml_spark import registry

    t = time.time()
    spark.range(1000).mapInPandas(lambda it: it, "id long").collect()
    registry.get("graph_degree")[0](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    return round(time.time() - t, 2)


def _noop_sec(fn, spark, sf_dir: str) -> float:
    t = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.time() - t, 2)


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


# -------------------------------------------------------------- contract


def normalize_plan(plan: str, scratch_root: str) -> str:
    # Spark names the root <tmp>/spark-<uuid>/userFiles-<uuid>, and a
    # Location longer than spark.sql.maxMetadataStringLength is cut off
    # mid-root, so the pattern matches any cut of it
    tmp = os.path.dirname(os.path.dirname(scratch_root))
    root = re.escape(tmp) + r"/spark-[0-9a-f-]*(?:/userFiles-[0-9a-f-]*)?"
    plan = re.sub(root, SCRATCH_TOKEN, plan)
    for pattern, repl in PLAN_NORMALIZE:
        plan = re.sub(pattern, repl, plan)
    return plan


def _contract_query(spark, fn, oracle, con, sf_dir, scratch_root) -> dict:
    from infofarmsparkml_spark.plans import explain_str, plan_nodes
    from infofarmsparkml_spark.verify import canon_frame, compare_frames

    sc = spark.sparkContext
    rec: dict = {"oracle_md5": _md5(oracle) if oracle else None}
    group = f"contract-{uuid.uuid4().hex}"
    t = time.time()
    try:
        sc.setJobGroup(group, "contract build")
        try:
            df = fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        rec["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        rec["schema"] = df.schema.simpleString()
        # explained and walked before it runs: an executed adaptive
        # plan holds its final, statistics-dependent form
        plan = normalize_plan(explain_str(df, "simple"), scratch_root)
        rec["plan"], rec["plan_md5"] = plan, _md5(plan)
        counts, rec["arrow_udfs"] = plan_nodes(df)
        rec["nodes"] = {k: counts[k] for k in NODES if counts[k]}
        pdf = df.toPandas()
        cols, rows = canon_frame(pdf)
        rec["rows"] = int(len(pdf))
        rec["rows_md5"] = _md5(json.dumps([cols, sorted(str(r) for r in rows)]))
        if oracle:
            ok, msg = compare_frames(pdf, con.execute(oracle).fetchdf())
            rec.update(ok=bool(ok), kind="sql_oracle", msg=str(msg)[:200])
        else:
            rec.update(ok=True, kind="rows_only", msg=f"rows-only ({len(pdf)})")
    except Exception as e:  # noqa: BLE001 — record it, keep sweeping
        rec.update(ok=False, kind="error", rows=None,
                   msg=f"{type(e).__name__}: {e}"[:200])
    rec["sec"] = round(time.time() - t, 2)
    return rec


def contract(out: str, sf_dirs: list[str], names: list[str]) -> int:
    from pyspark import SparkFiles
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("contract")
        .config("spark.ui.enabled", "false")
        # print scan metadata uncut: the default 100-character cut falls
        # at a place that moves with the width of the expression ids
        .config("spark.sql.maxMetadataStringLength", str(1 << 20))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from infofarmsparkml_spark.verify import duck_connect

    if not E.entry(spark).collect():
        raise SystemExit("entry() returned no rows")
    qs, oracles = E.queries(), E.oracle_sql()
    names = names or sorted(qs)
    scratch_root = SparkFiles.getRootDirectory()
    snapshot = {
        "session": {"master": spark.sparkContext.master,
                    "spark": spark.version, "app": "vanilla SparkSession"},
        "plan_normalize": PLAN_NORMALIZE + [
            ["SparkFiles.getRootDirectory(), or any cut of it", SCRATCH_TOKEN]
        ],
        "fixtures": {},
    }
    status = 0
    for sf_dir in sf_dirs:
        load_start = round(os.getloadavg()[0], 2)
        con = duck_connect(sf_dir)
        warm_sec = _warm_up(spark, sf_dir)
        results: dict[str, dict] = {}
        t0 = time.time()
        for name in names:
            with _isolated(spark) as diff:
                rec = _contract_query(
                    spark, qs[name], oracles.get(name), con, sf_dir, scratch_root
                )
            results[name] = {**rec, **diff}
            print(f"{'PASS' if rec['ok'] else 'FAIL'} "
                  f"{os.path.basename(sf_dir)} {name}: {rec['msg']}", flush=True)
        fails = [n for n, r in results.items() if not r["ok"]]
        snapshot["fixtures"][os.path.basename(os.path.normpath(sf_dir))] = {
            "sf_dir": sf_dir,
            # the host's speed swings ~1.5x for identical code, so every
            # wall number carries its load context
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": round(os.getloadavg()[0], 2),
            "warm_sec": warm_sec,
            "n_queries": len(names),
            "n_sql_oracled": sum(1 for n in names if n in oracles),
            "n_pass": len(names) - len(fails),
            "n_fail": len(fails),
            "fails": fails,
            "total_sec": round(time.time() - t0, 1),
            "queries": results,
        }
        print(f"{sf_dir}: {len(names) - len(fails)}/{len(names)} pass", flush=True)
        status |= bool(fails)
    _write_json(out, snapshot)
    print(f"-> {out}")
    return status


def contract_diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)["fixtures"]
    with open(b_path) as f:
        b = json.load(f)["fixtures"]
    lines = []
    for fx in sorted(set(a) | set(b)):
        qa = a.get(fx, {}).get("queries", {})
        qb = b.get(fx, {}).get("queries", {})
        for name in sorted(set(qa) | set(qb)):
            if name not in qb:
                lines.append(f"{fx} {name}: removed")
            elif name not in qa:
                lines.append(f"{fx} {name}: added")
            else:
                for field in sorted(set(qa[name]) | set(qb[name])):
                    va, vb = qa[name].get(field), qb[name].get(field)
                    if field not in NOT_COMPARED and va != vb:
                        lines.append(f"{fx} {name} {field}: "
                                     f"{json.dumps(va)} -> {json.dumps(vb)}")
    for line in lines:
        print(line)
    return 1 if lines else 0


# --------------------------------------------------------------- profile


def _profile_chunk(sf_dir: str, names: list[str]) -> dict:
    from infofarmsparkml_spark import registry
    from infofarmsparkml_spark.session import get_spark

    spark = get_spark("measure-profile")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"warm_sec": _warm_up(spark, sf_dir), "times": {}, "rows": {}}
    qs = registry.queries()
    for name in names:
        with _isolated(spark):
            t = time.time()
            try:
                out["rows"][name] = len(qs[name](spark, sf_dir).collect())
            except Exception as e:  # noqa: BLE001
                out["rows"][name] = -1
                print(f"ERR {name}: {type(e).__name__}: {e}", flush=True)
            out["times"][name] = round(time.time() - t, 2)
    return out


def profile(sf_dir: str, out: str, chunk: int, names: list[str]) -> int:
    from concurrent.futures import ProcessPoolExecutor
    from concurrent.futures.process import BrokenProcessPool
    from multiprocessing import get_context

    if not names:
        from infofarmsparkml_spark import registry

        names = sorted(registry.queries())
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    warm: list[float] = []
    t0 = time.time()
    step = chunk if chunk > 0 else len(names)
    for i in range(0, len(names), step):
        part = names[i : i + step]
        if chunk <= 0:
            got = _profile_chunk(sf_dir, part)
        else:
            # a fresh interpreter, so a fresh JVM, per chunk
            try:
                with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as ex:
                    got = ex.submit(_profile_chunk, sf_dir, part).result()
            except BrokenProcessPool:  # killed mid-chunk (OOM)
                got = {"warm_sec": None, "times": {}, "rows": {}}
        warm.append(got["warm_sec"])
        times.update(got["times"])
        rows.update(got["rows"])
        for name in part:
            if name not in times:
                times[name], rows[name] = -1.0, -1
                print(f"ERR {name}: child JVM died", flush=True)
        print(f"# {len(times)}/{len(names)} done", flush=True)
    total = round(time.time() - t0, 1)
    _write_json(out, {
        "sf_dir": sf_dir, "total_sec": total, "chunk": chunk,
        "note": f"each query's collect, with the _isolated cleanup between "
        f"queries; a fresh JVM every {chunk} queries (0: one JVM); total_sec "
        "includes the per-chunk session starts and warm-ups, per-query "
        "times do not",
        "warm_sec": warm, "loadavg_1m": round(os.getloadavg()[0], 2),
        "times": times, "rows": rows,
    })
    for name, sec in sorted(times.items(), key=lambda kv: -kv[1])[:25]:
        print(f"{sec:7.2f}s {name} ({rows[name]} rows)")
    print(f"total {total}s over {len(times)} queries -> {out}")
    return 1 if any(v < 0 for v in rows.values()) else 0


# ----------------------------------------------------------------- scale


def _decorrelate_embedding(F):
    """Per-copy embedding perturbation that makes the copies
    directionally independent, as real disjoint shards are. Shrinking
    the shared component (x0.5) and adding hash noise at ~2.3x the
    residual signal scale (uniform [-0.25, 0.25]) drops cross-copy
    cosine from ~0.997 to ~0.15, so SRP-LSH puts the copies in
    independent buckets and candidate pairs grow linearly with the
    copy count, not with its square. The noise keys on the
    (copy-shifted) vec_id and the component index through Murmur3: a
    linear mix has a lattice (only 501 distinct noise vectors), which
    planted ~400-member phantom clone classes at 100 copies
    (PAIRMASS_r14.json)."""
    return F.transform(
        "embedding",
        lambda x, j: (
            x * 0.5
            + (
                F.pmod(F.hash(F.col("vec_id"), j), F.lit(501)).cast("double")
                / 1000.0
                - 0.25
            ).cast("float")
        ).cast("float"),
    )


def build_copies(spark, src: str, dst: str, copies: int) -> None:
    """``copies`` disjoint copies of the fixture at ``src`` under
    ``dst``: every key column shifted by ``copy * (max_key + 1)`` and
    kept at its type, each document token suffixed with its copy (a
    bijective token map, so cross-copy shingle sets are disjoint while
    within-copy similarity is intact) and each embedding decorrelated.
    One ``crossJoin(range(copies))`` per table keeps the plan flat at
    any copy count. Tables already built are kept."""
    from pyspark.sql import functions as F

    os.makedirs(dst, exist_ok=True)
    for table, keys in SCALE_KEYS.items():
        out = f"{dst}/{table}.parquet"
        if os.path.exists(out):
            continue
        df = spark.read.parquet(f"{src}/{table}.parquet")
        if keys:
            maxes = df.agg(*[F.max(k).alias(k) for k in keys]).collect()[0]
            ci = F.col("_ci")
            df = df.crossJoin(spark.range(copies).select(F.col("id").alias("_ci")))
            for k in keys:
                df = df.withColumn(
                    k, (F.col(k) + ci * (int(maxes[k]) + 1)).cast(
                        df.schema[k].dataType
                    )
                )
            if table == "documents":
                df = df.withColumn("text", F.regexp_replace(
                    "text", F.lit(r"(\S+)"),
                    F.concat(F.lit("$1c"), ci.cast("string")),
                ))
            if table == "embeddings":
                df = df.withColumn("embedding", _decorrelate_embedding(F))
            df = df.drop("_ci")
        df.write.mode("overwrite").parquet(out)
        print(f"# built {table} x{copies}", file=sys.stderr)


def scale(rnd: str, copies: list[int], names: list[str]) -> int:
    from infofarmsparkml_spark import registry
    from infofarmsparkml_spark.session import DEFAULT_SF_DIR, get_spark

    spark = get_spark(app_name="measure-scale")
    spark.sparkContext.setLogLevel("ERROR")
    scales = [("sf0.1", DEFAULT_SF_DIR)]
    t0 = time.time()
    for c in copies:
        label = f"sf{c * 0.1:g}"
        dst = os.path.join(tempfile.gettempdir(), f"infofarmsparkml_{label}")
        build_copies(spark, DEFAULT_SF_DIR, dst, c)
        scales.append((label, dst))
    build_sec = round(time.time() - t0, 2)
    names = names or SCALE_OPS["one_decade" if len(copies) == 1 else "two_decade"]
    warm = {label: _warm_up(spark, sf_dir) for label, sf_dir in scales}
    results: dict[str, dict] = {}
    for name in names:
        fn, _ = registry.get(name)
        row: dict = {}
        for label, sf_dir in scales:
            with _isolated(spark):
                row[f"{label}_sec"] = _noop_sec(fn, spark, sf_dir)
        secs = [row[f"{label}_sec"] for label, _ in scales]
        ratios = [round(b / max(a, 1e-9), 2) for a, b in zip(secs, secs[1:])]
        if len(ratios) == 1:
            row["ratio"] = ratios[0]
        else:
            row.update({f"ratio_d{i + 1}": r for i, r in enumerate(ratios)})
        if name in SCALE_NOTES:
            row["note"] = SCALE_NOTES[name]
        results[name] = row
        print(f"# {name}: {row}", file=sys.stderr)
    out = {
        "copies": copies,
        "note": "each scale after sf0.1 is COPIES disjoint key-shifted "
        "copies of sf0.1; near-linear = each ratio ~<= the copy-count "
        "step. warm_sec (Python workers, JIT, the co-purchase edge "
        "scratch) is kept out of every op's time.",
        "warm_sec": warm,
        "fixture_build_sec": build_sec,
        "python_peak_rss_gb": round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6, 2
        ),
        "spark_driver_mem": spark.conf.get("spark.driver.memory"),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "ops": results,
    }
    path = os.path.join(ROOT, f"SCALE_SMOKE_r{rnd}.json")
    _write_json(path, out)
    print(f"-> {path}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("contract", help="OUT SF_DIR... [NAME...]")
    c.add_argument("args", nargs="*")
    c.add_argument("--diff", nargs=2, metavar=("A", "B"))
    p = sub.add_parser("profile", help="SF_DIR OUT [CHUNK] [NAME...]")
    p.add_argument("sf_dir")
    p.add_argument("out")
    p.add_argument("rest", nargs="*")
    s = sub.add_parser("scale", help="ROUND COPIES... [NAME...]")
    s.add_argument("round")
    s.add_argument("rest", nargs="+")
    a = ap.parse_args(argv)
    if a.cmd == "contract" and a.diff:
        return contract_diff(*a.diff)
    # Python workers import the engine through the PYTHONPATH they inherit
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")])
    )
    if a.cmd == "contract":
        if len(a.args) < 2:
            c.error("contract needs OUT and at least one SF_DIR")
        dirs = [x for x in a.args[1:] if os.path.isdir(x)]
        return contract(a.args[0], dirs, [x for x in a.args[1:] if x not in dirs])
    if a.cmd == "profile":
        chunk = int(a.rest[0]) if a.rest and a.rest[0].isdigit() else 40
        names = a.rest[1:] if a.rest and a.rest[0].isdigit() else a.rest
        return profile(a.sf_dir, a.out, chunk, names)
    copies = [int(x) for x in a.rest if x.isdigit()]
    return scale(a.round, copies, [x for x in a.rest if not x.isdigit()])


if __name__ == "__main__":
    raise SystemExit(main())
