#!/usr/bin/env python3
"""Layer-split benchmark of the engine's registered queries.

Run from the repository root:

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 14 --trace 0

One process drives one Spark session on ``local[<cpus>]`` as a single
closed-loop client: it runs the workload's queries one after another,
each built by its registry callable and written to the ``noop`` sink.

A run
1. makes a fresh run directory under ``.perfbench_run/`` that holds
   TMPDIR, SPARK_LOCAL_DIRS, the warehouse and the fixture, so no
   scratch output or write-once cache survives from an earlier run; the
   directory is removed at exit;
2. sets up once, cold, as the program's first start does: ``get_spark``
   (pyspark import and JVM launch) plus the first ``registry.queries()``
   (every operator module's import), in an interpreter that has not yet
   imported pyspark or the engine. That is ``setup_s``;
3. generates a synthetic fixture from ``--seed`` (``gen.py``);
4. checks every query once against its DuckDB oracle, untimed. This is
   also the warmup pass that absorbs JIT and first-call
   materialization;
5. runs whole passes over the queries, each in an order drawn from the
   seed. ``--seconds`` buys ``round(seconds / PASS_S)`` passes, at least
   one: a fixed count, so every run of a workload pools the same
   number of samples from the same pass positions.

With ``--trace 0`` it reports the end-to-end metrics. With ``--trace 1``
it then runs one traced pass (``layers.py``) and reports the
per-layer metrics of that pass; ``trace.overhead_s`` is the traced
pass minus the untraced pass before it.

The last stdout line is the result JSON. The line before it is a
report with the run context: cpus, master, driver memory, 1-minute
load average at start and end, sample counts and any failure text.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "infofarmsparkml_spark"
# Synthetic fixture scale: lineitem has 6M * SF rows. Per-query fixed
# cost (driver-side construction, scheduling, micro-batches) dominates
# from here up to sf0.1, and a small fixture keeps the untimed oracle
# check short enough for the run budget.
SF = 0.02

# Length of one warm pass on a 4-core host, in seconds; sets how many
# passes --seconds buys.
PASS_S = {"olap_headline": 8.5, "write_stream": 10.0}

WORKLOADS = {
    "olap_headline": None,  # bench.HEADLINE, read at start-up
    # stream_stream_join and sink_zorder are left out: together they
    # add ~18 s to a run (cold check plus one pass), more than the run
    # budget leaves; sink_bucketed covers the same sort-then-write path
    # as sink_zorder. The dedup and graph queries (llm_*_dedup,
    # graph_pagerank, graph_sssp_weighted) have no workload: at ~25 s
    # a pass, a third workload does not fit the run budget.
    "write_stream": [
        "sink_parquet",
        "sink_bucketed",
        "etl_partition_overwrite",
        "etl_compact_small_files",
        "etl_merge_upsert",
        "stream_tumbling",
        "stream_dedup",
        "stream_file_sink_exactly_once",
        "stream_stateful_tws",
    ],
}

# Which end-to-end metric each per-layer metric should move, and where.
LAYER_TARGETS = {
    "session.start_s": "setup_s, every workload",
    "registry.import_s": "setup_s, every workload",
    "catalog.load_table.calls": "pass_s, query_p50_s on olap_headline",
    "catalog.load_table.s": "pass_s, query_p50_s on olap_headline",
    "catalog.load_table.jobs": "pass_s, query_p50_s on olap_headline",
    "operators.build.s": "pass_s on write_stream",
    "operators.build.jobs": "pass_s on write_stream",
    "operators.build.stages": "pass_s on write_stream",
    "operators.build.tasks": "pass_s on write_stream",
    "plan.s": "query_p50_s on olap_headline",
    "exec.s": "pass_s on olap_headline",
    "exec.jobs": "pass_s on olap_headline",
    "exec.stages": "pass_s on olap_headline",
    "exec.tasks": "pass_s on olap_headline",
    "stages.shuffle_write_bytes": "pass_s, query_tail_s on olap_headline",
    "stages.shuffle_read_bytes": "pass_s, query_tail_s on olap_headline",
    "stages.spill_bytes": "pass_s, query_tail_s on olap_headline",
    "stages.input_bytes": "pass_s on olap_headline",
    "stages.output_bytes": "pass_s on write_stream",
    "stages.executor_cpu_s": "pass_s, every workload",
    "stages.failed_tasks": "ok_frac, every workload",
    "streaming.batches": "pass_s on write_stream",
    "streaming.batch_s": "pass_s on write_stream",
    "streaming.input_rows": "pass_s on write_stream",
    "streaming.state_rows": "pass_s, jvm_peak_rss_mb on write_stream",
    "verify.checked": "ok_frac, every workload",
    "verify.failed": "ok_frac, every workload",
    "verify.s": "none (outside the timed region)",
    "trace.overhead_s": "none (traced minus untraced pass_s)",
}


_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"# {time.perf_counter() - _START:6.1f}s {msg}", file=sys.stderr, flush=True)


def driver_memory_mb() -> int:
    """A quarter of the host's memory, at most 1 GiB: ample for the
    fixture, and small enough to leave the host's memory to others."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(1024, total_kb // 1024 // 4)


def isolate(run_dir: str) -> None:
    """Send every scratch path of the engine, Spark and its Python
    workers into ``run_dir`` and let the workers import the package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # With the fixed heap (-Xms) this keeps the JVM's VmHWM within ~2%
    # from run to run; with a growing heap and default arenas it spread
    # by a quarter.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    tempfile.tempdir = None
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def spark_conf(run_dir: str, mem_mb: int) -> dict[str, str]:
    return {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData -Xms{mem_mb}m"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the tracer resolves every job and stage of a pass after it ends
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def setup_once(cpus: int, conf: dict[str, str]):
    """get_spark plus the first registry.queries(), each timed."""
    t0 = time.perf_counter()
    from infofarmsparkml_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    t1 = time.perf_counter()
    from infofarmsparkml_spark import registry

    qs = registry.queries()
    t2 = time.perf_counter()
    return spark, qs, t1 - t0, t2 - t1


def verify_pass(spark, qs, oracles, names, data_dir) -> tuple[float, list[str]]:
    """Run each query once, compare with its DuckDB oracle; (secs, failures)."""
    from infofarmsparkml_spark.verify import compare_frames, duck_connect

    con = duck_connect(data_dir)
    failures: list[str] = []
    t0 = time.perf_counter()
    for name in names:
        t_q = time.perf_counter()
        try:
            ok, msg = compare_frames(
                qs[name](spark, data_dir).toPandas(),
                con.execute(oracles[name]).fetchdf(),
            )
        except Exception as e:  # noqa: BLE001 - a failure is a result here
            ok, msg = False, f"{type(e).__name__}: {e}"
        log(f"verify {name} {time.perf_counter() - t_q:.2f}s {'ok' if ok else 'FAIL'}")
        if not ok:
            failures.append(f"{name}: {msg[:300]}")
            log(f"verify FAIL {name}: {msg[:300]}")
    con.close()
    return time.perf_counter() - t0, failures


def run_query(spark, name, fn, data_dir, tracer=None) -> None:
    if tracer is None:
        fn(spark, data_dir).write.format("noop").mode("overwrite").save()
        return
    with tracer.span("build", name):
        df = fn(spark, data_dir)
    with tracer.span("plan", name):
        df._jdf.queryExecution().executedPlan()
    with tracer.span("exec", name):
        df.write.format("noop").mode("overwrite").save()


def measure(spark, qs, names, data_dir, rng, passes, tracer=None):
    """Run ``passes`` passes, each over every query in a fresh seeded order.

    Returns (pass wall times, latencies by query, failure texts)."""
    pass_times: list[float] = []
    lat: dict[str, list[float]] = {n: [] for n in names}
    failures: list[str] = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            t0 = time.perf_counter()
            try:
                run_query(spark, name, qs[name], data_dir, tracer)
                lat[name].append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                log(f"FAIL {name}: {e}")
        pass_times.append(time.perf_counter() - t_pass)
    return pass_times, lat, failures


def quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-quantile (0 < p < 1).

    A Beta-weighted mean of all order statistics. A run pools a few
    dozen latencies from queries of very different cost, so any single
    order statistic jumps from one query to another between runs; the
    weighted mean does not."""
    import numpy as np

    x = np.sort(np.asarray(samples, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)
    mid = (grid[1:] + grid[:-1]) / 2
    log_pdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    w = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1]))
    return float(w @ x)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that still has at
    least ten samples above it; the maximum with ten samples or fewer."""
    n = len(samples)
    if n <= 10:
        return max(samples), 100.0
    p = (n - 10) / n
    return quantile(samples, p), 100.0 * p


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies from /proc/stat; steal is time the host gave
    this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc = gateway.proc
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Fail before any work when the engine is not in the working dir.
    # Nothing imports pyspark or the engine before the set-ups.
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import bench

    if importlib.util.find_spec(PKG) is None:
        raise SystemExit(f"no {PKG} package in {ROOT}")

    names = WORKLOADS[args.workload] or list(bench.HEADLINE)
    cpus = len(os.sched_getaffinity(0))
    mem_mb = driver_memory_mb()
    load_start = os.getloadavg()[0]

    # A terminated run still stops its JVM and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    spark = None
    try:
        isolate(run_dir)
        conf = spark_conf(run_dir, mem_mb)
        spark, qs, start_s, import_s = setup_once(cpus, conf)
        spark.sparkContext.setLogLevel("ERROR")
        log(f"set up in {start_s + import_s:.2f}s")

        import gen

        data_dir = os.path.join(run_dir, "data")
        gen.write_fixture(data_dir, args.seed, SF)
        log("fixture written")
        from infofarmsparkml_spark import registry

        oracles = registry.oracle_sql()
        missing = [n for n in names if n not in oracles]
        if missing:
            raise SystemExit(f"queries without an oracle: {missing}")

        rng = random.Random(args.seed)
        warm_order = list(names)
        rng.shuffle(warm_order)
        verify_s, verify_fail = verify_pass(spark, qs, oracles, warm_order, data_dir)
        log(f"verify {verify_s:.1f}s, {len(verify_fail)} failed")

        passes = max(1, round(args.seconds / PASS_S[args.workload]))
        all0, steal0 = cpu_ticks()
        pass_times, lat, fails = measure(spark, qs, names, data_dir, rng, passes)
        all1, steal1 = cpu_ticks()
        samples = [x for v in lat.values() for x in v]
        attempted = len(names) + len(samples) + len(fails)
        failed = len(verify_fail) + len(fails)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "sf": SF,
            "cpus": cpus,
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "passes": passes,
            "query_samples": len(samples),
            "query_median_s": {n: statistics.median(v) for n, v in lat.items() if v},
            "failures": verify_fail + fails,
            "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, all1 - all0),
        }
        log(f"passes: {[round(t, 2) for t in pass_times]}")
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
            tracer.install()
            traced_times, traced_lat, traced_fails = measure(
                spark, qs, names, data_dir, rng, 1, tracer
            )
            tracer.uninstall()
            attempted += sum(map(len, traced_lat.values())) + len(traced_fails)
            failed += len(traced_fails)
            report["failures"] += traced_fails
            metrics = {
                "session.start_s": metric(start_s, "s"),
                "registry.import_s": metric(import_s, "s"),
            }
            units = {".s": "s", "_s": "s", "bytes": "bytes", "rows": "rows"}
            for k, v in tracer.layer_metrics().items():
                unit = next((u for sfx, u in units.items() if k.endswith(sfx)), "count")
                metrics[k] = metric(v, unit)
            metrics["verify.checked"] = metric(len(names), "count")
            metrics["verify.failed"] = metric(len(verify_fail), "count")
            metrics["verify.s"] = metric(verify_s, "s")
            # Below zero when the JVM still warms between passes by more
            # than the spans cost.
            metrics["trace.overhead_s"] = metric(
                traced_times[0] - pass_times[-1], "s"
            )
            report["layer_targets"] = LAYER_TARGETS
            report["layer_s_by_query"] = tracer.by_query
        else:
            tail_s, tail_pct = tail(samples)
            report["query_tail_percentile"] = tail_pct
            metrics = {
                "setup_s": metric(start_s + import_s, "s"),
                "pass_s": metric(statistics.median(pass_times), "s"),
                "query_p50_s": metric(quantile(samples, 0.5), "s"),
                "query_tail_s": metric(tail_s, "s"),
                "ok_frac": metric(1.0 - failed / attempted, "ratio"),
                "jvm_peak_rss_mb": metric(jvm_peak_rss_mb(spark), "MB"),
            }
        report["loadavg_1m_start"] = load_start
        report["loadavg_1m_end"] = os.getloadavg()[0]
        stop(spark)
        spark = None
        log("JVM stopped")
    finally:
        try:
            if spark is not None:
                stop(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass  # another run still uses it
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
