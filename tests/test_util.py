"""Tests for operators/_util.py helpers.

Most are filesystem-level tests of the caching helpers, covering the
``materialize_once`` hazards flagged in ADVICE r7/r8: a crash-orphaned
partial dir (exists, no _SUCCESS) must be replaced — not served — and
the writer's temp dir must never leak, including when ``write_fn``
itself raises. Pure-filesystem tests: write_fn stands in for a Spark
sink by creating a dir with part files and a _SUCCESS marker.
"""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from infofarmsparkml_spark.operators._util import materialize_once, sum_cents


def _fake_sink(content: str):
    """A write_fn that mimics a Spark parquet sink's layout."""

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-00000"), "w") as f:
            f.write(content)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return write


def _read(path: str) -> str:
    with open(os.path.join(path, "part-00000")) as f:
        return f.read()


def test_materialize_once_writes_then_caches(tmp_path):
    path = str(tmp_path / "cache")
    calls = []

    def write(tmp):
        calls.append(tmp)
        _fake_sink("v1")(tmp)

    assert materialize_once(path, write) == path
    assert _read(path) == "v1"
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # second call: _SUCCESS short-circuits, write_fn not invoked
    materialize_once(path, write)
    assert len(calls) == 1
    # no leaked temp siblings
    assert os.listdir(tmp_path) == ["cache"]


def test_materialize_once_replaces_orphaned_partial_dir(tmp_path):
    """A dir at ``path`` WITHOUT _SUCCESS is a crashed writer's
    partial output: it must be replaced by the fresh write, never
    returned as-is (the pre-fix code treated any rename failure as
    a lost race and served the partial dir)."""
    path = str(tmp_path / "cache")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000"), "w") as f:
        f.write("PARTIAL")  # no _SUCCESS alongside

    assert materialize_once(path, _fake_sink("fresh")) == path
    assert _read(path) == "fresh"
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # the contended path leaves the flock file behind by design
    assert sorted(os.listdir(tmp_path)) == ["cache", "cache.lock"]


def test_materialize_once_lost_race_is_cache_hit(tmp_path):
    """If a concurrent writer publishes a complete dir between our
    write and our rename, the rename failure is a cache hit: the
    winner's content is served and our temp copy is removed."""
    path = str(tmp_path / "cache")

    def write(tmp):
        # simulate the interleaving: the rival completes first
        _fake_sink("winner")(path)
        _fake_sink("loser")(tmp)

    assert materialize_once(path, write) == path
    assert _read(path) == "winner"
    # loser tmp cleaned; the contended path leaves the flock file
    assert sorted(os.listdir(tmp_path)) == ["cache", "cache.lock"]


def test_materialize_once_cleans_tmp_on_write_failure(tmp_path):
    """write_fn raising must not leak its temp dir or publish
    anything at ``path``."""
    path = str(tmp_path / "cache")

    def write(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-00000"), "w") as f:
            f.write("junk")
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError, match="executor lost"):
        materialize_once(path, write)
    assert not os.path.exists(path)
    assert os.listdir(tmp_path) == []  # tmp removed


def test_materialize_once_orphan_renamed_aside_under_lock(tmp_path):
    """The TOCTOU fixes (ADVICE r9 + r10): an orphaned partial
    TARGET dir is never rmtree'd in place — it is renamed aside
    (renames cannot destroy a rival's just-published part files the
    way an in-place rmtree could, since POSIX rename succeeds onto
    an empty orphan) — and that rename-aside happens only while
    holding the exclusive flock. Recorded by interleaving-order
    instrumentation on flock, rename, and rmtree."""
    import shutil

    import infofarmsparkml_spark.operators._util as util

    path = str(tmp_path / "cache")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000"), "w") as f:
        f.write("PARTIAL")  # orphaned partial: forces the locked path

    events = []
    import fcntl

    real_flock, real_rename, real_rmtree = fcntl.flock, os.rename, shutil.rmtree

    def spy_flock(fd, op):
        if op == fcntl.LOCK_EX:
            events.append("lock")
        return real_flock(fd, op)

    def spy_rename(src, dst, *a, **k):
        if str(src) == path and ".orphan-" in str(dst):
            events.append("rename_aside")
        return real_rename(src, dst, *a, **k)

    def spy_rmtree(p, *a, **k):
        if str(p) == path:
            events.append("rmtree_target")
        return real_rmtree(p, *a, **k)

    fcntl.flock, os.rename, shutil.rmtree = spy_flock, spy_rename, spy_rmtree
    try:
        assert util.materialize_once(path, _fake_sink("fresh")) == path
    finally:
        fcntl.flock, os.rename, shutil.rmtree = (
            real_flock, real_rename, real_rmtree,
        )
    assert "rmtree_target" not in events  # target is never deleted in place
    assert "rename_aside" in events
    assert events.index("lock") < events.index("rename_aside")
    assert _read(path) == "fresh"
    # the aside copy was cleaned up, not leaked
    assert not [e for e in os.listdir(tmp_path) if ".orphan-" in e]


def test_materialize_once_persistent_partial_raises(tmp_path):
    """If the target keeps reappearing as a partial dir (pathological
    filesystem state), the last OSError propagates instead of the
    partial dir being silently served."""
    path = str(tmp_path / "cache")

    real_rename = os.rename

    def hostile_rename(src, dst, *a, **k):
        if dst == path:
            # someone keeps recreating a partial dir at the target
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "part-00000"), "w") as f:
                f.write("PARTIAL")
            raise OSError(39, "Directory not empty")
        return real_rename(src, dst, *a, **k)

    os.rename = hostile_rename
    try:
        with pytest.raises(OSError):
            materialize_once(path, _fake_sink("v1"))
    finally:
        os.rename = real_rename
    # our tmp never leaks even on the failure path
    assert [e for e in os.listdir(tmp_path) if ".tmp-" in e] == []


def test_materialize_once_multiprocess_stress(tmp_path):
    """True cross-process race (the unit tests above simulate
    interleavings in-process): 8 writers hammer the same path
    concurrently — starting from a planted orphaned-partial dir so
    the contended flock path is actually exercised — while a reader
    continuously asserts the publish invariant: whenever _SUCCESS
    exists, the part file is present and complete. Pre-fix code
    could briefly unpublish a complete dir (ADVICE r9 TOCTOU); the
    reader would catch that as a missing/partial part file."""
    import multiprocessing as mp
    import time

    path = str(tmp_path / "cache")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000"), "w") as f:
        f.write("PARTIAL")  # no _SUCCESS: every writer sees an orphan

    payload = "x" * 4096

    def writer(barrier, errs):
        try:
            barrier.wait(timeout=30)
            got = materialize_once(path, _fake_sink(payload))
            with open(os.path.join(got, "part-00000")) as f:
                assert f.read() == payload
        except Exception as e:  # pragma: no cover - failure reporting
            errs.put(repr(e))

    def reader(stop, errs):
        try:
            while not stop.is_set():
                if os.path.exists(os.path.join(path, "_SUCCESS")):
                    # published ⇒ content must be complete, always
                    with open(os.path.join(path, "part-00000")) as f:
                        assert f.read() == payload
                time.sleep(0.001)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.put("reader: " + repr(e))

    ctx = mp.get_context("fork")
    errs = ctx.Queue()
    barrier = ctx.Barrier(8)
    stop = ctx.Event()
    ws = [ctx.Process(target=writer, args=(barrier, errs)) for _ in range(8)]
    rd = ctx.Process(target=reader, args=(stop, errs))
    rd.start()
    for w in ws:
        w.start()
    for w in ws:
        w.join(timeout=60)
    stop.set()
    rd.join(timeout=10)
    failures = []
    while not errs.empty():
        failures.append(errs.get())
    assert not failures, failures
    with open(os.path.join(path, "part-00000")) as f:
        assert f.read() == payload
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_scratch_gc_unlinks_stale_locks_spares_current(tmp_path, monkeypatch):
    """scratch_dir's sibling GC (ADVICE r10/r11): stale-generation
    ``<dir>.lock`` flock files must be unlinked explicitly (rmtree
    is a no-op on plain files, so they used to leak one per fixture
    regeneration forever) — but ONLY when a non-blocking flock
    probe proves nobody holds them: a stale lock still HELD by a
    process violating the forward-only fixture contract must be
    spared, since unlinking it would let two lockers hold "the
    same" lock via different inodes. Everything owned by the
    current generation — the dir, its .lock, .tmp-*, .orphan-*
    siblings — must survive regardless."""
    import fcntl
    import tempfile

    from infofarmsparkml_spark.operators import _util

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    sf = tmp_path / "sfX"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"x")
    current = os.path.basename(_util.scratch_dir("edges", str(sf)))
    base = tmp_path / "infofarmsparkml_scratch"

    stale_dir = base / "edges_sfX_deadbeef00"
    stale_dir.mkdir()
    stale_lock = base / "edges_sfX_deadbeef00.lock"
    stale_lock.write_text("")
    held_lock = base / "edges_sfX_deadbeef11.lock"
    held_lock.write_text("")
    cur_dir = base / current
    cur_dir.mkdir()
    cur_lock = base / f"{current}.lock"
    cur_lock.write_text("")
    cur_tmp = base / f"{current}.tmp-1-abc"
    cur_tmp.mkdir()
    cur_orphan = base / f"{current}.orphan-abc"
    cur_orphan.mkdir()

    with open(held_lock, "r+") as holder:
        fcntl.flock(holder, fcntl.LOCK_EX)  # a live (contract-violating) locker
        assert os.path.basename(_util.scratch_dir("edges", str(sf))) == current
    assert not stale_dir.exists() and not stale_lock.exists()
    assert held_lock.exists(), "held stale lock must be spared by the probe"
    for p in (cur_dir, cur_lock, cur_tmp, cur_orphan):
        assert p.exists(), p
    # released now: the next GC pass may reap it
    assert os.path.basename(_util.scratch_dir("edges", str(sf))) == current
    assert not held_lock.exists()


def test_rotate_slate_policy(tmp_path, monkeypatch):
    """The slate helper's witness-history policy: rows-only records
    (err='no_oracle' with a row count) are CLEAN runs, real errors
    and hash mismatches are failures, and the latest round wins."""
    import json
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    import rotate_slate

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    rows_only = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "spark_rows": 5, "oracle_rows": None,
                 "err": "no_oracle"}
    bad_hash = dict(ok, hash_match=False)
    crashed = dict(rows_only, err="AnalysisException: boom", spark_rows=None)
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"a": ok, "b": rows_only, "c": ok, "d": ok})
    )
    (tmp_path / "CORRECTNESS_r07.json").write_text(
        json.dumps({"c": bad_hash, "d": crashed})
    )
    hist = rotate_slate.witness_history(str(tmp_path))
    assert hist["a"] == (3, True)
    assert hist["b"] == (3, True)   # rows-only ran clean
    assert hist["c"] == (7, False)  # latest round wins; mismatch = fail
    assert hist["d"] == (7, False)  # real error = fail


@pytest.mark.parametrize("gib, heap", [(16, "8g"), (256, "24g")])
def test_driver_mem_default_is_half_the_host_capped(monkeypatch, gib, heap):
    """Without SPARK_DRIVER_MEM the driver heap is half the host's
    physical memory, at most 24g."""
    from infofarmsparkml_spark import session

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._driver_mem_default() == heap


def test_warm_headline_pass_reuses_generated_classes(spark, sf_dir):
    """The session's generated-class cache holds the headline's
    working set: a second pass of the 20 headline queries compiles at
    most a tenth of the classes the first pass compiled. With Spark's
    default cache of 100 entries the warm pass recompiles nearly
    every class. Not exactly 0: tpch_q8 can recompile a few classes
    per run. The cache (a private field of Spark's CodeGenerator) is
    emptied first, so the first pass is cold however much of the
    headline earlier tests ran."""
    import bench

    from infofarmsparkml_spark import registry

    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    cache = generator.getDeclaredField("cache")
    cache.setAccessible(True)
    cache.get(generator.getField("MODULE$").get(None)).invalidateAll()
    qs = registry.queries()

    def compiles_in_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in bench.HEADLINE:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    cold = compiles_in_pass()
    warm = compiles_in_pass()
    assert warm <= cold / 10, (cold, warm)


def test_fact_in_broadcast_range_tracks_session_threshold(spark, sf_dir):
    """The build-side guard must read the SESSION threshold, not a
    hardcoded default (review r13): with auto-broadcast disabled
    (-1 or 0) the coin-flip cannot exist and the guard must stand
    down; with a threshold far above the fixture edge estimate it
    must engage, in every byte form Spark accepts for the conf
    (raw bytes with a trailing 'b', the default's repr, and unit
    suffixes): each form must compare as its byte value against the
    edge estimate. Restores the conf afterwards."""
    from infofarmsparkml_spark.operators._util import _estimated_bytes
    from infofarmsparkml_spark.operators.graph import (
        _copurchase_edges,
        _fact_in_broadcast_range,
    )

    edges = _copurchase_edges(spark, sf_dir)
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    est = _estimated_bytes(edges)
    assert 3 <= est < 3 << 30, est  # "1b" and "1g" land on both sides
    forms = {
        "10485760b": 10 << 20,
        "10MB": 10 << 20,
        "100m": 100 << 20,
        "1g": 1 << 30,
        "512k": 512 << 10,
        "1b": 1,
    }
    try:
        for off in ("-1", "0"):
            spark.conf.set(key, off)
            assert _fact_in_broadcast_range(spark, edges) is False, off
        for form, nbytes in forms.items():
            spark.conf.set(key, form)
            assert _fact_in_broadcast_range(spark, edges) is (
                est < 3 * nbytes
            ), (form, est)
    finally:
        spark.conf.set(key, orig)


def test_scripts_resolve_engine_names():
    """Every engine name a kept script uses must still exist, so an
    engine refactor that orphans a script fails here rather than the
    next time someone runs it. No JVM: the scripts are AST-walked
    (imports inside functions included), never run. Checks each
    ``from infofarmsparkml_spark... import name`` and each
    ``mod.attr`` on a name bound to an engine module."""
    import ast
    import glob
    import importlib
    import types

    pkg = "infofarmsparkml_spark"
    scripts = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
    )
    paths = sorted(glob.glob(os.path.join(scripts, "*.py")))
    assert paths, scripts
    missing = []
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        engine_mods: dict[str, types.ModuleType] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).split(".")[0] == pkg:
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    bound = alias.asname or alias.name
                    try:
                        obj = importlib.import_module(
                            f"{node.module}.{alias.name}"
                        )
                    except ModuleNotFoundError:
                        if not hasattr(mod, alias.name):
                            missing.append(f"{path}: {node.module}.{alias.name}")
                            continue
                        obj = getattr(mod, alias.name)
                    if isinstance(obj, types.ModuleType):
                        engine_mods[bound] = obj
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == pkg and alias.asname:
                        engine_mods[alias.asname] = importlib.import_module(
                            alias.name
                        )
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in engine_mods
                and not hasattr(engine_mods[node.value.id], node.attr)
            ):
                missing.append(f"{path}: {node.value.id}.{node.attr}")
    assert not missing, missing


@pytest.mark.parametrize(
    "values, frac_digits",
    [
        ([2**53 + 1], 6),
        ([-(2**53) - 1, -(2**40), 2], 6),
        ([2**53, 1], 2),
    ],
    ids=["2^53+1-k6", "negative-k6", "two-rows-k2"],
)
def test_sum_cents_exact_beyond_2_53(spark, values, frac_digits):
    """Every sum here is above 2^53 in magnitude, where a long→double
    cast before the division rounds; the result must be the
    correctly-rounded double of the exact decimal quotient."""
    df = spark.createDataFrame([(v,) for v in values], "u long")
    got = df.agg(sum_cents(F.col("u"), "s", frac_digits)).first()["s"]
    assert got == float(str(Decimal(sum(values)) / 10**frac_digits))


def test_sum_cents_long_overflow_raises(spark):
    """The ceiling is long overflow, and it raises instead of wrapping."""
    df = spark.createDataFrame([(2**62,), (2**62,)], "u long")
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        df.agg(sum_cents(F.col("u"), "s", 2)).collect()


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_parquet_footers(spark, sf_dir, scale):
    """``catalog.SCHEMAS`` is the contract the reads rely on instead of
    footer inference, so it must equal what the footers say, at every
    fixture scale (the date columns surface as timestamp_ntz)."""
    from infofarmsparkml_spark.catalog import SCHEMAS, load_table

    sf = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), scale)
    if not os.path.isdir(sf):
        pytest.skip(f"sibling fixture {scale} not generated under {sf}")
    for name in SCHEMAS:
        footer = spark.read.parquet(f"{sf}/{name}.parquet").schema
        assert load_table(spark, sf, name).schema == footer, (scale, name)


def test_declared_tables_load_without_spark_jobs(spark, sf_dir):
    """Loading the nine declared tables starts no Spark job; a footer
    read starts one per table."""
    import uuid

    from infofarmsparkml_spark.catalog import SCHEMAS, load_table

    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"  # fresh, so it holds no job yet
    sc.setJobGroup(group, "load declared tables")
    try:
        for name in SCHEMAS:
            load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert not jobs, f"{len(jobs)} Spark jobs"


def test_declared_schema_wrong_column_type_raises(spark, tmp_path):
    """A file column whose type disagrees with the declared schema is
    not caught when the DataFrame is built: the query raises when it
    executes."""
    import pandas as pd

    from infofarmsparkml_spark import registry

    pd.DataFrame(
        {
            "doc_id": ["1", "2"],  # declared bigint
            "text": ["a bb ccc dddd", "spark joins large tables"],
            "lang": ["en", "en"],
            "source": ["web", "web"],
            "n_chars": [13, 24],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    df = registry.get("fn_array")[0](spark, str(tmp_path))
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        df.collect()


def test_declared_schema_missing_column_reads_null(spark, tmp_path):
    """A column the file lacks reads as NULL without error, and an
    int file column widens to a declared bigint."""
    import numpy as np
    import pandas as pd

    from infofarmsparkml_spark.catalog import load_table

    pd.DataFrame(
        {
            "s_suppkey": np.array([1, 2], dtype="int32"),  # declared bigint
            "s_name": ["x", "y"],
            "s_acctbal": [1.5, 2.5],
        }
    ).to_parquet(tmp_path / "supplier.parquet", index=False)
    rows = load_table(spark, str(tmp_path), "supplier").orderBy("s_suppkey")
    assert [tuple(r) for r in rows.collect()] == [
        (1, "x", None, 1.5),
        (2, "y", None, 2.5),
    ]
