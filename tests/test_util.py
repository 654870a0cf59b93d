"""Tests for operators/_util.py helpers.

The first few cover the scratch helpers. Scratch is per Spark
application and deleted with it, so ``materialize_once`` is a plain
write-once cache: it writes unless ``_SUCCESS`` exists, and a partial
dir left by a failed attempt is overwritten, never served. Those are
filesystem-level tests: write_fn stands in for a Spark sink in
overwrite mode, replacing the dir with part files and a _SUCCESS
marker.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from decimal import Decimal

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from infofarmsparkml_spark.operators._util import materialize_once, sum_cents


def _fake_sink(content: str):
    """A write_fn that mimics a Spark parquet sink in overwrite mode:
    it deletes whatever is at the path, then writes the layout."""

    def write(path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        with open(os.path.join(path, "part-00000"), "w") as f:
            f.write(content)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    return write


def _read(path: str) -> str:
    with open(os.path.join(path, "part-00000")) as f:
        return f.read()


def test_materialize_once_writes_then_caches(tmp_path):
    path = str(tmp_path / "cache")
    calls = []

    def write(p):
        calls.append(p)
        _fake_sink("v1")(p)

    assert materialize_once(path, write) == path
    assert _read(path) == "v1"
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # second call: _SUCCESS short-circuits, write_fn not invoked
    materialize_once(path, write)
    assert len(calls) == 1
    assert os.listdir(tmp_path) == ["cache"]


def test_materialize_once_replaces_orphaned_partial_dir(tmp_path):
    """A dir at ``path`` WITHOUT _SUCCESS is a failed writer's
    partial output: the overwriting write replaces it, and it is
    never returned as-is."""
    path = str(tmp_path / "cache")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000"), "w") as f:
        f.write("PARTIAL")  # no _SUCCESS alongside

    assert materialize_once(path, _fake_sink("fresh")) == path
    assert _read(path) == "fresh"
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert os.listdir(tmp_path) == ["cache"]


def test_materialize_once_cleans_tmp_on_write_failure(tmp_path):
    """A write_fn that raises publishes no _SUCCESS, so the next call
    writes again instead of serving the partial dir."""
    path = str(tmp_path / "cache")

    def write(p):
        os.makedirs(p)
        with open(os.path.join(p, "part-00000"), "w") as f:
            f.write("junk")
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError, match="executor lost"):
        materialize_once(path, write)
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))
    assert materialize_once(path, _fake_sink("fresh")) == path
    assert _read(path) == "fresh"


_CHILD = """
import os
import sys
from infofarmsparkml_spark import registry
from infofarmsparkml_spark.operators._util import scratch_dir
from infofarmsparkml_spark.session import get_spark

spark = get_spark(app_name="scratch-scope-child", cpus=1)
fn, _ = registry.get("sink_parquet")
assert fn(spark, sys.argv[1]).count() > 0
path = scratch_dir("lineitem_by_flag", sys.argv[1])
assert os.path.isdir(path)
print(path)
"""


def test_scratch_is_per_application(spark, sf_dir):
    """Scratch lies under the application's own driver temp dir, so
    two processes never share a path, and Spark deletes it with the
    application: a child process that runs sink_parquet writes
    elsewhere than this session, and its scratch is gone once it
    exits."""
    from pyspark import SparkFiles

    from infofarmsparkml_spark.operators._util import scratch_dir

    mine = scratch_dir("lineitem_by_flag", sf_dir)
    assert os.path.dirname(mine) == SparkFiles.getRootDirectory()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=pypath)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir],
        env=env,
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    theirs = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(theirs) == os.path.basename(mine)
    assert theirs != mine
    assert not os.path.exists(theirs)


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


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_sql_matches_contract():
    """Oracle SQL is contract: the registered query names equal those of
    the committed snapshot (``scripts/measure.py contract``) at every
    fixture, and every oracle text's md5 equals the snapshot's (None
    for a rows-only query). A change to oracle SQL updates
    CONTRACT_r18.json in the same commit. No JVM."""
    import hashlib
    import json

    from infofarmsparkml_spark import registry

    with open(os.path.join(_repo_root(), "CONTRACT_r18.json")) as f:
        fixtures = json.load(f)["fixtures"]
    assert fixtures
    oracles = registry.oracle_sql()
    got = {
        name: hashlib.md5(oracles[name].encode()).hexdigest()
        if name in oracles else None
        for name in registry.queries()
    }
    for fixture, snap in fixtures.items():
        want = {name: r["oracle_md5"] for name, r in snap["queries"].items()}
        assert set(got) == set(want), (fixture, set(got) ^ set(want))
        changed = sorted(n for n in got if got[n] != want[n])
        assert not changed, (fixture, changed)


def test_contract_diff_lists_changed_fields(tmp_path, capsys):
    """``measure.py contract --diff`` prints one line per changed
    (fixture, query, field), one per query added or removed, skips the
    wall time, and exits 1; identical snapshots print nothing, exit 0.
    No JVM."""
    import json
    import sys

    sys.path.insert(0, os.path.join(_repo_root(), "scripts"))
    import measure

    rec = {"ok": True, "rows_md5": "r1", "plan_md5": "p1", "sec": 1.5}
    a = {"same": rec, "plan": rec, "gone": rec}
    b = {"same": dict(rec, sec=9.0), "plan": dict(rec, plan_md5="p2"), "new": rec}
    paths = []
    for tag, queries in (("a", a), ("b", b)):
        paths.append(str(tmp_path / f"{tag}.json"))
        with open(paths[-1], "w") as f:
            json.dump({"fixtures": {"sf0.001": {"queries": queries}}}, f)
    assert measure.main(["contract", "--diff", *paths]) == 1
    assert capsys.readouterr().out.splitlines() == [
        "sf0.001 gone: removed",
        "sf0.001 new: added",
        'sf0.001 plan plan_md5: "p1" -> "p2"',
    ]
    assert measure.main(["contract", "--diff", paths[0], paths[0]]) == 0
    assert capsys.readouterr().out == ""


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
