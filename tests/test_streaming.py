"""Streaming semantics tests (SURVEY.md §5.6): watermark late-drop
with a real two-batch stream, and cross-batch state evolution for
the custom stateful operator.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from pyspark.sql import functions as F, types as T
from pyspark.sql.streaming import StreamingQueryListener

from infofarmsparkml_spark import registry
from infofarmsparkml_spark.catalog import load_table
from infofarmsparkml_spark.operators._util import scratch_dir


def q(name):
    fn, _ = registry.get(name)
    return fn


def test_watermark_drops_late_rows(spark, sf_dir):
    emitted = q("stream_watermark_late")(spark, sf_dir).collect()
    assert emitted, "append mode must emit the closed windows"
    # expected counts: early + on-time rows only (late copies excluded)
    ev = load_table(spark, sf_dir, "events")
    expected = {
        r["window_start"]: r["n"]
        for r in ev.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
        .collect()
    }
    for row in emitted:
        assert expected.get(row["window_start"]) == row["n"], (
            "late rows leaked into window %s" % row["window_start"]
        )


def test_stateful_state_survives_batches(spark, sf_dir, tmp_path):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    half = ev.filter(F.col("user_id") % 2 == 0)
    other = ev.filter(F.col("user_id") % 2 == 1)
    src = str(tmp_path / "src")
    half.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    other.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b2"))

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def count_user(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    stream = (
        spark.readStream.schema(half.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b*")
    )
    qy = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            count_user, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ifsml_test_state")
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination()
    # last update per user equals the full batch count
    final = (
        spark.table("ifsml_test_state")
        .groupBy("user_id")
        .agg(F.max("n").alias("n"))
        .collect()
    )
    expected = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r["user_id"]: r["n"] for r in final}
    assert got == expected


def test_stream_dedup_recovers_original(spark, sf_dir):
    out = q("stream_dedup")(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_session_windows_respect_gap(spark, sf_dir):
    rows = q("stream_session")(spark, sf_dir).collect()
    assert rows
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"])
        )
    for user, sessions in by_user.items():
        sessions.sort()
        for (s1, e1), (s2, e2) in zip(sessions, sessions[1:]):
            assert s2 >= e1, f"user {user}: overlapping sessions"


class _StatePartitions(StreamingQueryListener):
    """Records every stateful operator's state-store partition count
    (`numShufflePartitions`) per micro-batch, and counts terminated
    queries so a test can wait for the last progress event."""

    def __init__(self):
        self.parts: list[int] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        ops = event.progress.stateOperators
        self.parts.extend(s.numShufflePartitions for s in ops)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


def _run_with_state_partitions(spark, opname, sf_dir):
    """Run a registered stream; return its sorted rows and the
    state partition counts its micro-batches reported."""
    listener = _StatePartitions()
    spark.streams.addListener(listener)
    try:
        rows = sorted(tuple(r) for r in q(opname)(spark, sf_dir).collect())
    finally:
        # the terminated event follows the query's last progress
        # event on the listener bus, which delivers asynchronously
        deadline = time.time() + 30
        while not listener.terminated and time.time() < deadline:
            time.sleep(0.2)
        spark.streams.removeListener(listener)
    assert listener.parts, f"{opname}: no stateful operator reported progress"
    return rows, listener.parts


def test_state_partitions_follow_task_slots(spark, sf_dir):
    """Stateful streams size their state store to the session's task
    slots (one partition per slot, so each micro-batch's state work
    runs in one wave), whatever the caller's shuffle-partition conf
    is, and hand that conf back unchanged."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        _, parts = _run_with_state_partitions(spark, "stream_tumbling", sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    slots = spark.sparkContext.defaultParallelism
    assert set(parts) == {slots}, (parts, slots)


@pytest.mark.parametrize(
    "opname", ["stream_tumbling", "stream_dedup", "stream_stateful_tws"]
)
def test_results_invariant_to_state_partitions(spark, sf_dir, opname, monkeypatch):
    """Results must not depend on parallelism: the same stateful
    stream at sf0.01 gives the same rows with one state partition as
    with one per task slot. The one-partition arm patches the slot
    count `_state_sized` reads."""
    d = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.01")
    if not os.path.isdir(d):
        pytest.skip(f"sibling fixture sf0.01 not generated under {d}")
    slots = spark.sparkContext.defaultParallelism
    wide, wide_parts = _run_with_state_partitions(spark, opname, d)
    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda sc: 1)
    )
    narrow, narrow_parts = _run_with_state_partitions(spark, opname, d)
    assert set(wide_parts) == {slots} and set(narrow_parts) == {1}
    assert wide, f"{opname}: empty result"
    assert narrow == wide, (
        f"{opname}: {len(narrow)} rows at 1 state partition vs "
        f"{len(wide)} at {slots}"
    )


def test_events_ts_sane_in_both_read_paths(spark, sf_dir):
    """Regression guard for the events.ts environment drift (VERDICT r2):
    whether parquet TIMESTAMP(NANOS) arrives as BIGINT-ns or µs
    TIMESTAMP_NTZ, both the batch catalog and the streaming reader
    must yield a timestamp type whose values land in 2024 — a 1970s
    min(ts) means a silent unit error (µs divided as if ns)."""
    import datetime

    from infofarmsparkml_spark.streaming.ops import read_events_stream, run_to_memory

    lo = datetime.datetime(2023, 1, 1)
    hi = datetime.datetime(2026, 1, 1)

    batch = load_table(spark, sf_dir, "events")
    assert batch.schema["ts"].dataType.typeName() in ("timestamp", "timestamp_ntz")
    bmin = batch.agg(F.min("ts")).collect()[0][0]
    assert lo < bmin < hi, f"batch min(ts)={bmin} outside sane range"

    stream = read_events_stream(spark, sf_dir)
    assert stream.schema["ts"].dataType.typeName() in ("timestamp", "timestamp_ntz")
    out = run_to_memory(
        stream.groupBy().agg(F.min("ts").alias("mn")), "ts_sanity_probe", "complete"
    )
    smin = out.collect()[0]["mn"]
    assert lo < smin < hi, f"stream min(ts)={smin} outside sane range"
    assert smin == bmin, "batch and stream reads disagree on min(ts)"


def _assert_events_reads_match_native(spark, sf_dir, tag, ts_array):
    """Rewrite the fixture's events with ``ts_array(µs values)`` as the
    ts column, then assert that `_load_events` and `read_events_stream`
    over the rewrite both yield a µs timestamp ts whose sorted
    ``(event_id, ts)`` rows equal the native read's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from infofarmsparkml_spark.catalog import _load_events
    from infofarmsparkml_spark.streaming.ops import read_events_stream, run_to_memory

    native = load_table(spark, sf_dir, "events")
    expected = sorted(
        (r["event_id"], r["ts"]) for r in native.select("event_id", "ts").collect()
    )
    rows = native.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).collect()
    tbl = pa.table(
        {
            "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
            "ts": ts_array([r["us"] for r in rows]),
            "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
            "event_type": pa.array([r["event_type"] for r in rows], pa.string()),
            "value": pa.array([r["value"] for r in rows], pa.float64()),
            "props": pa.array([r["props"] for r in rows], pa.string()),
        }
    )
    d = scratch_dir(tag, sf_dir)
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    loaded = _load_events(spark, d)
    assert loaded.schema["ts"].dataType.typeName() == "timestamp"
    got = sorted(
        (r["event_id"], r["ts"]) for r in loaded.select("event_id", "ts").collect()
    )
    assert got == expected

    stream = read_events_stream(spark, d).select("event_id", "ts")
    assert stream.schema["ts"].dataType.typeName() == "timestamp"
    streamed = run_to_memory(stream, f"{tag}_stream", "append")
    assert sorted((r["event_id"], r["ts"]) for r in streamed.collect()) == expected


def test_events_loader_bigint_branch(spark, sf_dir):
    """Cover the BIGINT-ns branch of the dtype dispatch explicitly:
    a plain int64 ns column reaches _load_events and
    read_events_stream as bigint, and the `div 1000` path of both the
    batch and the stream read must agree with what the native read
    of the same data produces."""
    import pyarrow as pa

    _assert_events_reads_match_native(
        spark,
        sf_dir,
        "events_bigint_branch",
        lambda us: pa.array([u * 1000 for u in us], pa.int64()),
    )


def test_events_loader_nanos_timestamp(spark, sf_dir):
    """The path `_set_nanos_as_long` exists for: ts written as parquet
    TIMESTAMP(NANOS). Spark 4.1.2 fails such a column with
    PARQUET_TYPE_ILLEGAL unless `nanosAsLong` is set, and with it set
    reads a bigint of ns, so both read paths take the `div 1000`
    branch and must equal the native rows. The conf starts unset, as
    on a vanilla session, so the read paths must set it themselves."""
    import pyarrow as pa

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(conf, None)
    spark.conf.unset(conf)
    try:
        _assert_events_reads_match_native(
            spark,
            sf_dir,
            "events_nanos_ts",
            lambda us: pa.array([u * 1000 for u in us], pa.timestamp("ns")),
        )
    finally:
        if prior is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prior)


def test_stream_ewma_matches_python_fold(spark, sf_dir):
    """The streamed per-user EWMA equals an independent pure-Python
    quantized fold over the time-ordered series (exact equality —
    both run the same IEEE op sequence)."""
    import math

    got = {
        r.user_id: (r.n_events, r.ewma)
        for r in q("stream_ewma")(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    ).collect()
    series = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(r.value)
    assert set(got) == set(series)
    for uid, xs in series.items():
        e = None
        for i, x in enumerate(xs):
            e = x if i == 0 else math.floor((e + x) * 5000 + 0.5) / 10000.0
        assert got[uid] == (len(xs), e), uid


def test_stream_ewma_state_survives_batches(spark, sf_dir, tmp_path):
    """Two time-split micro-batches (all of batch 1 precedes batch
    2) must fold to the same final EWMA as one pass — the state
    hand-off is the whole point of the operator."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    cut = ev.agg(F.expr("percentile_approx(cast(ts as long), 0.5)")).collect()[0][0]
    src = str(tmp_path / "esrc")
    ev.filter(F.col("ts").cast("long") <= cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "b1"))
    ev.filter(F.col("ts").cast("long") > cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "b2"))

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("e", T.DoubleType()), T.StructField("n", T.LongType())]
    )

    def fold_user(key, pdfs, state: GroupState):
        e, n = state.get if state.exists else (None, 0)
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for x in pdf["value"]:
            x = float(x)
            e = x if n == 0 else math.floor((e + x) * 5000 + 0.5) / 10000.0
            n += 1
        state.update((e, n))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ewma": [e]})

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b*")
    )
    qy = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fold_user, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ifsml_test_ewma_batches")
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination()
    per_user = (
        spark.table("ifsml_test_ewma_batches")
        .groupBy("user_id")
        .agg(F.max_by("ewma", "n_events").alias("ewma"))
        .collect()
    )
    single = {
        r.user_id: r.ewma for r in q("stream_ewma")(spark, sf_dir).collect()
    }
    got = {r.user_id: r.ewma for r in per_user}
    assert got == single


def test_tws_processor_logic_direct(spark):
    """Drive the transformWithState processor class directly against
    a stub handle/state: the TWS-specific code (init wiring, state
    round-trip, per-batch fold, output frame shape) is exercised
    even on runtimes that cannot execute the operator (no protobuf
    — see `tws_runtime_available`). Two calls share state, proving
    cross-batch accumulation."""
    from infofarmsparkml_spark.streaming.ops import (
        _TWS_STATE_SCHEMA,
        make_user_tracker_processor,
    )

    class StubValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class StubHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            assert schema == _TWS_STATE_SCHEMA
            return self.states.setdefault(name, StubValueState())

    proc = make_user_tracker_processor()
    handle = StubHandle()
    proc.init(handle)
    b1 = pd.DataFrame(
        {"value": [1.5, 2.5], "ts": pd.to_datetime(["2024-01-01 01:00:00",
                                                    "2024-01-01 02:00:00"])}
    )
    (out1,) = list(proc.handleInputRows((7,), [b1], None))
    assert out1.iloc[0].tolist()[:3] == [7, 2, 4.0]
    b2 = pd.DataFrame(
        {"value": [6.0], "ts": pd.to_datetime(["2024-01-01 03:00:00"])}
    )
    (out2,) = list(proc.handleInputRows((7,), [b2], None))
    assert out2.iloc[0]["n_events"] == 3
    assert out2.iloc[0]["total_value"] == 10.0
    assert str(out2.iloc[0]["last_seen"]) == "2024-01-01 03:00:00"
    proc.close()


def test_tws_gate_and_twin_equivalence(spark, sf_dir):
    """The capability gate must reflect the actual runtime (protobuf
    present <=> TWS executable), and whichever engine runs,
    `stream_stateful_tws` must emit exactly the same final state as
    its applyInPandasWithState twin T6."""
    from infofarmsparkml_spark.streaming.ops import tws_runtime_available

    try:
        from google.protobuf import descriptor  # noqa: F401

        have_protobuf = True
    except ImportError:
        have_protobuf = False
    assert tws_runtime_available() == have_protobuf

    tws = {
        (r.user_id, r.n_events, r.total_value, r.last_seen)
        for r in q("stream_stateful_tws")(spark, sf_dir).collect()
    }
    t6 = {
        (r.user_id, r.n_events, r.total_value, r.last_seen)
        for r in q("stream_stateful_custom")(spark, sf_dir).collect()
    }
    assert tws == t6


def test_tws_gate_both_paths_mocked(spark, sf_dir, monkeypatch):
    """VERDICT r11 #6: exercise BOTH sides of the capability gate
    regardless of what this container has, so a future container
    WITH protobuf upgrades coverage automatically instead of
    silently diverging. Path A forces the gate CLOSED and asserts
    the fallback engine still matches T6 exactly; path B forces the
    gate OPEN and spies on `transformWithStateInPandas` to assert
    the TWS branch's wiring — processor, output schema, Update/None
    modes, the RocksDB provider set AT CALL TIME — and that the
    session's previous provider is restored even when the call
    raises (the finally contract)."""
    from pyspark.sql.group import GroupedData

    from infofarmsparkml_spark.streaming import ops as ops_mod
    from infofarmsparkml_spark.streaming.ops import _TWS_OUT_SCHEMA

    # path A: gate forced closed -> applyInPandasWithState fallback
    monkeypatch.setattr(ops_mod, "tws_runtime_available", lambda: False)
    tws = {
        (r.user_id, r.n_events, r.total_value, r.last_seen)
        for r in q("stream_stateful_tws")(spark, sf_dir).collect()
    }
    t6 = {
        (r.user_id, r.n_events, r.total_value, r.last_seen)
        for r in q("stream_stateful_custom")(spark, sf_dir).collect()
    }
    assert tws == t6

    # path B: gate forced open -> the TWS branch must be taken and
    # wired correctly (spy raises so no runtime execution is needed)
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(conf_key, None)
    seen: dict = {}

    class SpyCalled(RuntimeError):
        pass

    def spy(self, statefulProcessor, outputStructType, outputMode, timeMode):
        seen["processor"] = statefulProcessor
        seen["schema"] = outputStructType
        seen["mode"] = (outputMode, timeMode)
        seen["provider_at_call"] = spark.conf.get(conf_key, None)
        raise SpyCalled()

    monkeypatch.setattr(ops_mod, "tws_runtime_available", lambda: True)
    monkeypatch.setattr(
        GroupedData, "transformWithStateInPandas", spy, raising=False
    )
    with pytest.raises(SpyCalled):
        q("stream_stateful_tws")(spark, sf_dir)
    assert seen["schema"] == _TWS_OUT_SCHEMA
    assert seen["mode"] == ("Update", "None")
    assert hasattr(seen["processor"], "handleInputRows")
    assert seen["provider_at_call"].endswith("RocksDBStateStoreProvider")
    assert spark.conf.get(conf_key, None) == prev_provider, (
        "provider must be restored after the TWS attempt"
    )


def test_streaming_restart_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-resume exactly-once (the production streaming
    behavior the suite didn't yet prove): a checkpointed file-sink
    query is STOPPED after batch 1, a second source file lands while
    it is down, and a NEW query object resumes from the same
    checkpoint — it must process ONLY the unseen file (offset log
    replay), and a third restart with nothing new must write zero
    rows. Sink contents = every event exactly once, compared
    row-for-row against the batch read."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    b1.coalesce(1).write.parquet(os.path.join(src, "b1"))

    def run_once():
        qy = (
            spark.readStream.schema(ev.schema)
            .parquet(src + "/b*")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()

    run_once()  # processes b1, then the query is gone (killed)
    n_after_b1 = spark.read.parquet(sink).count()
    assert n_after_b1 == b1.count()
    b2.coalesce(1).write.parquet(os.path.join(src, "b2"))
    run_once()  # resume: must pick up ONLY b2 from the offset log
    run_once()  # nothing new: must be a committed no-op
    got = {
        (r.event_id, r.event_type, r.value)
        for r in spark.read.parquet(sink).collect()
    }
    expected = {
        (r.event_id, r.event_type, r.value) for r in ev.collect()
    }
    assert got == expected
    assert spark.read.parquet(sink).count() == ev.count()  # no dupes


@pytest.mark.parametrize(
    "name",
    [
        "stream_file_sink_exactly_once",
        "stream_stream_join",
        "stream_stream_leftouter",
        "stream_stream_fullouter",
    ],
)
def test_query_builds_one_event_stream(spark, sf_dir, monkeypatch, name):
    """T10's two checkpointed runs, and the view and purchase sides of
    T8/T8b/T8c, start from one stream frame, so one build reads the
    events stream (and probes its footer) once."""
    from infofarmsparkml_spark.streaming import ops

    calls = []
    original = ops.read_events_stream

    def counted(*args, **kwargs):
        calls.append(args)
        return original(*args, **kwargs)

    monkeypatch.setattr(ops, "read_events_stream", counted)
    q(name)(spark, sf_dir).collect()
    assert len(calls) == 1
