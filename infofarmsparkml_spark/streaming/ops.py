"""Structured Streaming operators (SURVEY.md §2.9, T1-T7).

Every ``queries()`` entry here runs a REAL streaming query —
``readStream`` over the events parquet, ``availableNow`` trigger,
memory sink — then returns the sink table. Aggregations use
``complete`` output mode (deterministic full result without needing
a watermark-advancing second batch); stateless ops use ``append``.
Where streaming semantics equal a batch computation (windowed aggs,
dedup of unique keys, stream-static join) the query also carries a
DuckDB oracle, so the driver's hash gate covers genuine streaming
execution. Since round 5 that includes every WATERMARK-DRIVEN
emission set too: the late-drop kept set (T4), the outer
stream-stream joins' null rows, and append-mode session eviction
are all batch-expressible against the final watermark. Only custom
arbitrary state (T6) stays rows-only + dedicated unit tests.

At production scale the same plans run unchanged against Kafka with
processing-time triggers; the state store (window/session/dedup
state) lives on executors keyed by the group keys, so scaling is
governed by key cardinality, not stream length. One deliberate
divergence from production: ``complete`` output mode retains every
window ever seen, which on an unbounded stream grows state forever —
the production form is ``append`` + watermark (state evicted once
the watermark passes a window), as demonstrated by
``stream_watermark_late`` and ``stream_session_append``;
``complete`` is used elsewhere because the oracle contract needs
the deterministic full result in one batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from infofarmsparkml_spark.operators._util import scoped_confs
from infofarmsparkml_spark.registry import query

_SOURCE_OPTIONS: dict[str, str] = {}


class source_options:
    """Scope extra reader options onto every `read_events_stream`
    (r16, VERDICT r15 #5): e.g. ``source_options(
    maxFilesPerTrigger="1")`` makes an `availableNow` run split its
    work into one micro-batch per input file instead of one big
    batch, which is how tests witness that aggregation/dedup/session
    STATE survives trigger boundaries — the property a continuous
    production stream relies on every trigger. Options apply to the
    file source uniformly; semantics of the query must not depend on
    them (that is exactly what the multi-batch witnesses assert)."""

    def __init__(self, **options: str):
        self.options = options

    def __enter__(self):
        self.prev = dict(_SOURCE_OPTIONS)
        _SOURCE_OPTIONS.update(self.options)

    def __exit__(self, *exc):
        _SOURCE_OPTIONS.clear()
        _SOURCE_OPTIONS.update(self.prev)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture, its ts normalized to µs
    TimestampType by the batch catalog's ``_us_ts``.

    A readStream schema must match what the source actually yields —
    declaring LongType when the reader produces µs silently
    compresses every timestamp 1000× — so the stream declares the
    batch read's schema, ``catalog._events_schema``, which reads
    ``ts``'s type from a footer on the driver and starts no Spark job.
    "events*.parquet": the sf fixtures match only events.parquet;
    the multi-batch witnesses feed a tmp dir of events{0..n}.parquet
    splits of the same rows (r16)."""
    from ..catalog import _events_schema, _us_ts

    raw = (
        spark.readStream.schema(_events_schema(spark, f"{sf_dir}/events*.parquet"))
        .option("pathGlobFilter", "events*.parquet")
        .options(**_SOURCE_OPTIONS)
        .parquet(sf_dir)
    )
    return _us_ts(raw)


def _state_sized(spark: SparkSession):
    """Temporarily size `spark.sql.shuffle.partitions` to the
    session's task slots (`defaultParallelism`: N on `local[N]`,
    total executor cores on a cluster) for a stateful streaming
    query, restoring the caller's value after.

    A streaming query pins its state-store partition count to the
    shuffle-partition conf AT START, and every micro-batch pays
    per-partition state init/commit — on a vanilla 200-partition
    session a windowed agg over a few hundred keys spends ~90% of
    its wall time on empty state partitions (measured:
    stream_stream_join 31 s → 4 s at 16 partitions). One partition
    per task slot runs each batch's state-store work in one wave;
    more partitions than slots only add waves of near-empty tasks
    (sf0.1 on `local[4]`, 16 → 4 partitions: stream_stateful_tws
    3.2 s → 2.1 s, stream_dedup 1.8 s → 1.1 s; see
    plans/r18/AB_state_partitions.json). Results do not depend on
    the count. Batch queries are unaffected: the caller's setting is
    restored (`scoped_confs`) before the sink table is returned."""
    slots = str(spark.sparkContext.defaultParallelism)
    return scoped_confs(spark, {"spark.sql.shuffle.partitions": slots})


def run_to_memory(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink
    and return the sink table."""
    spark = df.sparkSession
    with _state_sized(spark):
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@query(
    "stream_tumbling",
    oracle="""
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: tumbling 1-hour window counts/sums per event type —
    epoch-aligned windows, so window.start == date_trunc('hour')."""
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    out = run_to_memory(
        agg.select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        ),
        "ifsml_stream_tumbling",
        "complete",
    )
    return out


@query(
    "stream_sliding",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         date_diff('second', TIMESTAMP '1970-01-01', CAST(ts AS TIMESTAMP))
           AS es
  FROM events
),
w AS (
  SELECT event_type, value,
         TIMESTAMP '1970-01-01'
           + ((es // 900) * 900 - o * 900) * INTERVAL 1 SECOND AS window_start
  FROM e, (SELECT unnest(range(0, 4)) AS o)
)
SELECT window_start, event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM w GROUP BY 1, 2
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: sliding window (1 h length, 15 min slide) — each event
    lands in 4 overlapping windows; the oracle materializes the
    same 4 windows per event with integer epoch arithmetic."""
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    return run_to_memory(
        agg.select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        ),
        "ifsml_stream_sliding",
        "complete",
    )


@query(
    "stream_session",
    oracle="""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, value, event_id FROM events
),
m AS (
  SELECT *,
         CASE WHEN LAG(tsu) OVER w IS NULL
                OR tsu - LAG(tsu) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       MIN(tsu) AS session_start,
       MAX(tsu) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: session windows with a 30-minute gap per user —
    session_window merges events until a gap exceeds 30 min;
    session end = last event + gap. Oracle is the classic
    gaps-and-islands rewrite."""
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return run_to_memory(
        agg.select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        ),
        "ifsml_stream_session",
        "complete",
    )


@query(
    "stream_watermark_late",
    oracle="""
WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
wm2 AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM ev),
agg AS (SELECT date_trunc('hour', ts) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ev GROUP BY 1)
SELECT window_start, n FROM agg
WHERE window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm2)
""",
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: watermark + late-data drop, exercised with a real
    two-batch file stream: batch 1 advances the watermark past the
    early window; batch 2 mixes on-time rows with rows 2 days late
    — the late rows must NOT appear in the append-mode output.
    Deterministic row set; dropped/kept counts asserted in
    tests/test_streaming.py.

    SQL-oracled since r5 (the kept set IS batch-expressible, closing
    the last rows-only §2 streaming op): every planted late copy is
    dropped — its hour window ends before the batch-1 watermark
    (max(early) − 10 min, ≈ Jan 14 23:49, vs late windows ending ≤
    Jan 10) — so kept rows = the original events exactly; and append
    mode emits precisely the windows whose end ≤ the final watermark
    (max(ts) − 10 min; Spark's no-data batch flushes them after the
    last file). The oracle computes both facts in plain SQL.
    Verified green at sf0.001/0.01/0.1 before wiring in."""
    import os

    from infofarmsparkml_spark.catalog import load_table
    from infofarmsparkml_spark.operators._util import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    cutoff = "2024-01-15 00:00:00"
    src = scratch_dir("wm_late_src", sf_dir)
    sink_name = "ifsml_stream_wm_late"
    early = ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
    on_time = ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
    late = on_time.withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 21 DAYS")
    ).withColumn("event_id", F.col("event_id") + 1_000_000)
    # batch 1 on disk BEFORE the query starts; batch 2 is written
    # between processAllAvailable() cycles so the watermark from
    # batch 1 is active when the late rows arrive (a single
    # availableNow pass would read both files in one batch with
    # watermark still at epoch — nothing would be late).
    import shutil

    shutil.rmtree(src, ignore_errors=True)
    early.coalesce(1).write.parquet(os.path.join(src, "b1"))
    stream = spark.readStream.schema(early.schema).parquet(src + "/b*")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    with _state_sized(spark):
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink_name)
            .start()
        )
        try:
            # batch 1 → watermark = max(early) - 10 min
            q.processAllAvailable()
            on_time.unionByName(late).coalesce(1).write.parquet(
                os.path.join(src, "b2")
            )
            # batch 2: late rows below watermark drop
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(sink_name)


@query(
    "stream_dedup",
    oracle="""
SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
FROM events
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: stateful streaming dedup — the input is the event stream
    UNIONed with itself (every row duplicated);
    dropDuplicatesWithinWatermark(event_id) must emit each event
    exactly once, recovering the original stream."""
    ev = read_events_stream(spark, sf_dir)
    doubled = ev.unionByName(ev)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )
    return run_to_memory(deduped, "ifsml_stream_dedup", "append")


_TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)
_TWS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def _track_user(key, acc, pdfs):
    """The per-user tracker shared by BOTH stateful-API twins (T6
    applyInPandasWithState, T6b transformWithState): fold count,
    value sum and last-seen µs over a sequence of pandas batches
    onto ``acc`` (``_TWS_STATE_SCHEMA``; None for a new key) and
    return the new accumulator with its ``_TWS_OUT_SCHEMA`` row."""
    import pandas as pd

    n, total, last_us = acc if acc is not None else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_us = max(last_us, int(pdf["ts"].max().value // 1000))
    row = pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 4)],
            "last_seen": [pd.Timestamp(last_us, unit="us")],
        }
    )
    return (n, total, last_us), row


def _track_users(ev: DataFrame) -> DataFrame:
    """``_track_user`` per user through applyInPandasWithState
    (update mode, no timeout)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # the plan's FlatMapGroupsInPandasWithState node prints this name,
    # so a rename changes the plan
    def track_user(key, pdfs, state: GroupState):
        acc, row = _track_user(key, state.get if state.exists else None, pdfs)
        state.update(acc)
        yield row

    return ev.groupBy("user_id").applyInPandasWithState(
        track_user,
        _TWS_OUT_SCHEMA,
        _TWS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_stateful_custom",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value,
       MAX(CAST(ts AS TIMESTAMP)) AS last_seen
FROM events
GROUP BY user_id
""",
)
def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: arbitrary per-key state via applyInPandasWithState — a
    running per-user accumulator (count, value sum, last-seen).
    With one availableNow batch the emitted state equals the batch
    aggregate, which gives the oracle; multi-batch state evolution
    is exercised in tests/test_streaming.py."""
    tracked = _track_users(read_events_stream(spark, sf_dir))
    return run_to_memory(tracked, "ifsml_stream_stateful", "update")


def make_user_tracker_processor():
    """Build the StatefulProcessor for `stream_stateful_tws` —
    deferred import so environments without the TWS runtime deps can
    still import this module. The class is unit-tested directly
    (tests/test_streaming.py drives init/handleInputRows against a
    stub handle), independent of whether the runtime can execute it."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTracker(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("acc", _TWS_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            acc = self.state.get() if self.state.exists() else None
            acc, row = _track_user(key, acc, rows)
            self.state.update(acc)
            yield row

        def close(self) -> None:
            pass

    return UserTracker()


def tws_runtime_available() -> bool:
    """transformWithState's state-server protocol serializes over
    protobuf (pyspark/sql/streaming/proto/StateMessage_pb2); without
    the `protobuf` package the driver worker crashes at PRE_INIT
    (probed on this container: ImportError from
    google.protobuf.descriptor). No pip installs allowed here, so
    the execution path is capability-gated."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@query(
    "stream_stateful_tws",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value,
       MAX(CAST(ts AS TIMESTAMP)) AS last_seen
FROM events
GROUP BY user_id
""",
)
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6b: the Spark-4 `transformWithStateInPandas` twin of T6 —
    the same per-user accumulator expressed as a StatefulProcessor
    (init → getValueState, handleInputRows folds each batch, update
    mode, TimeMode None) so BOTH arbitrary-state APIs are exercised.
    The tracker itself is shared code (`_track_user`: the fold and
    the output row), so the two APIs provably compute the same thing,
    and the oracle is the same batch aggregate as T6.

    Environment gate: TWS needs RocksDB state stores (bundled) AND
    the protobuf Python package for its state-server protocol —
    absent in this container (`tws_runtime_available`), so execution
    falls back to T6's applyInPandasWithState engine
    (`_track_users`); on a protobuf-equipped cluster the TWS path runs
    as written. The processor class is unit-tested directly either
    way, and the gate decision is itself asserted in tests."""
    ev = read_events_stream(spark, sf_dir)
    if tws_runtime_available():
        # TWS requires the RocksDB provider; restore the session's
        # previous provider afterwards so later stateful queries on
        # the same (driver-owned) session keep their configuration
        rocksdb = {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        }
        with scoped_confs(spark, rocksdb):
            tracked = ev.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=make_user_tracker_processor(),
                outputStructType=_TWS_OUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            )
            return run_to_memory(tracked, "ifsml_stream_tws", "update")

    return run_to_memory(_track_users(ev), "ifsml_stream_tws", "update")


@query(
    "stream_join",
    oracle="""
SELECT e.event_id, e.event_type, ROUND(e.value, 4) AS value,
       c.c_name, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: stream-static join — streaming events enriched with the
    customer dim. The static side is effectively broadcast per
    micro-batch; stateless, so append emits every joined row."""
    from infofarmsparkml_spark.catalog import load_table

    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.join(cust, ev.user_id == cust.c_custkey).select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        "c_name",
        "c_mktsegment",
    )
    return run_to_memory(joined, "ifsml_stream_join", "append")


def _view_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The T8 family's view→purchase attribution (why it is bounded:
    `stream_stream_join`): views and purchases are filtered from one
    events stream, each side 1-hour-watermarked, and joined per user
    when the purchase lands within 30 minutes after the view. ``how``
    is "inner" (T8), "left_outer" (T8b) or "full_outer" (T8c). One
    stream frame feeds both sides, so the events footer is probed
    once per build, not once per side."""
    ev = read_events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return views.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id
            AND purchase_ts >= view_ts
            AND purchase_ts <= view_ts + INTERVAL 30 MINUTES
            """
        ),
        how,
    )


@query(
    "stream_stream_join",
    oracle="""
SELECT a.event_id AS view_id, b.event_id AS purchase_id,
       a.user_id AS user_id,
       CAST(a.ts AS TIMESTAMP) AS view_ts,
       CAST(b.ts AS TIMESTAMP) AS purchase_ts
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'view' AND b.event_type = 'purchase'
  AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
  AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP)
        + INTERVAL 30 MINUTE
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: watermarked stream-stream inner join — view→purchase
    attribution per user within a 30-minute window. Both sides
    carry watermarks and the join predicate bounds event-time
    distance, so each side's state store retains only rows inside
    the watermark horizon — the property that makes stream-stream
    joins feasible on unbounded input. Single-batch availableNow
    execution equals the batch self-join, which is the oracle."""
    joined = _view_purchase_join(spark, sf_dir, "inner").select(
        "view_id", "purchase_id", "user_id", "view_ts", "purchase_ts"
    )
    return run_to_memory(joined, "ifsml_stream_stream_join", "append")


@query(
    "stream_foreach_batch",
    oracle="""
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events
WHERE value > 50
GROUP BY event_type
""",
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: foreachBatch sink — the escape hatch for sinks without a
    native streaming writer (JDBC, multi-table fan-out). Each
    micro-batch lands as parquet via the batch writer; the final
    result re-reads the sink and aggregates, matching the pure
    batch oracle. Exactly-once here comes from idempotent
    overwrite-per-batch-id partitioning."""
    import shutil

    from infofarmsparkml_spark.operators._util import scratch_dir

    sink = scratch_dir("feb_sink", sf_dir)
    shutil.rmtree(sink, ignore_errors=True)
    ev = read_events_stream(spark, sf_dir).filter(F.col("value") > 50)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # partition dir keyed by batch id → re-running a batch
        # overwrites its own output only (idempotent restart)
        batch_df.withColumn("_batch", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(f"{sink}/batch={batch_id}")

    q = (
        ev.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{sink}_ckpt")
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(f"{sink}_ckpt", ignore_errors=True)
    return (
        spark.read.parquet(f"{sink}/batch=*")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "stream_file_sink_exactly_once",
    oracle="""
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY event_type
""",
)
def stream_file_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: native parquet file sink + checkpoint restart. The query
    runs TWICE against the same checkpoint: the first availableNow
    pass writes every event exactly once; the second finds the
    source fully committed in the offset log and writes nothing.
    The oracle compares the sink's totals against the batch table,
    so any duplicate (at-least-once leak) or loss on restart fails
    the row/hash gate. This is the property that matters on a real
    cluster: task retries and job restarts must not double-write —
    Spark's file sink gets it from the checkpointed offset log plus
    the sink's transactional _spark_metadata commit protocol.
    Both runs start from one stream frame, so the events footer is
    probed once, and the sink is read back under that frame's
    schema."""
    import shutil

    from infofarmsparkml_spark.operators._util import scratch_dir

    sink = scratch_dir("stream_exactly_once", sf_dir)
    ckpt = f"{sink}_ckpt"
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    events = read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    for _ in range(2):  # second run must be a committed no-op
        (
            events.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return (
        spark.read.schema(events.schema)
        .parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "stream_ewma",
    oracle="""
WITH RECURSIVE o AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events),
cnt AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
r AS (
  SELECT user_id, rn, value AS e FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, floor((r.e + o.value) * 5000 + 0.5) / 10000.0
  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
SELECT r.user_id, CAST(cnt.n_events AS BIGINT) AS n_events, r.e AS ewma
FROM r JOIN cnt ON r.user_id = cnt.user_id AND r.rn = cnt.n_events
""",
)
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: stateful streaming smoother — per-user infinite-decay
    EWMA (α = ½) folded event-by-event in applyInPandasWithState;
    state is two numbers per key (current ewma, count), the O(1)
    shape that runs forever on an unbounded stream. The fold
    QUANTIZES each step to 4 decimals with an explicit half-up
    floor((e+x)·5000 + 0.5)/10⁴ — that makes the recursion exactly
    reproducible in the DuckDB oracle's recursive CTE (both engines
    run the identical IEEE op sequence, so a sequential float fold
    hash-matches, which an unquantized fold cannot guarantee against
    a weighted-sum reformulation). In-batch rows are sorted by
    event time before folding; cross-batch ordering is the standard
    event-time-arrival assumption (late data is T4's territory)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("e", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def fold_user(key, pdfs, state: GroupState):
        import math

        e, n = state.get if state.exists else (None, 0)
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for x in pdf["value"]:
            x = float(x)
            if n == 0:
                e = x
            else:
                e = math.floor((e + x) * 5000 + 0.5) / 10000.0
            n += 1
        state.update((e, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [e]}
        )

    folded = ev.groupBy("user_id").applyInPandasWithState(
        fold_user,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(folded, "ifsml_stream_ewma", "update")


@query(
    "stream_stream_leftouter",
    oracle="""
WITH v AS (SELECT event_id AS view_id, user_id,
                  CAST(ts AS TIMESTAMP) AS view_ts
           FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id,
             CAST(ts AS TIMESTAMP) AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
wm AS (SELECT LEAST((SELECT MAX(view_ts) FROM v),
                    (SELECT MAX(purchase_ts) FROM p))
              - INTERVAL 1 HOUR AS w),
matched AS (
  SELECT v.view_id, p.purchase_id, v.user_id, v.view_ts, p.purchase_ts
  FROM v JOIN p ON v.user_id = p.user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE),
unmatched AS (
  SELECT v.view_id, CAST(NULL AS BIGINT) AS purchase_id, v.user_id,
         v.view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
  FROM v
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = v.user_id
            AND p.purchase_ts >= v.view_ts
            AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE)
    AND v.view_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm))
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
""",
)
def stream_stream_leftouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8b: watermarked stream-stream LEFT OUTER join — every view
    attributed to a purchase within 30 minutes, or emitted with
    nulls once it can provably never match. The null rows are the
    interesting streaming semantics: they emit only when the global
    watermark (min over both sides of max(ts) − 1 h) passes the
    view's join horizon (view_ts + 30 min), i.e. when the state
    store can evict the row knowing no future purchase can pair
    with it. Views younger than that are withheld — and the oracle
    computes exactly that kept set in batch SQL: matched pairs
    unconditionally, plus the anti-join rows whose horizon closed
    before the final watermark. Verified row-identical at
    sf0.001/0.01/0.1 before wiring in — the same derivation
    discipline as `stream_watermark_late`."""
    joined = _view_purchase_join(spark, sf_dir, "left_outer").select(
        "view_id", "purchase_id", "user_id", "view_ts", "purchase_ts"
    )
    return run_to_memory(joined, "ifsml_stream_stream_lo", "append")


@query(
    "stream_stream_fullouter",
    oracle="""
WITH v AS (SELECT event_id AS view_id, user_id,
                  CAST(ts AS TIMESTAMP) AS view_ts
           FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id AS p_user_id,
             CAST(ts AS TIMESTAMP) AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
wm AS (SELECT LEAST((SELECT MAX(view_ts) FROM v),
                    (SELECT MAX(purchase_ts) FROM p))
              - INTERVAL 1 HOUR AS w),
matched AS (
  SELECT v.view_id, p.purchase_id, v.user_id, p.p_user_id,
         v.view_ts, p.purchase_ts
  FROM v JOIN p ON v.user_id = p.p_user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE),
unmatched_l AS (
  SELECT v.view_id, CAST(NULL AS BIGINT) AS purchase_id, v.user_id,
         CAST(NULL AS BIGINT) AS p_user_id, v.view_ts,
         CAST(NULL AS TIMESTAMP) AS purchase_ts
  FROM v
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.p_user_id = v.user_id
            AND p.purchase_ts >= v.view_ts
            AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE)
    AND v.view_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)),
unmatched_r AS (
  SELECT CAST(NULL AS BIGINT) AS view_id, p.purchase_id,
         CAST(NULL AS BIGINT) AS user_id, p.p_user_id,
         CAST(NULL AS TIMESTAMP) AS view_ts, p.purchase_ts
  FROM p
  WHERE NOT EXISTS (
          SELECT 1 FROM v
          WHERE v.user_id = p.p_user_id
            AND p.purchase_ts >= v.view_ts
            AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE)
    AND p.purchase_ts < (SELECT w FROM wm))
SELECT * FROM matched
UNION ALL SELECT * FROM unmatched_l
UNION ALL SELECT * FROM unmatched_r
""",
)
def stream_stream_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8c: watermarked stream-stream FULL OUTER join — both
    unmatched sides surface with nulls at their respective state
    evictions, and the two horizons DIFFER, which is the point of
    the exercise: an unmatched view can only stop waiting once the
    watermark passes view_ts + 30 min (a qualifying purchase may
    still arrive anywhere in that window), while an unmatched
    purchase stops at purchase_ts itself (any qualifying view must
    satisfy view_ts ≤ purchase_ts, so nothing in the future can
    pair with it). The oracle encodes exactly those two cutoffs
    against the final global watermark; verified row-identical at
    sf0.001/0.01/0.1 before wiring in."""
    joined = _view_purchase_join(spark, sf_dir, "full_outer").select(
        "view_id", "purchase_id", "user_id", "p_user_id",
        "view_ts", "purchase_ts",
    )
    return run_to_memory(joined, "ifsml_stream_stream_fo", "append")


@query(
    "stream_session_append",
    oracle="""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
           FROM events),
m AS (SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m),
sess AS (SELECT user_id,
                MIN(ts) AS session_start,
                MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(SUM(value), 4) AS sum_value
         FROM s GROUP BY user_id, sid),
wm AS (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w FROM events)
SELECT session_start, session_end, user_id, n, sum_value
FROM sess WHERE session_end <= (SELECT w FROM wm)
""",
)
def stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3b: session windows in the PRODUCTION configuration —
    append mode + watermark — complementing `stream_session`'s
    complete-mode variant (which retains every session in state
    forever; fine for a bounded oracle run, fatal on an unbounded
    stream). In append mode a session emits exactly once, when the
    watermark passes its end (last event + 30-min gap) and the
    state store evicts it; still-open sessions at end of input are
    withheld. The oracle is the batch gaps-and-islands
    sessionization filtered to sessions with end ≤ the final
    watermark — `<=`, not `<`: a session ending exactly AT the
    watermark IS evicted and emitted, like windowed aggregation and
    unlike the stream-stream outer joins' strictly-less null-row
    horizons; all three boundary conventions are pinned with
    planted boundary-sitting timestamps in
    tests/test_streaming_boundaries.py (ADVICE r5). Verified
    row-identical at sf0.001/0.01/0.1.
    At 100 TB this is the config to run: state holds only sessions
    inside the watermark horizon, keyed by user."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n",
            "sum_value",
        )
    )
    return run_to_memory(agg, "ifsml_stream_session_append", "append")
