"""Time-series operators over the events table (SURVEY.md §2
extensions): dense gap-fill with last-observation-carried-forward,
OHLC resampling, linear interpolation, finite-window EWMA smoothing
and rolling lag-1 correlation — the hypertable-rollup and
rolling-statistics shapes a metrics / market-data pipeline runs
continuously.

Scale posture: every operator shuffles once on the series key
(user_id). The gap-fill / interpolation spine is generated per key
from that key's own [min, max] hour range (`sequence` + `explode`),
so spine size is bounded by each series' span — never a global
calendar cross join. LOCF is `last(ignorenulls)` over one running
frame — a single window on a single user_id exchange, no self-join
(the DuckDB oracle uses the portable fill-group formulation). OHLC
is a single hash aggregate with min_by/max_by over a zero-padded
(ts, event_id) string key, so first/last are deterministic under
ties and identical to the DuckDB oracle's arg_min/arg_max on the
same key.

Determinism discipline for the rolling ops: events.value carries ≤2
decimal digits, so `round(value*100)` is an EXACT integer
(_util.cents). EWMA and rolling-corr accumulate ONLY exact BIGINT
moments inside their window frames (order-free, overflow-bounded)
and form the final double in one identical expression on both
engines — float summation order can never differ, so the hashes are
bit-stable at any scale factor. EWMA's decay is 1/2 on purpose:
2^-k weights are exact binary scalings, never a pow() ulp."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from infofarmsparkml_spark.operators._util import cents, load_table
from infofarmsparkml_spark.registry import query


@query(
    "ts_gap_fill_locf",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         ROUND(SUM(value), 4) AS v
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id),
spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM bounds),
joined AS (
  SELECT s.user_id, s.h, hv.v,
         COUNT(hv.v) OVER (PARTITION BY s.user_id ORDER BY s.h) AS grp
  FROM spine s LEFT JOIN hourly hv ON s.user_id = hv.user_id AND s.h = hv.h)
SELECT user_id, h AS hour, (v IS NOT NULL) AS observed,
       MAX(v) OVER (PARTITION BY user_id, grp) AS v_filled
FROM joined
""",
)
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's hourly value series over its own
    [first, last] hour and fill silent hours by carrying the last
    observed value forward. Spark plan (r11, the r4
    `ts_interpolate_linear` segment-explode treatment): ONE lead()
    window over the OBSERVED hourly rows finds each observation's
    successor, then every observation explodes directly into its own
    gap hours [h, next_h) with the carried value already attached —
    the dense spine is never joined, sorted, or windowed (the first
    formulation left-joined a generated spine and ran
    `last(ignorenulls)` over it: a spine-sized sort + running window
    whose cost grows with series SPAN, not observation count; at
    sf0.1 that was 7.9 s and a 4.9x smoke ratio at 10x data).
    Semantics are identical by construction: within a fill run the
    carried value IS the run-opening observation, and the series'
    last observation emits only itself. DuckDB lacks ignore-nulls
    running frames, so the oracle keeps the equivalent fill-group
    trick (a running count of observed rows is constant across a run
    of missing hours, so MAX per (user, count) group is the carried
    value).

    r16 (guide §2.4, the tpch_q21 treatment): the hourly aggregate
    removes only ~4% of event rows (95.6k distinct (user, hour)
    groups per 100k events at sf0.1), so the old shape shuffled ~2N
    rows across two barriers — Exchange(user_id, h) for the groupBy
    plus Exchange(user_id) for the lead() window. Repartitioning the
    projected scan by user_id FIRST satisfies both (hash on a subset
    of the grouping keys is a valid clustered distribution), so the
    aggregate and the window share ONE exchange of N projected rows;
    `repartition(col)` without a count stays AQE-coalescible.
    Results bit-identical (oracle-verified ×3 SFs)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select("user_id", "ts", "value")
        .repartition("user_id")
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.round(F.sum("value"), 4).alias("v"))
    )
    w = W.partitionBy("user_id").orderBy("h")
    seg = hourly.select(
        "user_id", "h", "v", F.lead("h").over(w).alias("nh")
    )
    # each observation emits [h, nh) hourly with its own v carried;
    # the series' last observation emits only itself
    hh = F.explode(
        F.sequence(
            F.col("h"),
            F.coalesce(
                F.col("nh") - F.expr("interval 1 hour"), F.col("h")
            ),
            F.expr("interval 1 hour"),
        )
    )
    pts = seg.select("user_id", "h", "v", hh.alias("hh"))
    return pts.select(
        "user_id",
        F.col("hh").alias("hour"),
        (F.col("hh") == F.col("h")).alias("observed"),
        F.col("v").alias("v_filled"),
    )


@query(
    "ts_resample_ohlc",
    oracle="""
SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       ROUND(arg_min(value, printf('%020d-%020d',
             epoch_us(CAST(ts AS TIMESTAMP)), event_id)), 4) AS open,
       ROUND(MAX(value), 4) AS high,
       ROUND(MIN(value), 4) AS low,
       ROUND(arg_max(value, printf('%020d-%020d',
             epoch_us(CAST(ts AS TIMESTAMP)), event_id)), 4) AS close,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
""",
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's value stream to hourly
    open/high/low/close bars. One partial-aggregable hash aggregate:
    min_by/max_by carry (value, key) pairs through map-side combine,
    so no window sort and no per-group row materialization — the
    shape that survives a billion-row series. The order key is a
    zero-padded (µs, event_id) string so first/last are total-ordered
    and tie-stable across engines."""
    ev = load_table(spark, sf_dir, "events")
    key = F.format_string(
        "%020d-%020d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    return ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.round(F.min_by("value", key), 4).alias("open"),
        F.round(F.max("value"), 4).alias("high"),
        F.round(F.min("value"), 4).alias("low"),
        F.round(F.max_by("value", key), 4).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "ts_anomaly_zscore",
    oracle="""
WITH z AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         AVG(value) OVER w AS mu,
         COUNT(*) OVER w AS n,
         stddev_pop(value) OVER w AS sd
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, ts, value,
       ROUND((value - mu) / sd, 3) AS zscore
FROM z WHERE n >= 5 AND sd > 1e-9 AND ABS((value - mu) / sd) > 2
""",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against
    the mean/σ of its user's trailing 11-event window; emit events
    beyond 2σ (with a 5-event warm-up and a degenerate-σ guard).
    One window over one user_id exchange — the streaming-friendly
    rolling-statistics shape, identical frames on both engines so
    population σ and the flagged set hash-match exactly."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-10, 0)
    z = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.stddev_pop("value").over(w).alias("sd"),
    )
    score = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        z.filter(
            (F.col("n") >= 5) & (F.col("sd") > 1e-9) & (F.abs(score) > 2)
        )
        .select(
            "user_id",
            "event_id",
            "ts",
            "value",
            F.round(score, 3).alias("zscore"),
        )
    )


@query(
    "ts_interpolate_linear",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vc
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id),
spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM bounds),
edged AS (
  SELECT s.user_id, s.h, hv.vc,
         last_value(hv.vc IGNORE NULLS) OVER wb AS prev_vc,
         last_value(CASE WHEN hv.vc IS NOT NULL THEN s.h END IGNORE NULLS)
           OVER wb AS prev_h,
         first_value(hv.vc IGNORE NULLS) OVER wf AS next_vc,
         first_value(CASE WHEN hv.vc IS NOT NULL THEN s.h END IGNORE NULLS)
           OVER wf AS next_h
  FROM spine s LEFT JOIN hourly hv ON s.user_id = hv.user_id AND s.h = hv.h
  WINDOW wb AS (PARTITION BY s.user_id ORDER BY s.h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY s.user_id ORDER BY s.h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, h AS hour, (vc IS NOT NULL) AS observed,
       CASE WHEN vc IS NOT NULL THEN CAST(vc AS DOUBLE) / 100.0
            ELSE floor((prev_vc + (next_vc - prev_vc)
                        * (CAST(date_diff('hour', prev_h, h) AS DOUBLE)
                           / date_diff('hour', prev_h, next_h)))
                       * 100.0 + 0.5) / 10000.0 END AS v_interp
FROM edged WHERE vc IS NOT NULL OR (prev_vc IS NOT NULL AND next_vc IS NOT NULL)
""",
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's hourly series over its own [first, last]
    hour and LINEARLY interpolate silent hours between the bracketing
    observations (vs LOCF's step fill). Spark plan: ONE small lead()
    window over the OBSERVED hourly rows builds (prev, next) segment
    endpoints, then each segment explodes directly into its gap
    hours with both endpoints already attached — the dense spine is
    never sorted or windowed (the first formulation windowed the
    exploded spine: 13M-row sort + 4 running aggregates at sf0.1,
    3x slower, and the window state would keep growing with series
    span at 100 TB; segment-explode keeps the heavy row count
    strictly post-window). Exactness: hourly sums are integer cents,
    the fraction is a ratio of integer hour counts, and interpolated
    values round half-up via the same explicit floor(x·100 + 0.5) on
    both engines (they CAN land exactly on .00005 boundaries — cents
    × a dyadic fraction — where native ROUND half-modes differ).

    r16 (guide §2.4, the tpch_q21 treatment, same as
    `ts_gap_fill_locf`): the hourly aggregate removes only ~4% of
    event rows, so repartitioning the projected scan by user_id
    FIRST lets the groupBy(user_id, h) and the lead() window share
    ONE exchange of N rows instead of two full-stream barriers.
    Results bit-identical (oracle-verified ×3 SFs)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select("user_id", "ts", "value")
        .repartition("user_id")
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.sum(cents("value")).alias("vc"))
    )
    w = W.partitionBy("user_id").orderBy("h")
    seg = hourly.select(
        "user_id",
        "h",
        "vc",
        F.lead("h").over(w).alias("nh"),
        F.lead("vc").over(w).alias("nvc"),
    )
    # each segment emits [h, nh) hourly; the series' last point emits
    # only itself (its "segment" is the single observed hour)
    hh = F.explode(
        F.sequence(
            F.col("h"),
            F.coalesce(
                F.col("nh") - F.expr("interval 1 hour"), F.col("h")
            ),
            F.expr("interval 1 hour"),
        )
    )
    pts = seg.select("user_id", "h", "vc", "nh", "nvc", hh.alias("hh"))
    hours = lambda a, b: (  # noqa: E731 — integer hour delta
        (F.unix_timestamp(b) - F.unix_timestamp(a)) / F.lit(3600)
    ).cast("long")
    frac = hours("h", F.col("hh")).cast("double") / hours("h", F.col("nh"))
    v_cents = F.col("vc") + (F.col("nvc") - F.col("vc")) * frac
    observed = F.col("hh") == F.col("h")
    v_interp = F.when(
        observed, F.col("vc").cast("double") / F.lit(100.0)
    ).otherwise(
        F.floor(v_cents * F.lit(100.0) + F.lit(0.5)).cast("double")
        / F.lit(10000.0)
    )
    return pts.select(
        "user_id",
        F.col("hh").alias("hour"),
        observed.alias("observed"),
        v_interp.alias("v_interp"),
    )


@query(
    "ts_ewma",
    oracle="""
WITH c AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events),
fr AS (
  SELECT user_id, event_id, ts,
         list(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vs
  FROM c)
SELECT user_id, event_id, ts,
       floor(CAST(list_sum([vs[i] * CAST(pow(2, 9 - len(vs) + i) AS BIGINT)
                            for i in range(1, len(vs) + 1)]) AS DOUBLE)
             / (pow(2, 10) - pow(2, 10 - len(vs))) / 100.0
             * 1000000.0 + 0.5) / 1000000.0 AS ewma
FROM fr
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (decay 1/2, finite
    10-event window) of each user's value stream. One bounded window
    frame on one user_id exchange — O(1) state per row, the
    streaming-smoother shape. Bit-exact across engines by
    construction: frame values are exact integer cents, weights are
    exact powers of two (numerator Σ vc_i·2^(i-1) ≤ 49k·512·10 —
    integer, order-free), the denominator 2^10−2^(10−n) is closed
    form, and the only float op is one identical division chain."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    vs = F.collect_list(cents("value")).over(w)
    df = ev.select("user_id", "event_id", "ts", vs.alias("vs"))
    n = F.size("vs")
    # pow(2.0, e) for e in [0, 10] is exact in IEEE double, so the
    # cast back to long is the exact 2^e (shiftleft needs a literal
    # shift amount; pow takes a column).
    num = F.aggregate(
        F.zip_with(
            F.col("vs"),
            F.sequence(F.lit(1), n),
            lambda v, i: v
            * F.pow(F.lit(2.0), (F.lit(9) - n + i).cast("double")).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    den = F.pow(F.lit(2.0), 10) - F.pow(
        F.lit(2.0), (F.lit(10) - n).cast("double")
    )
    # Dyadic num/den ratios CAN land exactly on a .0000005 decimal
    # boundary where the engines' ROUND half-modes differ — round
    # half-up explicitly with the same floor(x·1e6 + 0.5) both sides.
    ewma = (
        F.floor(
            num.cast("double") / den / F.lit(100.0) * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1000000.0)
    )
    return df.select("user_id", "event_id", "ts", ewma.alias("ewma"))


@query(
    "ts_rolling_corr",
    oracle="""
WITH c AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(ROUND(value * 100) AS BIGINT) AS x
  FROM events),
lagged AS (
  SELECT user_id, event_id, ts, x,
         lag(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
  FROM c),
mo AS (
  SELECT user_id, event_id, ts,
         COUNT(y) OVER w AS n,
         SUM(CASE WHEN y IS NOT NULL THEN x END) OVER w AS sx,
         SUM(y) OVER w AS sy,
         SUM(CASE WHEN y IS NOT NULL THEN x * x END) OVER w AS sxx,
         SUM(y * y) OVER w AS syy,
         SUM(x * y) OVER w AS sxy
  FROM lagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, ts,
       ROUND((n * sxy - sx * sy)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 4) AS lag1_corr
FROM mo
WHERE n >= 4 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling lag-1 autocorrelation: each event's value correlated
    against the previous event's value over the trailing 6-pair
    frame — the mean-reversion / trend-persistence probe of a
    metrics pipeline. Two windows over ONE user_id exchange (lag,
    then bounded-frame moments). All five moments are exact BIGINT
    window sums (cents ≤ 49k → Σx·y ≤ ~1.4e10, far inside long);
    the Pearson form n·Σxy−ΣxΣy over √(n·Σx²−(Σx)²) is computed
    from those exact integers in one identical double expression,
    so both engines produce the same bits — no one-pass/Welford
    formula drift, no frame-order float accumulation."""
    ev = load_table(spark, sf_dir, "events")
    ordw = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        cents("value").alias("x"),
    ).withColumn("y", F.lag("x").over(ordw))
    w = ordw.rowsBetween(-5, 0)
    xy = F.when(F.col("y").isNotNull(), F.col("x"))
    mo = lagged.select(
        "user_id",
        "event_id",
        "ts",
        F.count("y").over(w).alias("n"),
        F.sum(xy).over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(xy * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mo.filter(
        (F.col("n") >= 4) & (varx > 0) & (vary > 0)
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.round(
            cov / F.sqrt(varx.cast("double")) / F.sqrt(vary.cast("double")), 4
        ).alias("lag1_corr"),
    )


@query(
    "ts_trend_slope",
    oracle="""
WITH c AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
           - 473352 AS h,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events),
mo AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(h) AS sx, SUM(y) AS sy,
         SUM(h * h) AS sxx, SUM(h * y) AS sxy
  FROM c GROUP BY user_id)
SELECT user_id, n,
       ROUND((n * sxy - sx * sy)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 8)
         AS slope_per_hour
FROM mo WHERE n >= 2 AND n * sxx - sx * sx > 0
""",
)
def ts_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series trend detection: ordinary-least-squares slope of
    value against time, one slope per user, via a SINGLE
    partial-aggregable hash aggregate over the exact integer moments
    (n, Σx, Σy, Σx², Σxy) — no window, no sort, the cheapest
    possible shape for fitting millions of series at once (map-side
    combine does most of the work; the shuffle carries 5 numbers per
    series). x is whole hours since 2024-01-01 (473352 h since
    epoch) to keep Σx² inside BIGINT for up to ~10⁵ points per
    series — beyond that, ANSI mode fails loudly rather than
    silently wrapping. The slope is one double division from exact
    integers: bit-identical on both engines. Degenerate series (all
    points in one hour) are filtered, keeping ANSI division happy."""
    ev = load_table(spark, sf_dir, "events")
    h = (F.floor(F.unix_micros(F.col("ts")) / F.lit(3600000000)) - 473352).cast(
        "long"
    )
    c = ev.select(
        "user_id", h.alias("h"), cents("value").alias("y")
    )
    mo = c.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("h").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("h") * F.col("h")).alias("sxx"),
        F.sum(F.col("h") * F.col("y")).alias("sxy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mo.filter((F.col("n") >= 2) & (varx > 0)).select(
        "user_id",
        "n",
        F.round(cov / varx.cast("double") / F.lit(100.0), 8).alias(
            "slope_per_hour"
        ),
    )


@query(
    "ts_seasonal_decompose",
    oracle="""
WITH c AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events),
m AS (
  SELECT user_id, event_id, ts, hod, vc,
         CAST(SUM(vc) OVER w AS DOUBLE) / COUNT(*) OVER w AS mean_c
  FROM c
  WINDOW w AS (PARTITION BY user_id, hod))
SELECT user_id, event_id, ts, hod,
       floor(mean_c / 100.0 * 10000 + 0.5) / 10000.0 AS seasonal,
       floor((vc - mean_c) / 100.0 * 10000 + 0.5) / 10000.0 AS residual
FROM m
""",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition: each event's value splits into
    the mean of its user's same-hour-of-day bucket (the diurnal
    seasonal component) and the residual — the pre-step of every
    seasonality-aware anomaly detector or forecaster. One unordered
    window (no sort frame) over a (user, hour-of-day) exchange;
    at 100 TB the same algebra runs as a pre-aggregated dim join
    (24 rows per user). Exactness: the bucket sum is an integer-cent
    BIGINT (order-free), the mean is one double division, and both
    outputs round half-up with the identical floor(x·10⁴+0.5)
    expression, so hashes match bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.hour("ts").cast("int").alias("hod"),
        cents("value").alias("vc"),
    )
    w = W.partitionBy("user_id", "hod")
    mean_c = F.sum("vc").over(w).cast("double") / F.count(F.lit(1)).over(w)

    def r4(x):
        return F.floor(x * F.lit(10000) + F.lit(0.5)).cast("double") / F.lit(
            10000.0
        )

    return c.select(
        "user_id",
        "event_id",
        "ts",
        "hod",
        r4(mean_c / F.lit(100.0)).alias("seasonal"),
        r4((F.col("vc") - mean_c) / F.lit(100.0)).alias("residual"),
    )


@query(
    "ts_outlier_mad",
    oracle="""
WITH v AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events),
med AS (
  SELECT user_id, CAST(median(vc) AS DOUBLE) AS med FROM v
  GROUP BY user_id),
dev AS (
  SELECT v.user_id, v.event_id, v.vc, m.med,
         ABS(v.vc - m.med) AS adev
  FROM v JOIN med m ON v.user_id = m.user_id),
mad AS (
  SELECT user_id, CAST(median(adev) AS DOUBLE) AS mad FROM dev
  GROUP BY user_id)
SELECT d.user_id, d.event_id, d.vc,
       CAST(d.med AS DOUBLE) AS med,
       CAST(a.mad AS DOUBLE) AS mad
FROM dev d JOIN mad a ON d.user_id = a.user_id
WHERE a.mad > 0 AND ABS(d.vc - d.med) > 5 * a.mad
""",
)
def ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection per user — the
    robust counterpart to `ts_anomaly_zscore`: one wild value
    inflates a stddev and masks later outliers, but barely moves
    the median/MAD pair. Both exact percentiles are computed over
    integer cents (median and the deviation median are .0/.5 exact
    in both engines — no float summation, no rounding step) and the
    5×MAD flag is an exact comparison.

    r16 (guide §2.4): exact `percentile` is NOT partially
    aggregable — a percentile groupBy ships every row, so the old
    groupBy→broadcast-back shape shuffled the FULL event stream
    twice (med agg + mad agg) and re-derived the dev lineage per
    consumer (4 parquet scans in the plan). Both medians now ride
    ONE exchange as chained window aggregates over the same
    partitionBy(user_id): Exchange → Sort → Window(med) →
    Window(mad) → Filter, 1 scan, no joins — plan-pinned. Memory
    per task is the same either way (exact percentile buffers the
    partition in both operators).

    Skew bound (r17, VERDICT r16 #8): a whole-partition window
    cannot be AQE-skew-split, so the memory bound is the hottest
    user's row count. Measured on the fixture family: rows/user is
    ~67 mean, 99 max at EVERY sf (0.001→0.1; scale grows the USER
    count, not rows-per-user), so the per-task buffer is bounded at
    ~100 rows regardless of corpus size. On a distribution where a
    single user's history is itself corpus-scale, first pre-aggregate
    to (user_id, vc, n) — the value histogram is what both medians
    need — or swap `percentile` for `approx_percentile` and keep
    the shape."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    d = (
        ev.select(
            "user_id",
            "event_id",
            cents("value").alias("vc"),
        )
        .withColumn("med", F.percentile(F.col("vc"), F.lit(0.5)).over(w))
        .withColumn("adev", F.abs(F.col("vc") - F.col("med")))
        .withColumn("mad", F.percentile(F.col("adev"), F.lit(0.5)).over(w))
    )
    return (
        d.filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("vc") - F.col("med")) > 5 * F.col("mad"))
        )
        .select("user_id", "event_id", "vc", "med", "mad")
    )
