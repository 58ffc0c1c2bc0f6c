"""Event-time windowed aggregation over a file-source stream.

``stream_tumbling_agg`` drives a real Structured Streaming query
(readStream → watermark → window → memory sink) to completion over the
static events parquet — the same topology that, pointed at Kafka,
handles the unbounded case: watermark bounds state, tumbling windows
close and emit, partial aggregation happens map-side per microbatch.
The oracle is the batch equivalence: window(ts, 1h).start ==
date_trunc('hour', ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from porcupine_spark.plans.registry import query
from porcupine_spark.streaming.drain import drain, state_sized_session
from porcupine_spark.tables import load_events_stream, load_table


@query(
    "stream_tumbling_agg",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NS) AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP_NS) AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window"),
    doc="Tumbling 1h event-time windows + per-type counts/sums, executed "
    "as an actual streaming query (file source, 10m watermark, complete "
    "mode, memory sink, processAllAvailable). Batch oracle by the "
    "window/date_trunc equivalence.",
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # state keys = (window, event_type): a few thousand at most. Size the
    # state-store partitioning to that, not the session's shuffle width —
    # each state partition carries fixed provider/commit cost per
    # microbatch (same trick as stream_stateful_user_stats; on a real
    # cluster this is executors-sized instead).
    spark = state_sized_session(spark)
    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
    )
    return drain(agg, "complete").select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "stream_sliding_counts",
    """
    WITH expanded AS (
      SELECT e.event_type, e.value,
             time_bucket(INTERVAL '15 minutes', e.ts) - k.k * INTERVAL '15 minutes'
               AS window_start
      FROM events e, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS k) k
    )
    SELECT CAST(window_start AS TIMESTAMP_NS) AS window_start,
           CAST(window_start + INTERVAL '1 hour' AS TIMESTAMP_NS) AS window_end,
           event_type,
           COUNT(*) AS n
    FROM expanded
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window"),
    doc="Sliding event-time windows (1h length, 15m slide) as a real "
    "streaming query; every event lands in exactly 4 overlapping "
    "windows. Oracle expands the membership explicitly (time_bucket - "
    "k*slide).",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = state_sized_session(spark)  # see stream_tumbling_agg
    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return drain(agg, "complete").select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n",
    )


@query(
    "stream_session_agg",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP_NS) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTES AS TIMESTAMP_NS) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "session"),
    doc="session_window(30m) per user as a REAL streaming query — the "
    "streaming twin of the batch gap-sessionization. Spark's session "
    "end is last-event + gap, mirrored in the oracle (MAX(ts) + 30m); "
    "state is per (user, open session) and on an unbounded source the "
    "watermark closes sessions and evicts their state.",
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = state_sized_session(spark)
    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
    )
    return drain(agg, "complete").select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "total_value",
    )


@query(
    "stream_window_zscore",
    """
    WITH totals AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NS) AS window_start,
             event_type,
             SUM(CAST(value AS DECIMAL(18,6))) AS total
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT window_start, event_type, total,
             COUNT(*) OVER (PARTITION BY event_type) AS n_w,
             SUM(total) OVER (PARTITION BY event_type) AS s,
             SUM(CAST(total AS DECIMAL(38,6)) * CAST(total AS DECIMAL(38,6)))
               OVER (PARTITION BY event_type) AS ss
      FROM totals
    )
    , exact AS (
      SELECT window_start, event_type, total, n_w,
             s,
             CAST(n_w AS DECIMAL(6,0)) * CAST(ss AS DECIMAL(25,12))
               - CAST(s AS DECIMAL(19,6)) * CAST(s AS DECIMAL(19,6)) AS var_num,
             n_w * (n_w - 1) AS var_den
      FROM stats
    )
    SELECT window_start, event_type,
           CAST(total AS DOUBLE) AS total,
           CAST(FLOOR(var_num * 1000) AS DOUBLE)
             / (CAST(var_den AS DOUBLE) * 1000.0) AS variance,
           CASE WHEN (CAST(total AS DOUBLE) - CAST(s AS DOUBLE) / n_w)
                     * (CAST(total AS DOUBLE) - CAST(s AS DOUBLE) / n_w)
                > 4.0 * (CAST(FLOOR(var_num * 1000) AS DOUBLE)
                         / (CAST(var_den AS DOUBLE) * 1000.0))
                THEN 1 ELSE 0 END AS is_anomaly
    FROM exact
    """,
    tags=("streaming", "window", "quality"),
    doc="Streaming anomaly detection: hourly per-type totals come from "
    "a genuine watermarked streaming window (exact-decimal sums), then "
    "a second batch stage over the WINDOW AGGREGATES (calendar-bounded, "
    "tiny) computes each type's mean/variance of window totals and "
    "flags windows beyond 2 sigma. All statistics derive from exact "
    "decimal sums (sum, sum of squares) so both engines compute "
    "identical doubles - the sum-of-squares trick would be unstable in "
    "floats but is EXACT here; the squared-comparison form avoids "
    "sqrt so the flag needs no tolerance.",
)
def stream_window_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = state_sized_session(spark)
    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("total"))
    )
    totals = drain(agg, "complete").select(
        F.col("w.start").alias("window_start"), "event_type", "total"
    )
    # second stage: batch analytics over the window aggregates
    wt = Window.partitionBy("event_type")
    stats = totals.select(
        "window_start",
        "event_type",
        "total",
        F.count(F.lit(1)).over(wt).alias("n_w"),
        F.sum("total").over(wt).alias("s"),
        F.sum(
            F.col("total").cast("decimal(18,6)") * F.col("total").cast("decimal(18,6)")
        ).over(wt).alias("ss"),
    )
    # variance numerator in EXACT decimal (n*ss - s^2 fits (38,12) at
    # these magnitudes); one double division at the end. The all-double
    # a*b - c*d form diverged from DuckDB in the last ulps (fused
    # multiply-add contraction on the C++ side) — exact ints/decimals
    # cannot.
    var_num = (
        F.col("n_w").cast("decimal(6,0)") * F.col("ss").cast("decimal(25,12)")
        - F.col("s").cast("decimal(18,6)") * F.col("s").cast("decimal(18,6)")
    )
    var_den = (F.col("n_w") * (F.col("n_w") - 1)).cast("double")
    # quantize the exact numerator to 1e-3 units with an explicit
    # FLOOR before the double cast: at scale 12 its integer
    # representation exceeds 2^53 (DuckDB's int128-decimal -> double
    # conversion is then not correctly rounded) and decimal DOWNSCALE
    # rounding modes differ between engines — floor of (num * 1000) is
    # tie-free, fits 2^53, and converts exactly in both
    variance = F.floor(var_num * 1000).cast("double") / (var_den * F.lit(1000.0))
    s_d = F.col("s").cast("double")
    dev = F.col("total").cast("double") - s_d / F.col("n_w")
    return stats.select(
        "window_start",
        "event_type",
        F.col("total").cast("double").alias("total"),
        variance.alias("variance"),
        F.when(dev * dev > F.lit(4.0) * variance, 1).otherwise(0).alias("is_anomaly"),
    )


TRENDING_K = 3


@query(
    "stream_topk_trending",
    f"""
    WITH c AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT ws, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY ws
                                ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT CAST(ws AS TIMESTAMP_NS) AS window_start, event_type, n, rk
    FROM r WHERE rk <= {TRENDING_K}
    """,
    tags=("streaming", "window", "topk"),
    doc="Trending detector: top-3 event types per tumbling hour. The "
    "streaming half is the watermarked windowed count (bounded state, "
    "map-side partials per microbatch); the rank is a BATCH pass over "
    "the emitted counts - the standard topology, since per-window "
    "top-k needs the window closed before ranking (in production the "
    "rank runs in foreachBatch on the windows the batch closed, or "
    "downstream over the sink table, exactly as here). Deterministic "
    "tiebreak (count desc, type asc) keeps the result hash-stable.",
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = state_sized_session(spark)  # see stream_tumbling_agg
    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts = drain(agg, "complete").select(
        F.col("w.start").alias("window_start"), "event_type", "n"
    )
    wr = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return counts.withColumn(
        "rk", F.row_number().over(wr).cast("long")
    ).where(F.col("rk") <= TRENDING_K)


@query(
    "stream_hourly_unique_users",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NS) AS window_start,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
    tags=("streaming", "window", "distinct"),
    doc="Exact distinct users per hour on a stream. Streaming "
    "aggregation cannot COUNT(DISTINCT) directly (unbounded per-group "
    "state with no mergeable summary), so this composes the two "
    "streaming-legal pieces: watermarked dropDuplicates on the "
    "(hour, user) pair - state evicts one watermark past each hour - "
    "then a windowed COUNT(*) over the deduplicated stream. Both "
    "operators share the watermark; state is |active hours x users "
    "seen this hour|, the minimum any exact-distinct needs.",
)
def stream_hourly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = state_sized_session(spark)  # see stream_tumbling_agg
    stream = load_events_stream(spark, sf_dir)
    deduped = (
        stream.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["hour", "user_id"])
    )
    agg = deduped.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return drain(agg, "complete").select(
        F.col("w.start").alias("window_start"), "n_users"
    )


@query(
    "stream_incident_detect",
    """
    WITH errs AS (
      SELECT ts, event_id FROM events WHERE event_type = 'error'
    ),
    flagged AS (
      SELECT ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 300 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM errs
      WINDOW w AS (ORDER BY ts, event_id)
    ),
    islands AS (
      -- running sum ordered EXACTLY like the flag window (ts, event_id):
      -- duplicate error timestamps at an island boundary would otherwise
      -- scramble island assignment vs the session_window result
      SELECT ts,
             SUM(is_new) OVER (ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM flagged
    )
    SELECT CAST(MIN(ts) AS TIMESTAMP_NS) AS incident_start,
           CAST(MAX(ts) + INTERVAL 5 MINUTES AS TIMESTAMP_NS) AS incident_end,
           COUNT(*) AS n_errors
    FROM islands
    GROUP BY island
    HAVING COUNT(*) >= 5
    """,
    tags=("streaming", "session", "monitoring"),
    doc="Streaming incident detection — the real-time twin of "
    "session_incident_overlap's batch island derivation: a GLOBAL "
    "session_window(5m) over the error-event stream (constant grouping "
    "key — one open incident of state at a time; the watermark closes "
    "an incident 5 minutes after its last error and evicts it), "
    "qualified at >= 5 errors. The alerting query a pipeline runs "
    "against Kafka while the batch twin runs the historical audit; "
    "both derive the same incidents (oracle = the batch gap-island "
    "formulation; Spark session end = last + gap, mirrored). The "
    "single-key state is the DESIGN here (incidents are global); "
    "per-service incident keys would shard the state in production.",
)
def stream_incident_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = state_sized_session(spark)
    stream = load_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "error"
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        # streaming forbids a GLOBAL session window (and constant-folds
        # a literal key back to global) — key by event_type, which the
        # filter pins to 'error': semantically the per-service incident
        # key a production pipeline would use anyway
        .groupBy("event_type", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .filter(F.col("n_errors") >= 5)
    )
    return drain(agg, "complete").select(
        F.col("w.start").alias("incident_start"),
        F.col("w.end").alias("incident_end"),
        "n_errors",
    )


@query(
    "stream_hourly_hll_users",
    """
    WITH hashed AS (
      SELECT DISTINCT date_trunc('hour', ts) AS hour,
             CAST(concat('0x', substr(md5(concat('hllu:',
               CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      FROM events
    ),
    regs AS (
      SELECT hour, h % 256 AS bucket,
             MAX(CASE WHEN h // 256 = 0 THEN 53
                      ELSE 53 - length(bin(h // 256)) END) AS mj
      FROM hashed GROUP BY hour, h % 256
    ),
    per_hour AS (
      SELECT hour,
             SUM(1::BIGINT << (53 - mj))
               + (256 - COUNT(*)) * (1::BIGINT << 53) AS s,
             COUNT(*) AS n_buckets_hit
      FROM regs GROUP BY hour
    ),
    exact AS (
      SELECT date_trunc('hour', ts) AS hour,
             COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT CAST(e.hour AS TIMESTAMP_NS) AS hour,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           CAST(p.n_buckets_hit AS BIGINT) AS n_buckets_hit,
           CAST(718272::HUGEINT * 65536 * (1::BIGINT << 53)
                // p.s // 1000000 AS BIGINT) AS hll_estimate_raw
    FROM exact e JOIN per_hour p USING (hour)
    """,
    tags=("streaming", "sketch", "window", "distinct"),
    doc="Sketches meet streaming: hourly distinct-user HyperLogLog "
    "maintained BY the stream — register maximum per (hour window, "
    "bucket) is an ordinary streaming MAX aggregation whose state is "
    "256 integers per open hour (vs per-user state for exact "
    "distinct; stream_hourly_unique_users pays that for exactness), "
    "watermark-evicted an hour after close. The harmonic-sum readout "
    "is one bounded batch pass over the sink's register table "
    "(streaming forbids stacked aggregations — and needs not: "
    "registers ARE the stream's output contract, mergeable across "
    "hours/sources by register-wise MAX). Same integer-exact "
    "estimator as hll_distinct_estimate (shared constants), so the "
    "streaming sketch carries a full hash oracle; the exact side "
    "joins in batch for the calibration report.",
)
def stream_hourly_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions.hashing import md5_long60
    from porcupine_spark.operators.sketches import (
        HLL_ALPHA_PPM,
        HLL_M,
        HLL_POW2_RHO_MAX,
        HLL_RHO_MAX,
    )

    spark = state_sized_session(spark)
    stream = load_events_stream(spark, sf_dir)
    h = md5_long60(F.concat(F.lit("hllu:"), F.col("user_id").cast("string")))
    w = F.expr(f"h div {HLL_M}")
    rho = F.when(w == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(HLL_RHO_MAX) - F.length(F.bin(w))
    )
    regs = (
        stream.select("ts", h.alias("h"))
        .withColumn("bucket", F.col("h") % HLL_M)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("hw"), "bucket")
        .agg(F.max(rho).alias("mj"))
    )
    per_hour = (
        drain(regs, "complete")
        .groupBy(F.col("hw.start").alias("hour"))
        .agg(
            (
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - mj)"))
                + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(HLL_POW2_RHO_MAX)
            ).alias("s"),
            F.count(F.lit(1)).alias("n_buckets_hit"),
        )
    )
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(per_hour, "hour").select(
        "hour",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_buckets_hit").cast("long").alias("n_buckets_hit"),
        F.expr(
            f"CAST(CAST({HLL_ALPHA_PPM} AS DECIMAL(38,0)) * {HLL_M * HLL_M}"
            f" * {HLL_POW2_RHO_MAX} div s div 1000000 AS BIGINT)"
        ).alias("hll_estimate_raw"),
    )
