"""Stream-stream join and streaming deduplication over the events
file-source stream.

Both are genuine Structured Streaming topologies (readStream on both
sides, watermarks, append mode, memory sink, processAllAvailable):

- ``stream_stream_join``: per-user view→purchase attribution within a
  30-minute window. Watermarks on BOTH sides plus the time-range join
  condition bound the buffered state: a view can be dropped once the
  purchase-side watermark passes view.ts + 30min. Pointed at Kafka,
  the same plan handles the unbounded case; on the bounded parquet
  input, append mode emits exactly the batch join's pairs, so the
  batch equi-join IS the oracle.
- ``stream_dedup``: drop duplicate (user_id, event_type, minute) keys.
  The event-time column is truncated FIRST and the watermark declared
  on the truncated column, so the dedup keys contain the watermark
  column and expired keys leave the state store (the unbounded-safe
  formulation); output is the distinct key set, which is deterministic
  regardless of which arrival won.

The reference has no streaming operators at all (SURVEY §2.10) — this
extends the engine's additive Structured Streaming surface alongside
windows.py/stateful.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.plans.registry import query
from porcupine_spark.streaming.drain import drain, state_sized_session
from porcupine_spark.tables import load_events_stream

ATTRIB_MINUTES = 30


@query(
    "stream_stream_join",
    f"""
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           CAST(v.ts AS TIMESTAMP_NS) AS view_ts,
           CAST(p.ts AS TIMESTAMP_NS) AS purchase_ts,
           p.value AS amount
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL {ATTRIB_MINUTES} MINUTES
    """,
    tags=("streaming", "join"),
    doc=f"Stream-stream inner join: views attributed to same-user "
    f"purchases within {ATTRIB_MINUTES} minutes. Watermarks on both "
    "sides + the time-range condition bound join state (buffered rows "
    "age out once the other side's watermark passes the range) — the "
    "unbounded-safe topology. Bounded input + append mode makes the "
    "batch join an exact oracle.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = state_sized_session(spark)  # see stream_tumbling_agg
    views = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    purchases = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {ATTRIB_MINUTES} MINUTES")),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "amount",
    )
    return drain(joined, "append")


@query(
    "stream_dedup",
    """
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('minute', ts) AS TIMESTAMP_NS) AS minute
    FROM events
    """,
    tags=("streaming", "dedup"),
    doc="Streaming deduplication: dropDuplicates on (user_id, "
    "event_type, minute) where minute is the watermarked event-time "
    "column itself — keys containing the watermark column are evicted "
    "from the state store as the watermark advances, so state stays "
    "bounded on an unbounded stream. Output is the distinct key set "
    "(arrival-order independent); oracle is SELECT DISTINCT.",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = state_sized_session(spark)  # see stream_tumbling_agg
    deduped = (
        load_events_stream(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute"),
        )
        .withWatermark("minute", "10 minutes")
        .dropDuplicates(["user_id", "event_type", "minute"])
    )
    return drain(deduped, "append").select("user_id", "event_type", "minute")
