"""Custom stateful streaming operator via applyInPandasWithState.

The reference's only stateful construct is ``FoldA`` over batch
streams (SURVEY §2.10); this is the additive streaming twin: an
arbitrary per-key accumulator carried across microbatches, with the
GroupState API bounding memory (state ages out by timeout — the thing
a 100 TB unbounded stream demands).

The registered query keeps only each user's FINAL emission, so after
``processAllAvailable`` the rowset is deterministic (count / exact-
decimal sum / argmax-by-(ts,event_id) last event per user) and a plain
``GROUP BY user_id`` DuckDB oracle hash-matches it.  The value sum is
accumulated in Python ``Decimal`` over values pre-cast to
decimal(38,6) in Spark SQL — the identical exact-sum-then-one-cast
recipe that makes ``stream_session_agg`` bit-identical to its oracle
(engines disagree on IEEE summation order, never on a single
correctly-rounded decimal->double cast)."""

from __future__ import annotations

from collections.abc import Iterator
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from porcupine_spark.plans.registry import query
from porcupine_spark.streaming.drain import drain, state_sized_session
from porcupine_spark.tables import load_events_stream

OUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value decimal(38,6), last_event string"
)
# total is carried as its exact string form: Arrow round-trips strings
# through the state store losslessly on every Spark version, and
# Decimal(str) reparses exactly.
STATE_SCHEMA = "n bigint, total string, last string"


def running_user_stats(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, exact sum, last-event-type) accumulator."""
    if state.exists:
        n, total_s, last = state.get
        total = Decimal(total_s)
    else:
        n, total, last = 0, Decimal(0), None
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        n += len(pdf)
        # value arrives as decimal(38,6) => Decimal objects; the sum is
        # exact and order-independent
        for v in pdf["value"]:
            total += v
        if len(pdf):
            last = str(pdf["event_type"].iloc[-1])
    state.update((n, str(total), last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "last_event": [last],
        }
    )


def stateful_user_stats(stream: DataFrame) -> DataFrame:
    """Drive the stateful query over a (file-source) stream to
    completion; returns the final per-key emissions."""
    out = (
        stream.withColumn("value", F.col("value").cast("decimal(38,6)"))
        .groupBy("user_id")
        .applyInPandasWithState(
            running_user_stats,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return drain(out, "update")


@query(
    "stream_stateful_user_stats",
    """
    WITH last AS (
      SELECT user_id, event_type AS last_event FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1
    ),
    agg AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY user_id
    )
    SELECT agg.user_id, n_events, total_value, last_event
    FROM agg JOIN last ON last.user_id = agg.user_id
    """,
    tags=("streaming", "stateful"),
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running count/sum/last-event across microbatches, keeping "
    "each user's final emission. Deterministic after "
    "processAllAvailable, so a plain GROUP BY user_id oracle "
    "hash-matches; the batch-equivalence assertion additionally lives "
    "in tests/test_task_ext.py.",
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # Stateful cost is dominated by per-partition state-store + Python
    # worker setup; size the state partitioning to the key cardinality
    # (150-1500 users here), not the session's shuffle width. A cloned
    # session scopes the conf change to this query. On a real cluster
    # this is executors-sized instead.
    ns = state_sized_session(spark)
    stream = load_events_stream(ns, sf_dir)
    raw = stateful_user_stats(stream)
    # keep only each user's final emission (latest n_events wins) so the
    # result is batch-boundary-insensitive after all data is processed
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select(
            "user_id",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
            "last_event",
        )
    )


# --- event-time-timeout sessionizer ---------------------------------

SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
# state = the key's OPEN sessions (plural: bursts already separated by
# more than the gap but not yet watermark-confirmed each stay open
# individually until the watermark passes their end + gap)
SESSION_STATE_SCHEMA = "starts array<bigint>, ends array<bigint>, ns array<bigint>"


def make_timeout_sessionizer(gap_ms: int):
    """A GroupState sessionizer that closes a session by WATERMARK
    PASSAGE: a session [start, end] is emitted (and its state freed)
    exactly when the event-time watermark passes end + gap — at that
    point any event that could still extend it (ts <= end + gap) is
    below the watermark and would be dropped as late, so closing is
    safe. The eviction contract keeps an unbounded keyspace's state
    bounded (idle keys cost nothing after one gap).

    Gap semantics hold WITHIN a microbatch too: the handler sorts the
    batch's timestamps, splits on intra-batch gaps > gap, and merges
    the carried open sessions as intervals — two bursts more than a
    gap apart become two sessions even when they arrive together. But
    a split session is NOT emitted eagerly on batch arrival: it waits
    in state until the watermark confirms it (late events above the
    watermark arriving in later batches can still merge into it;
    eager emission would have produced split/overlapping duplicates).

    Contrast with streaming/windows.py's ``session_window`` (built-in
    merge logic): this is the ESCAPE HATCH shape for session semantics
    the built-in cannot express (custom merge rules, per-key gaps,
    side outputs), same API as Flink's KeyedProcessFunction timers.
    """
    import numpy as np  # local: runs inside the Python worker
    import pandas as pd

    gap_us = gap_ms * 1000

    def emit(key, sessions):
        return pd.DataFrame(
            {
                "user_id": [key[0]] * len(sessions),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                "n_events": [int(k) for _, _, k in sessions],
            }
        )

    def split_by_watermark(sessions, state: GroupState):
        """Emit the watermark-confirmed prefix; keep the rest open.

        The close test is STRICT in microseconds (end + gap < wm):
        Spark keeps rows with ts >= watermark, so an event at exactly
        end + gap can still arrive and must merge — a floor-to-ms or
        inclusive comparison would close up to 999us early and emit a
        session a mergeable event then duplicates."""
        wm_us = state.getCurrentWatermarkMs() * 1000
        closed = [s for s in sessions if s[1] + gap_us < wm_us]
        kept = [s for s in sessions if s[1] + gap_us >= wm_us]
        if kept:
            state.update(
                ([s for s, _, _ in kept], [e for _, e, _ in kept], [k for _, _, k in kept])
            )
            # re-check when the watermark passes the EARLIEST open
            # end + gap — CEIL to ms so firing implies strictly past
            min_end = min(e for _, e, _ in kept)
            state.setTimeoutTimestamp((min_end + gap_us + 999) // 1000)
        else:
            state.remove()
        return closed

    def sessionize(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            starts, ends, ns = state.get
            closed = split_by_watermark(list(zip(starts, ends, ns)), state)
            if closed:
                yield emit(key, closed)
            return
        chunks = [
            pdf["ts"].astype("int64") // 1000 for pdf in pdfs if len(pdf)  # ns -> us
        ]
        if not chunks:
            return
        us = np.sort(pd.concat(chunks).to_numpy())
        # split the sorted batch on gaps > gap_us -> (start, end, count)
        cuts = np.flatnonzero(np.diff(us) > gap_us)
        seg_lo = np.concatenate(([0], cuts + 1))
        seg_hi = np.concatenate((cuts, [len(us) - 1]))
        segs = [
            (int(us[lo]), int(us[hi]), int(hi - lo + 1))
            for lo, hi in zip(seg_lo, seg_hi)
        ]
        if state.exists:
            starts, ends, ns = state.get
            segs.extend(zip(starts, ends, ns))
        # carried open sessions are just more intervals: start-sorted
        # sweep merge (standard interval-gap union) handles late
        # segments preceding them as well as ones extending them
        segs.sort()
        merged = [list(segs[0])]
        for s, e, k in segs[1:]:
            cur = merged[-1]
            if s <= cur[1] + gap_us:
                cur[1] = max(cur[1], e)
                cur[2] += k
            else:
                merged.append([s, e, k])
        closed = split_by_watermark([tuple(m) for m in merged], state)
        if closed:
            yield emit(key, closed)
    return sessionize


def stream_sessionize_with_timeout(
    stream: DataFrame, gap_ms: int, watermark: str = "0 seconds"
) -> DataFrame:
    """Drain the timeout sessionizer over a watermarked stream; returns
    the sink table. Sessions appear in it ONLY when closed by watermark
    passage — append semantics."""
    out = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_timeout_sessionizer(gap_ms),
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return drain(out, "append")


# --- streaming SCD2 apply -------------------------------------------

SCD2_OUT_SCHEMA = (
    "user_id long, attr string, valid_from_us long, valid_to_us long,"
    " n_events long"
)
SCD2_STATE_SCHEMA = "cur string, start_us long, n long"


def scd2_apply(key, pdfs, state):
    """Per-user SCD2 version builder: a new version opens whenever the
    tracked attribute (event_type) CHANGES; each closed version is
    emitted exactly once with its [valid_from, valid_to) span in exact
    integer microseconds. State = the one open version. Relies on
    per-key event-time order across microbatches (the file stream
    preserves it per user; a Kafka deployment keys partitions by user
    for the same guarantee)."""
    import pandas as pd

    (user_id,) = key
    if state.exists:  # GroupState.exists is a property, not a method
        cur, start_us, n = state.get
    else:
        cur, start_us, n = None, None, 0
    out = []
    for pdf in pdfs:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["tsu", "event_id"])
        for tsu, etype in zip(pdf["tsu"], pdf["event_type"]):
            tsu = int(tsu)
            if cur is None:
                cur, start_us, n = etype, tsu, 1
            elif etype == cur:
                n += 1
            else:
                out.append((user_id, cur, start_us, tsu, n))
                cur, start_us, n = etype, tsu, 1
    state.update((cur, start_us, n))
    yield pd.DataFrame(
        out, columns=["user_id", "attr", "valid_from_us", "valid_to_us", "n_events"]
    )


@query(
    "stream_scd2_apply",
    """
    WITH seq AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    vers AS (
      -- running sum ordered EXACTLY like the flag window (tsu, event_id):
      -- with per-user timestamp ties any other tiebreak can scramble
      -- version numbering vs both the flag pass and the streamed output
      SELECT user_id, event_type, tsu,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ver
      FROM seq
    ),
    spans AS (
      SELECT user_id, event_type AS attr, ver,
             MIN(tsu) AS valid_from_us, COUNT(*) AS n_events,
             MAX(ver) OVER (PARTITION BY user_id) AS last_ver
      FROM vers GROUP BY user_id, event_type, ver
    )
    SELECT s.user_id, s.attr,
           CAST(s.valid_from_us AS BIGINT) AS valid_from_us,
           CAST(nx.valid_from_us AS BIGINT) AS valid_to_us,
           CAST(s.n_events AS BIGINT) AS n_events
    FROM spans s
    JOIN spans nx ON nx.user_id = s.user_id AND nx.ver = s.ver + 1
    WHERE s.ver < s.last_ver
    """,
    tags=("streaming", "stateful", "scd2", "merge"),
    doc="Streaming SCD2 APPLY — the real-time twin of the batch "
    "scd2_customer_segments build: as change events arrive, each "
    "user's open version closes the moment the tracked attribute "
    "(event_type) changes, emitting the finished [valid_from, "
    "valid_to) row exactly once; the open version lives in state "
    "(3 scalars per user). This is how a feature-store history table "
    "stays current without re-running the batch build. Closed "
    "versions are emission-stable across microbatch boundaries "
    "(append-like), so the oracle — change-flag islands + next-island "
    "start via a self-join, minus each user's open last version — "
    "hash-matches the streamed output exactly. Integer microseconds "
    "end to end.",
)
def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ns = state_sized_session(spark)
    stream = load_events_stream(ns, sf_dir).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tsu")
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        scd2_apply,
        outputStructType=SCD2_OUT_SCHEMA,
        stateStructType=SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain(out, "append")
