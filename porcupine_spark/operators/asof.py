"""As-of (point-in-time) join — an operator Spark lacks natively.

Scale-first design: the classic join-free union+window merge. Tag both
sides, union them, and for each left row take the most recent right row
at-or-before its timestamp via ``last_value(..., ignorenulls)`` over a
key-partitioned, time-ordered window. ONE shuffle (on the key), no
range-explosion, no per-group pandas; skew behaves like any window op.
A join-based formulation (left join on key + ts<=ts, then keep max)
explodes on hot keys — at 100 TB the union+window form is the only one
that survives.

The reference has no joins at all (SURVEY.md §2.3); this is part of the
additive large-scale operator surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_order: str,
    payload_cols: list[str],
    direction: str = "backward",
    tolerance_s: float | None = None,
) -> DataFrame:
    """For every ``left`` row, attach one ``right`` payload with the
    same ``on`` key, chosen by ``direction`` (pandas merge_asof's
    vocabulary):

    - ``backward``: latest right with ``right_ts <= left_ts`` (ties on
      right_ts broken by largest ``right_order``);
    - ``forward``: earliest right with ``right_ts >= left_ts`` (ties
      broken by smallest ``right_order``);
    - ``nearest``: whichever of the two is closer in time (exact tie ->
      backward). Timestamp or numeric ts columns.

    ``tolerance_s`` (merge_asof's ``tolerance``): a match farther than
    this many seconds (or ts units for numeric columns) from the left
    timestamp is nulled out — applied AFTER the directional pick, as a
    column expression over the same window output (no extra shuffle).

    Returns left columns + payloads (null when no right row qualifies).
    All three directions are the same join-free union + ONE
    key-partitioned window (forward adds a second sort over the same
    exchange, never a second shuffle)."""
    from pyspark.sql.types import TimestampType, TimestampNTZType

    lcols = left.columns
    l = left.withColumn("__t", F.col(left_ts)).withColumn("__side", F.lit(1))
    for c in payload_cols:
        l = l.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    l = l.withColumn("__ord", F.lit(None).cast(right.schema[right_order].dataType))
    r = right.withColumn("__t", F.col(right_ts)).withColumn("__side", F.lit(0))
    r = r.withColumn("__ord", F.col(right_order))
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    sel = [on, "__t", "__side", "__ord", *[c for c in lcols if c != on], *payload_cols]
    unioned = l.select(*sel).unionByName(r.select(*sel))
    # ONE struct per right row carrying every payload AND the right-row
    # timestamp, null on left rows. Filling the struct (not each column
    # separately) guarantees every output value comes from THE matched
    # row — per-column ignorenulls fill would source a payload from an
    # OLDER right row whenever the matched row's value is NULL, mixing
    # rows (and making the tolerance check compare against a timestamp
    # that didn't supply the payload). The struct is non-null for every
    # right row even when its fields are null, so ignorenulls walks to
    # the newest/oldest right ROW, exactly like the oracle's
    # correlated-rank formulation.
    unioned = unioned.withColumn(
        "__p",
        F.when(
            F.col("__side") == 0,
            F.struct(*payload_cols, F.col("__t").alias("__mt")),
        ),
    )
    keep = [on, "__side", *[c for c in lcols if c != on]]

    # backward: right rows sort BEFORE left rows at equal ts => "at or
    # before" includes ties; last() walks back to the newest right
    wb = (
        W.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__side").asc(), F.col("__ord").asc_nulls_first())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # forward: left rows sort BEFORE right rows at equal ts => the
    # frame starting at the current row still sees same-ts rights;
    # first() grabs the oldest qualifying right
    wf = (
        W.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__side").desc(), F.col("__ord").asc_nulls_last())
        .rowsBetween(0, W.unboundedFollowing)
    )

    def fill(w, agg):
        return agg(F.col("__p"), ignorenulls=True).over(w)

    def as_num(col):
        if isinstance(unioned.schema["__t"].dataType, (TimestampType, TimestampNTZType)):
            return F.unix_micros(col)
        return col.cast("double")

    def tol_units() -> float:
        if isinstance(unioned.schema["__t"].dataType, (TimestampType, TimestampNTZType)):
            return tolerance_s * 1_000_000
        return tolerance_s

    def apply_tolerance(df: DataFrame) -> DataFrame:
        """Null the payloads of rows whose matched right ts (__mt) is
        farther than the tolerance from the left ts (__t)."""
        within = F.col("__mt").isNotNull() & (
            F.abs(as_num(F.col("__t")) - as_num(F.col("__mt"))) <= F.lit(tol_units())
        )
        return df.select(
            *[F.col(c) for c in keep],
            *[F.when(within, F.col(c)).alias(c) for c in payload_cols],
        )

    def unpack(df: DataFrame, m) -> DataFrame:
        """Project the matched-row struct ``m`` back into payload
        columns (+ __t/__mt for the tolerance check)."""
        return df.select(
            *[F.col(c) for c in keep],
            F.col("__t"),
            *[m[c].alias(c) for c in payload_cols],
            m["__mt"].alias("__mt"),
        )

    if direction in ("backward", "forward"):
        w, agg = (wb, F.last) if direction == "backward" else (wf, F.first)
        filled = unpack(unioned.withColumn("__m", fill(w, agg)), F.col("__m"))
        if tolerance_s is not None:
            filled = apply_tolerance(filled)
        else:
            filled = filled.drop("__t", "__mt")
        return filled.filter(F.col("__side") == 1).drop("__side")
    if direction != "nearest":
        raise ValueError(f"unknown direction {direction!r}")

    both = unioned.withColumn("__bm", fill(wb, F.last)).withColumn(
        "__fm", fill(wf, F.first)
    )
    bt, ft = F.col("__bm")["__mt"], F.col("__fm")["__mt"]
    dist_b = as_num(F.col("__t")) - as_num(bt)
    dist_f = as_num(ft) - as_num(F.col("__t"))
    use_backward = ft.isNull() | (bt.isNotNull() & (dist_b <= dist_f))
    picked = unpack(
        both.withColumn(
            "__m", F.when(use_backward, F.col("__bm")).otherwise(F.col("__fm"))
        ),
        F.col("__m"),
    )
    if tolerance_s is not None:
        picked = apply_tolerance(picked)
    else:
        picked = picked.drop("__t", "__mt")
    return picked.filter(F.col("__side") == 1).drop("__side")


# the purchase (p) and view (v) frames of the asof_purchase_* oracles
_SQL_PV = """p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT event_id AS view_id, user_id, ts, value AS view_value
      FROM events WHERE event_type = 'view'
    )"""
# every purchase with the rn = 1 view of a ``ranked`` CTE, if any
_SQL_PV_PICK = """SELECT p.event_id, p.user_id, r.view_id, r.view_value
    FROM p LEFT JOIN (SELECT event_id, view_id, view_value FROM ranked WHERE rn = 1) r
      ON r.event_id = p.event_id"""


def _purchase_view_asof(spark: SparkSession, sf_dir: str, **how) -> DataFrame:
    """(event_id, user_id, view_id, view_value): each purchase as-of
    joined to the same user's views; ``how`` is asof_join's direction
    and tolerance_s."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        right_order="view_id", payload_cols=["view_id", "view_value"], **how,
    )
    return out.select("event_id", "user_id", "view_id", "view_value")


@query(
    "asof_purchase_last_view",
    f"""
    WITH {_SQL_PV},
    ranked AS (
      SELECT p.event_id, v.view_id, v.view_value,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts DESC, v.view_id DESC) AS rn
      FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
    )
    {_SQL_PV_PICK}""",
    tags=("asof", "window"),
    doc="As-of join: each purchase gets the latest at-or-before view of "
    "the same user. Spark side is the union+window merge (no join); the "
    "oracle is an independent correlated-rank formulation.",
)
def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _purchase_view_asof(spark, sf_dir)


@query(
    "asof_purchase_next_view",
    f"""
    WITH {_SQL_PV},
    ranked AS (
      SELECT p.event_id, v.view_id, v.view_value,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts ASC, v.view_id ASC) AS rn
      FROM p JOIN v ON v.user_id = p.user_id AND v.ts >= p.ts
    )
    {_SQL_PV_PICK}""",
    tags=("asof", "window"),
    doc="Forward as-of: each purchase gets the EARLIEST at-or-after view "
    "of the same user (merge_asof direction='forward'). Same join-free "
    "union+window plan; oracle by correlated rank.",
)
def asof_purchase_next_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _purchase_view_asof(spark, sf_dir, direction="forward")


@query(
    "asof_purchase_nearest_view",
    f"""
    WITH {_SQL_PV},
    b AS (
      SELECT event_id, view_id, view_value, vts FROM (
        SELECT p.event_id, v.view_id, v.view_value, v.ts AS vts,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY v.ts DESC, v.view_id DESC) AS rn
        FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
      ) WHERE rn = 1
    ),
    f AS (
      SELECT event_id, view_id, view_value, vts FROM (
        SELECT p.event_id, v.view_id, v.view_value, v.ts AS vts,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY v.ts ASC, v.view_id ASC) AS rn
        FROM p JOIN v ON v.user_id = p.user_id AND v.ts >= p.ts
      ) WHERE rn = 1
    )
    SELECT p.event_id, p.user_id,
           CASE WHEN f.vts IS NULL OR (b.vts IS NOT NULL AND
                     (p.ts - b.vts) <= (f.vts - p.ts))
                THEN b.view_id ELSE f.view_id END AS view_id,
           CASE WHEN f.vts IS NULL OR (b.vts IS NOT NULL AND
                     (p.ts - b.vts) <= (f.vts - p.ts))
                THEN b.view_value ELSE f.view_value END AS view_value
    FROM p
    LEFT JOIN b ON b.event_id = p.event_id
    LEFT JOIN f ON f.event_id = p.event_id
    """,
    tags=("asof", "window"),
    doc="Nearest as-of: each purchase gets whichever same-user view is "
    "closer in time, exact tie -> backward (merge_asof "
    "direction='nearest'). One key-partitioned exchange serves both "
    "window passes.",
)
def asof_purchase_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _purchase_view_asof(spark, sf_dir, direction="nearest")


ATTR_WINDOW_S = 3600
ATTR_SCALE = 1_000_000


@query(
    "linear_attribution",
    f"""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'
    ),
    touched AS (
      SELECT p.user_id, p.purchase_id, CAST(p.pts AS TIMESTAMP_NS) AS pts,
             COUNT(v.vts) AS n_touches
      FROM p LEFT JOIN v
        ON v.user_id = p.user_id
       AND v.vts <= p.pts
       AND v.vts > p.pts - INTERVAL {ATTR_WINDOW_S} SECOND
      GROUP BY p.user_id, p.purchase_id, p.pts
    )
    SELECT user_id, purchase_id, pts, n_touches,
           CASE WHEN n_touches > 0
                THEN CAST({ATTR_SCALE} AS BIGINT) // n_touches ELSE 0 END
             AS credit_micro_per_touch
    FROM touched
    """,
    tags=("asof", "join", "attribution"),
    doc="Linear multi-touch attribution: each purchase splits unit "
    "credit equally across the same user's views in the trailing hour "
    "(the ad-tech workload behind every 'which exposure converted' "
    "report). The touch join is the keyed range join (equi user_id + "
    "time band - one key shuffle, no cross product; same plan family "
    "as range_join_error_burst), and per-touch credit is the "
    "integer-scaled truncating division recipe, so credits are exact "
    "longs that sum without float drift downstream.",
)
def linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("vts")
    )
    joined = p.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("vts") <= F.col("pts"))
        & (F.col("vts") > F.col("pts") - F.expr(f"INTERVAL {ATTR_WINDOW_S} SECOND")),
        "left",
    )
    touched = joined.groupBy("user_id", "purchase_id", "pts").agg(
        F.count("vts").alias("n_touches")
    )
    credit = F.when(
        F.col("n_touches") > 0, F.expr(f"CAST({ATTR_SCALE} AS BIGINT) div n_touches")
    ).otherwise(F.lit(0))
    return touched.select(
        "user_id", "purchase_id", "pts", "n_touches",
        credit.alias("credit_micro_per_touch"),
    )


ASOF_TOL_S = 3600  # 1 hour attribution tolerance


@query(
    "asof_purchase_view_tolerance",
    f"""
    WITH {_SQL_PV},
    ranked AS (
      SELECT p.event_id, v.view_id, v.view_value,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts DESC, v.view_id DESC) AS rn
      FROM p JOIN v ON v.user_id = p.user_id
                   AND v.ts <= p.ts
                   AND v.ts >= p.ts - INTERVAL {ASOF_TOL_S} SECOND
    )
    {_SQL_PV_PICK}""",
    tags=("asof", "window"),
    doc=f"Bounded-lookback as-of (merge_asof's tolerance, the missing "
    f"fourth knob after the three directions): each purchase gets the "
    f"latest at-or-before view ONLY if it is within {ASOF_TOL_S}s - "
    f"stale matches null out, which is what attribution and "
    f"feature-freshness joins actually need (an hours-old price tick "
    f"is worse than no tick). The tolerance is a column predicate "
    f"applied AFTER the same join-free union+window pick (no extra "
    f"shuffle); the oracle bounds the correlated rank's range "
    f"instead - two independent formulations.",
)
def asof_purchase_view_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _purchase_view_asof(spark, sf_dir, tolerance_s=ASOF_TOL_S)


ATTRIB_WINDOW_S = 3600


@query(
    "cogroup_purchase_view_attribution",
    f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS tsu FROM events
      WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, epoch_us(ts) AS tsu FROM events
      WHERE event_type = 'view'
    ),
    att AS (
      SELECT p.user_id, p.tsu,
             CASE WHEN EXISTS (
               SELECT 1 FROM v
               WHERE v.user_id = p.user_id
                 AND v.tsu <= p.tsu
                 AND v.tsu >= p.tsu - {ATTRIB_WINDOW_S}::BIGINT * 1000000
             ) THEN 1 ELSE 0 END AS attributed
      FROM p
    ),
    vc AS (SELECT user_id, COUNT(*) AS n_views FROM v GROUP BY user_id)
    SELECT att.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COALESCE(MAX(vc.n_views), 0) AS BIGINT) AS n_views,
           CAST(SUM(att.attributed) AS BIGINT) AS n_attributed
    FROM att LEFT JOIN vc ON att.user_id = vc.user_id
    GROUP BY att.user_id
    """,
    tags=("asof", "attribution", "window"),
    doc=f"Per-user purchase attribution (each purchase checks for a "
    f"view in the preceding {ATTRIB_WINDOW_S}s), one row per user "
    "with >=1 purchase. Optimization r7: migrated from cogroup + "
    "per-group pandas (one Python call and one Arrow row-trip per "
    "user) to the merged-timeline window form — union both event "
    "kinds, ONE exchange on user_id, a running last-view window, one "
    "aggregate; all JVM. Same single-exchange posture as the asof "
    "family, per-key state bounded by one user's events, and the "
    "Python boundary is gone. The oracle is an independent "
    "correlated-EXISTS formulation. Exact integer microseconds "
    "throughout; the cogroup API itself stays exercised in "
    "tests/test_engine_ext.py.",
)
def cogroup_purchase_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Optimization r7 (guide §4.1): formerly a cogroup + per-group
    # pandas align — one Python call per user with one row out, so the
    # whole events table crossed the Arrow boundary and per-group
    # pandas overhead dominated (top-10 cost at sf0.1 AND 10x). The
    # merged-timeline window form below is the asof_join trick applied
    # to the aggregate case: union both event kinds, ONE exchange on
    # user_id, a running last-view window, then a plain aggregate —
    # all JVM, no Python stage. Result-identical (exact integer
    # microseconds; oracle-verified): "last view at-or-before within
    # the window exists" == the correlated-EXISTS oracle. Views order
    # BEFORE purchases at equal timestamps (is_p ascending), matching
    # both the oracle's v.tsu <= p.tsu and the former searchsorted
    # side='right'. The cogroup API itself stays exercised in
    # tests/test_engine_ext.py::TestCogroupEdges.
    ev = load_table(spark, sf_dir, "events")
    win_us = ATTRIB_WINDOW_S * 1_000_000
    both = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "user_id",
        F.unix_micros("ts").alias("tsu"),
        (F.col("event_type") == "purchase").alias("is_p"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tsu", "is_p")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_view = F.last(
        F.when(~F.col("is_p"), F.col("tsu")), ignorenulls=True
    ).over(w)
    attributed = (
        F.col("is_p")
        & last_view.isNotNull()
        & (F.col("tsu") - last_view <= F.lit(win_us))
    )
    return (
        both.withColumn("att", attributed)
        .groupBy("user_id")
        .agg(
            F.sum(F.col("is_p").cast("long")).alias("n_purchases"),
            F.sum((~F.col("is_p")).cast("long")).alias("n_views"),
            F.sum(F.col("att").cast("long")).alias("n_attributed"),
        )
        .filter(F.col("n_purchases") > 0)
        .select("user_id", "n_purchases", "n_views", "n_attributed")
    )
