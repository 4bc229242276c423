"""Round-27 query additions: the two built-in time-window surfaces not
yet under the oracle.

``evt_sliding_window`` — OVERLAPPING windows via
``F.window(ts, "30 minutes", "10 minutes")``: every event lands in
three windows, the assignment the tumbling a1 family can't express.
Oracle: each event's three candidate 10-minute-grid starts
(floor, floor−10, floor−20) unioned and re-aggregated — set-identical
to Spark's slide assignment.  Scale shape: the explode-by-3 happens
inside the window operator's projection (no self-join); one agg
exchange, decimal-exact sums.

``evt_session_window`` — Spark's BUILT-IN ``F.session_window`` (batch
execution), the declarative twin of the three existing sessionizers
(gaps-and-islands ``sessionize_batch``, stateful
``applyInPandasWithState``, executed stream).  Convention check pinned
by the oracle: Spark merges an event into the open session iff
``ts < last_ts + gap`` — the same strict-inequality boundary as the
islands formulation's ``diff >= gap → new session``.  Scale shape: one
shuffle on user_id; session merge is a per-key sort inside the window
operator, no Python stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.functions.money import D2
from atd_data_lake_spark.io.reader import read_table_utc as _t

_SLIDE_MIN = 10
_WIN_MIN = 30
_GAP_SECONDS = 1800


def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(window_start, event_type, n_events, total_value) per 30-minute
    window sliding every 10 minutes."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_utc_timestamp("ts", "UTC").alias("its"),
        "event_type",
        F.col("value").cast(D2).alias("v"),
    )
    return (
        ev.groupBy(
            F.window("its", f"{_WIN_MIN} minutes", f"{_SLIDE_MIN} minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("v").cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


EVT_SLIDING_WINDOW_SQL = f"""
WITH grid AS (
    SELECT time_bucket(INTERVAL {_SLIDE_MIN} MINUTE, ts)
             - k * INTERVAL {_SLIDE_MIN} MINUTE AS window_start,
           event_type,
           CAST(value AS DECIMAL(12,2)) AS v
    FROM events, UNNEST([0, 1, 2]) AS t(k)
)
SELECT window_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(v) AS DOUBLE), 2) AS total_value
FROM grid
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def evt_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_start, last_seen, n_events) — built-in
    session_window sessions per user, 30-minute gap."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_utc_timestamp("ts", "UTC").alias("its")
    )
    return (
        ev.groupBy(
            F.session_window("its", f"{_GAP_SECONDS} seconds").alias("sw"),
            "user_id",
        )
        .agg(F.max("its").alias("last_seen"), F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "last_seen",
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


EVT_SESSION_WINDOW_SQL = f"""
WITH lagged AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= {_GAP_SECONDS}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT user_id, ts,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM lagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS last_seen,
       count(*) AS n_events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


ROUND27_QUERIES = {
    "evt_sliding_window": evt_sliding_window,
    "evt_session_window": evt_session_window,
}
ROUND27_ORACLES = {
    "evt_sliding_window": EVT_SLIDING_WINDOW_SQL,
    "evt_session_window": EVT_SESSION_WINDOW_SQL,
}
