"""Round-6 query additions: time-series regularization + sequence mining
+ robust outlier detection (the round's ``dq_freshness`` lives in
``dq_queries``).

Three families, each a capability a 100 TB training-data / telemetry lake
needs that the registry didn't yet cover:

- ``evt_resample_ffill`` — gap-fill resampling onto a regular daily grid
  with forward-fill (the hypertable ``time_bucket_gapfill`` + ``locf``
  shape; reference analog: the daily unit-data snapshots that
  support/unitdata.py materializes per day whether or not the device
  reported).  Grid = distinct entities × the global day span; missing
  days inherit the last observed value via ``last(..., ignorenulls)``
  over an ordered window.  Scale: the grid is |entities| × |days| rows
  of 3 narrow columns — never wider than the report itself; raw events
  reduce map-side to one row per (entity, day) before any window sort.
- ``evt_top_paths`` — top event-type trigrams over per-user ordered
  sequences (the n-gram/path-mining primitive behind funnel discovery
  and next-event models).  One window sort on user_id (the sequence
  key), then a map-side-combined count — the event stream shuffles once.
- ``evt_anomaly_mad`` — robust per-entity outlier counts via median /
  MAD (median absolute deviation), the heavy-tail-safe twin of
  ``evt_anomaly_zscore``: one pass for per-user exact medians, one for
  deviation medians, then a broadcast model-join back onto events.
  Exact medians are per-group ``median()`` aggregates (interpolated,
  matching DuckDB ``median`` on doubles); the two model aggregates are
  user-count-sized, so the flagging join is a broadcast.

Every query has a DuckDB oracle; every computed column is aliased
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# evt_resample_ffill — daily gap-fill grid with forward-fill (locf)
# ---------------------------------------------------------------------------


def evt_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each user's event series onto the global daily grid,
    forward-filling the last observed ``value`` across silent days.

    Plan shape (the part that survives 100 TB):

    1. events reduce map-side to one row per (user, day) —
       ``max_by(value, (ts, event_id))`` picks the day's last reading
       deterministically (struct tiebreak beats timestamp collisions).
       The shuffle carries daily aggregates, never raw events.
    2. the day grid is ``sequence(global_min_day, global_max_day)``
       exploded from a ONE-ROW span aggregate and cross-joined onto the
       distinct-user list — |users| × |days| narrow rows, the size of
       the report itself.  The 1-row side is a broadcast nested-loop by
       construction (allowlisted; it is the sequence scaffold, not a
       data×data cross join).
    3. forward fill = ``last(value, ignorenulls=True)`` over
       (user ORDER BY day) — one window sort on the already-reduced
       grid.  Days before a user's first event stay NULL (no lookahead,
       no fabricated readings).
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")

    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.expr("max_by(value, struct(ts, event_id))").alias("day_value"))

    span = ev.agg(
        F.to_date(F.min("ts")).alias("_lo"), F.to_date(F.max("ts")).alias("_hi")
    )
    days = span.select(
        F.explode(F.sequence("_lo", "_hi")).alias("day")
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))

    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        grid.join(daily, ["user_id", "day"], "left")
        .withColumn("value_ffill", F.last("day_value", ignorenulls=True).over(w))
        .withColumn("is_observed", F.col("day_value").isNotNull())
    )
    return filled.select(
        "user_id",
        "day",
        F.round("value_ffill", 6).alias("value_ffill"),
        "is_observed",
    ).orderBy("user_id", "day")


EVT_RESAMPLE_FFILL_SQL = """
WITH daily AS (
    -- row_number formulation of Spark's max_by(value, struct(ts, event_id)):
    -- DuckDB's max_by cannot take a composite ordering key
    SELECT user_id, day, day_value FROM (
        SELECT user_id,
               CAST(ts AS DATE) AS day,
               value AS day_value,
               row_number() OVER (
                   PARTITION BY user_id, CAST(ts AS DATE)
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
),
span AS (
    SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
),
days AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM span
),
grid AS (
    SELECT u.user_id, d.day
    FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days d
)
SELECT g.user_id,
       g.day,
       round(last_value(dl.day_value IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_ffill,
       dl.day_value IS NOT NULL AS is_observed
FROM grid g LEFT JOIN daily dl USING (user_id, day)
ORDER BY g.user_id, g.day
"""


# ---------------------------------------------------------------------------
# evt_top_paths — top event-type trigrams over per-user sequences
# ---------------------------------------------------------------------------

_TOP_PATHS_K = 25


def evt_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent 3-step event-type paths across all user sequences.

    ``lead()`` twice over (user_id ORDER BY ts, event_id) forms each
    within-user trigram; the count groupBy is map-side combinable (125
    distinct paths for 5 event types), so the only real exchange is the
    per-user sequence sort.  Top-k is TakeOrderedAndProject — no global
    sort materializes.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    return (
        tri.groupBy("step1", "step2", "step3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(_TOP_PATHS_K)
    )


EVT_TOP_PATHS_SQL = f"""
WITH seq AS (
    SELECT event_type AS step1,
           lead(event_type, 1) OVER w AS step2,
           lead(event_type, 2) OVER w AS step3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT step1, step2, step3, count(*) AS n_paths
FROM seq WHERE step2 IS NOT NULL AND step3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, step1, step2, step3
LIMIT {_TOP_PATHS_K}
"""


# ---------------------------------------------------------------------------
# evt_anomaly_mad — robust outlier counts via median / MAD
# ---------------------------------------------------------------------------

_MAD_SCALE = 1.4826  # consistency constant: MAD → sigma under normality
_MAD_K = 3.0


def evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier report: |value − median| > 3·1.4826·MAD.

    Two exact-median aggregates (per-user median, then median of
    absolute deviations) reduce events to a user-sized model; the model
    broadcasts back onto the event stream for flagging, so raw events
    shuffle only for the two per-user aggregates (same key → AQE reuses
    the exchange).  ``median()`` is the interpolated quantile on both
    engines, exact on doubles.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    med = ev.groupBy("user_id").agg(F.expr("median(value)").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "user_id")
        .groupBy("user_id")
        .agg(
            F.expr("median(abs(value - med))").alias("mad"),
            F.first("med").alias("med"),
        )
    )
    flagged = (
        ev.join(F.broadcast(mad), "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > _MAD_K * _MAD_SCALE * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
        )
    )
    return flagged.select(
        "user_id", "n_events", "n_outliers", "med", "mad"
    ).orderBy("user_id")


EVT_ANOMALY_MAD_SQL = f"""
WITH med AS (
    SELECT user_id, median(value) AS med FROM events GROUP BY 1
),
mad AS (
    SELECT e.user_id, median(abs(e.value - m.med)) AS mad, any_value(m.med) AS med
    FROM events e JOIN med m USING (user_id) GROUP BY 1
)
SELECT e.user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN abs(e.value - d.med) > {_MAD_K} * {_MAD_SCALE} * d.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(any_value(d.med), 6) AS med,
       round(any_value(d.mad), 6) AS mad
FROM events e JOIN mad d USING (user_id)
GROUP BY 1
ORDER BY e.user_id
"""


ROUND6_QUERIES = {
    "evt_resample_ffill": evt_resample_ffill,
    "evt_top_paths": evt_top_paths,
    "evt_anomaly_mad": evt_anomaly_mad,
}

ROUND6_ORACLES = {
    "evt_resample_ffill": EVT_RESAMPLE_FFILL_SQL,
    "evt_top_paths": EVT_TOP_PATHS_SQL,
    "evt_anomaly_mad": EVT_ANOMALY_MAD_SQL,
}
