"""Round-19 query addition (the round's k-anonymity audit and Benford
screen, ``dq_k_anonymity`` and ``dq_benford``, live in ``dq_queries``):

- ``evt_attribution_first_touch`` — first-touch attribution: every
  purchase event attributes to the event type that OPENED the user's
  trailing 7-day window (min-by over (ts, event_id) among in-window
  predecessors).  The self-band-join shape of every marketing
  attribution pipeline; bounded by events-per-user-per-week, never
  |events|².

It carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# evt_attribution_first_touch
# ---------------------------------------------------------------------------

_ATTR_WINDOW_DAYS = 7


def evt_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase event: the event type that opened the user's
    trailing 7-day window (the first-touch channel), NULL when the
    purchase itself opens the window.

    Exact µs arithmetic on the instant axis; the predecessor set is a
    per-user band self-join bounded by a user's weekly activity, and
    min_by over (ts, event_id) makes the touch deterministic under
    timestamp ties.  Summary projection: (first_touch, n_purchases,
    n_users) — class-bounded output.
    """
    from atd_data_lake_spark.functions.datetime_fns import as_instant

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(as_instant(ev, "ts"))
    base = ev.select(
        "user_id", "event_id", "event_type", us.alias("us")
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("us").alias("p_us"),
    )
    window_us = _ATTR_WINDOW_DAYS * 86_400_000_000
    touches = purchases.join(base, "user_id").filter(
        (F.col("us") >= F.col("p_us") - window_us) & (F.col("us") < F.col("p_us"))
    )
    first = touches.groupBy("user_id", "p_id").agg(
        F.expr("min_by(event_type, struct(us, event_id))").alias("first_touch")
    )
    attributed = purchases.join(first, ["user_id", "p_id"], "left")
    return (
        attributed.groupBy(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch")
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("first_touch")
    )


EVT_ATTRIBUTION_SQL = f"""
WITH base AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us
    FROM events
),
purchases AS (
    SELECT user_id, event_id AS p_id, us AS p_us
    FROM base WHERE event_type = 'purchase'
),
touches AS (
    SELECT p.user_id, p.p_id,
           (min({{'us': b.us, 'eid': b.event_id, 'et': b.event_type}})).et
             AS first_touch
    FROM purchases p
    JOIN base b ON b.user_id = p.user_id
       AND b.us >= p.p_us - {_ATTR_WINDOW_DAYS} * 86400000000
       AND b.us < p.p_us
    GROUP BY 1, 2
)
SELECT coalesce(t.first_touch, 'none') AS first_touch,
       count(*) AS n_purchases,
       count(DISTINCT p.user_id) AS n_users
FROM purchases p
LEFT JOIN touches t ON t.user_id = p.user_id AND t.p_id = p.p_id
GROUP BY 1
ORDER BY first_touch
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND19_QUERIES = {
    "evt_attribution_first_touch": evt_attribution_first_touch,
}

ROUND19_ORACLES = {
    "evt_attribution_first_touch": EVT_ATTRIBUTION_SQL,
}
