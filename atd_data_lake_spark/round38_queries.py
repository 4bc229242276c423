"""Round-38 query addition — exact rolling medians.

- ``ts_rolling_median`` — exact 7-day rolling median of daily revenue
  per event type.  Spark has no exact median WINDOW function; the
  engine expresses it as a trailing band self-join over the ALREADY
  REDUCED daily frame + the exact ``median`` aggregate — the canonical
  workaround, priced correctly: the band join runs over |types|×|days|
  rows, never raw events.

It carries a full DuckDB oracle.  The round's item-item collaborative
filtering (``mb_item_cf_topk``) lives in ``basket_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# ts_rolling_median
# ---------------------------------------------------------------------------

_RM_WINDOW_DAYS = 7


def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day median of daily revenue per event type.

    Spark has no exact-median window function (percentile_approx is the
    approximate dial); the exact form is a trailing band self-join over
    the DAILY frame — which ONE map-side-combined aggregate has already
    reduced to |types|×|days| rows, so the quadratic-looking band is
    priced on the reduction, never on raw events.  Median parity with
    DuckDB per the ``agg_group_medians`` recipe (both interpolate at
    even counts); daily values are exact decimal sums rounded to 2 dp
    BEFORE the median, so the median's inputs are engine-identical.
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double"), 2
            ).alias("daily_value")
        )
    )
    l = daily.select("event_type", "day", "daily_value")
    r = daily.select(
        F.col("event_type").alias("event_type_r"),
        F.col("day").alias("day_r"),
        F.col("daily_value").alias("v_r"),
    )
    band = l.join(
        r,
        (F.col("event_type") == F.col("event_type_r"))
        & (F.col("day_r") >= F.date_sub("day", _RM_WINDOW_DAYS - 1))
        & (F.col("day_r") <= F.col("day")),
    )
    return (
        band.groupBy("event_type", "day", "daily_value")
        .agg(
            F.count("*").cast("long").alias("n_days_in_window"),
            F.round(F.median("v_r"), 6).alias("rolling_median_7d"),
        )
        .orderBy("event_type", "day")
    )


TS_ROLLING_MEDIAN_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
               AS daily_value
    FROM events GROUP BY 1, 2
)
SELECT l.event_type, l.day, l.daily_value,
       CAST(count(*) AS BIGINT) AS n_days_in_window,
       round(median(r.daily_value), 6) AS rolling_median_7d
FROM daily l JOIN daily r
  ON r.event_type = l.event_type
 AND r.day >= l.day - {_RM_WINDOW_DAYS - 1}
 AND r.day <= l.day
GROUP BY l.event_type, l.day, l.daily_value
ORDER BY l.event_type, l.day
"""


ROUND38_QUERIES = {
    "ts_rolling_median": ts_rolling_median,
}

ROUND38_ORACLES = {
    "ts_rolling_median": TS_ROLLING_MEDIAN_SQL,
}
