"""Round-38 query additions — item-item collaborative filtering and
exact rolling medians.

- ``mb_item_cf_topk`` — item-item cosine similarity from basket
  co-occurrence (the classic neighborhood CF recommender): sim(a, b) =
  n_ab / sqrt(n_a · n_b), top-5 recommendations per item.  Reuses the
  ``mb_copurchase_lift`` single-shuffle counting shape (pairs +
  singleton sentinels through ONE aggregate, AQE exchange reuse) with
  the cosine normalization and a per-item rank window.
- ``ts_rolling_median`` — exact 7-day rolling median of daily revenue
  per event type.  Spark has no exact median WINDOW function; the
  engine expresses it as a trailing band self-join over the ALREADY
  REDUCED daily frame + the exact ``median`` aggregate — the canonical
  workaround, priced correctly: the band join runs over |types|×|days|
  rows, never raw events.

Both carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# mb_item_cf_topk
# ---------------------------------------------------------------------------

_CF_K = 5


def mb_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 item-item cosine recommendations per part.

    100 TB shape: baskets collapse in ONE lineitem shuffle, pairs
    generate in-row (Σ basket² bounded by the ~4-line basket, never
    |lineitem|²); the rank window runs over pair rows (∝ co-occurrence,
    not catalog²).  Cosine = one IEEE divide-by-correctly-rounded-sqrt
    of exact bigint counts — engine-exact.

    r9 single-exchange rewrite (guide §2.4 "two operations keyed the
    same way can share one exchange"; A/B 3.41 → 2.50 s min-of-4,
    results bit-identical): the pair stream is symmetrized AT SOURCE
    and explicitly repartitioned on ``a`` — hashpartitioning(a)
    satisfies the ``groupBy(a, b)`` clustering requirement AND the rank
    window's ``partitionBy(part_a)``, so the aggregate and the window
    share ONE pair-slice exchange with no persist barrier.  The trade:
    that exchange carries raw pair occurrences (no map-side combine)
    and hashes on ``a`` alone — a mega-popular part skews it, but that
    same key already skewed the old window exchange, so the skew
    profile is unchanged while the exchange count drops.

    r10 slice rewrite (see ``basket_count_slices``): both pair
    directions now come from ONE generate chain (the r9 union re-ran
    the whole pair generation per direction), the per-part margins
    aggregate their own singleton slice directly instead of filtering a
    3-way sentinel union (whose executed plan re-evaluated every branch
    per consumer).  The catalog-sized margin frame is NOT persisted:
    a cache would rebuild the basket exchange in its own sub-execution,
    so the two margin broadcasts (built separately by the runtime) each
    re-run the cheap reduce-side margin slice instead.
    """
    from atd_data_lake_spark.round4_queries import basket_count_slices

    counts, per_part_n, _ = basket_count_slices(spark, sf_dir, symmetric=True)
    per_part = per_part_n.select(
        F.col("a").alias("pk"), F.col("n").alias("n_part")
    )
    # both directions already counted — this IS the symmetrized frame
    sym = counts.select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("n").alias("n_pair"),
    )
    scored = (
        sym.join(F.broadcast(per_part), F.col("part_a") == F.col("pk"))
        .withColumnRenamed("n_part", "n_a")
        .drop("pk")
        .join(F.broadcast(per_part), F.col("part_b") == F.col("pk"))
        .withColumnRenamed("n_part", "n_b")
        .drop("pk")
        .select(
            "part_a",
            "part_b",
            "n_pair",
            F.round(
                F.col("n_pair")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.col("cos_sim").desc(), F.col("part_b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CF_K)
        .select(
            F.col("part_a").alias("part"),
            F.col("part_b").alias("rec"),
            "n_pair",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("part", "rank")
    )


MB_ITEM_CF_TOPK_SQL = f"""
WITH baskets AS (
    SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
    FROM lineitem GROUP BY l_orderkey
),
pairs_raw AS (
    SELECT parts[i] AS a, parts[j] AS b
    FROM baskets,
         LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i) ii,
         LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS j) jj
    WHERE i < j
),
pair_counts AS (
    SELECT a, b, count(*) AS n_pair FROM pairs_raw GROUP BY a, b
),
per_part AS (
    SELECT part, count(*) AS n_part FROM (
        SELECT l_orderkey, unnest(parts) AS part FROM baskets
    ) GROUP BY part
),
sym AS (
    SELECT a AS part_a, b AS part_b, n_pair FROM pair_counts
    UNION ALL
    SELECT b, a, n_pair FROM pair_counts
),
scored AS (
    SELECT s.part_a, s.part_b, s.n_pair,
           round(s.n_pair / sqrt(CAST(pa.n_part * pb.n_part AS DOUBLE)), 6)
               AS cos_sim
    FROM sym s
    JOIN per_part pa ON pa.part = s.part_a
    JOIN per_part pb ON pb.part = s.part_b
),
ranked AS (
    SELECT part_a, part_b, n_pair, cos_sim,
           row_number() OVER (PARTITION BY part_a
               ORDER BY cos_sim DESC, part_b ASC) AS rank
    FROM scored
)
SELECT part_a AS part, part_b AS rec, CAST(n_pair AS BIGINT) AS n_pair,
       cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_CF_K}
ORDER BY part, rank
"""


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
    "mb_item_cf_topk": mb_item_cf_topk,
    "ts_rolling_median": ts_rolling_median,
}

ROUND38_ORACLES = {
    "mb_item_cf_topk": MB_ITEM_CF_TOPK_SQL,
    "ts_rolling_median": TS_ROLLING_MEDIAN_SQL,
}
