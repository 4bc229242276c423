"""Round-12 query additions: embedding-norm quality control and the
DAU/WAU stickiness product metric.

- ``emb_norm_quality`` — per-label report of embedding-norm outliers
  (dead or exploding encoder detection): a vector whose L2 norm sits
  far from its label's mean is a corrupt row long before any similarity
  search notices.  Norms and moments use the exact decimal-sum
  discipline, so the report is hash-stable.
- ``evt_stickiness`` — DAU, trailing-7-day WAU, and the DAU/WAU
  stickiness ratio per day: the engagement metric every product
  pipeline derives from the same explode-to-report-day shape as
  ``evt_rolling_active_users``.

Both carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# emb_norm_quality — norm-outlier QC per label
# ---------------------------------------------------------------------------

_NORM_Z = 3.0


def emb_norm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm QC: mean/min/max of the squared L2 norm
    and how many vectors sit more than 3σ from the label mean.

    Norm² per vector = decimal-exact sum of round-6 squared elements (a
    per-row array reduction — posexplode + one (vec, label) agg, the
    emb_label_centroids shuffle shape).  Label moments come from exact
    decimal sums of the (rounded) norms, so the z-flag threshold is
    bit-identical on both engines; the flag itself uses a strict
    inequality against a round-9 threshold.
    """
    e = _t(spark, sf_dir, "embeddings")
    el = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "val"),
    )
    norms = el.groupBy("vec_id", "label").agg(
        F.round(
            F.sum(F.round(F.col("val") * F.col("val"), 9).cast("decimal(28,9)"))
            .cast("double"),
            6,
        ).alias("norm2")
    )
    d6 = "decimal(28,6)"
    stats = norms.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.col("norm2").cast(d6)).alias("_s1"),
        F.sum((F.col("norm2") * F.col("norm2")).cast("decimal(38,12)")).alias(
            "_s2"
        ),
        F.round(F.min("norm2"), 6).alias("norm2_min"),
        F.round(F.max("norm2"), 6).alias("norm2_max"),
    )
    n = F.col("n_vecs").cast("double")
    mean = F.col("_s1").cast("double") / n
    var = F.col("_s2").cast("double") / n - mean * mean
    enriched = stats.select(
        "label",
        "n_vecs",
        F.round(mean, 6).alias("norm2_mean"),
        "norm2_min",
        "norm2_max",
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 9).alias("_std"),
    )
    flagged = (
        norms.join(F.broadcast(enriched), "label")
        .groupBy("label")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("norm2") - F.col("norm2_mean"))
                    > _NORM_Z * F.col("_std"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.first("n_vecs").alias("n_vecs"),
            F.first("norm2_mean").alias("norm2_mean"),
            F.first("norm2_min").alias("norm2_min"),
            F.first("norm2_max").alias("norm2_max"),
        )
    )
    return flagged.select(
        "label", "n_vecs", "norm2_mean", "norm2_min", "norm2_max", "n_outliers"
    ).orderBy("label")


EMB_NORM_QUALITY_SQL = """
WITH el AS (
    SELECT vec_id, label, CAST(embedding[i] AS DOUBLE) AS val
    FROM embeddings, range(1, 65) t(i)
),
norms AS (
    SELECT vec_id, label,
           round(CAST(sum(CAST(round(val * val, 9) AS DECIMAL(28,9)))
                      AS DOUBLE), 6) AS norm2
    FROM el GROUP BY 1, 2
),
stats AS (
    SELECT label,
           count(*) AS n_vecs,
           sum(CAST(norm2 AS DECIMAL(28,6))) AS _s1,
           sum(CAST(norm2 * norm2 AS DECIMAL(38,12))) AS _s2,
           round(min(norm2), 6) AS norm2_min,
           round(max(norm2), 6) AS norm2_max
    FROM norms GROUP BY 1
),
enriched AS (
    SELECT label, n_vecs,
           round(CAST(_s1 AS DOUBLE) / n_vecs, 6) AS norm2_mean,
           norm2_min, norm2_max,
           round(sqrt(greatest(
               CAST(_s2 AS DOUBLE) / n_vecs
               - (CAST(_s1 AS DOUBLE) / n_vecs) * (CAST(_s1 AS DOUBLE) / n_vecs),
               0.0)), 9) AS _std
    FROM stats
)
SELECT e.label,
       any_value(e.n_vecs) AS n_vecs,
       any_value(e.norm2_mean) AS norm2_mean,
       any_value(e.norm2_min) AS norm2_min,
       any_value(e.norm2_max) AS norm2_max,
       CAST(sum(CASE WHEN abs(n.norm2 - e.norm2_mean) > 3.0 * e._std
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM norms n JOIN enriched e USING (label)
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# evt_stickiness — DAU / trailing-7-day WAU per day
# ---------------------------------------------------------------------------


def evt_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU, and stickiness = DAU/WAU per report day.

    One dedup shuffle to (user, day) activity; DAU is a per-day count,
    WAU reuses the explode-to-report-day shape (each activity day feeds
    ≤ 7 report days) — cost 7× the DEDUPED activity, independent of the
    raw event volume.  Stickiness is one exact-integer division per
    output row.
    """
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    act = ev.distinct().persist()
    dau = act.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    fed = act.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("report_day"),
        "user_id",
    ).join(
        F.broadcast(
            act.select("day").distinct().withColumnRenamed("day", "report_day")
        ),
        "report_day",
        "left_semi",
    )
    wau = fed.groupBy("report_day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.withColumnRenamed("day", "report_day")
        .join(wau, "report_day")
        .select(
            "report_day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("report_day")
    )


EVT_STICKINESS_SQL = """
WITH act AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (
    SELECT day AS report_day, count(DISTINCT user_id) AS dau
    FROM act GROUP BY 1
),
fed AS (
    SELECT t.report_day::DATE AS report_day, a.user_id
    FROM act a,
         UNNEST(generate_series(a.day, a.day + INTERVAL 6 DAY, INTERVAL 1 DAY))
             AS t(report_day)
    WHERE t.report_day::DATE IN (SELECT day FROM act)
),
wau AS (
    SELECT report_day, count(DISTINCT user_id) AS wau FROM fed GROUP BY 1
)
SELECT d.report_day, d.dau, w.wau,
       round(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM dau d JOIN wau w USING (report_day)
ORDER BY d.report_day
"""


ROUND12_QUERIES = {
    "emb_norm_quality": emb_norm_quality,
    "evt_stickiness": evt_stickiness,
}

ROUND12_ORACLES = {
    "emb_norm_quality": EMB_NORM_QUALITY_SQL,
    "evt_stickiness": EVT_STICKINESS_SQL,
}
