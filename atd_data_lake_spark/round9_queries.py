"""Round-9 query additions: distribution-drift monitoring (PSI) and a
watermark-lateness audit — the two ML-ops probes that decide when a
deployed pipeline's inputs have shifted and how much watermark delay a
streaming job actually needs.

- ``dq_psi_drift`` — Population Stability Index per stream between two
  periods: bins are the EXACT deciles of the baseline period (the
  engine's exact-percentile machinery, driver-green in
  ``agg_exact_percentiles``), counts are Laplace-smoothed, and each
  (p1−p0)·ln(p1/p0) term is rounded then DECIMAL-summed so the index is
  accumulation-order invariant.  PSI > 0.2 is the classic retrain
  trigger.
- ``dq_watermark_lateness`` — per-stream out-of-orderness profile in
  arrival order (event_id as the arrival proxy): lateness of a record =
  running max of event time at its arrival minus its own event time.
  The p95/max lateness IS the watermark delay a streaming job must
  configure (`withWatermark`); the audit turns that guess into a
  measurement.

Every query has a DuckDB oracle; every computed column is aliased
identically on both sides.  The round's ANN recall eval
(``sim_recall_eval``) lives in ``sim_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.scale import scoped_persist


# ---------------------------------------------------------------------------
# dq_psi_drift — Population Stability Index per stream
# ---------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16"  # period 0 = days before, period 1 = rest
_PSI_DECILES = [i / 10.0 for i in range(1, 10)]


def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the ``value`` distribution per event_type, period 0
    (baseline) vs period 1.

    Plan: one exact-percentile agg over the baseline rows builds the
    9-cut decile model per stream (stream-count-sized → broadcast);
    bin assignment is a chain of 9 JVM comparisons inside the scan
    stage; one (stream, period, bin) count agg (map-side combined)
    feeds the smoothed PSI reduction.  The corpus shuffles once, as
    count rows.

    Smoothing: p = (n + 0.5) / (n_total + 5) per side — empty period-1 bins
    stay finite (the +5 = bins/2 Jeffreys prior keeps Σp = 1).  Terms
    round to 12 dp then DECIMAL-sum: order-invariant.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "value", F.to_date("ts").alias("_day")
    )
    p0 = F.col("_day") < F.lit(_PSI_SPLIT).cast("date")
    qs = ", ".join(str(q) for q in _PSI_DECILES)
    cuts = (
        ev.filter(p0)
        .groupBy("event_type")
        .agg(F.expr(f"percentile(value, array({qs}))").alias("_cuts"))
    )
    binned = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        F.when(p0, F.lit(0)).otherwise(F.lit(1)).alias("period"),
        sum(
            [F.lit(1)]
            + [
                F.when(
                    F.col("value") > F.element_at("_cuts", i + 1), 1
                ).otherwise(0)
                for i in range(9)
            ]
        ).alias("bin"),
    )
    # counts feeds totals AND the grid left join — persist the (stream,
    # period, bin)-sized aggregate or the corpus scan+bin runs twice
    counts = scoped_persist(
        binned.groupBy("event_type", "period", "bin").agg(F.count("*").alias("n"))
    )
    totals = counts.groupBy("event_type", "period").agg(F.sum("n").alias("n_total"))
    # dense (type, bin) × period grid so empty bins smooth instead of vanish
    bins10 = spark.range(1, 11).select(F.col("id").cast("int").alias("bin"))
    grid = (
        totals.select("event_type", "period", "n_total")
        .crossJoin(F.broadcast(bins10))
        .join(counts, ["event_type", "period", "bin"], "left")
        .fillna(0, subset=["n"])
    )
    p = (F.col("n") + 0.5) / (F.col("n_total") + 5)
    side = grid.select(
        "event_type",
        "bin",
        F.when(F.col("period") == 0, p).alias("_p0"),
        F.when(F.col("period") == 1, p).alias("_p1"),
    ).groupBy("event_type", "bin").agg(
        F.first("_p0", ignorenulls=True).alias("p0"),
        F.first("_p1", ignorenulls=True).alias("p1"),
    )
    term = F.round(
        (F.col("p1") - F.col("p0")) * F.log(F.col("p1") / F.col("p0")), 12
    ).cast("decimal(38,18)")
    return (
        side.groupBy("event_type")
        .agg(
            F.round(F.sum(term).cast("double"), 6).alias("psi"),
            F.count("*").alias("n_bins"),
        )
        .orderBy("event_type")
    )


DQ_PSI_DRIFT_SQL = f"""
WITH ev AS (
    SELECT event_type, value,
           CASE WHEN CAST(ts AS DATE) < DATE '{_PSI_SPLIT}' THEN 0 ELSE 1 END
               AS period
    FROM events
),
cuts AS (
    SELECT event_type,
           quantile_cont(value, [{", ".join(str(q) for q in _PSI_DECILES)}])
               AS _cuts
    FROM ev WHERE period = 0 GROUP BY 1
),
binned AS (
    SELECT ev.event_type, ev.period,
           1 {"".join(f"+ (CASE WHEN ev.value > c._cuts[{i + 1}] THEN 1 ELSE 0 END) " for i in range(9))}
               AS bin
    FROM ev JOIN cuts c USING (event_type)
),
counts AS (
    SELECT event_type, period, bin, count(*) AS n
    FROM binned GROUP BY 1, 2, 3
),
totals AS (
    SELECT event_type, period, sum(n) AS n_total FROM counts GROUP BY 1, 2
),
grid AS (
    SELECT t.event_type, t.period, b.bin, t.n_total, coalesce(c.n, 0) AS n
    FROM totals t
    CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS bin) b
    LEFT JOIN counts c
      ON c.event_type = t.event_type AND c.period = t.period AND c.bin = b.bin
),
side AS (
    SELECT event_type, bin,
           any_value(CASE WHEN period = 0 THEN (n + 0.5) / (n_total + 5) END) AS p0,
           any_value(CASE WHEN period = 1 THEN (n + 0.5) / (n_total + 5) END) AS p1
    FROM grid GROUP BY 1, 2
)
SELECT event_type,
       round(CAST(sum(CAST(round((p1 - p0) * ln(p1 / p0), 12)
                          AS DECIMAL(38,18))) AS DOUBLE), 6) AS psi,
       count(*) AS n_bins
FROM side
GROUP BY 1
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# dq_watermark_lateness — out-of-orderness profile in arrival order
# ---------------------------------------------------------------------------

_LATE_THRESHOLD_S = 300


def dq_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream lateness profile: how far behind the running max event
    time each record arrives (event_id = arrival order).

    One window sort per stream (running max on µs integers), then one
    agg with exact percentiles — the measured answer to "what
    ``withWatermark`` delay does this stream need": p95/max lateness,
    plus the fraction that would be dropped at a 5-minute watermark.
    """
    from atd_data_lake_spark.functions.datetime_fns import as_instant

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "ts")
    us = F.unix_micros(as_instant(ev, "ts"))
    w = Window.partitionBy("event_type").orderBy("event_id")
    seen = F.max(us).over(w.rowsBetween(Window.unboundedPreceding, 0))
    late = ev.select(
        "event_type",
        ((seen - us) / 1000000.0).alias("late_s"),
    )
    return (
        late.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.expr("percentile(late_s, 0.5)"), 6).alias("p50_late_s"),
            F.round(F.expr("percentile(late_s, 0.95)"), 6).alias("p95_late_s"),
            F.round(F.max("late_s"), 6).alias("max_late_s"),
            F.round(
                F.avg(
                    F.when(F.col("late_s") > _LATE_THRESHOLD_S, 1.0).otherwise(
                        0.0
                    )
                ),
                6,
            ).alias("frac_late_over_5min"),
        )
        .orderBy("event_type")
    )


DQ_WATERMARK_LATENESS_SQL = f"""
WITH late AS (
    SELECT event_type,
           (max(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - epoch_us(ts)) / 1000000.0 AS late_s
    FROM events
)
SELECT event_type,
       count(*) AS n_events,
       round(quantile_cont(late_s, 0.5), 6) AS p50_late_s,
       round(quantile_cont(late_s, 0.95), 6) AS p95_late_s,
       round(max(late_s), 6) AS max_late_s,
       round(avg(CASE WHEN late_s > {_LATE_THRESHOLD_S} THEN 1.0 ELSE 0.0 END), 6)
           AS frac_late_over_5min
FROM late
GROUP BY 1
ORDER BY event_type
"""


ROUND9_QUERIES = {
    "dq_psi_drift": dq_psi_drift,
    "dq_watermark_lateness": dq_watermark_lateness,
}

ROUND9_ORACLES = {
    "dq_psi_drift": DQ_PSI_DRIFT_SQL,
    "dq_watermark_lateness": DQ_WATERMARK_LATENESS_SQL,
}
