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
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


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
    counts = binned.groupBy("event_type", "period", "bin").agg(
        F.count("*").alias("n")
    ).persist()
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


# ---------------------------------------------------------------------------
# sim_recall_eval — recall@k of the ANN paths against exact brute force
# ---------------------------------------------------------------------------


def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of both ANN indexes (sign-LSH bands, IVF probes)
    against the exact cosine top-10, one summary row per index.

    UPGRADED r7 from rows-only to a full driver value-hash oracle via
    the model-injection recipe: both indexes run their LOADED-model
    form — the 16 hyperplanes of ``sim_ann_lsh`` (embeddings at vec_id
    100..115, 6-dp-rounded-cosine sign decisions) and the 16-centroid
    quantizer of ``sim_ann_ivf`` (vec_id < 16, 4 probes) — so the
    candidate sets, ranks, and hit counts are all SQL-reproducible.
    The seeded/k-means-trained production paths keep their pytest
    recall bounds (test_similarity*, test_skew_ivf).

    100 TB shape: truth is the brute-force pass (the point of an eval —
    run on a bounded query panel); hits are (query, neighbor) semi-joins
    against 50-row frames.
    """
    import numpy as np

    from atd_data_lake_spark.operators.similarity import (
        cosine_topk,
        drop_null_vectors,
        ivf_topk_model,
        lsh_topk,
    )

    emb = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    # ONE model-collect job for both indexes (was two sequential
    # collects — guide §1.2 wave fusion; both frames are bounded model
    # rows: 16 hyperplanes + 16 centroids)
    model_rows = (
        emb.filter(
            (F.col("vec_id") < 16)
            | ((F.col("vec_id") >= 100) & (F.col("vec_id") < 116))
        )
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    planes = np.array(
        [r[1] for r in model_rows if 100 <= r[0] < 116], dtype=np.float64
    )
    centroids = [(int(r[0]), list(r[1])) for r in model_rows if r[0] < 16]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from atd_data_lake_spark.operators.scale import scoped_persist

    # scoped_persist, not raw persist: the fused single-action rewrite
    # keeps the cache alive until the CALLER's action, so it must be
    # reclaimable by a tracked_caches() scope (r9 review)
    exact = scoped_persist(
        cosine_topk(
            emb, queries, k=10, id_col="vec_id", vec_col="embedding"
        ).select("query_id", "neighbor_id")
    )
    # materialize the cache BEFORE the fused final job: its two
    # semi-join branches otherwise race each other into the unbuilt
    # persist and duplicate the brute-force pass (measured 4.1 s vs
    # 3.1 s — the A/B that motivated keeping this one wave)
    exact.count()
    n_truth_agg = exact.agg(F.count("*").alias("n_truth"))

    # hits per index and the truth count fused into ONE action (was
    # count-per-index + a truth count + a createDataFrame round-trip =
    # four sequential job waves): each branch is a semi-join + 1-row
    # aggregate, unioned and cross-joined with the 1-row truth count.
    # The recall division moves engine-side; hits/n_truth at 4 dp has
    # no representable half-way ties (n_truth is a top-k multiple of
    # the 5-query panel), so HALF_UP F.round equals the Python round
    # it replaces — and the driver oracle re-checks exactly that.
    branches = []
    for index_name, approx in (
        (
            "lsh",
            lsh_topk(
                emb, queries, k=10, bands=4, planes=planes,
                sign_mode="cosine6",
            ),
        ),
        ("ivf", ivf_topk_model(emb, queries, centroids, k=10, n_probe=4)),
    ):
        branches.append(
            exact.join(
                approx.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            )
            .agg(F.count("*").alias("n_hits"))
            .select(F.lit(index_name).alias("index_name"), "n_hits")
        )
    return (
        branches[0]
        .unionByName(branches[1])
        .crossJoin(F.broadcast(n_truth_agg))
        .select(
            "index_name",
            F.lit(10).cast("int").alias("k"),
            "n_truth",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_truth"), 4).alias("recall"),
        )
        .orderBy("index_name")
    )


SIM_RECALL_EVAL_SQL = """
WITH ev AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
),
q AS (
    SELECT vec_id AS query_id, v AS qvec FROM ev WHERE vec_id < 5
),
full_rank AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(
                       q.qvec, e.v), 6) DESC,
                       e.vec_id ASC) AS rank
        FROM q, ev e WHERE e.vec_id <> q.query_id
    ) WHERE rank <= 10
),
planes AS (
    SELECT CAST(vec_id - 100 AS INTEGER) AS pidx, v AS pvec
    FROM ev WHERE vec_id >= 100 AND vec_id < 116
),
bits AS (
    SELECT e.vec_id, p.pidx,
           CASE WHEN round(list_cosine_similarity(e.v, p.pvec), 6) >= 0
                THEN 1 ELSE 0 END AS bit
    FROM ev e CROSS JOIN planes p
),
keys AS (
    SELECT vec_id, pidx // 4 AS band,
           CAST(sum(bit * (1 << (pidx % 4))) AS BIGINT) AS bucket
    FROM bits GROUP BY vec_id, pidx // 4
),
lsh_cands AS (
    SELECT DISTINCT kq.vec_id AS query_id, kc.vec_id AS neighbor_id
    FROM keys kc JOIN keys kq
      ON kc.band = kq.band AND kc.bucket = kq.bucket
    WHERE kq.vec_id < 5 AND kc.vec_id <> kq.vec_id
),
lsh_rank AS (
    SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY round(list_cosine_similarity(
                       q.qvec, e.v), 6) DESC,
                       c.neighbor_id) AS rank
        FROM lsh_cands c
        JOIN q ON q.query_id = c.query_id
        JOIN ev e ON e.vec_id = c.neighbor_id
    ) WHERE rank <= 10
),
cent AS (
    SELECT vec_id AS centroid_id, v AS cvec FROM ev WHERE vec_id < 16
),
assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, cent.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       e.v, cent.cvec), 6) DESC,
                       cent.centroid_id) AS rn
        FROM ev e CROSS JOIN cent
    ) WHERE rn = 1
),
probes AS (
    SELECT query_id, centroid_id FROM (
        SELECT q.query_id, cent.centroid_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.qvec, cent.cvec), 6)
                       DESC, cent.centroid_id) AS rn
        FROM q CROSS JOIN cent
    ) WHERE rn <= 4
),
ivf_rank AS (
    SELECT query_id, neighbor_id FROM (
        SELECT cd.query_id, cd.neighbor_id,
               row_number() OVER (
                   PARTITION BY cd.query_id
                   ORDER BY round(list_cosine_similarity(
                       q.qvec, e.v), 6) DESC,
                       cd.neighbor_id) AS rank
        FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
            WHERE a.vec_id <> p.query_id
        ) cd
        JOIN q ON q.query_id = cd.query_id
        JOIN ev e ON e.vec_id = cd.neighbor_id
    ) WHERE rank <= 10
),
truth AS (SELECT count(*) AS n FROM full_rank),
hits_lsh AS (
    SELECT count(*) AS h FROM full_rank f
    JOIN lsh_rank t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
),
hits_ivf AS (
    SELECT count(*) AS h FROM full_rank f
    JOIN ivf_rank t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
)
SELECT 'ivf' AS index_name, CAST(10 AS INTEGER) AS k,
       CAST(n AS BIGINT) AS n_truth, CAST(h AS BIGINT) AS n_hits,
       round(h / (n * 1.0), 4) AS recall
FROM truth, hits_ivf
UNION ALL
SELECT 'lsh', CAST(10 AS INTEGER), CAST(n AS BIGINT), CAST(h AS BIGINT),
       round(h / (n * 1.0), 4)
FROM truth, hits_lsh
ORDER BY index_name
"""


ROUND9_QUERIES = {
    "dq_psi_drift": dq_psi_drift,
    "dq_watermark_lateness": dq_watermark_lateness,
    "sim_recall_eval": sim_recall_eval,
}

ROUND9_ORACLES = {
    "dq_psi_drift": DQ_PSI_DRIFT_SQL,
    "dq_watermark_lateness": DQ_WATERMARK_LATENESS_SQL,
    # sim_recall_eval: UPGRADED r7 to a full oracle via the injected
    # LSH planes + IVF quantizer (was rows-only)
    "sim_recall_eval": SIM_RECALL_EVAL_SQL,
}
