"""Round-45 query addition — the STREAMING count-min sketch.

``evt_stream_countmin_executed`` is the 10th EXECUTED Structured
Streaming query: the stream pre-aggregates per (hour window, CMS row,
CMS cell) COUNTS of the user-key hash in append mode (watermark-
finalized, emitted exactly once) — bounded d·w counters per window, no
per-key state, exactly how a streaming frequency pipeline keeps
unbounded-cardinality keys countable — and the per-user estimates
finalize on READ over the stored counter rows for a bounded watchlist
(user_id < 20), joined against the exact per-window counts so the
one-sided error is visible.

Oracle-exact for the same two reasons as its batch twin
(``agg_countmin_user_counts``) and its streaming sibling
(``evt_stream_sketch_quantile_executed``): cell positions come from
md5 double hashing both engines replay bit-for-bit, and append-mode
finalization is the deterministic watermark cut (window_end ≤ max_ts −
delay; boundary pinned by the round-34 eviction test).

100 TB shape: the unbounded stream maintains ≤ |open windows|·d·w
counters; the watchlist estimate probes the STORED sketch rows —
backfilling a month of per-key rates reads counter rows, never events.

Harness discipline per round-34: NTZ event time, named memory sink
stopped before reuse, availableNow drain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.sketches import cms_positions_sql

_SCM_W = 1024
_SCM_D = 4
_SCM_WINDOW = "60 minutes"
_SCM_DELAY = "30 minutes"
_SCM_WATCH = 20  # watchlist: user_id < 20


def evt_stream_countmin_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from atd_data_lake_spark.round34_queries import _drain, _events_stream

    src = _events_stream(spark, sf_dir)
    its = F.to_utc_timestamp("ts", "UTC")
    cells = (
        src.select(
            its.alias("its"),
            F.explode(
                F.expr(
                    cms_positions_sql(
                        "CAST(user_id AS STRING)", _SCM_W, _SCM_D
                    )
                )
            ).alias("c"),
        )
        .withWatermark("its", _SCM_DELAY)
        .groupBy(
            F.window("its", _SCM_WINDOW).alias("w"),
            F.col("c.r").alias("r"),
            F.col("c.p").alias("p"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    sink = _drain(cells, "evt_stream_countmin_sink", spark, "append")
    counters = sink.select(
        F.col("w.start").alias("window_start"), "r", "p", "cnt"
    )
    # finalized windows recomputed batch-side for the exact counts and
    # the probe grid (the sink already holds ONLY finalized windows;
    # deriving the window list from it keeps the comparison aligned)
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < _SCM_WATCH)
    exact = ev.select(
        F.window(F.to_utc_timestamp("ts", "UTC"), _SCM_WINDOW)["start"].alias(
            "window_start"
        ),
        "user_id",
    ).groupBy("window_start", "user_id").agg(
        F.count("*").cast("long").alias("exact_count")
    )
    probe = exact.select(
        "window_start",
        "user_id",
        F.explode(
            F.expr(
                cms_positions_sql("CAST(user_id AS STRING)", _SCM_W, _SCM_D)
            )
        ).alias("c"),
    ).select(
        "window_start", "user_id", F.col("c.r").alias("r"), F.col("c.p").alias("p")
    )
    est = (
        probe.join(F.broadcast(counters), ["window_start", "r", "p"], "left")
        .groupBy("window_start", "user_id")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est_count")
        )
    )
    return (
        exact.join(est, ["window_start", "user_id"])
        # only finalized windows exist in the sink; align the exact side
        .join(
            counters.select("window_start").distinct(),
            "window_start",
            "left_semi",
        )
        .select(
            "window_start",
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy("window_start", "user_id")
    )


EVT_STREAM_COUNTMIN_SQL = f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
h AS (
    SELECT make_timestamp(
               CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000)
             AS window_start,
           user_id,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
               % {_SCM_W} AS h1,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 17, 15))::UBIGINT
               % {_SCM_W} AS h2
    FROM events
),
fin AS (
    SELECT h.* FROM h, mx
    WHERE epoch(h.window_start) + 3600 <= epoch(m) - 1800
),
cells AS (
    SELECT window_start, j AS r, (h1 + (j + 1) * h2) % {_SCM_W} AS p
    FROM fin, UNNEST([{", ".join(str(j) for j in range(_SCM_D))}]) AS u(j)
),
counters AS (
    SELECT window_start, r, p, count(*) AS cnt FROM cells GROUP BY 1, 2, 3
),
watch AS (
    SELECT window_start, user_id, count(*) AS exact_count,
           min(h1) AS h1, min(h2) AS h2
    FROM fin WHERE user_id < {_SCM_WATCH}
    GROUP BY 1, 2
),
ppos AS (
    SELECT window_start, user_id, exact_count, j AS r,
           (h1 + (j + 1) * h2) % {_SCM_W} AS p
    FROM watch, UNNEST([{", ".join(str(j) for j in range(_SCM_D))}]) AS u(j)
),
est AS (
    SELECT w.window_start, w.user_id,
           min(coalesce(c.cnt, 0)) AS est_count
    FROM ppos w LEFT JOIN counters c
      ON w.window_start = c.window_start AND w.r = c.r AND w.p = c.p
    GROUP BY 1, 2
)
SELECT watch.window_start AS window_start,
       watch.user_id AS user_id,
       CAST(est.est_count AS BIGINT) AS est_count,
       CAST(watch.exact_count AS BIGINT) AS exact_count,
       CAST(est.est_count - watch.exact_count AS BIGINT) AS overcount
FROM watch JOIN est
  ON watch.window_start = est.window_start AND watch.user_id = est.user_id
ORDER BY window_start, user_id
"""


ROUND45_QUERIES = {
    "evt_stream_countmin_executed": evt_stream_countmin_executed,
}

ROUND45_ORACLES = {
    "evt_stream_countmin_executed": EVT_STREAM_COUNTMIN_SQL,
}
