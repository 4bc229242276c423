"""EXECUTED queries: every registry query whose name ends in
``_executed``, with its oracle.

Each one runs a real Structured Streaming job or a real commit-log
(``io/txlog``) lifecycle inside the query, and the driver's DuckDB
oracle value-hashes what comes out — micro-batch planner, state store,
watermarks, exactly-once sinks, MERGE, change feed, compaction and file
skipping all sit under the external check, not only under unit tests.

Streams (file source over the events table, ``availableNow`` trigger,
named memory sink):

- ``evt_stream_executed`` — watermarked 15-minute tumbling count +
  exact-decimal value sum in complete mode; ``availableNow`` drains to
  one final emission equal to the batch aggregation.
- ``evt_stream_append_window_executed`` — the same windows in APPEND
  mode: a window is emitted exactly once, after the watermark passes
  its end.  ``availableNow`` runs one final no-data micro-batch that
  advances the watermark to ``max(event_time) - delay`` and flushes
  every finalized window (7,199 of 7,206 at sf0.01); the oracle
  re-derives that set from the batch table.
- ``evt_stream_dedup_executed`` — streaming ``dropDuplicates`` on
  (user, day) feeding a complete-mode per-user count.
- ``evt_stream_static_join_executed`` — the stream joins the STATIC
  customer dimension (re-planned per micro-batch) into a complete-mode
  rollup per (market segment, event type).
- ``sessionize_stream_executed`` — the hand-written
  ``applyInPandasWithState`` sessionizer (``streaming/stateful``).
- ``evt_stream_join_executed`` — a watermarked stream-stream band join
  (clicks ⋈ purchases per user within 30 minutes).
- ``evt_stream_sketch_quantile_executed``,
  ``evt_stream_countmin_executed``, ``evt_stream_benford_executed`` —
  append-mode windows that keep only bounded mergeable counters
  (DDSketch buckets, count-min cells, leading-digit counts); the
  quantiles, estimates and fractions finalize on READ over the sink.

Commit-log lifecycles (table and checkpoint in a fresh temp dir per
call, so every run reprocesses the full source):

- ``evt_stream_txlog_executed`` — stream → exactly-once sink, batch 0
  re-delivered.
- ``evt_stream_cdc_merge_executed`` — 3-batch stream, every batch
  MERGEs on the key, batch 0 re-delivered.
- ``evt_txlog_compact_executed`` — 4 appends → compact → replay.
- ``evt_txlog_cdf_executed`` — append → COW MERGE → change feed.
- ``evt_txlog_skipping_executed`` / ``evt_txlog_cluster_skip_executed``
  — min/max file skipping, single- and multi-column.

Determinism: ``availableNow`` over the single events file drains in one
data batch, so append-mode output is the deterministic watermark cut
(``window_end <= max_ts - delay``) and the stateful queries' output is
complete when that batch commits.  Every stream relabels the NTZ event
time to an instant before its watermark.

Shared pieces, each written once: the events file-stream source
(``_events_stream``), the named memory-sink drain (``_drain``), the
scratch temp dir (``_scratch_dir``) and the rollup scaffold on it
(``_scratch_rollup``), the 15-minute windowed
counts (``_windowed_counts``) and the per-type rollup (``_type_rollup``).
Sink names and temp-dir prefixes are unique per query, so the registry
can build these frames concurrently in one session.
"""

from __future__ import annotations

import contextlib
import glob
import math
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from atd_data_lake_spark.dq_queries import leading_digits, leading_digits_sql
from atd_data_lake_spark.functions.money import D2, dsum
from atd_data_lake_spark.io import txlog
from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.sketches import (
    _SK_GAMMA,
    cms_positions_sql,
    sketch_bucket_col,
    sketch_quantile_cols,
)
from atd_data_lake_spark.streaming.control import stop_after_data_batch
from atd_data_lake_spark.streaming.stateful import sessionize


# ---------------------------------------------------------------------------
# shared harness
# ---------------------------------------------------------------------------


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema pinned from the
    batch reader; pathGlobFilter selects the one table file)."""
    return (
        spark.readStream.schema(_t(spark, sf_dir, "events").schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _drain(
    spark: SparkSession,
    frame: DataFrame,
    name: str,
    mode: str,
    wait: Callable[[StreamingQuery], None],
) -> DataFrame:
    """Run a streaming frame into the named memory sink (``availableNow``,
    output ``mode``), block in ``wait`` and return the sink table.  A
    query still active under the same name is stopped first, so
    re-invocation in a long-lived session is safe.  The run checkpoints
    to its own scratch dir, removed once ``wait`` returns: Spark keeps
    its default temporary checkpoint when ``stop_after_data_batch``
    stops a query mid no-data batch (4.8 MB per sessionize run)."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    with _scratch_dir(f"{name}-ckpt-") as ckpt:
        query = (
            frame.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        wait(query)
    return spark.table(name)


@contextlib.contextmanager
def _scratch_dir(prefix: str):
    """A fresh temp dir, removed on exit (also when the body raises)."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _scratch_rollup(
    spark: SparkSession, prefix: str, build: Callable[[str], DataFrame]
) -> DataFrame:
    """``build(work)`` runs a txlog lifecycle under a fresh temp dir
    ``work`` and returns its rollup, which is collected here and the dir
    removed.  The rollup is a handful of rows: materializing it lets the
    temp table and checkpoint go — the query runs on every bench/sweep
    and would otherwise grow /tmp by ~2x the events table per invocation
    (r6 review); ``_scratch_dir`` also removes it on stream/read
    failures mid-body (r6 advice)."""
    with _scratch_dir(prefix) as work:
        agg = build(work)
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)


def _windowed_counts(
    spark: SparkSession, sf_dir: str, sink: str, mode: str
) -> DataFrame:
    """15-minute tumbling (count, exact-decimal value sum) per event
    type under a 30-minute watermark, drained in ``mode``."""
    src = _events_stream(spark, sf_dir)
    its = F.to_utc_timestamp("ts", "UTC")
    agg = (
        src.select(
            its.alias("its"),
            "event_type",
            F.col("value").cast(D2).alias("v"),
        )
        .withWatermark("its", "30 minutes")
        .groupBy(F.window("its", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("v").cast("double"), 2).alias("total_value"),
        )
    )
    out = _drain(spark, agg, sink, mode, StreamingQuery.awaitTermination)
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start", "event_type")


def _type_rollup(out: DataFrame) -> DataFrame:
    """Per event_type count + exact-decimal value sum of a txlog read."""
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(dsum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# windowed streams: complete and append mode
# ---------------------------------------------------------------------------


def evt_stream_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _windowed_counts(spark, sf_dir, "evt_stream_executed_sink", "complete")


EVT_STREAM_EXECUTED_SQL = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 * 1000000)
         AS window_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
         AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def evt_stream_append_window_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _windowed_counts(
        spark, sf_dir, "evt_stream_append_window_sink", "append"
    )


EVT_STREAM_APPEND_WINDOW_SQL = """
WITH mx AS (SELECT max(ts) AS m FROM events),
agg AS (
    SELECT make_timestamp(
               CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 * 1000000)
             AS window_start,
           event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS total_value
    FROM events
    GROUP BY 1, 2
)
SELECT a.window_start, a.event_type, a.n_events, a.total_value
FROM agg a, mx
WHERE epoch(a.window_start) + 900 <= epoch(m) - 1800
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# streaming dedup and stream-static join
# ---------------------------------------------------------------------------


def evt_stream_dedup_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream(spark, sf_dir)
    its = F.to_utc_timestamp("ts", "UTC")
    deduped = (
        src.select(its.alias("its"), "user_id")
        .withColumn("day", F.to_date("its"))
        .withWatermark("its", "1 day")
        .dropDuplicates(["user_id", "day"])
    )
    agg = deduped.groupBy("user_id").agg(F.count("*").alias("n_active_days"))
    out = _drain(
        spark, agg, "evt_stream_dedup_sink", "complete",
        StreamingQuery.awaitTermination,
    )
    return out.select("user_id", "n_active_days").orderBy("user_id")


EVT_STREAM_DEDUP_EXECUTED_SQL = """
SELECT user_id, count(DISTINCT CAST(ts AS DATE)) AS n_active_days
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def evt_stream_static_join_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src = _events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    its = F.to_utc_timestamp("ts", "UTC")
    joined = src.select(
        its.alias("its"),
        "user_id",
        "event_type",
        F.col("value").cast(D2).alias("v"),
    ).join(dim, "user_id")  # static side re-planned per micro-batch
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("v").cast("double"), 2).alias("total_value"),
    )
    out = _drain(
        spark, agg, "evt_stream_static_join_sink", "complete",
        StreamingQuery.awaitTermination,
    )
    return out.select(
        "c_mktsegment", "event_type", "n_events", "total_value"
    ).orderBy("c_mktsegment", "event_type")


EVT_STREAM_STATIC_JOIN_SQL = """
SELECT c.c_mktsegment,
       e.event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS total_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
ORDER BY c_mktsegment, event_type
"""


# ---------------------------------------------------------------------------
# stateful streams: sessionization and the stream-stream join
# ---------------------------------------------------------------------------

_GAP_SECONDS = 1800


def sessionize_stream_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sensor, session_start, session_end, n_readings) — closed
    sessions emitted by the executed stateful stream, ordered by
    (sensor, session_start).

    The one data batch brings every key's events to the state function
    together, so the emitted CLOSED sessions are exactly the batch
    gaps-and-islands sessions minus each key's final (still-open)
    session — the state store holds the open tail.  That "all but the
    last session per sensor" set is SQL-expressible, so the oracle is
    the ``sessionize_batch`` CTE with the max-session-id row excluded.

    ``availableNow`` does NOT self-terminate here: ProcessingTimeTimeout
    keeps MicroBatchExecution scheduling empty batches until every open
    session's gap timer fires (~30 min of no-data spin, observed as
    hundreds of empty micro-batches).  The sink already holds every
    gap-closed session once the data batch commits, so the drain waits
    for that commit and stops the query."""
    src = _events_stream(spark, sf_dir)
    readings = src.select(
        F.col("user_id").cast("string").alias("sensor"),
        # NTZ -> instant relabel (watermark needs an instant; the
        # session tz is pinned UTC so emitted values line up with the
        # oracle's naive timestamps)
        F.to_utc_timestamp("ts", "UTC").alias("ts"),
    )
    sessions = sessionize(readings, gap_seconds=_GAP_SECONDS, watermark="1 hour")
    out = _drain(
        spark, sessions, "sessionize_stream_sink", "append",
        stop_after_data_batch,
    )
    return out.orderBy("sensor", "session_start")


SESSIONIZE_STREAM_EXECUTED_SQL = f"""
WITH lagged AS (
    SELECT CAST(user_id AS VARCHAR) AS sensor, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= {_GAP_SECONDS}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT sensor, ts,
           sum(new_sess) OVER (PARTITION BY sensor ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM lagged
),
s AS (
    SELECT sensor, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_readings
    FROM sess GROUP BY 1, 2
),
m AS (SELECT sensor, max(session_id) AS last_id FROM s GROUP BY 1)
SELECT s.sensor, s.session_start, s.session_end, s.n_readings
FROM s JOIN m USING (sensor)
WHERE s.session_id < m.last_id
ORDER BY s.sensor, s.session_start
"""


_JOIN_WINDOW_MIN = 30


def evt_stream_join_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(click_id, purchase_id, user_id, lag_us) — each purchase within
    30 minutes at-or-after a click by the same user, from an executed
    watermarked stream-stream join.

    An inner stream-stream join emits a match in the micro-batch where
    both rows are present, so the one data batch emits exactly the
    batch band-join; watermark eviction only trims state afterwards.
    No stateful timeout is registered, but waiting for the data batch
    and stopping keeps the wall time bounded even if the no-data
    watermark-commit batch lingers."""
    src = _events_stream(spark, sf_dir)
    ev = src.select(
        "event_id",
        F.to_utc_timestamp("ts", "UTC").alias("its"),
        "user_id",
        "event_type",
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("its").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("its").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {_JOIN_WINDOW_MIN} MINUTES")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )
    out = _drain(
        spark, joined, "evt_stream_join_sink", "append", stop_after_data_batch
    )
    return out.orderBy("click_id", "purchase_id")


EVT_STREAM_JOIN_EXECUTED_SQL = f"""
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL {_JOIN_WINDOW_MIN} MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
ORDER BY click_id, purchase_id
"""


# ---------------------------------------------------------------------------
# counter streams: DDSketch quantiles, count-min, Benford digits
# ---------------------------------------------------------------------------

_SSK_WINDOW = "60 minutes"
_SSK_DELAY = "30 minutes"


def evt_stream_sketch_quantile_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of ``ts_rolling_p95_sketch``: the stream
    pre-aggregates per (hour window, type, DDSketch bucket) COUNTS in
    append mode (watermark-finalized, emitted exactly once) — the
    storable sketch rows — and the p50/p95 finalization runs on READ
    over the sink.  The unbounded stream only ever maintains bounded
    per-bucket counters (no raw-value state, unlike a percentile_approx
    over the window), and any later consumer derives any quantile from
    the stored rows."""
    src = _events_stream(spark, sf_dir)
    its = F.to_utc_timestamp("ts", "UTC")
    sketch_rows = (
        src.filter(F.col("value") > 0)
        .select(
            its.alias("its"),
            "event_type",
            sketch_bucket_col(F.col("value")).alias("bucket"),
        )
        .withWatermark("its", _SSK_DELAY)
        .groupBy(
            F.window("its", _SSK_WINDOW).alias("w"), "event_type", "bucket"
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    sink = _drain(
        spark, sketch_rows, "evt_stream_sketch_quantile_sink", "append",
        StreamingQuery.awaitTermination,
    )
    w_cum = (
        Window.partitionBy("w", "event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("w", "event_type")
    cum = sink.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    return (
        cum.groupBy("window_start", "event_type")
        .agg(
            F.max("total").cast("long").alias("n_events"),
            *sketch_quantile_cols((("p50", 0.50), ("p95", 0.95))),
        )
        .orderBy("window_start", "event_type")
    )


EVT_STREAM_SKETCH_QUANTILE_SQL = f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
sk AS (
    SELECT make_timestamp(
               CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000)
             AS window_start,
           event_type,
           CAST(ceil(ln(value) / {math.log(_SK_GAMMA)!r}) AS INTEGER)
             AS bucket,
           count(*) AS cnt
    FROM events WHERE value > 0
    GROUP BY 1, 2, 3
),
fin AS (
    SELECT s.* FROM sk s, mx
    WHERE epoch(s.window_start) + 3600 <= epoch(m) - 1800
),
cum AS (
    SELECT window_start, event_type, bucket, cnt,
           sum(cnt) OVER (PARTITION BY window_start, event_type
               ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cnt) OVER (PARTITION BY window_start, event_type) AS total
    FROM fin
)
SELECT window_start, event_type, CAST(max(total) AS BIGINT) AS n_events,
       round(2.0 * pow({_SK_GAMMA!r}, CAST(min(CASE WHEN cum >=
           ceil(0.50 * total) THEN bucket END) AS DOUBLE))
           / ({_SK_GAMMA!r} + 1.0), 6) AS p50,
       round(2.0 * pow({_SK_GAMMA!r}, CAST(min(CASE WHEN cum >=
           ceil(0.95 * total) THEN bucket END) AS DOUBLE))
           / ({_SK_GAMMA!r} + 1.0), 6) AS p95
FROM cum
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


_SCM_W = 1024
_SCM_D = 4
_SCM_WINDOW = "60 minutes"
_SCM_DELAY = "30 minutes"
_SCM_WATCH = 20  # watchlist: user_id < 20


def evt_stream_countmin_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming count-min sketch: the stream pre-aggregates per (hour
    window, CMS row, CMS cell) COUNTS of the user-key hash in append
    mode — bounded d·w counters per window, no per-key state — and the
    per-user estimates finalize on READ over the stored counter rows
    for a bounded watchlist (user_id < 20), joined against the exact
    per-window counts so the one-sided error is visible.  Cell
    positions come from md5 double hashing that both engines replay
    bit-for-bit (the batch twin is ``agg_countmin_user_counts``)."""
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
    sink = _drain(
        spark, cells, "evt_stream_countmin_sink", "append",
        StreamingQuery.awaitTermination,
    )
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


_SBF_WINDOW = "60 minutes"
_SBF_DELAY = "30 minutes"


def evt_stream_benford_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of ``dq_benford_digits``: the stream maintains per
    (hour window, leading digit) COUNTS in append mode (≤ 9 counters
    per window) and the fraud-screen fractions are derived on READ over
    the sink."""
    src = _events_stream(spark, sf_dir)
    its = F.to_utc_timestamp("ts", "UTC")
    digits = (
        leading_digits(src, its.alias("its"))
        .withWatermark("its", _SBF_DELAY)
        .groupBy(F.window("its", _SBF_WINDOW).alias("w"), "digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    sink = _drain(
        spark, digits, "evt_stream_benford_sink", "append",
        StreamingQuery.awaitTermination,
    )
    w_all = Window.partitionBy("w")
    return (
        sink.select(
            F.col("w.start").alias("window_start"),
            "digit",
            "n_obs",
            F.round(
                F.col("n_obs") / F.sum("n_obs").over(w_all), 6
            ).alias("obs_frac"),
        )
        .orderBy("window_start", "digit")
    )


EVT_STREAM_BENFORD_SQL = f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
d AS ({leading_digits_sql(
    "make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000)"
    " AS window_start"
)}),
counts AS (
    SELECT window_start, digit, count(*) AS n_obs
    FROM d GROUP BY 1, 2
),
fin AS (
    SELECT c.* FROM counts c, mx
    WHERE epoch(c.window_start) + 3600 <= epoch(m) - 1800
)
SELECT window_start, digit, CAST(n_obs AS BIGINT) AS n_obs,
       round(n_obs / CAST(sum(n_obs) OVER (PARTITION BY window_start)
             AS DOUBLE), 6) AS obs_frac
FROM fin
ORDER BY window_start, digit
"""


# ---------------------------------------------------------------------------
# commit-log lifecycles
# ---------------------------------------------------------------------------


def evt_stream_txlog_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events file-stream → exactly-once txlog sink (+ replayed batch) →
    snapshot read → per-type rollup.  If the sink's idempotent commit
    replay ever broke, every count and sum would double and the oracle
    would fail.

    Scale shape: the sink appends micro-batch files with a metadata-only
    commit (no read of the table, no shuffle); the rollup is one
    groupBy over the snapshot scan."""

    def build(work: str) -> DataFrame:
        table = f"{work}/tbl"
        batch = _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        src = _events_stream(spark, sf_dir).select(
            "event_id", "event_type", "value"
        )
        sink = txlog.stream_sink(table, app_id="evt_stream_txlog")
        q = (
            src.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # the restart-window replay: batch 0 is re-delivered in full —
        # the commit-id idempotency must make this a no-op or the oracle
        # hash (counts, sums) doubles and the driver flags it
        sink(batch, 0)
        return _type_rollup(txlog.read_table(spark, table))

    return _scratch_rollup(spark, "txlog_stream_", build)


# also the oracle of evt_txlog_compact_executed: compaction and the
# post-compact replay must leave the rollup of the source unchanged
EVT_STREAM_TXLOG_SQL = """
SELECT event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def evt_stream_cdc_merge_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CDC-apply (foreachBatch MERGE), the upsert twin of
    ``evt_stream_txlog_executed``: a 3-micro-batch stream
    (``maxFilesPerTrigger=1``) whose every batch MERGEs into the txlog
    table on the primary key, with batch 0 re-delivered after the
    stream commits.

    Order independence by construction: batch m carries the key-disjoint
    ``event_id % 3 == m`` slice (minus the update keys) plus the SAME
    update set (every ``event_id % 6 == 0`` row at value+100) in every
    batch — re-merging an identical change is idempotent, so the final
    table is the same whatever order the file source lists the batches
    in."""

    def build(work: str) -> DataFrame:
        stage = f"{work}/stage"
        table = f"{work}/tbl"
        ckpt = f"{work}/ckpt"
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        upd = ev.filter(F.col("event_id") % 6 == 0).withColumn(
            "value", F.col("value") + F.lit(100.0)
        )
        os.makedirs(stage)
        for m in range(3):
            part = (
                ev.filter(
                    (F.col("event_id") % 3 == m)
                    & ~(F.col("event_id") % 6 == 0)
                )
                .unionByName(upd)
            )
            tmp = f"{work}/p{m}"
            part.coalesce(1).write.parquet(tmp)
            src = glob.glob(f"{tmp}/part-*.parquet")[0]
            shutil.copy(src, f"{stage}/{m:02d}.parquet")

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        query = (
            stream.writeStream.foreachBatch(
                txlog.merge_stream_sink(table, "cdc-apply", on=["event_id"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

        # adversarial re-delivery: replay batch 0 through the SAME
        # commit id — must be an idempotent no-op or the rollup doubles
        replay = txlog.merge(
            spark,
            table,
            ev.filter(
                (F.col("event_id") % 3 == 0) & ~(F.col("event_id") % 6 == 0)
            ).unionByName(upd),
            on=["event_id"],
            commit_id="stream-cdc-apply-batch-0",
        )
        assert replay.replayed

        out = txlog.read_table(spark, table)
        return (
            out.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(14,2)"))
                    .cast("double"),
                    2,
                ).alias("total_value"),
            )
            .orderBy("event_type")
        )

    return _scratch_rollup(spark, "txlog_cdc_merge_", build)


EVT_STREAM_CDC_MERGE_SQL = """
WITH final AS (
    SELECT event_id, event_type,
           CASE WHEN event_id % 6 = 0 THEN value + 100.0 ELSE value END
               AS value
    FROM events
)
SELECT event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_value
FROM final
GROUP BY event_type
ORDER BY event_type
"""


def evt_txlog_compact_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 idempotent-keyed txlog appends (batch slices of events) →
    ``compact`` (OPTIMIZE: 4+ data files → 2, metadata swap) → an
    adversarial REPLAY of batch 2 after the compaction (the commit-id
    index must survive the file rewrite or the rollup doubles) →
    snapshot read → per-type rollup.  Proves compact preserves row
    content AND the exactly-once contract across it."""

    def build(work: str) -> DataFrame:
        table = f"{work}/tbl"
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        for m in range(4):
            txlog.append(
                ev.filter(F.col("event_id") % 4 == m),
                table,
                commit_id=f"batch-{m}",
            )
        assert len(txlog.snapshot_files(table)) >= 4
        txlog.compact(spark, table, target_files=2)
        assert len(txlog.snapshot_files(table)) == 2
        # restart-window replay AFTER the rewrite: must be a no-op
        replay = txlog.append(
            ev.filter(F.col("event_id") % 4 == 2),
            table,
            commit_id="batch-2",
        )
        assert replay.replayed
        return _type_rollup(txlog.read_table(spark, table))

    return _scratch_rollup(spark, "txlog_compact_", build)


def evt_txlog_cdf_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed over the commit log (``io/txlog.changes``, Delta
    ``table_changes`` semantics).  v1 = append of the event_id % 3 == 0
    slice; v2 = MERGE whose source updates every event_id % 6 == 0 row
    (value + 100) and inserts the % 3 == 1 slice.  ``changes(1, 2)``
    must therefore be exactly: inserts = the new slice + the updated
    row versions, deletes = the pre-update row versions — and nothing
    from the carried-over rows the COW rewrite copied.  Rolled up per
    (change_type, event_type)."""

    def build(work: str) -> DataFrame:
        table = f"{work}/tbl"
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        txlog.append(ev.filter(F.col("event_id") % 3 == 0), table,
                     commit_id="base")
        source = ev.filter(F.col("event_id") % 3 == 1).unionByName(
            ev.filter(F.col("event_id") % 6 == 0).withColumn(
                "value", F.col("value") + F.lit(100.0)
            )
        )
        txlog.merge(spark, table, source, on=["event_id"],
                    commit_id="upsert")
        feed = txlog.changes(spark, table, from_version=1, to_version=2)
        return (
            feed.groupBy(
                F.col("_change_type").alias("change_type"), "event_type"
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.round(
                    F.sum(F.col("value").cast("decimal(14,2)"))
                    .cast("double"),
                    2,
                ).alias("total_value"),
            )
            .orderBy("change_type", "event_type")
        )

    return _scratch_rollup(spark, "txlog_cdf_", build)


EVT_TXLOG_CDF_SQL = """
WITH ins AS (
    SELECT event_type, value FROM events WHERE event_id % 3 = 1
    UNION ALL
    SELECT event_type, value + 100.0 FROM events WHERE event_id % 6 = 0
),
del AS (
    SELECT event_type, value FROM events WHERE event_id % 6 = 0
)
SELECT 'insert' AS change_type, event_type,
       count(*) AS n_rows,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_value
FROM ins GROUP BY event_type
UNION ALL
SELECT 'delete', event_type, count(*),
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
FROM del GROUP BY event_type
ORDER BY change_type, event_type
"""


_SKIP_TYPES = ("click", "error", "purchase", "signup", "view")


def evt_txlog_skipping_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max file skipping through the txlog: events land as one
    append per event_type (the clustered-write layout a stream
    partitioned by type produces), then ``read_where(event_type =
    'purchase')`` resolves the snapshot's commit-log stats and opens
    ONLY the files whose [min, max] covers 'purchase' — 1 of the 5 data
    files; the residual predicate keeps the result exact either way.
    Daily rollup of what came back.  The file-count assertion lives in
    tests/test_txlog_skipping.py; here the oracle pins that pruning
    never changes RESULTS."""

    def build(work: str) -> DataFrame:
        table = f"{work}/tbl"
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        for t in _SKIP_TYPES:
            txlog.append(
                ev.filter(F.col("event_type") == t).coalesce(1),
                table,
                commit_id=f"slice-{t}",
            )
        picked = txlog.read_where(
            spark, table, "event_type", "purchase", "purchase"
        )
        return (
            picked.groupBy(F.to_date("ts").alias("day"))
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(14,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("total_value"),
            )
            .orderBy("day")
        )

    return _scratch_rollup(spark, "txlog_skip_", build)


EVT_TXLOG_SKIPPING_SQL = """
SELECT CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY day
"""


def evt_txlog_cluster_skip_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Clustered write + MULTI-COLUMN file skipping through the txlog:
    events land as ONE clustered commit (range-partitioned and sorted on
    (user_id, value) into 8 files, so each file's commit-log min/max is
    range-disjoint on user_id), then a 2-predicate read
    (user_id ∈ [100, 500] AND value ∈ [10, 50]) intersects the
    per-column prunings and opens only the files where BOTH ranges
    land.  The oracle pins that pruning never changes RESULTS; the
    file-count assertion (1 of 16 for a correlated 2-predicate band)
    lives in tests/test_txlog_skipping.py."""

    def build(work: str) -> DataFrame:
        table = f"{work}/tbl"
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        txlog.write_clustered(
            ev, table, cluster_by=["user_id", "value"], num_files=8,
            commit_id="clustered-load",
        )
        picked = txlog.read_where_multi(
            spark, table,
            {"user_id": (100, 500), "value": (10.0, 50.0)},
        )
        return (
            picked.groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(14,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("total_value"),
            )
            .orderBy("event_type")
        )

    return _scratch_rollup(spark, "txlog_cskip_", build)


EVT_TXLOG_CLUSTER_SKIP_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_value
FROM events
WHERE user_id BETWEEN 100 AND 500
  AND value BETWEEN 10.0 AND 50.0
GROUP BY 1
ORDER BY event_type
"""


EXECUTED_QUERIES = {
    "evt_stream_executed": evt_stream_executed,
    "evt_stream_append_window_executed": evt_stream_append_window_executed,
    "evt_stream_dedup_executed": evt_stream_dedup_executed,
    "evt_stream_static_join_executed": evt_stream_static_join_executed,
    "sessionize_stream_executed": sessionize_stream_executed,
    "evt_stream_join_executed": evt_stream_join_executed,
    "evt_stream_sketch_quantile_executed": evt_stream_sketch_quantile_executed,
    "evt_stream_countmin_executed": evt_stream_countmin_executed,
    "evt_stream_benford_executed": evt_stream_benford_executed,
    "evt_stream_txlog_executed": evt_stream_txlog_executed,
    "evt_stream_cdc_merge_executed": evt_stream_cdc_merge_executed,
    "evt_txlog_compact_executed": evt_txlog_compact_executed,
    "evt_txlog_cdf_executed": evt_txlog_cdf_executed,
    "evt_txlog_skipping_executed": evt_txlog_skipping_executed,
    "evt_txlog_cluster_skip_executed": evt_txlog_cluster_skip_executed,
}

EXECUTED_ORACLES = {
    "evt_stream_executed": EVT_STREAM_EXECUTED_SQL,
    "evt_stream_append_window_executed": EVT_STREAM_APPEND_WINDOW_SQL,
    "evt_stream_dedup_executed": EVT_STREAM_DEDUP_EXECUTED_SQL,
    "evt_stream_static_join_executed": EVT_STREAM_STATIC_JOIN_SQL,
    "sessionize_stream_executed": SESSIONIZE_STREAM_EXECUTED_SQL,
    "evt_stream_join_executed": EVT_STREAM_JOIN_EXECUTED_SQL,
    "evt_stream_sketch_quantile_executed": EVT_STREAM_SKETCH_QUANTILE_SQL,
    "evt_stream_countmin_executed": EVT_STREAM_COUNTMIN_SQL,
    "evt_stream_benford_executed": EVT_STREAM_BENFORD_SQL,
    "evt_stream_txlog_executed": EVT_STREAM_TXLOG_SQL,
    "evt_stream_cdc_merge_executed": EVT_STREAM_CDC_MERGE_SQL,
    "evt_txlog_compact_executed": EVT_STREAM_TXLOG_SQL,
    "evt_txlog_cdf_executed": EVT_TXLOG_CDF_SQL,
    "evt_txlog_skipping_executed": EVT_TXLOG_SKIPPING_SQL,
    "evt_txlog_cluster_skip_executed": EVT_TXLOG_CLUSTER_SKIP_SQL,
}
