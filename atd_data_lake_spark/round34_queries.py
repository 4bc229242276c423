"""Round-34 query additions — two more EXECUTED Structured Streaming
shapes under the external oracle.

- ``evt_stream_append_window_executed`` — watermarked tumbling
  aggregation in APPEND mode: unlike the complete-mode
  ``evt_stream_executed``, append emits a window exactly once, only
  after the watermark passes its end (the contract every incremental
  downstream consumer relies on).  With ``availableNow`` the engine
  runs one final no-data micro-batch after the last data batch (default
  ``noDataMicroBatches``), which advances the watermark to
  ``max(event_time) - delay`` and flushes every finalized window —
  measured: the sink holds exactly the windows with
  ``window_end <= max_ts - 30min`` (7,199 of 7,206 at sf0.01), and the
  DuckDB oracle re-derives that set from the batch table.
- ``evt_stream_static_join_executed`` — stream-static equi-join: the
  event stream joins the STATIC customer dimension (re-planned per
  micro-batch — how reference pipelines enrich live telemetry with
  slowly-changing dims) feeding a complete-mode rollup per
  (market segment, event type).

Both reuse the round-18 harness discipline: NTZ event time relabelled
to an instant before the watermark, named memory sinks stopped before
reuse, availableNow drain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atd_data_lake_spark.io.reader import read_table

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_table(spark, sf_dir, "events").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _drain(agg: DataFrame, name: str, spark: SparkSession, mode: str) -> DataFrame:
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def evt_stream_append_window_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src = _events_stream(spark, sf_dir)
    its = F.to_utc_timestamp("ts", "UTC")
    agg = (
        src.select(
            its.alias("its"),
            "event_type",
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
        .withWatermark("its", "30 minutes")
        .groupBy(F.window("its", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("v").cast("double"), 2).alias("total_value"),
        )
    )
    out = _drain(agg, "evt_stream_append_window_sink", spark, "append")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start", "event_type")


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
        F.col("value").cast("decimal(12,2)").alias("v"),
    ).join(dim, "user_id")  # static side re-planned per micro-batch
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("v").cast("double"), 2).alias("total_value"),
    )
    out = _drain(agg, "evt_stream_static_join_sink", spark, "complete")
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


ROUND34_QUERIES = {
    "evt_stream_append_window_executed": evt_stream_append_window_executed,
    "evt_stream_static_join_executed": evt_stream_static_join_executed,
}

ROUND34_ORACLES = {
    "evt_stream_append_window_executed": EVT_STREAM_APPEND_WINDOW_SQL,
    "evt_stream_static_join_executed": EVT_STREAM_STATIC_JOIN_SQL,
}
