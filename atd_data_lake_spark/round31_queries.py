"""Round-31: the transactional sink under the external oracle.

``evt_stream_txlog_executed`` runs a REAL Structured Streaming job whose
sink is the commit-log table (``io/txlog.stream_sink`` — foreachBatch
with batch-id commit ids), then ADVERSARIALLY re-delivers batch 0
through the sink before reading the table back and aggregating.  If the
sink's exactly-once guarantee (idempotent commit replay) ever broke,
every count and sum would double and the driver's DuckDB value-hash
would fail — the transactional property itself is externally checked,
not just unit-tested.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


def evt_stream_txlog_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events file-stream → exactly-once txlog sink (+ replayed batch) →
    snapshot read → per-type rollup.

    Scale shape: the sink appends micro-batch files with a metadata-only
    commit (no read of the table, no shuffle); the rollup is one
    groupBy over the snapshot scan.  The table and checkpoint live in a
    fresh temp dir per invocation, so the stream deterministically
    reprocesses the full source."""
    from atd_data_lake_spark.io import txlog

    import shutil

    work = tempfile.mkdtemp(prefix="txlog_stream_")
    try:
        table = f"{work}/tbl"
        batch = _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        src = (
            spark.readStream.schema(_t(spark, sf_dir, "events").schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .select("event_id", "event_type", "value")
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
        out = txlog.read_table(spark, table)
        agg = (
            out.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(12,2)"))
                    .cast("double"),
                    2,
                ).alias("total_value"),
            )
            .orderBy("event_type")
        )
        # the rollup is type-cardinality (a handful of rows): materialize
        # it so the temp table + checkpoint can be deleted — the query
        # runs on every bench/sweep and would otherwise grow /tmp by ~2x
        # the events table per invocation (r6 review); the finally also
        # covers stream/read failures mid-body (r6 advice)
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


EVT_STREAM_TXLOG_SQL = """
SELECT event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


ROUND31_QUERIES = {
    "evt_stream_txlog_executed": evt_stream_txlog_executed,
}

ROUND31_ORACLES = {
    "evt_stream_txlog_executed": EVT_STREAM_TXLOG_SQL,
}
