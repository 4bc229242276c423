"""Round-39 query addition — EXECUTED streaming CDC-apply (foreachBatch
MERGE) through the native commit log.

``evt_stream_cdc_merge_executed`` is the upsert twin of the round-31
exactly-once APPEND sink: a real multi-micro-batch Structured Streaming
run (file source, ``maxFilesPerTrigger=1`` → 3 batches, availableNow,
checkpoint) whose every batch MERGES into the txlog table on the
primary key (``io/txlog.merge_stream_sink``), with one batch
adversarially re-delivered after the stream commits — the
``foreachBatch + MERGE INTO`` CDC pattern, proven exactly-once and
order-independent under the external oracle.

Order independence by construction: batch m carries the key-disjoint
``event_id % 3 == m`` slice (minus the update keys) plus the SAME
update set (every ``event_id % 6 == 0`` row at value+100) in every
batch — re-merging an identical change is idempotent, so the final
table is the same whatever order the file source lists the batches in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


def evt_stream_cdc_merge_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import shutil
    import tempfile

    from atd_data_lake_spark.io import txlog

    work = tempfile.mkdtemp(prefix="txlog_cdc_merge_")
    try:
        stage = f"{work}/stage"
        table = f"{work}/tbl"
        ckpt = f"{work}/ckpt"
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        upd = ev.filter(F.col("event_id") % 6 == 0).withColumn(
            "value", F.col("value") + F.lit(100.0)
        )
        import os

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

        schema = ev.schema
        stream = (
            spark.readStream.schema(schema)
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
        agg = (
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
        rows = agg.collect()  # materialize before the temp dir vanishes
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


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


ROUND39_QUERIES = {
    "evt_stream_cdc_merge_executed": evt_stream_cdc_merge_executed,
}

ROUND39_ORACLES = {
    "evt_stream_cdc_merge_executed": EVT_STREAM_CDC_MERGE_SQL,
}
