"""Round-11 query addition: re-aggregable HLL sketch rollup.

``evt_rolling_active_hll`` — 7-day rolling distinct actives computed by
MERGING per-day HyperLogLog sketches (Datasketches ``hll_sketch_agg`` /
``hll_union_agg``) instead of re-scanning raw events per window.  This
is the pattern that makes distinct-count rollups tractable at 100 TB:
the per-day sketch (a few KB) is computed once when the day lands; ANY
date-range distinct count afterwards is a union of stored sketches —
O(days) bytes, zero raw-data re-reads.  The exact twin
(``evt_rolling_active_users``) re-shuffles deduped activity per report
day; this one shuffles events once, ever.

Rows-only for the driver (sketch estimates are implementation-specific;
DuckDB's approx_count_distinct uses a different HLL family), with the
estimate-vs-exact error bound pytest-enforced in
``tests/test_round11_ops.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


_HLL_WINDOW_DAYS = 7


def evt_rolling_active_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct users per report day, via per-day HLL
    sketch merge.

    Plan: events reduce to one sketch row per day (ONE shuffle of the
    raw stream, map-side partial sketches); each day's sketch then
    explodes to the ≤ 7 report days it feeds (a |days|×7-row frame) and
    ``hll_union_agg`` merges per report day.  At the lake this second
    stage reads a sketch TABLE, not events — backfilling a year of
    rolling actives touches 365 KB-sized rows.

    rows-only because HLL++ register encoding is engine-internal; the
    same stored-mergeable-sketch pattern WITH a full value-hash oracle
    is ``agg_kmv_distinct`` (round 43: KMV state is k plain integers,
    so both engines compute identical sketches AND estimates).
    """
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    daily = daily.persist()  # consumed by the explode AND the domain semi-join
    fed = daily.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), _HLL_WINDOW_DAYS - 1),
            )
        ).alias("report_day"),
        "sk",
    ).join(
        # report days are observed activity days (the exact twin's
        # domain) — a broadcast semi-join on the day-sized frame, no
        # driver collect
        F.broadcast(daily.select(F.col("day").alias("report_day"))),
        "report_day",
        "left_semi",
    )
    return (
        fed.groupBy("report_day")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias(
                "active_estimate"
            ),
            F.count("*").alias("n_days_merged"),
        )
        .orderBy("report_day")
    )


ROUND11_QUERIES = {"evt_rolling_active_hll": evt_rolling_active_hll}
ROUND11_ORACLES: dict[str, str] = {}
