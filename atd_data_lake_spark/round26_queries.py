"""Round-26 query addition: RFM customer segmentation.

(The round's executed stream-stream join, ``evt_stream_join_executed``,
lives in ``executed_queries.py``.)

``rfm_segments`` — classic warehouse RFM (recency / frequency /
monetary) segmentation over orders, the canonical "score customers by
quartile" workload (reference analog: the perfmet layer's per-sensor
scoring, perfmet.py; here per customer).  Scale design: one groupBy
shuffle on o_custkey builds the per-customer profile; the reference
date is a 1-row aggregate broadcast (no second scan barrier); the
three quartile scores are ntile windows over the SAME single-partition
frame — at 100 TB the profile table is |customers| rows (orders of
magnitude smaller than the fact table), so the windows run on the
reduced side only.  Tie discipline: every ntile orders by a UNIQUE
(metric, c_custkey) key, and monetary ranks on the exact DECIMAL sum,
not the rounded double, so Spark and DuckDB tile identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, recency_days, frequency, monetary, r_q, f_q, m_q,
    segment) — RFM quartile scores per ordering customer."""
    o = _t(spark, sf_dir, "orders")
    profile = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("_last"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_mon"),
    )
    # 1-row reference date, broadcast — no global-barrier second window
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("_ref"))
    prof = profile.crossJoin(F.broadcast(ref)).select(
        F.col("o_custkey").alias("c_custkey"),
        F.datediff("_ref", "_last").alias("recency_days"),
        "frequency",
        "_mon",
    )
    # unique ntile orders (metric, custkey); monetary tiles on the exact
    # decimal, and scores are oriented so 4 = best
    w_r = Window.orderBy(F.col("recency_days").desc(), F.col("c_custkey"))
    w_f = Window.orderBy(F.col("frequency").asc(), F.col("c_custkey"))
    w_m = Window.orderBy(F.col("_mon").asc(), F.col("c_custkey"))
    scored = prof.select(
        "c_custkey",
        "recency_days",
        "frequency",
        F.round(F.col("_mon").cast("double"), 2).alias("monetary"),
        F.ntile(4).over(w_r).alias("r_q"),
        F.ntile(4).over(w_f).alias("f_q"),
        F.ntile(4).over(w_m).alias("m_q"),
    )
    seg = (
        F.when((F.col("r_q") == 4) & (F.col("f_q") == 4) & (F.col("m_q") == 4), "champion")
        .when((F.col("r_q") >= 3) & (F.col("f_q") >= 3), "loyal")
        .when((F.col("r_q") <= 1) & (F.col("f_q") >= 3), "at_risk")
        .when((F.col("r_q") <= 1) & (F.col("f_q") <= 1), "lost")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg).orderBy("c_custkey")


RFM_SEGMENTS_SQL = """
WITH profile AS (
    SELECT o_custkey AS c_custkey,
           max(CAST(o_orderdate AS DATE)) AS last_order,
           count(*) AS frequency,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
    FROM orders GROUP BY 1
),
ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
prof AS (
    SELECT c_custkey,
           date_diff('day', last_order, ref_date) AS recency_days,
           frequency, mon
    FROM profile CROSS JOIN ref
),
scored AS (
    SELECT c_custkey, recency_days, frequency,
           round(CAST(mon AS DOUBLE), 2) AS monetary,
           ntile(4) OVER (ORDER BY recency_days DESC, c_custkey) AS r_q,
           ntile(4) OVER (ORDER BY frequency ASC, c_custkey) AS f_q,
           ntile(4) OVER (ORDER BY mon ASC, c_custkey) AS m_q
    FROM prof
)
SELECT c_custkey, recency_days, frequency, monetary, r_q, f_q, m_q,
       CASE WHEN r_q = 4 AND f_q = 4 AND m_q = 4 THEN 'champion'
            WHEN r_q >= 3 AND f_q >= 3 THEN 'loyal'
            WHEN r_q <= 1 AND f_q >= 3 THEN 'at_risk'
            WHEN r_q <= 1 AND f_q <= 1 THEN 'lost'
            ELSE 'regular' END AS segment
FROM scored
ORDER BY c_custkey
"""


ROUND26_QUERIES = {
    "rfm_segments": rfm_segments,
}
ROUND26_ORACLES = {
    "rfm_segments": RFM_SEGMENTS_SQL,
}
