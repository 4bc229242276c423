"""Round-7 query addition: CDC snapshot diff (``graph_pagerank`` lives
in ``graph_queries``).

- ``dq_snapshot_diff`` — per-key CDC changelog between two table
  snapshots: added / removed / changed rows via one full-outer join on
  the primary key.  The ops complement of ``dq_schema_drift`` (which
  diffs column STATS); this diffs the ROWS, the shape every
  incremental-publish pipeline audits before a merge (reference analog:
  the catalog-diff that drives the incremental anti-join J1).

It has a DuckDB oracle; every computed column is aliased identically
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# dq_snapshot_diff — per-key CDC changelog between two snapshots
# ---------------------------------------------------------------------------


def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff of two orders snapshots: added / removed / changed.

    Snapshots are carved deterministically from the orders table (the
    same derive-two-states-from-one-table device as ``dq_schema_drift``):
    T0 drops every 11th key, T1 drops every 13th and bumps the price of
    every 7th — so the diff exercises all three change classes with
    known expected counts.

    Plan: ONE full-outer join on the primary key (both sides pruned to
    pk + compared columns) — the CDC audit shape.  At 100 TB the join is
    exchange-free when both snapshots are bucketed by pk
    (io/bucketed.py); unchanged rows are dropped by a post-join filter,
    so the output ∝ churn, not table size.
    """
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t0 = orders.filter(F.col("o_orderkey") % 11 != 0)
    t1 = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.round(F.col("o_totalprice") + 10.0, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    j = t0.alias("a").join(
        t1.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    change = (
        F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
        .when(
            (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            change.alias("change_type"),
            F.round(F.col("a.o_totalprice"), 2).alias("old_totalprice"),
            F.round(F.col("b.o_totalprice"), 2).alias("new_totalprice"),
        )
        .filter(F.col("change_type") != "unchanged")
        .orderBy("o_orderkey")
    )


DQ_SNAPSHOT_DIFF_SQL = """
WITH t0 AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 11 != 0
),
t1 AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice + 10.0, 2)
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 13 != 0
),
j AS (
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_totalprice != b.o_totalprice
                     OR a.o_orderstatus != b.o_orderstatus THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           round(a.o_totalprice, 2) AS old_totalprice,
           round(b.o_totalprice, 2) AS new_totalprice
    FROM t0 a FULL OUTER JOIN t1 b USING (o_orderkey)
)
SELECT * FROM j WHERE change_type != 'unchanged' ORDER BY o_orderkey
"""


ROUND7_QUERIES = {
    "dq_snapshot_diff": dq_snapshot_diff,
}

ROUND7_ORACLES = {
    "dq_snapshot_diff": DQ_SNAPSHOT_DIFF_SQL,
}
