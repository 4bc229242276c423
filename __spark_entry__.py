"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2
(see atd_data_lake_spark/queries.py for the inventory mapping).
``oracle_sql()`` — DuckDB-equivalent SQL per query; entries without an
oracle (hash-based LSH/SimHash ops, mapInPandas multimodal plumbing) get
the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from atd_data_lake_spark.tpch_queries import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from atd_data_lake_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from atd_data_lake_spark.queries import ORACLES

    return dict(ORACLES)
