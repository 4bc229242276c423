"""Parquet table reader tolerant of nanosecond timestamps.

Spark (4.x) rejects parquet TIMESTAMP(NANOS) columns outright
(PARQUET_TYPE_ILLEGAL).  The driver's events table carries
``timestamp[ns]``; we read such columns as raw nanos via
``spark.sql.legacy.parquet.nanosAsLong`` and truncate to microseconds —
exactly what DuckDB's Python client does when materializing
TIMESTAMP_NS, so oracle comparisons stay bit-identical.

The footer inspection is one driver-side metadata read per table (not a
data scan); at cluster scale the equivalent is a one-time schema check
when registering the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _nanos_columns(path: str) -> list[str]:
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    except Exception:
        return []


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    nanos = _nanos_columns(path)
    if not nanos:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        # integer div truncates toward zero == DuckDB's ns→us truncation
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_table_utc(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``read_table`` with the session time zone pinned to UTC: how every
    registry query reads its input tables (modules import it as ``_t``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_table(spark, sf_dir, name)
