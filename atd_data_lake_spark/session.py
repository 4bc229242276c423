"""SparkSession factory.

The reference runs single-threaded on a 1 GB EC2 box
(/root/reference/docs/platform_setup.md:27-38); this engine targets a
multi-executor cluster. Session defaults are chosen so the same logical
plans scale: AQE for runtime re-planning and skew joins, shuffle
partitions sized to the parallelism at hand, Arrow for any
pandas-exchange path.

Timezone note: the reference localizes everything to US/Central
(config/config_app.py:13).  For oracle comparison (DuckDB timestamps are
UTC-naive) the session timezone is pinned to UTC; pipeline code that
needs the reference's wall-clock semantics converts explicitly with
from_utc_timestamp/to_utc_timestamp instead of relying on session tz.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference session timezone (config/config_app.py:13) — applied explicitly
# in pipeline code, never via spark.sql.session.timeZone.
LOCAL_TZ = "America/Chicago"

_DRIVER_MEM_BYTES = 90 * 1024**3


def default_driver_memory(physical_bytes: int) -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 90g, or a
    quarter of physical memory on a host with less than 90g (a 90g heap
    on a 15 GB host gets the test run OOM-killed)."""
    if physical_bytes >= _DRIVER_MEM_BYTES:
        return "90g"
    return f"{physical_bytes // 4 // 1024**2}m"


def get_spark(
    app_name: str = "atd_data_lake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]`` (default all cores) with
    shuffle partitions ≈ cores — the 200-partition default is wrong for
    both tiny local data and would be re-tuned upward (or left to AQE
    coalescing) on a 1000-executor cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory(physical)),
        )
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(master or f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
