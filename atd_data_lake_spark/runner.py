"""Pipeline runner — the ETLApp lifecycle re-expressed (SURVEY §3,
support/etl_app.py:90-285).

One run = plan → transform → write → record:

1. resolve the date window from the reference's CLI semantics
   (``-r/-s/-e``: last_run_date, start as absolute date or days-back,
   end; ``-F`` force; ``-0`` simulate; ``--debug`` repo suffix;
   ``-o`` tee output dir — etl_app.py:98-197);
2. plan = the J1 incremental anti-join of the source catalog listing
   against the target listing (``operators/incremental.py``) — the whole
   date range in ONE join, not a per-item driver loop;
3. transform = the registered pure DataFrame function for the stage;
4. write = partitioned layer write, then the catalog upsert is returned
   as the post-run catalog state; storing it (``catalog.upsert_table``)
   and the perfmet job row are the caller's;
   ``simulate`` runs 1–3 and skips every write (storage.py:132-148's
   semantics), ``debug`` targets ``<layer>-test`` paths
   (config_app.py:21-28).
"""

from __future__ import annotations

import argparse
import time
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark import catalog as cat
from atd_data_lake_spark.io.writer import write_layer
from atd_data_lake_spark.operators.incremental import incremental_plan


def build_parser(app_name: str, descr: str = "") -> argparse.ArgumentParser:
    """The reference's standard flags (etl_app.py:95-115)."""
    p = argparse.ArgumentParser(prog=app_name, description=descr)
    p.add_argument("-r", "--last_run_date", help="YYYY-MM-DD lower bound")
    p.add_argument(
        "-s", "--start_date", help="days-back int or absolute YYYY-MM-DD"
    )
    p.add_argument("-e", "--end_date", help="YYYY-MM-DD upper bound")
    p.add_argument("-F", "--force", action="store_true")
    p.add_argument("-o", "--output_filepath", help="tee outputs here")
    p.add_argument("-0", "--simulate", action="store_true", dest="simulate")
    p.add_argument("--debug", action="store_true")
    return p


def resolve_dates(
    start_date: str | None,
    end_date: str | None,
    last_run_date: str | None,
    today: datetime | None = None,
) -> tuple[datetime | None, datetime | None, datetime | None]:
    """``-s`` accepts an integer (days back from today) or an absolute
    date (etl_app.py:139-151); one of -s/-r is required (:170-171)."""
    today = today or datetime.now().replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    start = None
    if start_date is not None:
        try:
            start = today - timedelta(days=int(start_date))
        except ValueError:
            start = datetime.fromisoformat(start_date)
    end = datetime.fromisoformat(end_date) if end_date else None
    last_run = datetime.fromisoformat(last_run_date) if last_run_date else None
    if start is None and last_run is None:
        raise ValueError("A last_run_date or start_date must be specified.")
    return start, end, last_run


@dataclass
class StageRun:
    """Outcome of one stage execution."""

    planned: int
    written: int
    seconds: float
    simulate: bool
    catalog: DataFrame  # post-run catalog state (unchanged when simulate)
    output: DataFrame | None = None


@dataclass
class Stage:
    """A registered pipeline stage: the Spark analog of one reference
    entry point (bt_json_standard, wt_ready, ...)."""

    name: str
    data_source: str
    src_repo: str
    tgt_repo: str
    #: (spark, plan) -> output DataFrame; ``plan`` carries the catalog rows
    #: to process (pointer, collection_date, ...).
    transform: Callable[[SparkSession, DataFrame], DataFrame]
    partition_cols: tuple[str, ...] = ("data_source", "collection_date")


def run_stage(
    spark: SparkSession,
    stage: Stage,
    catalog_df: DataFrame,
    lake_root: str,
    start: datetime | None = None,
    end: datetime | None = None,
    last_run_date: datetime | None = None,
    force: bool = False,
    simulate: bool = False,
    debug: bool = False,
) -> StageRun:
    """Execute one stage over its incremental plan.

    Catalog rows for the target repo are upserted per processed slice
    (S11); ``simulate`` runs planning + transform + count but writes
    nothing; ``debug`` redirects the layer path to ``<layer>-test``.

    The returned ``catalog`` and the plan that it and ``output`` read are
    checkpoint-backed (``localCheckpoint``): each is computed once and
    carries no lineage, so a chain of stages plans over a flat catalog
    instead of re-deriving every earlier stage's upsert.  Their blocks
    are released when the caller drops the frames (ContextCleaner) and
    cannot be recomputed after that.
    """
    t0 = time.perf_counter()
    src = cat.query(
        catalog_df,
        repository=stage.src_repo,
        data_source=stage.data_source,
        start=start,
        end=end,
    )
    tgt = cat.query(
        catalog_df, repository=stage.tgt_repo, data_source=stage.data_source
    )
    plan = incremental_plan(
        src, tgt, force=force, last_run_date=last_run_date
    ).localCheckpoint()
    planned = plan.count()
    if not planned:
        return StageRun(0, 0, time.perf_counter() - t0, simulate, catalog_df)

    out = stage.transform(spark, plan)
    if simulate:
        out.count()
        return StageRun(
            planned, 0, time.perf_counter() - t0, simulate, catalog_df, out
        )

    # the written count rides the write as an observation (accumulator-
    # backed CollectMetrics) — a separate out.count() would run the whole
    # transform a second time
    obs_written = Observation()
    out = out.observe(obs_written, F.count(F.lit(1)).alias("n"))
    layer = stage.tgt_repo + ("-test" if debug else "")
    write_layer(out, lake_root, layer, mode="overwrite",
                partition_cols=stage.partition_cols)
    written = int(obs_written.get["n"])

    new_rows = plan.select(
        F.lit(stage.tgt_repo).alias("repository"),
        F.col("data_source"),
        F.col("id_base"),
        F.col("id_ext"),
        F.concat(F.lit(f"{lake_root}/{layer}")).alias("pointer"),
        F.col("collection_date"),
        F.col("collection_end"),
        # a literal, not current_timestamp(): fixed when the stage runs,
        # not re-stamped by every action on the returned catalog
        F.lit(datetime.now()).alias("processing_date"),
        F.lit("{}").alias("metadata"),
    )
    updated_catalog = cat.upsert(catalog_df, new_rows).localCheckpoint()
    return StageRun(
        planned,
        written,
        time.perf_counter() - t0,
        simulate,
        updated_catalog,
        out,
    )
