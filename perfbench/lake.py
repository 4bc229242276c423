"""The ``lake_nightly`` workload: the paper's nightly batch over three
sensor sources (bt, wt, gs) through raw -> standardized -> ready ->
public, with a catalog MERGE and perfmet job rows every night.

Set-up turns generated ``events`` and ``nation`` tables into per-day raw
CSV files with the DuckDB twins of the ``pipeline_queries`` bridges:
IAF rows for bt, KITS rows for wt and zone-count rows for gs.  The seed
picks the source whose slices arrive one night late.

The timed run is a fixed schedule: a backfill of the first days, then a
fixed number of nights, one at a time, then a re-run of the last night,
which must plan nothing.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import duckdb
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from atd_data_lake_spark import catalog as cat
from atd_data_lake_spark import pipeline_queries as pq
from atd_data_lake_spark import runner
from atd_data_lake_spark.io import publish, txlog
from atd_data_lake_spark.pipelines import bt, gs, perfmet, wt

SOURCES = ("bt", "wt", "gs")
LAYERS = (("raw", "standardized"), ("standardized", "ready"), ("ready", "public"))
PUBLIC_KEY = {"bt": "record_id", "wt": "row_id", "gs": "record_id"}
RAW_SQL = {"bt": pq._BT_IAF_SQL, "wt": pq._WT_KITS_SQL, "gs": pq._GS_COUNTS_SQL}
RAW_HEADER = {"bt": False, "wt": True, "gs": True}
IAF_SCHEMA = (
    "host_timestamp string, ip_address string, field_timestamp string, "
    "reader_id string, dev_addr string"
)
#: column whose date is the slice's collection date, per (source, layer)
#: for the stage outputs that do not carry the keys through
DAY_COL = {
    ("bt", "standardized"): "host_timestamp",
    ("wt", "standardized"): "curDateTime",
    ("gs", "standardized"): "timestamp_adj",
    ("gs", "ready"): "timestamp",
    ("bt", "public"): "host_read_time",
    ("wt", "public"): "curdatetime",
    ("gs", "public"): "read_date",
}
SINGLE_SHOT_SQL = {
    "bt": pq.PIPE_BT_PUBLISH_UNMATCHED_SQL,
    "wt": pq.PIPE_WT_PUBLISH_SQL,
    "gs": pq.PIPE_GS_PUBLISH_SQL,
}
BACKFILL_DAYS = 2


def make_raw(sf_dir: str, raw_dir: str, days: list[datetime], seed: int) -> dict:
    """Per-(source, day) raw CSVs plus the arrival night of each slice."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW all_events AS SELECT * FROM '{sf_dir}/events.parquet'")
    con.execute(f"CREATE VIEW nation AS SELECT * FROM '{sf_dir}/nation.parquet'")
    files, records = {}, {}
    for day in days:
        d = day.date().isoformat()
        con.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * FROM all_events "
            f"WHERE CAST(ts AS DATE) = DATE '{d}'"
        )
        records[d] = con.execute("SELECT count(*) FROM events").fetchone()[0]
        for s in SOURCES:
            path = os.path.join(raw_dir, s, f"{d}.csv")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            header = "true" if RAW_HEADER[s] else "false"
            con.execute(f"COPY ({RAW_SQL[s]}) TO '{path}' (HEADER {header})")
            files[(s, d)] = path
    con.close()
    # Arrival night per slice.  The seed picks one source whose feed runs
    # a night behind after its first day: the backfill plans one day for
    # it and two for the others, and every night then plans one day for
    # each of the three sources.
    late = SOURCES[np.random.default_rng([seed, 99]).integers(len(SOURCES))]
    arrival = {}
    for i, day in enumerate(days):
        for s in SOURCES:
            lag = s == late and i > 0
            arrival[(s, day.date().isoformat())] = max(i, BACKFILL_DAYS - 1) + lag
    return {"files": files, "arrival": arrival, "records": records}


def _with_keys(df: DataFrame, source: str, layer: str) -> DataFrame:
    day = F.to_date(F.substring(F.col(DAY_COL[(source, layer)]).cast("string"), 1, 10))
    return df.withColumn("data_source", F.lit(source)).withColumn("collection_date", day)


class Lake:
    """One lake root: layers, catalog, published tables and perfmet."""

    def __init__(self, spark, root: str, sf_dir: str, raw: dict, tracer):
        self.spark = spark
        self.root = root
        self.raw = raw
        self.tracer = tracer
        self.catalog_path = os.path.join(root, "catalog")
        self.perfmet_path = os.path.join(root, "perfmet")
        self.calls: list[tuple[str, float]] = []
        self.planned = 0
        self.considered = 0
        self.processed: dict[str, set[str]] = {s: set() for s in SOURCES}
        self.bt_dev = pq._bt_devices(spark, sf_dir)
        self.wt_dev = pq._wt_devices(spark, sf_dir)
        self.gs_moves = pq._gs_movements(spark, sf_dir)
        self.gs_device = spark.createDataFrame(
            [(72, " LAMAR BLVD", " MANCHACA RD")],
            "atd_device_id int, primary_st string, cross_st string",
        )
        self._dates: dict[tuple[str, str], list] = {}

    def published(self, source: str) -> str:
        return os.path.join(self.root, "published", source)

    def _call(self, name: str, label: str, fn, *args, **kwargs):
        """Time one call into the engine; ``label`` tells apart the calls
        of one name within a night (source, layer)."""
        t0 = time.perf_counter()
        with self.tracer.span(name, label=label):
            out = fn(*args, **kwargs)
        self.calls.append((f"{name}:{label}", time.perf_counter() - t0))
        return out

    # -- stage transforms (spark, plan) -> DataFrame ------------------------

    def _read_planned(self, source: str, layer: str, plan: DataFrame) -> DataFrame:
        rows = plan.select("pointer", "collection_date").collect()
        dates = sorted({r.collection_date.date() for r in rows})
        self._dates[(source, layer)] = dates
        if layer == "raw":
            paths = [r.pointer for r in rows]
            if source == "bt":
                return self.spark.read.csv(paths, schema=IAF_SCHEMA)
            return self.spark.read.csv(paths, header=True)
        return self.read_layer(layer, source, dates)

    def read_layer(self, layer: str, source: str, dates) -> DataFrame:
        """One source's slices of a layer (the sources' schemas differ)."""
        base = os.path.join(self.root, layer)
        return (
            self.spark.read.option("basePath", base)
            .parquet(os.path.join(base, f"data_source={source}"))
            .filter(F.col("collection_date").isin(dates))
        )

    def _transform(self, source: str, src: str, tgt: str):
        def run(spark, plan):
            df = self._read_planned(source, src, plan)
            if tgt == "public":
                df = df.drop("data_source", "collection_date")
            if source == "bt":
                out = {
                    "standardized": lambda: bt.standardize_iaf(df),
                    "ready": lambda: bt.ready_unmatched(df, self.bt_dev),
                    "public": lambda: bt.publish_unmatched(df, bt.bt_device_id(self.bt_dev)),
                }[tgt]()
            elif source == "wt":
                out = {
                    "standardized": lambda: wt.standardize(df),
                    "ready": lambda: wt.ready(df, self.wt_dev),
                    "public": lambda: wt.publish(df),
                }[tgt]()
            else:
                out = {
                    "standardized": lambda: df.select(
                        F.to_timestamp("timestamp_adj").alias("timestamp_adj"),
                        "zone",
                        "turn",
                        *[F.col(c).cast("double").alias(c)
                          for c in ("vehicle_length", "speed", "seconds_in_zone")],
                    ),
                    "ready": lambda: gs.agg_interval(df, self.gs_moves),
                    "public": lambda: gs.publish_agg(df, self.gs_device),
                }[tgt]()
            if "collection_date" in out.columns:
                return out  # the keys rode through a join
            return _with_keys(out, source, tgt)

        return run

    # -- the nightly job -----------------------------------------------------

    def _register_raw(self, slices: list[tuple[str, str]]) -> None:
        rows = [
            ("raw", s, f"{s}_{d}", "csv", self.raw["files"][(s, d)],
             datetime.fromisoformat(d), None, datetime.now(), "{}")
            for s, d in slices
        ]
        updates = self.spark.createDataFrame(rows, cat.CATALOG_SCHEMA)
        self._call("catalog.upsert_table", "raw", cat.upsert_table, self.spark,
                   self.catalog_path, updates)

    def night(self, slices: list[tuple[str, str]], end: datetime) -> None:
        """Register arrived raw slices, run every (source, layer) stage up
        to ``end``, MERGE the new catalog rows and each source's new public
        rows, and append one perfmet job row per source."""
        started = datetime.now()
        if slices:
            self._register_raw(slices)
        base = txlog.read_table(self.spark, self.catalog_path)
        new_rows, job_rows = [], []
        for s in SOURCES:
            t_src = time.perf_counter()
            catalog_df = base
            for src, tgt in LAYERS:
                stage = runner.Stage(f"{s}_{tgt}", s, src, tgt, self._transform(s, src, tgt))
                self.considered += 1
                run = self._call(
                    "runner.run_stage", f"{s}.{tgt}", runner.run_stage,
                    self.spark, stage, catalog_df, self.root, end=end,
                )
                self.planned += run.planned
                if not run.planned:
                    break
                catalog_df = run.catalog
            if not run.planned:
                continue
            dates = self._dates[(s, "ready")]
            self.processed[s].update(d.isoformat() for d in dates)
            public_rows = self.read_layer("public", s, dates).drop(
                "data_source", "collection_date"
            )
            self._call(
                "io.publish.merge_public_txlog", s, publish.merge_public_txlog,
                self.spark, self.published(s), public_rows, key=PUBLIC_KEY[s],
            )
            new_rows += catalog_df.filter(
                (F.col("repository") != "raw")
                & (F.col("data_source") == s)
                & (F.col("processing_date") >= F.lit(started))
            ).select(*cat.CATALOG_SCHEMA.fieldNames()).collect()
            obs = self.read_layer("standardized", s, self._dates[(s, "raw")]).agg(
                F.count(F.lit(1)).alias("n_obs"),
                F.min("collection_date").cast("timestamp").alias("min_ts"),
                F.max("collection_date").cast("timestamp").alias("max_ts"),
            )
            job_rows.append(
                self._call("pipelines.perfmet.job_row", s, perfmet.job_row, obs, s,
                           "night", time.perf_counter() - t_src)
            )
        if new_rows:
            # a handful of rows: the MERGE reads them as a local relation
            updates = self.spark.createDataFrame(new_rows, cat.CATALOG_SCHEMA)
            self._call("catalog.upsert_table", "layers", cat.upsert_table, self.spark,
                       self.catalog_path, updates)
        if job_rows:
            jobs = job_rows[0]
            for r in job_rows[1:]:
                jobs = jobs.unionByName(r)
            self._call("io.txlog.append", "perfmet", txlog.append, jobs, self.perfmet_path)

    # -- checks and sizes ----------------------------------------------------

    def check_public(self, sf_dir: str) -> dict[str, bool]:
        """Each source's published rows equal the single-shot ``pipe_*``
        publish output (its DuckDB oracle) over the days the source
        processed."""
        con = duckdb.connect()
        for t in ("events", "nation"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        ok = {}
        for s in SOURCES:
            res = con.execute(SINGLE_SHOT_SQL[s])
            cols = [d[0] for d in res.description]
            day = cols.index(DAY_COL[(s, "public")])
            days = self.processed[s]
            want = [tuple(r) for r in res.fetchall() if r[day][:10] in days]
            got_df = txlog.read_table(self.spark, self.published(s)).select(*cols)
            got = [tuple(r) for r in got_df.collect()]
            key = cols.index(PUBLIC_KEY[s])
            counts: dict = {}
            for r in want:
                counts[r[key]] = counts.get(r[key], 0) + 1
            # a key the source emits twice has no defined winner: compare
            # its presence only
            unique = {r for r in want if counts[r[key]] == 1}
            ok[s] = (
                {r[key] for r in got} == set(counts)
                and len(got) == len(counts)
                and unique <= set(got)
            )
        con.close()
        return ok


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total


def days_for(n: int) -> list[datetime]:
    start = datetime(2024, 1, 1)
    return [start + timedelta(days=i) for i in range(n)]
