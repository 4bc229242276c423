"""Runner lifecycle tests: CLI date semantics, incremental planning,
simulate/debug/force modes, catalog advancement across runs — the
reference's manual test procedures automated (SURVEY §5,
docs/appendix_testing.md:66-109)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from atd_data_lake_spark import catalog as cat
from atd_data_lake_spark.runner import (
    Stage,
    build_parser,
    resolve_dates,
    run_stage,
)


def test_parser_has_reference_flags():
    p = build_parser("wt_standardize")
    args = p.parse_args(
        ["-s", "2019-12-01", "-e", "2019-12-05", "-F", "-0", "--debug"]
    )
    assert args.start_date == "2019-12-01" and args.force and args.simulate
    assert args.debug


def test_resolve_dates_semantics():
    today = datetime(2019, 12, 10)
    s, e, r = resolve_dates("3", None, None, today=today)
    assert s == datetime(2019, 12, 7) and e is None  # days-back form
    s, e, r = resolve_dates("2019-12-01", "2019-12-05", None, today=today)
    assert s == datetime(2019, 12, 1) and e == datetime(2019, 12, 5)
    with pytest.raises(ValueError):
        resolve_dates(None, None, None, today=today)  # -s or -r required


@pytest.fixture()
def catalog_df(spark):
    rows = [
        ("raw", "wt", "kits", "f.csv", "p", datetime(2019, 12, d), None,
         datetime(2020, 1, 1), "{}")
        for d in range(1, 4)
    ]
    return spark.createDataFrame(rows, cat.CATALOG_SCHEMA)


def _stage(src_repo="raw", tgt_repo="standardized"):
    def transform(spark, plan):
        # toy transform: one output row per planned item
        return plan.select(
            "data_source",
            F.date_format("collection_date", "yyyy-MM-dd").alias("collection_date"),
            F.lit(1).alias("v"),
        )

    return Stage(
        name=f"wt_{tgt_repo}",
        data_source="wt",
        src_repo=src_repo,
        tgt_repo=tgt_repo,
        transform=transform,
    )


def test_run_plan_write_then_idempotent(spark, catalog_df, tmp_path):
    run1 = run_stage(spark, _stage(), catalog_df, str(tmp_path / "lake"))
    assert run1.planned == 3 and run1.written == 3
    assert (tmp_path / "lake" / "standardized").exists()
    # catalog advanced -> re-run plans nothing (appendix_testing.md:76-81)
    run2 = run_stage(spark, _stage(), run1.catalog, str(tmp_path / "lake"))
    assert run2.planned == 0
    # force re-emits everything (appendix_testing.md:83-87)
    run3 = run_stage(
        spark, _stage(), run1.catalog, str(tmp_path / "lake"), force=True
    )
    assert run3.planned == 3


def test_run_partial_window(spark, catalog_df, tmp_path):
    run = run_stage(
        spark,
        _stage(),
        catalog_df,
        str(tmp_path / "lake"),
        start=datetime(2019, 12, 2),
        end=datetime(2019, 12, 3),
    )
    assert run.planned == 1  # only Dec 2 falls in [start, end)


def test_simulate_writes_nothing(spark, catalog_df, tmp_path):
    run = run_stage(
        spark, _stage(), catalog_df, str(tmp_path / "lake"), simulate=True
    )
    assert run.planned == 3 and run.written == 0
    assert not (tmp_path / "lake").exists()
    # catalog unchanged -> a later real run still sees the work
    assert run.catalog is catalog_df


def test_run_stage_executes_transform_once(spark, catalog_df, tmp_path):
    """Metrics ride the write action as observations — the transform's
    rows must flow exactly once (the old written=count() ran the whole
    transform a second time before the write)."""
    acc = spark.sparkContext.accumulator(0)

    def transform(spark_, plan):
        def tick(it):
            for pdf in it:
                acc.add(len(pdf))
                yield pdf[["data_source"]].assign(
                    collection_date="2019-12-01", v=1
                )

        return plan.mapInPandas(
            tick, schema="data_source string, collection_date string, v int"
        )

    stage = Stage(
        name="wt_standardize",
        data_source="wt",
        src_repo="raw",
        tgt_repo="standardized",
        transform=transform,
    )
    run = run_stage(spark, stage, catalog_df, str(tmp_path / "lake"))
    assert run.planned == 3 and run.written == 3
    assert acc.value == 3  # transform ran once, not once per metric


def test_debug_targets_test_layer(spark, catalog_df, tmp_path):
    run = run_stage(
        spark, _stage(), catalog_df, str(tmp_path / "lake"), debug=True
    )
    assert run.written == 3
    assert (tmp_path / "lake" / "standardized-test").exists()
    assert not (tmp_path / "lake" / "standardized").exists()


def test_processing_date_fixed_across_actions(spark, catalog_df, tmp_path):
    """Every action on the returned catalog sees the same stamp — the
    lazy current_timestamp() re-stamped the rows on each collect."""
    run = run_stage(spark, _stage(), catalog_df, str(tmp_path / "lake"))

    def stamps():
        return sorted(
            (r.collection_date, r.processing_date)
            for r in run.catalog.filter(F.col("repository") == "standardized")
            .collect()
        )

    first = stamps()
    assert len(first) == 3
    assert stamps() == first


def test_chained_stages_plan_over_a_flat_catalog(spark, catalog_df, tmp_path):
    """raw -> standardized -> ready -> public: each stage plans the three
    slices once, a re-run plans nothing, and the catalog handed to the
    next stage is one checkpointed scan — not the upsert chain of every
    earlier stage."""
    lake = str(tmp_path / "lake")
    catalog = catalog_df
    plan_lines = []
    for src, tgt in [("raw", "standardized"), ("standardized", "ready"),
                     ("ready", "public")]:
        run = run_stage(spark, _stage(src, tgt), catalog, lake)
        assert run.planned == 3 and run.written == 3
        catalog = run.catalog
        assert run_stage(spark, _stage(src, tgt), catalog, lake).planned == 0
        plan = catalog._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan and "Union" not in plan, plan
        assert "LogicalRDD" in plan, plan
        plan_lines.append(len(plan.splitlines()))
    assert plan_lines == [1, 1, 1], plan_lines
    assert sorted(
        (r.repository, r.collection_date.day)
        for r in catalog.filter(F.col("repository") != "raw").collect()
    ) == sorted(
        (repo, d) for repo in ("standardized", "ready", "public")
        for d in range(1, 4)
    )
