"""The executed family (``executed_queries``): one home per
``*_executed`` query, each shared harness piece written once, and the
streaming contracts the oracle sweep cannot see — append-mode
finalization and its eviction boundary, re-run stability, the
stream-static join and the Benford stream's per-window census."""

from __future__ import annotations

import ast
import datetime
from pathlib import Path

from pyspark.sql import functions as F

from atd_data_lake_spark import executed_queries as eq
from atd_data_lake_spark.executed_queries import (
    evt_stream_append_window_executed,
    evt_stream_benford_executed,
    evt_stream_static_join_executed,
)

PKG = Path(eq.__file__).parent
REPO = PKG.parent
_PRIVATE_HARNESS = {"_drain", "_events_stream", "_run_to_memory"}


def test_executed_queries_defined_only_in_family_module():
    from atd_data_lake_spark.queries import ORACLES, QUERIES

    executed = [n for n in QUERIES if n.endswith("_executed")]
    assert sorted(executed) == sorted(eq.EXECUTED_QUERIES)
    assert all(QUERIES[n] is eq.EXECUTED_QUERIES[n] for n in executed)
    assert all(ORACLES[n] == eq.EXECUTED_ORACLES[n] for n in executed)
    for path in PKG.rglob("*.py"):
        if path.name == "executed_queries.py":
            continue
        tree = ast.parse(path.read_text())
        defined = [
            n.name
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name.endswith("_executed")
        ]
        assert not defined, f"{path.name} defines {defined}"


def test_no_module_imports_the_private_stream_harness():
    for root in (PKG, REPO / "tests", REPO / "tools"):
        for path in root.rglob("*.py"):
            tree = ast.parse(path.read_text())
            imported = {
                a.name
                for n in ast.walk(tree)
                if isinstance(n, ast.ImportFrom)
                for a in n.names
            }
            assert not imported & _PRIVATE_HARNESS, path


def test_shared_harness_written_once():
    src = Path(eq.__file__).read_text()
    assert src.count('"events.parquet"') == 1
    assert src.count('format("memory")') == 1
    assert src.count("mkdtemp(") == 1
    assert eq.EXECUTED_ORACLES["evt_txlog_compact_executed"] is (
        eq.EXECUTED_ORACLES["evt_stream_txlog_executed"]
    )


def test_append_mode_emits_only_finalized_windows(spark, sf_dir):
    """Every emitted window must be watermark-finalized
    (window_end <= max event time - 30 min) and the count must equal
    the batch aggregation restricted to that set — i.e. append emitted
    each finalized window exactly once and nothing else."""
    from atd_data_lake_spark.io.reader import read_table

    out = evt_stream_append_window_executed(spark, sf_dir).collect()
    ev = read_table(spark, sf_dir, "events")
    its = F.to_utc_timestamp("ts", "UTC")
    mx = ev.agg(F.max(its)).first()[0]
    wm = mx - datetime.timedelta(minutes=30)
    assert len(out) > 0
    for r in out:
        end = r["window_start"] + datetime.timedelta(minutes=15)
        assert end <= wm
    batch_final = (
        ev.select(its.alias("its"), "event_type")
        .groupBy(F.window("its", "15 minutes").alias("w"), "event_type")
        .count()
        .filter(F.col("w.end") <= F.lit(wm))
        .count()
    )
    assert len(out) == batch_final


def test_append_mode_rerun_is_stable(spark, sf_dir):
    a = sorted(map(tuple, evt_stream_append_window_executed(spark, sf_dir).collect()))
    b = sorted(map(tuple, evt_stream_append_window_executed(spark, sf_dir).collect()))
    assert a == b


def test_stream_static_join_matches_batch_join(spark, sf_dir):
    from atd_data_lake_spark.io.reader import read_table

    out = sorted(
        map(tuple, evt_stream_static_join_executed(spark, sf_dir).collect())
    )
    ev = read_table(spark, sf_dir, "events")
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = sorted(
        map(
            tuple,
            ev.select(
                "user_id",
                "event_type",
                F.col("value").cast("decimal(12,2)").alias("v"),
            )
            .join(dim, "user_id")
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("v").cast("double"), 2).alias("total_value"),
            )
            .orderBy("c_mktsegment", "event_type")
            .collect(),
        )
    )
    assert out == batch and len(out) > 0


def test_append_mode_eviction_boundary_pinned(spark, tmp_path):
    """ADVICE r7: when max(event_time) - 30min lands EXACTLY on a 15-min
    window end, the oracle's inclusive `window_end <= max_ts - 1800`
    must match Spark's append-mode eviction comparison.  Synthetic
    events pin the equality case the sf data never hits: watermark
    00:15:00 == the first window's end."""
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base + _dt.timedelta(minutes=1), 1, "A", 1.0, "{}"),
        (2, base + _dt.timedelta(minutes=14), 1, "A", 2.0, "{}"),
        (3, base + _dt.timedelta(minutes=16), 1, "A", 3.0, "{}"),
        # max event: watermark = 00:45 - 30min = 00:15:00 exactly
        (4, base + _dt.timedelta(minutes=45), 1, "B", 4.0, "{}"),
    ]
    # a single FILE named events.parquet (like the testdata layout) —
    # the stream's pathGlobFilter matches leaf file names, so a
    # directory-shaped Spark write would be filtered to nothing
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = evt_stream_append_window_executed(spark, str(tmp_path)).collect()
    # inclusive boundary: the window ENDING exactly at the watermark is
    # finalized and emitted; the 00:15 and 00:45 windows are not
    assert [
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in out
    ] == [(base, "A", 2, 3.0)]


def test_evt_stream_benford_matches_batch_on_finalized_windows(
    spark, sf_dir
):
    """The executed stream's finalized per-window digit census must
    equal the batch computation over the same windows (exactly-once
    append-mode emission), and per-window fractions sum to 1."""
    from collections import defaultdict

    rows = evt_stream_benford_executed(spark, sf_dir).collect()
    assert rows
    per_win = defaultdict(float)
    for r in rows:
        assert 1 <= r["digit"] <= 9 and r["n_obs"] > 0
        per_win[r["window_start"]] += r["obs_frac"]
    # rounding to 6 dp leaves ≤ 9 * 5e-7 of slack per window
    assert all(abs(s - 1.0) < 1e-4 for s in per_win.values())
    # deterministic across re-execution (stream re-drains from scratch)
    again = evt_stream_benford_executed(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
