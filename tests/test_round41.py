"""Round-41 targeted tests — DDSketch rolling-quantile guarantees (error
bound vs exact, mergeability, partition invariance).  The AUC/PR
invariants live in test_dq.py.  Full oracle parity runs in
test_oracle_parity.py / the driver sweep.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from atd_data_lake_spark.operators.sketches import (
    _SK_ALPHA,
    _SK_GAMMA,
    _SK_QUANTILES,
)
from atd_data_lake_spark.round41_queries import (
    daily_value_sketch,
    ts_rolling_p95_sketch,
)


# ---------------------------------------------------------------------------
# DDSketch rolling quantiles
# ---------------------------------------------------------------------------


def test_sketch_error_bound_vs_exact(spark, sf_dir):
    """Every (type, day, quantile): the sketch estimate is within the
    DDSketch relative-error bound (< 5%; design bound ~2% at α=0.01) of
    the EXACT rank quantile over the same trailing window."""
    got = {
        (r["event_type"], str(r["day"])): r
        for r in ts_rolling_p95_sketch(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    exact = con.execute(
        """
        WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, value
                   FROM events WHERE value > 0),
        anchors AS (SELECT DISTINCT event_type, day FROM d)
        -- exact rank quantile with the SKETCH's definition: the value at
        -- 1-based rank ceil(q*n) ascending (not quantile_disc, whose
        -- index convention differs and would make tail checks flaky)
        SELECT a.event_type, a.day,
               count(*) AS n,
               (list(r.value ORDER BY r.value))
                   [CAST(ceil(0.50 * count(*)) AS INT)] AS p50,
               (list(r.value ORDER BY r.value))
                   [CAST(ceil(0.95 * count(*)) AS INT)] AS p95,
               (list(r.value ORDER BY r.value))
                   [CAST(ceil(0.99 * count(*)) AS INT)] AS p99
        FROM anchors a JOIN d r
          ON r.event_type = a.event_type
         AND r.day BETWEEN a.day - 6 AND a.day
        GROUP BY 1, 2
        """
    ).fetchall()
    assert exact, "no windows to check"
    for event_type, day, n, p50, p95, p99 in exact:
        row = got[(event_type, str(day))]
        assert row["n_events"] == n
        for name, ex in (("p50", p50), ("p95", p95), ("p99", p99)):
            rel = abs(row[name] - ex) / ex
            assert rel < 0.05, (event_type, day, name, row[name], ex, rel)


def test_sketch_partition_invariance(spark, sf_dir):
    from atd_data_lake_spark.io.reader import read_table

    ev = read_table(spark, sf_dir, "events")
    a = sorted(map(tuple, daily_value_sketch(ev.repartition(7)).collect()))
    b = sorted(map(tuple, daily_value_sketch(ev.repartition(3, "event_type")).collect()))
    assert a == b


def test_sketch_mergeability(spark, sf_dir):
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)) — bucket counts add."""
    from atd_data_lake_spark.io.reader import read_table

    ev = read_table(spark, sf_dir, "events")
    whole = sorted(map(tuple, daily_value_sketch(ev).collect()))
    half_a = daily_value_sketch(ev.filter(F.col("event_id") % 2 == 0))
    half_b = daily_value_sketch(ev.filter(F.col("event_id") % 2 == 1))
    merged = sorted(
        map(
            tuple,
            half_a.unionByName(half_b)
            .groupBy("event_type", "day", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .collect(),
        )
    )
    assert whole == merged


def test_sketch_bucket_estimate_bound_math():
    """The per-bucket estimate 2γ^b/(γ+1) is within α of any value in
    bucket b — the invariant the 5% assertion above rides on."""
    gamma = _SK_GAMMA
    for b in (-100, -1, 0, 1, 7, 200):
        lo, hi = gamma ** (b - 1), gamma**b
        est = 2 * gamma**b / (gamma + 1)
        assert lo <= est <= hi
        # worst-case relative error at the bucket edges
        assert abs(est - lo) / lo <= 2 * _SK_ALPHA / (1 - _SK_ALPHA) + 1e-12
        assert abs(est - hi) / hi <= 2 * _SK_ALPHA / (1 + _SK_ALPHA) + 1e-12
    assert [q for _, q in _SK_QUANTILES] == [0.50, 0.95, 0.99]
    assert math.isclose(gamma, 1.01 / 0.99)
