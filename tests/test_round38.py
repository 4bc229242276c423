"""Round-38 targeted tests: rolling-median window-shape invariants
(the item-CF tests live in test_basket.py).  Oracle parity is covered
by the driver sweep."""

from __future__ import annotations

import datetime

from atd_data_lake_spark.round38_queries import ts_rolling_median


def test_rolling_median_window_counts(spark, sf_dir):
    rows = ts_rolling_median(spark, sf_dir).collect()
    assert len(rows) > 0
    per = {}
    for r in rows:
        per.setdefault(r["event_type"], []).append(r)
    for et, rs in per.items():
        rs.sort(key=lambda r: r["day"])
        # trailing window: on a CONTIGUOUS daily series (which the
        # driver events are, per type), day i has EXACTLY min(i+1, 7)
        # days in its window
        contiguous = all(
            (rs[i]["day"] - rs[i - 1]["day"]) == datetime.timedelta(days=1)
            for i in range(1, len(rs))
        )
        for i, r in enumerate(rs):
            assert 1 <= r["n_days_in_window"] <= 7
            if contiguous:
                assert r["n_days_in_window"] == min(i + 1, 7)
        # the first day's window is itself alone -> median == value
        first = rs[0]
        if first["n_days_in_window"] == 1:
            assert abs(first["rolling_median_7d"] - first["daily_value"]) < 1e-6
