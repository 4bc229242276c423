"""Property tests for the round-6 queries: gap-fill resample semantics,
trigram count conservation, and MAD outlier math
cross-checked against numpy.  (Oracle parity lives in
test_oracle_parity.py; these pin the SEMANTICS with independent math.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def _events_pdf(spark, sf_dir):
    from atd_data_lake_spark.round6_queries import _t

    return (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .toPandas()
    )


def test_resample_ffill_semantics(spark, sf_dir):
    from atd_data_lake_spark.round6_queries import evt_resample_ffill

    out = evt_resample_ffill(spark, sf_dir).toPandas()
    ev = _events_pdf(spark, sf_dir)
    ev["day"] = ev["ts"].dt.date

    lo, hi = ev["ts"].min().date(), ev["ts"].max().date()
    n_days = (hi - lo).days + 1
    n_users = ev["user_id"].nunique()
    # grid shape: every user × every day in the global span, exactly once
    assert len(out) == n_users * n_days
    assert out.groupby("user_id").size().nunique() == 1

    # per user: observed days carry that day's LAST event value; silent
    # days copy the previous grid row; pre-first-event days stay null
    for uid in out["user_id"].drop_duplicates().head(5):
        sub = out[out["user_id"] == uid].sort_values("day").reset_index(drop=True)
        esub = ev[ev["user_id"] == uid]
        daily = (
            esub.sort_values(["ts", "event_id"]).groupby("day")["value"].last()
        )
        prev = None
        for r in sub.itertuples():
            if r.is_observed:
                expected = round(daily.loc[r.day], 6)
                assert abs(r.value_ffill - expected) < 1e-9
            elif prev is None or pd.isna(prev):
                assert pd.isna(r.value_ffill)
            else:
                assert r.value_ffill == prev
            prev = r.value_ffill


def test_top_paths_count_conservation(spark, sf_dir):
    from atd_data_lake_spark.round6_queries import evt_top_paths

    ev = _events_pdf(spark, sf_dir)
    per_user = ev.groupby("user_id").size()
    total_trigrams = int((per_user - 2).clip(lower=0).sum())

    out = evt_top_paths(spark, sf_dir).toPandas()
    # top-k paths: descending counts, and no path can exceed the total
    assert (out["n_paths"].values[:-1] >= out["n_paths"].values[1:]).all()
    assert out["n_paths"].sum() <= total_trigrams
    # 5 event types → at most 125 distinct paths; the limit caps at 25
    assert len(out) == min(25, 125)

    # independent recount of the single most frequent path
    ev_sorted = ev.sort_values(["user_id", "ts", "event_id"])
    ev_sorted["s2"] = ev_sorted.groupby("user_id")["event_type"].shift(-1)
    ev_sorted["s3"] = ev_sorted.groupby("user_id")["event_type"].shift(-2)
    tri = ev_sorted.dropna(subset=["s2", "s3"])
    counts = tri.groupby(["event_type", "s2", "s3"]).size()
    top = out.iloc[0]
    assert counts.loc[(top.step1, top.step2, top.step3)] == top.n_paths
    assert counts.max() == top.n_paths


def test_anomaly_mad_matches_numpy(spark, sf_dir):
    from atd_data_lake_spark.round6_queries import evt_anomaly_mad

    out = evt_anomaly_mad(spark, sf_dir).toPandas().set_index("user_id")
    ev = _events_pdf(spark, sf_dir)
    assert int(out["n_events"].sum()) == len(ev)
    for uid, grp in list(ev.groupby("user_id"))[:10]:
        v = grp["value"].to_numpy()
        med = np.median(v)
        mad = np.median(np.abs(v - med))
        row = out.loc[uid]
        assert abs(row["med"] - round(med, 6)) < 1e-9
        assert abs(row["mad"] - round(mad, 6)) < 1e-9
        assert row["n_outliers"] == int(
            (np.abs(v - med) > 3.0 * 1.4826 * mad).sum()
        )
