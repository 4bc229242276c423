"""Round-41 targeted tests — exact AUC/PR invariants (ties, degenerate
classes) and DDSketch rolling-quantile guarantees (error bound vs exact,
mergeability, partition invariance).  Full oracle parity runs in
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
    dq_classifier_auc,
    dq_pr_curve,
    ts_rolling_p95_sketch,
)

_STOP_SCORE_WORDS = {
    # craft texts whose stopword-ratio score is an exact known fraction
    0.0: "alpha beta gamma delta",
    0.25: "the alpha beta gamma",
    0.5: "the a alpha beta",
    0.75: "the a of alpha",
}


def _docs_dir(spark, tmp_path, rows):
    """Write a synthetic documents.parquet so the registry query runs
    against a crafted corpus (the queries read {sf_dir}/documents.parquet)."""
    df = spark.createDataFrame(
        [(i, text, lang, "src", len(text)) for i, (text, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _naive_auc(pairs):
    """Reference AUC: P(score_pos > score_neg) + 0.5 P(equal), all
    pos/neg pairs enumerated."""
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    if not pos or not neg:
        return None
    num = 0.0
    for p in pos:
        for n in neg:
            num += 1.0 if p > n else (0.5 if p == n else 0.0)
    return round(num / (len(pos) * len(neg)), 6)


def _naive_ap(pairs):
    """Reference AP: sum over distinct thresholds (descending) of
    ΔR·P — the grouped-threshold definition the query implements."""
    from collections import Counter

    P = sum(y for _, y in pairs)
    by_score = {}
    for s, y in pairs:
        c = by_score.setdefault(s, Counter())
        c["p"] += y
        c["n"] += 1 - y
    tp = pred = 0
    ap = 0.0
    for s in sorted(by_score, reverse=True):
        c = by_score[s]
        tp += c["p"]
        pred += c["p"] + c["n"]
        ap += c["p"] * tp / pred
    return round(ap / P, 6)


def test_auc_matches_naive_with_ties(spark, tmp_path):
    # scores 0.0/0.25/0.5/0.75, with TIES across labels at 0.25 and 0.5
    rows = [
        (_STOP_SCORE_WORDS[0.0], "de"),
        (_STOP_SCORE_WORDS[0.0], "de"),
        (_STOP_SCORE_WORDS[0.25], "en"),
        (_STOP_SCORE_WORDS[0.25], "de"),
        (_STOP_SCORE_WORDS[0.5], "en"),
        (_STOP_SCORE_WORDS[0.5], "de"),
        (_STOP_SCORE_WORDS[0.5], "en"),
        (_STOP_SCORE_WORDS[0.75], "en"),
    ]
    sf = _docs_dir(spark, tmp_path, rows)
    out = dq_classifier_auc(spark, sf).collect()[0]
    pairs = [(0.0, 0), (0.0, 0), (0.25, 1), (0.25, 0), (0.5, 1), (0.5, 0),
             (0.5, 1), (0.75, 1)]
    assert out["n_pos"] == 4 and out["n_neg"] == 4
    assert out["n_thresholds"] == 4
    assert out["roc_auc"] == _naive_auc(pairs)
    assert out["pr_auc"] == _naive_ap(pairs)


def test_auc_perfect_and_inverted_separation(spark, tmp_path):
    perfect = [
        (_STOP_SCORE_WORDS[0.75], "en"),
        (_STOP_SCORE_WORDS[0.5], "en"),
        (_STOP_SCORE_WORDS[0.25], "de"),
        (_STOP_SCORE_WORDS[0.0], "de"),
    ]
    sf = _docs_dir(spark, tmp_path, perfect)
    assert dq_classifier_auc(spark, sf).collect()[0]["roc_auc"] == 1.0
    inverted = [(t, {"en": "de", "de": "en"}[l]) for t, l in perfect]
    sf = _docs_dir(spark, tmp_path, inverted)
    assert dq_classifier_auc(spark, sf).collect()[0]["roc_auc"] == 0.0


def test_auc_degenerate_single_class_is_null(spark, tmp_path):
    rows = [(_STOP_SCORE_WORDS[0.5], "en"), (_STOP_SCORE_WORDS[0.0], "en")]
    sf = _docs_dir(spark, tmp_path, rows)
    out = dq_classifier_auc(spark, sf).collect()[0]
    assert out["roc_auc"] is None  # 0/0 guarded, not NaN/zero
    assert out["pr_auc"] == 1.0  # every threshold has precision 1
    # all-negative: both AUCs undefined
    rows = [(_STOP_SCORE_WORDS[0.5], "de")]
    sf = _docs_dir(spark, tmp_path, rows)
    out = dq_classifier_auc(spark, sf).collect()[0]
    assert out["roc_auc"] is None and out["pr_auc"] is None


def test_pr_curve_shape(spark, sf_dir):
    rows = dq_pr_curve(spark, sf_dir).collect()
    assert len(rows) >= 2
    # thresholds strictly descending, recall monotone non-decreasing,
    # final recall exactly 1 (every positive captured at min threshold)
    ths = [r["threshold"] for r in rows]
    assert ths == sorted(ths, reverse=True) and len(set(ths)) == len(ths)
    recalls = [r["recall"] for r in rows]
    assert all(b >= a for a, b in zip(recalls, recalls[1:]))
    assert recalls[-1] == 1.0
    for r in rows:
        assert r["tp"] + r["fp"] > 0 and 0 <= r["precision"] <= 1


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
