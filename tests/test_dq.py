"""The dq family (``dq_queries``): one home per ``dq_`` query; the
per-column profile, the QI class grid, the Benford table, the leading
digit and the stopword scorer written once; the PSI cut tie; and the
query-level invariants of AUC/PR, logistic-regression training, KS,
Benford digits, l-diversity and freshness."""

from __future__ import annotations

import ast
import datetime
import math
import re
from collections import Counter
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from atd_data_lake_spark import dq_queries as dq
from atd_data_lake_spark.dq_queries import (
    dq_benford_digits,
    dq_classifier_auc,
    dq_freshness,
    dq_ks_statistic,
    dq_l_diversity,
    dq_logreg_quality_train,
    dq_pr_curve,
)
from atd_data_lake_spark.io.reader import read_table, read_table_utc
from atd_data_lake_spark.queries import ORACLES, QUERIES

PKG = Path(dq.__file__).parent
REPO = PKG.parent
_FAMILY_FN = re.compile(r"^dq_")
_FAMILY_SQL = re.compile(r"^_?DQ_\w+_SQL$")


def _engine_src() -> str:
    return "".join(p.read_text() for p in PKG.rglob("*.py"))


def test_family_defined_only_in_dq_module():
    family = [n for n in QUERIES if _FAMILY_FN.match(n)]
    assert sorted(family) == sorted(dq.DQ_QUERIES)
    assert all(QUERIES[n] is dq.DQ_QUERIES[n] for n in family)
    assert all(ORACLES[n] == dq.DQ_ORACLES[n] for n in family)
    for path in PKG.rglob("*.py"):
        if path.name == "dq_queries.py":
            continue
        tree = ast.parse(path.read_text())
        fns = [
            n.name
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and _FAMILY_FN.match(n.name)
        ]
        sqls = [
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign)
            for t in n.targets
            if isinstance(t, ast.Name) and _FAMILY_SQL.match(t.id)
        ]
        assert not fns and not sqls, f"{path.name} defines {fns + sqls}"
    for gone in ("round7_queries.py", "round9_queries.py", "round44_queries.py"):
        assert not (PKG / gone).exists()


def test_no_module_imports_private_dq_names():
    for root in (PKG, REPO / "tests", REPO / "tools"):
        for path in root.rglob("*.py"):
            for n in ast.walk(ast.parse(path.read_text())):
                if isinstance(n, ast.ImportFrom) and n.module == (
                    "atd_data_lake_spark.dq_queries"
                ):
                    private = [a.name for a in n.names if a.name.startswith("_")]
                    assert not private, f"{path} imports {private}"


def test_dq_module_has_no_bare_persist():
    assert ".persist(" not in Path(dq.__file__).read_text()


@pytest.mark.parametrize(
    "piece",
    [
        # the per-column profile branch and the union fold
        "F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))",
        "CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct",
        "reduce(DataFrame.unionByName, parts)",
        # the QI class grid and its floor
        'F.month("o_orderdate").alias("order_month")',
        "classes.crossJoin(F.broadcast(classes.agg(floor)))",
        "CAST(month(o_orderdate) AS INTEGER) AS order_month",
        "floor_ AS (SELECT {floor} FROM classes)",
        # the Benford expectation and chi-square term
        "F.log10(F.lit(1.0) + F.lit(1.0) / F.col(d))",
        'F.pow(F.col("n_obs") - exp_n, F.lit(2.0)) / exp_n',
        'f"log10(1.0 + 1.0 / {d})"',
        "round(pow(n_obs - {p} * n_total, 2.0)",
        # the stopword tuple, tokenizer and ratio
        '("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")',
        "F.expr(\"split(trim(text), '\\\\\\\\s+')\")",
        "size(filter(tk, t -> t IN (",
        "list_contains([{_STOP_ARR}], tk)",
        # the logreg dot product and sigmoid
        '(F.col("w0") + F.col("w1") * F.col("x1"))',
        "F.lit(1.0) / (F.lit(1.0) + F.exp(-z))",
        "1.0 / (1.0 + exp(-(((w0 + w1 * x1) + w2 * x2) + w3 * x3)))",
        # integer cents and the leading digit
        'F.round(F.col("value") * 100).cast("long")',
        '"CAST(round(value * 100) AS BIGINT)"',
        'F.substring(cents().cast("string"), 1, 1)',
        "CAST(substr(CAST({CENTS_SQL} AS VARCHAR), 1, 1) AS INT) AS digit",
    ],
)
def test_shared_piece_written_once(piece):
    assert _engine_src().count(piece) == 1


def test_no_per_query_copies_left():
    """The forms the shared pieces replaced: the hand-unrolled union
    loop, the ln/ln Benford expectation, and the private tokenizers."""
    src = _engine_src()
    assert "parts[0]" not in src
    assert "ln(10.0)" not in src and "F.log(F.lit(10.0))" not in src
    assert Path(dq.__file__).read_text().count("regexp_split_to_array(") == 1


@pytest.mark.parametrize(
    ("name", "n_cols"),
    [("dq_profile", 5), ("dq_uniqueness", 6), ("dq_schema_drift", 3)],
)
def test_profile_oracles_use_the_generated_branch(name, n_cols):
    assert ORACLES[name].count("AS n_distinct") == n_cols
    assert ORACLES[name].count("GROUP BY ALL") == n_cols


def test_benford_and_digit_oracles_share_their_pieces():
    for name in ("dq_benford", "dq_benford_digits"):
        assert "log10(1.0 + 1.0 / " in ORACLES[name]
    digit = dq.leading_digits_sql()
    digit = digit[digit.index("CAST(substr") : digit.index(" AS digit")]
    for name in ("dq_benford_digits", "evt_stream_benford_executed"):
        assert digit in ORACLES[name]
    executed = (PKG / "executed_queries.py").read_text()
    assert "leading_digits(" in executed and "F.substring(" not in executed


# ---------------------------------------------------------------------------
# dq_psi_drift: cuts on integer cents
# ---------------------------------------------------------------------------


def test_psi_cut_at_interpolated_tie_matches_oracle(spark, tmp_path):
    """19 × 1.0 and 6 × 5.63 in the baseline: the 8th decile falls
    between two 5.63s, which DuckDB's quantile_cont over doubles
    interpolates to 5.629999999999999 and Spark's percentile to 5.63.
    Period 1 has a 5.63 (binned against that cut) and a 3.0 (in the
    bin below it), so a cut that differs between the engines changes
    the PSI, not just a bin label."""
    base = [1.0] * 19 + [5.63] * 6
    later = [5.63, 3.0]
    ts = [datetime.datetime(2024, 1, 5)] * len(base) + [
        datetime.datetime(2024, 1, 20)
    ] * len(later)
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": ["view"] * n,
                "value": base + later,
                "props": pa.array([None] * n, pa.string()),
            }
        ),
        tmp_path / "events.parquet",
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    doubles_cut = con.execute(
        "SELECT quantile_cont(value, 0.8) FROM events WHERE ts < '2024-01-16'"
    ).fetchone()[0]
    assert doubles_cut != 5.63  # the fixture still holds the hazard
    want = con.execute(ORACLES["dq_psi_drift"]).fetchall()
    got = [tuple(r) for r in QUERIES["dq_psi_drift"](spark, str(tmp_path)).collect()]
    assert got == want


# ---------------------------------------------------------------------------
# dq_classifier_auc / dq_pr_curve
# ---------------------------------------------------------------------------

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
# dq_logreg_quality_train: learning happens, the model is
# partition-invariant, a separable corpus trains weights of the right sign
# ---------------------------------------------------------------------------


def test_training_reduces_loss_below_zero_model(spark, sf_dir):
    row = dq_logreg_quality_train(spark, sf_dir).first()
    # at w = 0 every prediction is 0.5 and mean log-loss is exactly ln 2
    assert row["mean_loss"] < math.log(2.0)
    assert row["n_docs"] > 0
    assert any(row[f"w{k}"] != 0.0 for k in range(4))


def test_trained_model_partition_invariant(spark, sf_dir, monkeypatch):
    base = dq_logreg_quality_train(spark, sf_dir).first()
    orig = dq._lr_features

    def shuffled(s, d):
        return orig(s, d).repartition(13)

    monkeypatch.setattr(dq, "_lr_features", shuffled)
    re_ = dq_logreg_quality_train(spark, sf_dir).first()
    assert tuple(base) == tuple(re_)


def test_separable_toy_corpus_learns_signs(spark, tmp_path):
    # label == en exactly when the text is stopword-dense: w1 must come
    # out positive and the loss well under ln 2
    rows = []
    for i in range(200):
        if i % 2 == 0:
            rows.append((i, "the a of and to in is it on for", "en"))
        else:
            rows.append((i, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "de"))
    df = spark.createDataFrame(
        [(i, t, lang, "src", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    row = dq_logreg_quality_train(spark, str(tmp_path)).first()
    assert row["w1"] > 0.0
    assert row["mean_loss"] < 0.55


# ---------------------------------------------------------------------------
# dq_ks_statistic / dq_benford_digits / dq_l_diversity / dq_freshness
# ---------------------------------------------------------------------------


def test_dq_ks_statistic_bounds_and_self_zero(spark, sf_dir):
    """KS distance is in [0,1]; the distance of a distribution against
    itself is exactly 0 (computed by aliasing one type as both sides)."""
    row = dq_ks_statistic(spark, sf_dir).collect()[0]
    assert 0.0 <= row["ks_stat"] <= 1.0
    assert row["n_click"] > 0 and row["n_error"] > 0

    # self-distance: same grouped frame on both sides → D = 0
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    g = ev.groupBy("value").agg(F.count("*").alias("a"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(F.sum("a").over(w).alias("ca"))
    tot = g.agg(F.sum("a").alias("n"))
    d = (
        cum.crossJoin(F.broadcast(tot))
        .agg(F.max(F.abs(F.col("ca") / F.col("n") - F.col("ca") / F.col("n"))))
        .collect()[0][0]
    )
    assert d == 0.0


def test_dq_benford_digits_shape(spark, sf_dir):
    rows = dq_benford_digits(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 9
    assert [r["digit"] for r in rows] == sorted(r["digit"] for r in rows)
    # Benford probabilities sum to 1 over digits 1..9
    assert all(
        abs(r["benford_prob"] - math.log10(1 + 1 / r["digit"])) < 1e-5
        for r in rows
    )
    assert all(r["chi2_part"] >= 0.0 for r in rows)
    # observed fractions over the EMITTED digits sum to ≤ 1 (= 1 when
    # all nine digits occur)
    assert sum(r["obs_frac"] for r in rows) <= 1.0 + 1e-6


def test_l_diversity_floor_and_flags(spark, sf_dir):
    rows = dq_l_diversity(spark, sf_dir).collect()
    assert len(rows) > 0
    floor = min(r["n_sensitive"] for r in rows)
    for r in rows:
        assert r["diversity_level"] == floor
        assert r["below_l"] == (r["n_sensitive"] < 3)
        assert r["n_sensitive"] <= r["class_size"]


def test_dq_freshness_invariants(spark, sf_dir):
    out = dq_freshness(spark, sf_dir).toPandas()
    ev = (
        read_table_utc(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .toPandas()
    )
    assert len(out) == ev["event_type"].nunique()
    assert int(out["n_events"].sum()) == len(ev)
    # exactly the freshest stream(s) sit at zero staleness; others positive
    assert (out["hours_stale"] >= 0).all()
    assert (out["hours_stale"] == 0).sum() >= 1
    hwm = ev["ts"].max()
    for r in out.itertuples():
        expected = round((hwm - r.last_seen).total_seconds() / 3600.0, 6)
        assert abs(r.hours_stale - expected) < 1e-9
