"""Round-35 targeted tests: txlog change-data-feed semantics and the BPE
trainer (the live-data path the injected model ships from).  The
l-diversity invariants live in test_dq.py; oracle value parity for the
registered queries is covered by tools/full_sweep.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from atd_data_lake_spark.io import txlog
from atd_data_lake_spark.round35_queries import (
    _bpe_apply_expr,
    train_bpe_merges,
)


# ---------------------------------------------------------------------------
# txlog.changes (CDF)
# ---------------------------------------------------------------------------


def test_cdf_update_is_delete_plus_insert(spark, tmp_path):
    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, g string, v double",
    )
    txlog.append(base, table, commit_id="v1")
    src = spark.createDataFrame(
        [(2, "b", 99.0), (4, "d", 40.0)], "k long, g string, v double"
    )
    txlog.merge(spark, table, src, on=["k"], commit_id="v2")
    feed = txlog.changes(spark, table, 1, 2).collect()
    got = sorted((r["_change_type"], r["k"], r["v"]) for r in feed)
    assert got == [
        ("delete", 2, 20.0),   # pre-update image
        ("insert", 2, 99.0),   # post-update image
        ("insert", 4, 40.0),   # genuine insert
    ]
    # carried-over rows (1, 3) cancelled exactly — not in the feed
    assert all(r["k"] not in (1, 3) for r in feed)


def test_cdf_default_to_latest_and_delete_keys(spark, tmp_path):
    table = str(tmp_path / "t2")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, v double"
    )
    txlog.append(base, table, commit_id="v1")
    txlog.delete_keys(
        spark, table, base.filter("k < 3").select("k"), on=["k"],
        commit_id="v2",
    )
    feed = txlog.changes(spark, table, 1).collect()
    got = sorted((r["_change_type"], r["k"]) for r in feed)
    assert got == [("delete", 0), ("delete", 1), ("delete", 2)]


def test_cdf_across_schema_evolution_boundary(spark, tmp_path):
    """r7 review fix: a CDF window spanning an additive schema change
    must align columns (old rows' new column = NULL) instead of
    crashing exceptAll with NUM_COLUMNS_MISMATCH."""
    table = str(tmp_path / "t_evo")
    txlog.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, g string"),
        table, commit_id="v1",
    )
    txlog.append(
        spark.createDataFrame([(3, "c", 7.0)], "k long, g string, extra double"),
        table, commit_id="v2",
    )
    txlog.delete_keys(
        spark, table,
        spark.createDataFrame([(1,)], "k long"), on=["k"], commit_id="v3",
    )
    feed = txlog.changes(spark, table, 1, 3).collect()
    got = sorted((r["_change_type"], r["k"], r["extra"]) for r in feed)
    assert got == [("delete", 1, None), ("insert", 3, 7.0)]


def test_cdf_rejects_inverted_window(spark, tmp_path):
    import pytest

    table = str(tmp_path / "t_inv")
    one = spark.createDataFrame([(1,)], "k long")
    txlog.append(one, table, commit_id="v1")
    txlog.append(one, table, commit_id="v2")
    with pytest.raises(ValueError, match="inverted"):
        txlog.changes(spark, table, 2, 1)


def test_cdf_multiset_semantics(spark, tmp_path):
    """Duplicate rows count: inserting the same row twice must show two
    inserts, not one (exceptAll, not except)."""
    table = str(tmp_path / "t3")
    one = spark.createDataFrame([(1, "x")], "k long, g string")
    txlog.append(one, table, commit_id="v1")
    txlog.append(one.unionAll(one), table, commit_id="v2")
    feed = txlog.changes(spark, table, 1, 2).collect()
    assert sorted(r["_change_type"] for r in feed) == ["insert", "insert"]


# ---------------------------------------------------------------------------
# BPE trainer + apply chain
# ---------------------------------------------------------------------------


def test_bpe_trainer_canonical_on_known_corpus():
    # 'ab' appears 5x in "abab" words + ... classic: most frequent pair
    # merges first; ties break to the lexicographically smallest pair
    merges = train_bpe_merges(["abab", "abab", "abc"], 2)
    assert merges[0] == ("a", "b")
    assert merges[1] == ("ab", "ab")


def test_bpe_trainer_deterministic_and_live_data(spark, sf_dir):
    from atd_data_lake_spark.io.reader import read_table

    rows = (
        read_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(32)
        .select("text")
        .collect()
    )
    words = [w for r in rows for w in r[0].split(" ") if w]
    m1 = train_bpe_merges(words, 10)
    m2 = train_bpe_merges(words, 10)
    assert m1 == m2 and len(m1) == 10
    # every merge's parts are symbols producible by earlier merges
    known = {c for w in words for c in w}
    for a, b in m1:
        assert a in known and b in known
        known.add(a + b)


def test_bpe_apply_compresses(spark, sf_dir):
    """Applying the merges must never produce MORE tokens than chars,
    and must strictly compress words containing a merged pair."""
    from atd_data_lake_spark.round35_queries import text_bpe_apply

    rows = text_bpe_apply(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_bpe_tokens"] <= r["n_chars"]
        assert r["fertility"] >= 1.0  # tokens per word >= 1


def test_bpe_apply_expr_matches_python_replace():
    merges = [("a", "b"), ("ab", "c")]
    expr = _bpe_apply_expr("w", merges)
    # simulate the chain in python on a word
    s = " " + " ".join("xabc") + " "
    for a, b in merges:
        s = s.replace(f" {a} {b} ", f" {a}{b} ")
    assert s.strip().split(" ") == ["x", "abc"]
    assert "replace(replace(" in expr


# ---------------------------------------------------------------------------
# streaming CDC merge sink (round 39, lives with the txlog tests)
# ---------------------------------------------------------------------------


def test_merge_stream_sink_exactly_once_and_upsert(spark, tmp_path):
    """Two 'micro-batches' through merge_stream_sink: batch 1 updates a
    key batch 0 inserted; replaying batch 0 afterwards must be a no-op
    (NOT resurrect the old value)."""
    table = str(tmp_path / "cdc")
    sink = txlog.merge_stream_sink(table, "app", on=["k"])
    b0 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    b1 = spark.createDataFrame([(2, 99.0), (3, 30.0)], "k long, v double")
    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)  # adversarial re-delivery
    rows = sorted(
        (r["k"], r["v"]) for r in txlog.read_table(spark, table).collect()
    )
    assert rows == [(1, 10.0), (2, 99.0), (3, 30.0)]


# ---------------------------------------------------------------------------
# restore + clone (round 39 txlog lifecycle completion)
# ---------------------------------------------------------------------------


def test_restore_rolls_back_as_forward_commit(spark, tmp_path):
    table = str(tmp_path / "rst")
    v1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    txlog.append(v1, table, commit_id="v1")
    txlog.merge(
        spark, table,
        spark.createDataFrame([(2, 99.0), (3, 30.0)], "k long, v double"),
        on=["k"], commit_id="v2",
    )
    res = txlog.restore(table, 1, commit_id="rollback")
    assert res.version == 3 and not res.replayed
    now = sorted((r["k"], r["v"]) for r in txlog.read_table(spark, table).collect())
    assert now == [(1, 10.0), (2, 20.0)]
    # intermediate version still time-travelable
    v2 = sorted((r["k"], r["v"]) for r in txlog.read_table(spark, table, version=2).collect())
    assert (2, 99.0) in v2 and (3, 30.0) in v2
    # idempotent replay + history op recorded
    assert txlog.restore(table, 1, commit_id="rollback").replayed
    assert txlog.history(table)[-1]["op"] == "restore"


def test_restore_rejects_future_version(spark, tmp_path):
    import pytest

    table = str(tmp_path / "rst2")
    txlog.append(spark.createDataFrame([(1,)], "k long"), table, commit_id="a")
    with pytest.raises(ValueError, match="cannot restore"):
        txlog.restore(table, 5)


def test_clone_is_independent_of_source_vacuum(spark, tmp_path):
    table = str(tmp_path / "src")
    tgt = str(tmp_path / "dst")
    txlog.append(spark.createDataFrame([(1, "a")], "k long, g string"),
                 table, commit_id="v1")
    txlog.merge(spark, table,
                spark.createDataFrame([(1, "b")], "k long, g string"),
                on=["k"], commit_id="v2")
    # clone the OLD version, then vacuum the source aggressively
    v = txlog.clone(table, tgt, version=1)
    assert v == 1
    txlog.vacuum(table, keep_versions=1, min_age_seconds=0.0)
    rows = [(r["k"], r["g"]) for r in txlog.read_table(spark, tgt).collect()]
    assert rows == [(1, "a")]  # the clone still serves the pre-merge row
    # clone refuses to overwrite an existing table
    import pytest

    with pytest.raises(ValueError, match="already a txlog table"):
        txlog.clone(table, tgt)


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    import pytest

    table = str(tmp_path / "rstv")
    txlog.append(spark.createDataFrame([(1, "a")], "k long, g string"),
                 table, commit_id="v1")
    txlog.merge(spark, table,
                spark.createDataFrame([(1, "b")], "k long, g string"),
                on=["k"], commit_id="v2")
    txlog.vacuum(table, keep_versions=1, min_age_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        txlog.restore(table, 1)
    # HEAD is still readable — the bad commit never happened
    assert [r["g"] for r in txlog.read_table(spark, table).collect()] == ["b"]


def test_clone_rejects_out_of_range_version(spark, tmp_path):
    import pytest

    table = str(tmp_path / "clv")
    txlog.append(spark.createDataFrame([(1,)], "k long"), table, commit_id="a")
    with pytest.raises(ValueError, match="cannot clone"):
        txlog.clone(table, str(tmp_path / "x"), version=7)
