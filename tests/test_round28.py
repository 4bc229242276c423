"""Round-28: embedding-level benchmark decontamination and n-gram
novelty (TPC-H Q5 is tested in test_tpch.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from atd_data_lake_spark.operators.curation import semantic_decontaminate
from atd_data_lake_spark.queries import QUERIES


def _vec_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_semdecon_planted_contamination(spark):
    """A corpus vector equal (up to scale) to a benchmark vector must be
    flagged with cos 1.0 against THAT benchmark id; an orthogonal one
    must not be flagged."""
    bench = _vec_df(spark, [(1000, [1.0, 0.0, 0.0]), (2000, [0.0, 1.0, 0.0])])
    corpus = _vec_df(
        spark,
        [
            (1, [2.0, 0.0, 0.0]),      # scaled copy of bench 1000
            (2, [0.0, 0.0, 5.0]),      # orthogonal to both
            (3, [1.0, 1.0, 0.0]),      # 45° to both -> cos ~0.707107
        ],
    )
    out = {
        r["vec_id"]: r
        for r in semantic_decontaminate(corpus, bench, threshold=0.9).collect()
    }
    assert out[1]["contaminated"] and out[1]["bench_id"] == 1000
    assert out[1]["cos_sim"] == 1.0
    assert not out[2]["contaminated"]
    assert out[3]["cos_sim"] == pytest.approx(0.707107)
    # equal-cosine tie resolves to the smallest bench id
    assert out[3]["bench_id"] == 1000


def test_semdecon_tie_breaks_to_min_bench_id(spark):
    bench = _vec_df(spark, [(7, [1.0, 0.0]), (3, [1.0, 0.0])])
    corpus = _vec_df(spark, [(1, [1.0, 0.0])])
    row = semantic_decontaminate(corpus, bench, threshold=0.5).collect()[0]
    assert row["bench_id"] == 3 and row["contaminated"]


def test_semdecon_empty_benchmark_raises(spark):
    bench = _vec_df(spark, []).filter(F.lit(False))
    corpus = _vec_df(spark, [(1, [1.0, 0.0])])
    with pytest.raises(ValueError, match="benchmark set is empty"):
        semantic_decontaminate(corpus, bench)


def test_semdecon_oversized_benchmark_raises(spark):
    """The collect gate: a benchmark larger than max_benchmark_rows must
    raise BEFORE collecting (a miscalled benchmark=corpus would OOM the
    driver at scale)."""
    bench = _vec_df(spark, [(i, [1.0, 0.0]) for i in range(10)])
    corpus = _vec_df(spark, [(1, [1.0, 0.0])])
    with pytest.raises(ValueError, match="max_benchmark_rows"):
        semantic_decontaminate(corpus, bench, max_benchmark_rows=5)


def test_semdecon_registry_flags_tail(spark, sf_dir):
    """At every SF the 0.30 threshold flags a real non-empty, non-total
    tail (the synthetic embeddings' p99 benchmark cosine is ~0.29)."""
    out = QUERIES["cur_semantic_decontaminate"](spark, sf_dir)
    n = out.count()
    n_flagged = out.filter("contaminated").count()
    assert n > 0 and 0 < n_flagged < n


def test_ngram_novelty_planted_boilerplate(spark):
    """A doc made of corpus-common trigrams scores near-zero novelty; a
    unique doc scores 1.0; sub-n docs drop out."""
    from atd_data_lake_spark.operators.text import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox sleeps"),   # shares 2 of its trigrams
            (3, "entirely novel words appear here once"),
            (4, "too short"),                     # < 3 tokens -> dropped
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs, common_df=2).collect()}
    assert set(out) == {1, 2, 3}
    # doc1: trigrams {t q b, q b f, b f j}; shares the first two with doc2
    assert out[1]["n_shingles"] == 3 and out[1]["n_common"] == 2
    assert out[1]["novelty_ratio"] == pytest.approx(0.333333)
    assert out[3]["n_common"] == 0 and out[3]["novelty_ratio"] == 1.0


def test_ngram_novelty_registry_signal(spark, sf_dir):
    out = QUERIES["text_ngram_novelty"](spark, sf_dir)
    rows = out.collect()
    assert rows
    assert all(0.0 <= r["novelty_ratio"] <= 1.0 for r in rows)
    # the synthetic corpus is template-generated: common tail must exist
    assert any(r["n_common"] > 0 for r in rows)
