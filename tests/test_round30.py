"""Round-30 operator tests: perplexity buckets, Gopher rule gate (the
min-label propagation tests live in test_graph.py)."""

from __future__ import annotations


def test_gopher_rules_pinned(spark, sf_dir, monkeypatch):
    """Rule observables pinned on a constructed doc; keep is the
    conjunction."""
    from atd_data_lake_spark import round30_queries as r30

    text_ok = "the quick brown fox jumps over the lazy dog and runs far " * 2
    # 24 words, has stopwords, no dominant word beyond 'the' (4/24 < .2)
    df = spark.createDataFrame(
        [(1, text_ok.strip()), (2, "spam " * 30 + "spam")],
        "doc_id long, text string",
    )

    def fake_t(spark_, sf, name):
        return df

    monkeypatch.setattr(r30, "_t", fake_t)
    out = {r.doc_id: r for r in r30.cur_gopher_rules(spark, sf_dir).collect()}
    assert out[1].n_words == 24
    assert out[1].stop_hits == 6  # 'the' x4 + 'and' x2
    assert out[1].mean_word_len == 3.75
    assert out[1].top_word_frac == round(4 / 24, 6)
    assert out[1].keep is True
    # doc 2: one word repeated 31 times -> dominance 1.0, no stopwords
    assert out[2].top_word_frac == 1.0
    assert out[2].keep is False


def test_perplexity_buckets_partition_by_lang(spark, sf_dir):
    """Each language gets its own tercile split: bucket sizes within a
    lang differ by at most 1, and every lang has all three buckets when
    it has >= 3 docs."""
    from atd_data_lake_spark.round30_queries import cur_perplexity_buckets

    out = cur_perplexity_buckets(spark, sf_dir).collect()
    from collections import Counter

    per_lang = Counter((r.lang, r.ppl_bucket) for r in out)
    langs = {r.lang for r in out}
    for lang in langs:
        sizes = [per_lang[(lang, b)] for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1
        assert all(s > 0 for s in sizes)
