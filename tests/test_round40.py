"""Round-40 targeted tests: keyword invariants (the PPR tests live in
test_graph.py).  Oracle parity is covered by the driver sweep."""

from __future__ import annotations

from atd_data_lake_spark.round40_queries import text_doc_keywords


def test_doc_keywords_ranked_and_bounded(spark, sf_dir):
    rows = text_doc_keywords(spark, sf_dir).collect()
    assert len(rows) > 0
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append(r)
    for doc, rs in per.items():
        assert len(rs) <= 3
        rs.sort(key=lambda r: r["rank"])
        scores = [r["tfidf"] for r in rs]
        assert scores == sorted(scores, reverse=True)
