"""Round-40 targeted tests: PPR seed-locality and keyword invariants.
Oracle parity is covered by the driver sweep."""

from __future__ import annotations

from pyspark.sql import functions as F

from atd_data_lake_spark.operators.graph import pagerank_masses, ppr_masses
from atd_data_lake_spark.graph_queries import graph_ppr
from atd_data_lake_spark.round40_queries import text_doc_keywords


def test_ppr_concentrates_mass_near_seeds(spark):
    """Two disconnected triangles; seeding one of them must put ALL
    post-round mass in the seeded component (teleport never reaches
    the other)."""
    tri = lambda base: [  # noqa: E731
        (base, base + 1), (base + 1, base + 2), (base + 2, base),
    ]
    und = [(a, b) for a, b in tri(0) + tri(10)] + [
        (b, a) for a, b in tri(0) + tri(10)
    ]
    edges = spark.createDataFrame(und, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r["node"]: r["mass"] for r in ppr_masses(edges, seeds, n_iter=3).collect()}
    assert sum(m for n, m in out.items() if n < 10) > 0
    assert all(m == 0 for n, m in out.items() if n >= 10)


def test_ppr_directed_keeps_receivers_and_source_seeds(spark):
    """r7 review fix: on a DIRECTED graph, a dst-only receiver must
    accumulate the mass flowing into it, and a src-only seed must keep
    its teleport share every round — neither may vanish from the
    output."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r["node"]: r["mass"] for r in ppr_masses(edges, seeds, n_iter=3).collect()}
    assert 2 in out and out[2] > 0  # dst-only receiver got its mass
    assert out[0] > 0  # the seed keeps its teleport share
    # src-only seed case: seed 3 has out-edges only
    edges2 = spark.createDataFrame([(3, 4), (4, 5)], "src long, dst long")
    seeds2 = spark.createDataFrame([(3,)], "node long")
    out2 = {r["node"]: r["mass"] for r in ppr_masses(edges2, seeds2, n_iter=3).collect()}
    assert out2[3] > 0  # teleport share retained despite no in-edges
    assert out2[4] > 0  # downstream receiver got the 85% share


def test_ppr_with_all_nodes_seeded_equals_uniform_pagerank(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2)],
        "src long, dst long",
    )
    seeds = edges.select(F.col("src").alias("node")).distinct()
    pr = sorted(map(tuple, pagerank_masses(edges, n_iter=3).collect()))
    ppr = sorted(map(tuple, ppr_masses(edges, seeds, n_iter=3).collect()))
    assert pr == ppr


def test_ppr_query_shape(spark, sf_dir):
    rows = graph_ppr(spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    masses = [r["mass"] for r in rows]
    assert masses == sorted(masses, reverse=True)


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
