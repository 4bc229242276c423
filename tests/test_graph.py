"""Graph family module (``graph_queries``): one home per query, shared
edge builders that agree with each other, both sides of the broadcast
gate, and one cache lifecycle."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from atd_data_lake_spark import graph_queries as gq

PKG = Path(gq.__file__).parent


def test_graph_queries_defined_only_in_family_module():
    from atd_data_lake_spark.queries import ORACLES, QUERIES

    graph = [n for n in QUERIES if n.startswith("graph_")]
    assert sorted(graph) == sorted(gq.GRAPH_QUERIES)
    assert all(QUERIES[n] is gq.GRAPH_QUERIES[n] for n in graph)
    assert all(ORACLES[n] == gq.GRAPH_ORACLES[n] for n in graph)
    for path in PKG.rglob("*.py"):
        if path.name == "graph_queries.py":
            continue
        tree = ast.parse(path.read_text())
        defined = [
            n.name for n in tree.body if isinstance(n, ast.FunctionDef)
        ] + [
            t.id
            for n in tree.body
            if isinstance(n, ast.Assign)
            for t in n.targets
            if isinstance(t, ast.Name)
        ]
        assert not [d for d in defined if re.match(r"_?graph_|GRAPH_", d)], path


def test_no_bare_persist_in_graph_family():
    """Every graph cache goes through ``scoped_persist`` so a
    ``tracked_caches`` scope reclaims it."""
    for path in (PKG / "graph_queries.py", PKG / "operators" / "graph.py"):
        bare = [
            i
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if re.search(r"\.persist\(", line)
        ]
        assert not bare, f"{path.name}: bare .persist( at lines {bare}"


def test_shared_edge_builders_agree(spark, sf_dir):
    """The raw both-ways stream of the iterative queries and the
    distinct ``a < b`` pairs of the wedge queries describe one graph."""
    pairs = gq._copurchase_pairs(spark, sf_dir)
    raw = gq._copurchase_edges(spark, sf_dir).distinct()
    both = gq._both_ways(pairs, "src", "dst")
    assert both.count() == 2 * pairs.count()
    assert raw.exceptAll(both).count() == 0
    assert both.exceptAll(raw).count() == 0
    assert pairs.filter(F.col("a") >= F.col("b")).count() == 0
    # the scan-side subgraph gate equals filtering the generated pairs
    sub = gq._copurchase_pairs(spark, sf_dir, part_mod=4)
    post = pairs.filter((F.col("a") % 4 == 0) & (F.col("b") % 4 == 0))
    assert sorted(sub.collect()) == sorted(post.collect())


@pytest.mark.parametrize(
    "name", ["graph_triangle_count", "graph_common_neighbors", "graph_adamic_adar"]
)
def test_broadcast_gate_both_sides_identical(spark, sf_dir, monkeypatch, name):
    """A zero row limit takes every size-gated hint down its un-hinted
    branch; the rows must not change."""
    hinted = sorted(map(tuple, gq.GRAPH_QUERIES[name](spark, sf_dir).collect()))
    spark.catalog.clearCache()
    monkeypatch.setattr(gq, "BROADCAST_NODE_ROW_LIMIT", 0)
    fallback = sorted(map(tuple, gq.GRAPH_QUERIES[name](spark, sf_dir).collect()))
    spark.catalog.clearCache()
    assert hinted and hinted == fallback
