"""Graph family (``graph_queries`` and ``operators/graph``): one home
per query, shared edge builders that agree with each other, both sides
of the broadcast gate, one cache lifecycle, hub salting, label
propagation, personalized PageRank and Adamic-Adar invariants."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from atd_data_lake_spark import graph_queries as gq
from atd_data_lake_spark.graph_queries import graph_ppr
from atd_data_lake_spark.operators.graph import pagerank_masses, ppr_masses

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


# ---------------------------------------------------------------------------
# Hub-salted PageRank adjacency: bit-identical masses on a skewed graph.
#
# The scale recipe documented on ``graph_pagerank`` (split a hub node's
# neighbor list across ``k`` hash buckets so no adjacency row exceeds
# ``max_degree / k``) is exercised here for real: a graph where one hub
# node touches 30% of all nodes must produce EXACTLY the same integer
# masses through the salted path as through the plain node-sized
# adjacency, because the transfer ``(85·mass) div (100·deg)`` uses the
# total degree either way and bigint sums are order-invariant.
# ---------------------------------------------------------------------------


def _skewed_edges(spark, n_nodes=200, hub_frac=0.3, seed=7):
    """Undirected graph, both orientations: a ring for connectivity
    plus one hub (node 0) wired to 30% of nodes."""
    import random

    rng = random.Random(seed)
    und = {(i, (i + 1) % n_nodes) for i in range(n_nodes)}
    hub_targets = rng.sample(range(1, n_nodes), int(n_nodes * hub_frac))
    und |= {(0, t) for t in hub_targets}
    rows = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    return spark.createDataFrame(rows, "src long, dst long").repartition(8)


def test_salted_masses_identical(spark):
    edges = _skewed_edges(spark)
    plain = {
        r["node"]: r["mass"]
        for r in pagerank_masses(edges, n_iter=4).collect()
    }
    salted = {
        r["node"]: r["mass"]
        for r in pagerank_masses(edges, n_iter=4, salt_buckets=8).collect()
    }
    assert plain == salted
    assert len(plain) == 200
    # the hub holds the most mass — sanity that the graph is really skewed
    assert max(plain, key=plain.get) == 0


def test_salted_adjacency_bounds_hub_row(spark):
    """No salted adjacency row may hold more than ~max_degree/k + slack
    neighbors; the plain path has one row with the full hub degree."""
    edges = _skewed_edges(spark)
    k = 8
    bucket_sizes = (
        edges.groupBy(
            "src", F.pmod(F.xxhash64("dst"), F.lit(k)).alias("_bkt")
        )
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    hub_degree = (
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .agg(F.max("deg").alias("mx"))
        .collect()[0]["mx"]
    )
    assert hub_degree >= 60  # 30% hub + 2 ring edges
    # hash bucketing is not perfectly even; 3x the fair share is a
    # generous bound that still proves the hub row was split
    assert bucket_sizes <= max(3 * hub_degree // k, 8)


def test_registry_pagerank_unchanged(spark, sf_dir):
    """The refactor onto operators/graph must not move the oracle-green
    registry output: spot-check the top-10 masses at sf0.001."""
    from atd_data_lake_spark.queries import QUERIES

    rows = QUERIES["graph_pagerank"](spark, sf_dir).limit(10).collect()
    assert len(rows) == 10
    masses = [r["mass"] for r in rows]
    assert masses == sorted(masses, reverse=True)
    assert all(m > 0 for m in masses)


def _no_auto_broadcast(spark):
    """Context simulating 'node frame exceeds the broadcast ceiling':
    with autoBroadcastJoinThreshold=-1 Spark's own size check never
    picks broadcast, so any BroadcastHashJoin left in the plan can only
    come from a FORCED hint — the OOM class the gate removes."""
    import contextlib

    @contextlib.contextmanager
    def ctx():
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    return ctx()


def test_broadcast_gate_fallback_bit_identical(spark):
    """broadcast_node_limit=0 forces every node-frame join un-hinted
    (the 10⁸⁺-node OOM-avoidance path): masses must be bit-identical,
    and under a disabled auto-broadcast threshold the gated plan must
    contain NO broadcast join — proving the forced hint (which bypasses
    the size check) is gone (r6 verdict item #1)."""
    edges = _skewed_edges(spark)
    hinted = {
        r["node"]: r["mass"]
        for r in pagerank_masses(edges, n_iter=3).collect()
    }
    with _no_auto_broadcast(spark):
        # the hinted path still broadcasts with the threshold off — the
        # exact bypass behavior that makes an ungated hint dangerous
        forced_df = pagerank_masses(edges, n_iter=3)
        forced = {r["node"]: r["mass"] for r in forced_df.collect()}
        forced_plan = (
            forced_df._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in forced_plan

        fallback_df = pagerank_masses(
            edges, n_iter=3, broadcast_node_limit=0
        )
        fallback = {r["node"]: r["mass"] for r in fallback_df.collect()}
        fb_plan = (
            fallback_df._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in fb_plan

        salted_fb = {
            r["node"]: r["mass"]
            for r in pagerank_masses(
                edges, n_iter=3, salt_buckets=8, broadcast_node_limit=0
            ).collect()
        }
    assert hinted == forced == fallback == salted_fb


def test_label_prop_broadcast_gate_fallback(spark):
    from atd_data_lake_spark.operators.graph import label_propagate

    edges = _skewed_edges(spark)
    hinted = {
        r["node"]: r["label"]
        for r in label_propagate(edges, n_rounds=3).collect()
    }
    with _no_auto_broadcast(spark):
        # Drop the hinted run's persisted fragments first: CacheManager
        # dedupes an identical logical plan against the live cache and
        # returns the cached PHYSICAL fragment, which retains the join
        # strategy from its planning-time threshold — the fallback run
        # would otherwise "inherit" a BroadcastHashJoin it never planned.
        spark.catalog.clearCache()
        fb_df = label_propagate(edges, n_rounds=3, broadcast_node_limit=0)
        fallback = {r["node"]: r["label"] for r in fb_df.collect()}
        plan = fb_df._jdf.queryExecution().executedPlan().toString()
    assert hinted == fallback
    assert "BroadcastHashJoin" not in plan


def test_symmetric_edges_fast_path_identical(spark):
    """symmetric_edges=True (node frame read off the adjacency cache
    keys instead of a second explode+distinct derivation job) must be
    bit-identical to the default path on a both-ways-oriented graph —
    for pagerank, PPR and label propagation (the r9 wave-removal
    optimization; all registry callers orient both ways)."""
    from atd_data_lake_spark.operators.graph import (
        label_propagate,
        pagerank_masses,
        ppr_masses,
    )

    edges = _skewed_edges(spark)

    pr_plain = {
        r["node"]: r["mass"]
        for r in pagerank_masses(edges, n_iter=3).collect()
    }
    spark.catalog.clearCache()
    pr_sym = {
        r["node"]: r["mass"]
        for r in pagerank_masses(edges, n_iter=3, symmetric_edges=True).collect()
    }
    assert pr_plain == pr_sym

    seeds = edges.select(F.col("src").alias("node")).filter(
        F.col("node") % 7 == 0
    ).distinct()
    spark.catalog.clearCache()
    ppr_plain = {
        r["node"]: r["mass"]
        for r in ppr_masses(edges, seeds, n_iter=3).collect()
    }
    spark.catalog.clearCache()
    ppr_sym = {
        r["node"]: r["mass"]
        for r in ppr_masses(edges, seeds, n_iter=3, symmetric_edges=True).collect()
    }
    assert ppr_plain == ppr_sym

    spark.catalog.clearCache()
    lp_plain = {
        r["node"]: r["label"]
        for r in label_propagate(edges, n_rounds=3).collect()
    }
    spark.catalog.clearCache()
    lp_sym = {
        r["node"]: r["label"]
        for r in label_propagate(edges, n_rounds=3, symmetric_edges=True).collect()
    }
    assert lp_plain == lp_sym


def test_symmetric_edges_with_salt_buckets_identical(spark):
    """symmetric_edges=True combined with salt_buckets must still be
    bit-identical to the plain path: salted adjacency keys are
    (dst, _bkt) — a node can own several rows — so the fast path's
    read-nodes-off-the-cache-keys shortcut is guarded off
    (operators/graph.py: `symmetric_edges and salt_buckets is None`).
    Pins the guard the r9 review flagged as untested: if it regressed,
    duplicated dst keys would feed N = n_adj_rows > |V| and the teleport
    shares would be wrong."""
    from atd_data_lake_spark.operators.graph import pagerank_masses

    edges = _skewed_edges(spark)
    pr_plain = {
        r["node"]: r["mass"]
        for r in pagerank_masses(edges, n_iter=3).collect()
    }
    spark.catalog.clearCache()
    pr_sym_salted = {
        r["node"]: r["mass"]
        for r in pagerank_masses(
            edges, n_iter=3, symmetric_edges=True, salt_buckets=4
        ).collect()
    }
    assert pr_plain == pr_sym_salted


# ---------------------------------------------------------------------------
# min-label propagation
# ---------------------------------------------------------------------------


def test_label_propagate_two_components(spark):
    """Two disjoint 3-cycles converge to their min node id within 3
    rounds; no label leaks across components."""
    from atd_data_lake_spark.operators.graph import label_propagate

    und = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    out = {r.node: r.label for r in label_propagate(edges, n_rounds=3).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagate_bounded_rounds_on_path(spark):
    """On a directed-both-ways path 1-2-3-4-5-6, k rounds reach k hops:
    after 3 rounds node 5 sees label 2 (3 hops), not 1 (4 hops)."""
    from atd_data_lake_spark.operators.graph import label_propagate

    und = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    out = {r.node: r.label for r in label_propagate(edges, n_rounds=3).collect()}
    assert out[4] == 1
    assert out[5] == 2
    assert out[6] == 3


def test_label_propagate_keeps_sink_nodes(spark):
    """r6 review: a node appearing only as a destination must still be
    labeled (directed graph; symmetric callers were unaffected)."""
    from atd_data_lake_spark.operators.graph import label_propagate

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = {r.node: r.label for r in label_propagate(edges, n_rounds=3).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_tracked_caches_reclaims_graph_adjacency(spark):
    """r6 review: the cache scope is shared across operator modules —
    graph.py's adjacency persist registers too."""
    from atd_data_lake_spark.operators.graph import label_propagate
    from atd_data_lake_spark.operators.scale import tracked_caches

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    with tracked_caches() as reg:
        out = label_propagate(edges, n_rounds=2).collect()
        assert out
        # the receiver-keyed adjacency + the constant src-only label frame
        assert len(reg) == 2
        assert all(df.is_cached for df in reg)
    assert not any(df.is_cached for df in reg)



# ---------------------------------------------------------------------------
# personalized PageRank: seed locality
# ---------------------------------------------------------------------------


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



# ---------------------------------------------------------------------------
# Adamic-Adar link prediction
# ---------------------------------------------------------------------------


def test_graph_adamic_adar_bounds(spark, sf_dir):
    """AA down-weights hubs: every score is positive and at most
    common_neighbors / ln(2) (each term is 1/ln(deg) with deg >= 2)."""
    import math

    from atd_data_lake_spark.graph_queries import graph_adamic_adar

    rows = graph_adamic_adar(spark, sf_dir).collect()
    assert rows
    scores = [r["aa_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["common_neighbors"] >= 1
        assert 0.0 < r["aa_score"] <= r["common_neighbors"] / math.log(2) + 1e-6

