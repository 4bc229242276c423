"""Graph analytics over the co-purchase part graph: the graph family.

Every query reads the same graph — two parts are adjacent iff some
order holds both — and carries a full DuckDB value-hash oracle.

- ``graph_pagerank`` — 5 integer-exact power-iteration rounds.
- ``graph_ppr`` — personalized PageRank from the part%97==0 seeds.
- ``graph_label_prop`` — 3 synchronous min-label propagation rounds.
- ``graph_triangle_count`` — one-row census + global clustering.
- ``graph_degree_stats`` — degree histogram.
- ``graph_common_neighbors`` — common-neighbor / Jaccard link prediction.
- ``graph_adamic_adar`` — Adamic-Adar link prediction.
- ``graph_triangles`` — per-node triangles + local clustering.
- ``graph_k_hop`` — per-seed 1/2/3-hop BFS reach.

Shared pieces, each written once: the basket posexplode×slice pair
generator (``_basket_pairs``) under both the distinct ``a < b`` pair
frame (``_copurchase_pairs``) and the raw both-ways ``src/dst`` stream
of the iterative queries (``_copurchase_edges``); the both-ways
orientation (``_both_ways``); the oracles' basket pair CTE
(``_PAIR_CTE``) and lineitem self-join prelude (``_EDGES_PRELUDE``).
Every forced broadcast is size-gated by ``operators/graph._hinted``
against the one ``BROADCAST_NODE_ROW_LIMIT``; every cache goes through
``scoped_persist``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.graph import (
    BROADCAST_NODE_ROW_LIMIT,
    _hinted,
    k_hop_counts,
    label_propagate,
    pagerank_masses,
    ppr_masses,
)
from atd_data_lake_spark.operators.scale import scoped_persist

# ---------------------------------------------------------------------------
# shared edge builders (Spark) and CTEs (DuckDB)
# ---------------------------------------------------------------------------


def _basket_pairs(
    spark: SparkSession,
    sf_dir: str,
    part_mod: int | None = None,
    names: tuple[str, str] = ("a", "b"),
) -> DataFrame:
    """Co-purchase pairs ``lo < hi``, one row per basket holding both
    (NOT distinct), via the basket posexplode×slice generator — one
    collect_set shuffle, no lineitem self-join (measured 1.7× faster
    end-to-end than the li×li self-join).

    ``part_mod=k`` pushes the subgraph gate ``a % k == 0 AND b % k == 0``
    INTO the lineitem scan: a pair survives the gate iff BOTH endpoints
    do, and endpoints are lineitem partkeys, so filtering
    ``l_partkey % k == 0`` before the basket aggregate is exactly
    equivalent to filtering the generated pairs — but the basket
    shuffle shrinks k× and the generated pair volume k²× (Catalyst
    cannot push a filter on exploded array elements through the
    collect_set itself).  ``names`` labels the (lo, hi) columns."""
    li = _t(spark, sf_dir, "lineitem")
    if part_mod is not None:
        li = li.filter(F.col("l_partkey") % part_mod == 0)
    lo, hi = names
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    return baskets.select("parts", F.posexplode("parts").alias("_i", lo)).select(
        lo,
        F.explode(F.expr("slice(parts, _i + 2, size(parts))")).alias(hi),
    )


def _copurchase_pairs(
    spark: SparkSession, sf_dir: str, part_mod: int | None = None
) -> DataFrame:
    """Distinct undirected co-purchase edges ``(a, b)``, ``a < b``."""
    return _basket_pairs(spark, sf_dir, part_mod).distinct()


def _both_ways(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """A two-column pair frame oriented both ways: ``pairs ∪
    reversed(pairs)`` as ``(src, dst)`` — symmetric by construction."""
    a, b = pairs.columns
    return pairs.select(F.col(a).alias(src), F.col(b).alias(dst)).unionAll(
        pairs.select(F.col(b).alias(src), F.col(a).alias(dst))
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterative queries' ``(src, dst)`` edge stream: both-ways raw
    pairs with NO ``.distinct()`` — the adjacency groupBy's map-side
    collect_set partial dedupes before the shuffle, one full
    edge-stream exchange saved vs distinct-then-aggregate, output
    bit-identical."""
    return _both_ways(_basket_pairs(spark, sf_dir, names=("pa", "pb")), "src", "dst")


_PAIR_CTE = """
b AS (
    SELECT l_orderkey,
           list_sort(list_distinct(list(l_partkey))) AS parts
    FROM lineitem GROUP BY l_orderkey
),
pairs AS (
    SELECT DISTINCT t1.a, t2.b
    FROM b, UNNEST(b.parts) t1(a), UNNEST(b.parts) t2(b)
    WHERE t1.a < t2.b
)
"""

# the iterative oracles' both-ways edge list, via a lineitem self-join
_EDGES_PRELUDE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
edges AS (
    SELECT pa AS src, pb AS dst FROM pairs
    UNION ALL SELECT pb AS src, pa AS dst FROM pairs
)"""


# ---------------------------------------------------------------------------
# graph_pagerank — integer-exact power iteration
# ---------------------------------------------------------------------------

_PR_ITER = 5
_PR_TOPK = 100
_PR_MASS = 1_000_000_000_000  # 10^12 rank units of total mass


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 parts by 5-iteration PageRank over the co-purchase graph.

    Rank is bigint mass: node starts with ``10¹² div N``; each round a
    node keeps the teleport share ``15·10¹² div (100·N)`` and receives
    ``85·mass div (100·deg)`` from each in-neighbor.  Integer division
    drops sub-unit remainders on both engines identically (all operands
    positive), so five rounds are hash-exact under any partitioning —
    an ITERATIVE algorithm with a full value-hash oracle (5 unrolled
    CTE iterations).

    Scale shape (``operators/graph.pagerank_masses``): the graph
    materializes once as a RECEIVER-keyed adjacency, so each round's
    groupBy(dst) aggregates in place — the executed 5-round plan holds
    exactly ONE ``hashpartitioning(dst)`` exchange, the build.  The rank
    frame is node-sized; AQE broadcasts it while it fits.  Zero driver
    actions per round; the fixed 5-round unroll keeps lineage bounded.
    Hub-heavy graphs: ``salt_buckets=k`` bounds adjacency rows at
    max_in_degree/k (tests/test_graph_salted.py asserts bit-identical
    masses).
    """
    ranks = pagerank_masses(
        _copurchase_edges(spark, sf_dir),
        n_iter=_PR_ITER,
        total_mass=_PR_MASS,
        dedupe_edges=True,
        # symmetric by construction, so the node frame reads straight
        # off the adjacency cache keys (no explode+distinct+count job)
        symmetric_edges=True,
    )
    return (
        ranks.select(F.col("node").alias("part"), "mass")
        .orderBy(F.desc("mass"), "part")
        .limit(_PR_TOPK)
    )


def _pagerank_sql() -> str:
    prelude = _EDGES_PRELUDE + f""",
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
r0 AS (
    SELECT src AS node, CAST({_PR_MASS} // n_nodes AS BIGINT) AS mass
    FROM deg, n
)"""
    its = []
    for k in range(1, _PR_ITER + 1):
        its.append(f""",
r{k} AS (
    SELECT e.dst AS node,
           CAST((15 * {_PR_MASS}) // (100 * any_value(n.n_nodes))
                + sum((85 * r.mass) // (100 * e.deg)) AS BIGINT) AS mass
    FROM (SELECT e0.src, e0.dst, d.deg
          FROM edges e0 JOIN deg d ON e0.src = d.src) e
    JOIN r{k - 1} r ON e.src = r.node, n
    GROUP BY 1
)""")
    return (
        prelude
        + "".join(its)
        + f"""
SELECT node AS part, mass FROM r{_PR_ITER}
ORDER BY mass DESC, part LIMIT {_PR_TOPK}
"""
    )


# ---------------------------------------------------------------------------
# graph_ppr — personalized PageRank
# ---------------------------------------------------------------------------

_PPR_ITER = 5
_PPR_TOPK = 100
_PPR_MASS = 1_000_000_000_000
_PPR_SEED_MOD = 97


def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 parts by personalized PageRank from the part%97==0 seeds:
    teleport and initial mass restricted to the seed set, so masses
    rank parts by relevance TO the seeds.

    100 TB shape: identical to ``graph_pagerank`` (one receiver-keyed
    adjacency build, broadcast-gated node frames, zero driver actions in
    the loop) plus one node-sized base join per round — see
    ``operators/graph.ppr_masses``.  The seed set is a PREDICATE over
    the adjacency cache keys (``seed_pred``), so the pair stream has
    exactly one consumer and is not persisted.
    """
    ranks = ppr_masses(
        _copurchase_edges(spark, sf_dir),
        None,
        n_iter=_PPR_ITER,
        total_mass=_PPR_MASS,
        dedupe_edges=True,
        symmetric_edges=True,
        seed_pred=lambda c: (c % _PPR_SEED_MOD) == 0,
    )
    return (
        ranks.select(F.col("node").alias("part"), "mass")
        .orderBy(F.desc("mass"), "part")
        .limit(_PPR_TOPK)
    )


def _ppr_sql() -> str:
    prelude = _EDGES_PRELUDE + f""",
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
seeds AS (SELECT src FROM deg WHERE src % {_PPR_SEED_MOD} = 0),
sn AS (SELECT CAST(count(*) AS BIGINT) AS s_n FROM seeds),
base AS (
    SELECT n.node,
           CASE WHEN s.src IS NOT NULL
                THEN CAST((15 * {_PPR_MASS}) // (100 * sn.s_n) AS BIGINT)
                ELSE 0 END AS b,
           CASE WHEN s.src IS NOT NULL
                THEN CAST({_PPR_MASS} // sn.s_n AS BIGINT)
                ELSE 0 END AS init
    FROM (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges) n
    LEFT JOIN seeds s ON s.src = n.node, sn
),
r0 AS (SELECT node, init AS mass FROM base)"""
    its = []
    for k in range(1, _PPR_ITER + 1):
        its.append(f""",
r{k} AS (
    SELECT b.node, CAST(b.b + coalesce(c._in, 0) AS BIGINT) AS mass
    FROM base b LEFT JOIN (
        SELECT e.dst, sum((85 * r.mass) // (100 * e.deg)) AS _in
        FROM (SELECT e0.src, e0.dst, d.deg
              FROM edges e0 JOIN deg d ON e0.src = d.src) e
        JOIN r{k - 1} r ON e.src = r.node
        GROUP BY e.dst
    ) c ON b.node = c.dst
)""")
    return (
        prelude
        + "".join(its)
        + f"""
SELECT node AS part, mass FROM r{_PPR_ITER}
ORDER BY mass DESC, part LIMIT {_PPR_TOPK}
"""
    )


# ---------------------------------------------------------------------------
# graph_label_prop — bounded-round min-label communities
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3


def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round deterministic min-label propagation over the co-purchase
    graph: the bounded-round community sketch; min() makes every round
    order-free and hash-exact.  Output (part, community); see
    ``operators/graph.label_propagate`` for the one-edge-shuffle
    iteration argument."""
    # symmetric by construction, so the label frame reads straight off
    # the adjacency cache keys and the src-only union disappears
    out = label_propagate(
        _copurchase_edges(spark, sf_dir), n_rounds=_LP_ROUNDS, symmetric_edges=True
    )
    return out.select(F.col("node").alias("part"), F.col("label").alias("community"))


def _label_prop_sql() -> str:
    prelude = _EDGES_PRELUDE + """,
l0 AS (
    SELECT node, node AS label FROM (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    )
)"""
    its = []
    for k in range(1, _LP_ROUNDS + 1):
        its.append(f""",
l{k} AS (
    SELECT p.node,
           least(p.label, coalesce(min(nl.label), p.label)) AS label
    FROM l{k - 1} p
    LEFT JOIN edges e ON e.dst = p.node
    LEFT JOIN l{k - 1} nl ON nl.node = e.src
    GROUP BY p.node, p.label
)""")
    return (
        prelude
        + "".join(its)
        + f"""
SELECT node AS part, label AS community FROM l{_LP_ROUNDS}
"""
    )


# ---------------------------------------------------------------------------
# graph_triangle_count — degree-oriented global triangle census
# ---------------------------------------------------------------------------


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph census: nodes, edges, wedges, triangles, global
    clustering coefficient (3*triangles / wedges, round 9).

    Plan shape (the part that must survive 100x): orient every edge
    from its lower-(deg, id) endpoint, then count per ORIENTED EDGE
    ``|N+(src) ∩ N+(dst)|`` with the oriented out-adjacency broadcast
    onto the edge list — the edge-iterator form of the standard
    degree-oriented triangle plan.  Work is ≈ sum(outdeg²) ≤ O(m^1.5)
    (a triangle with (deg, id) order x→y→z is counted exactly once, at
    edge (x, y), as z ∈ N+(x) ∩ N+(y)) — but the Σ outdeg² wedge stream
    is never MATERIALIZED or joined: the intersection runs inside
    whole-stage codegen over edge-sized rows.  The out-adjacency rows
    are bounded by max OUT-degree, which the (deg, id) orientation caps
    near sqrt(2m) on skewed graphs.  Above the broadcast gate the two
    adjacency joins run un-hinted and AQE picks SMJ — the honest
    fallback, still edge-sized inputs.
    """
    pairs = scoped_persist(_copurchase_pairs(spark, sf_dir))
    # one explicit materialization wave; the count also gates the
    # broadcasts below (deg is node-sized and |nodes| ≤ 2·|pairs|, so
    # the pair count bounds it)
    n_pairs = pairs.count()
    und = _both_ways(pairs, "s", "d")
    # PERSISTED: deg feeds three consumers (both orientation joins and
    # the census aggregate).  The executed plan shows the runtime builds
    # the two BroadcastExchanges as separate query stages, each re-running
    # the degree aggregate and its exchange
    # (plans/r10/graph_triangle_count_before.txt operators 57-78).
    deg = scoped_persist(und.groupBy("s").agg(F.count("*").alias("deg")))

    dg = _hinted(deg, n_pairs, BROADCAST_NODE_ROW_LIMIT)
    ranked = (
        pairs.join(dg, F.col("a") == F.col("s"))
        .withColumnRenamed("deg", "dega")
        .drop("s")
        .join(dg, F.col("b") == F.col("s"))
        .withColumnRenamed("deg", "degb")
        .drop("s")
    )
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = scoped_persist(
        ranked.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )

    # Oriented out-adjacency: node-sized rows, Σ row lengths = |edges|
    # (oriented edges are distinct by construction — collect_list, no
    # dedupe needed).  PERSISTED for the same reason as deg: un-cached,
    # each endpoint broadcast re-ran the collect_list exchange.
    adj = scoped_persist(
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        .select(F.col("src").alias("s"), "nbrs")
    )
    ad = _hinted(adj, n_pairs, BROADCAST_NODE_ROW_LIMIT)
    # Per oriented edge (u, v): |N+(u) ∩ N+(v)|.  The dst-side join is
    # inner: an edge whose dst has no out-neighbors closes no triangle
    # and contributes 0 to the sum either way.
    tri_edges = (
        oriented.join(ad, F.col("src") == F.col("s"))
        .withColumnRenamed("nbrs", "_nu")
        .drop("s")
        .join(ad, F.col("dst") == F.col("s"))
        .withColumnRenamed("nbrs", "_nv")
        .drop("s")
    )
    tri = tri_edges.select(
        F.size(F.array_intersect("_nu", "_nv")).alias("_c")
    ).agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_triangles")
    )

    census = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("sum(deg) div 2").alias("n_edges"),
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"),
    )
    return census.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 9
        ).alias("global_clustering"),
    )


GRAPH_TRIANGLE_COUNT_SQL = f"""
WITH {_PAIR_CTE},
und AS (
    SELECT a AS s, b AS d FROM pairs
    UNION ALL SELECT b, a FROM pairs
),
deg AS (SELECT s, count(*) AS deg FROM und GROUP BY s),
oriented AS (
    SELECT CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN p.a ELSE p.b END AS src,
           CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN p.b ELSE p.a END AS dst,
           CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN db.deg ELSE da.deg END AS dst_deg
    FROM pairs p
    JOIN deg da ON da.s = p.a
    JOIN deg db ON db.s = p.b
),
wedges AS (
    SELECT e1.dst AS v, e2.dst AS w
    FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
    WHERE (e1.dst_deg, e1.dst) < (e2.dst_deg, e2.dst)
),
tri AS (
    SELECT count(*) AS n_triangles
    FROM wedges wg JOIN oriented o ON o.src = wg.v AND o.dst = wg.w
),
census AS (
    SELECT count(*) AS n_nodes,
           CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
           CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
    FROM deg
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(3.0 * n_triangles / n_wedges, 9) AS global_clustering
FROM census, tri
"""


# ---------------------------------------------------------------------------
# graph_degree_stats — degree histogram
# ---------------------------------------------------------------------------


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph: degree -> node count.

    Two aggs: edges -> per-node degree (map-side combined), degree ->
    histogram.  The second shuffle moves at most |distinct degrees|
    rows per partition.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    und = pairs.select(F.col("a").alias("s")).unionAll(
        pairs.select(F.col("b").alias("s"))
    )
    return (
        und.groupBy("s")
        .agg(F.count("*").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )


GRAPH_DEGREE_STATS_SQL = f"""
WITH {_PAIR_CTE},
und AS (SELECT a AS s FROM pairs UNION ALL SELECT b FROM pairs),
deg AS (SELECT s, count(*) AS degree FROM und GROUP BY s)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree
"""


# ---------------------------------------------------------------------------
# graph_common_neighbors / graph_adamic_adar — link prediction on the
# deterministic (part % 4 == 0) subgraph
# ---------------------------------------------------------------------------

_CN_MOD = 4
_CN_TOPK = 20


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 non-adjacent part pairs by common-neighbor count, with
    the Jaccard link-prediction score, over the (part % 4 == 0)
    subgraph.

    Wedge enumeration on the subgraph (both wedge endpoints ordered
    a < b so each candidate pair aggregates once), minus existing edges
    via left-anti join, ranked (cn DESC, a, b).  The subgraph gate is
    what bounds wedge volume here — documented sampling, applied
    identically in the oracle.
    """
    # subgraph gate pushed into the lineitem scan (see _basket_pairs)
    pairs = scoped_persist(_copurchase_pairs(spark, sf_dir, part_mod=_CN_MOD))
    # materialization wave + the broadcast gate for the wedge join below
    n_sub = pairs.count()
    und = _both_ways(pairs, "s", "d")
    # persisted: feeds two broadcast hints (da, db) the runtime builds
    # as separate stages (executed-plan finding; node-sized cache)
    deg = scoped_persist(und.groupBy("s").agg(F.count("*").alias("deg")))
    w1 = und.select(F.col("s").alias("mid"), F.col("d").alias("a"))
    # Broadcast the subgraph-edge side of the wedge self-join: wedge
    # volume is Σ deg² ≫ |edges|, so a sort-merge join here shuffles +
    # sorts the WEDGE stream; with the edge side broadcast, wedges
    # generate map-side and the (a, b) aggregate's partial pass
    # compresses them before the only remaining exchange
    # (candidate-pair-sized).
    w2 = _hinted(
        und.select(F.col("s").alias("mid"), F.col("d").alias("b")),
        2 * n_sub,
        BROADCAST_NODE_ROW_LIMIT,
    )
    cand = (
        w1.join(w2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common_neighbors"))
        .join(pairs, ["a", "b"], "left_anti")
    )
    # node-sized degree hints, same gate as the wedge side
    da = deg.select(F.col("s").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("s").alias("b"), F.col("deg").alias("degb"))
    scored = cand.join(
        _hinted(da, 2 * n_sub, BROADCAST_NODE_ROW_LIMIT), "a"
    ).join(_hinted(db, 2 * n_sub, BROADCAST_NODE_ROW_LIMIT), "b")
    return (
        scored.select(
            "a",
            "b",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("dega") + F.col("degb") - F.col("common_neighbors")),
                9,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("common_neighbors"), "a", "b")
        .limit(_CN_TOPK)
    )


GRAPH_COMMON_NEIGHBORS_SQL = f"""
WITH {_PAIR_CTE},
sub AS (SELECT a, b FROM pairs WHERE a % {_CN_MOD} = 0 AND b % {_CN_MOD} = 0),
und AS (SELECT a AS s, b AS d FROM sub UNION ALL SELECT b, a FROM sub),
deg AS (SELECT s, count(*) AS deg FROM und GROUP BY s),
cand AS (
    SELECT w1.d AS a, w2.d AS b, count(*) AS common_neighbors
    FROM und w1 JOIN und w2 ON w1.s = w2.s
    WHERE w1.d < w2.d
    GROUP BY 1, 2
),
nonadj AS (
    SELECT c.* FROM cand c
    ANTI JOIN sub e ON e.a = c.a AND e.b = c.b
)
SELECT n.a, n.b, n.common_neighbors,
       round(n.common_neighbors
             / CAST(da.deg + db.deg - n.common_neighbors AS DOUBLE), 9)
         AS jaccard
FROM nonadj n
JOIN deg da ON da.s = n.a
JOIN deg db ON db.s = n.b
ORDER BY n.common_neighbors DESC, n.a, n.b
LIMIT {_CN_TOPK}
"""


_AA_MOD = 4
_AA_TOPK = 20


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 non-adjacent part pairs by ADAMIC-ADAR score
    AA(a,b) = Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg z) — the link-prediction
    measure that down-weights promiscuous hubs, one rung above
    ``graph_common_neighbors``' raw count/Jaccard.  Same (part % 4)
    subgraph gate and wedge enumeration; every common neighbor has
    deg ≥ 2 by construction, so ln(deg) > 0 always.

    Engine-exactness: each wedge's 1/ln(deg_mid) term is rounded to
    9 dp and DECIMAL-summed per pair (order-independent), final score
    rounded to 6 dp; ties broken by (a, b).

    100 TB shape: degree attaches to the wedge midpoints BEFORE the
    wedge self-join (one broadcast onto the edge list), so the pair
    aggregate is one map-side-combined groupBy over wedge rows —
    identical shuffle volume to the common-neighbors count."""
    # subgraph gate pushed into the lineitem scan (see _basket_pairs)
    pairs = scoped_persist(_copurchase_pairs(spark, sf_dir, part_mod=_AA_MOD))
    # materialization wave + the broadcast gate for the wedge join below
    n_sub = pairs.count()
    und = _both_ways(pairs, "s", "d")
    deg = und.groupBy("s").agg(F.count("*").alias("deg"))
    # persisted: undd feeds the probe stream AND the broadcast wedge
    # side, which the runtime builds as a separate stage that would
    # re-run the deg join (executed-plan finding; subgraph-sized)
    undd = scoped_persist(
        und.join(_hinted(deg, 2 * n_sub, BROADCAST_NODE_ROW_LIMIT), "s").select(
            "s",
            "d",
            F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 9)
            .cast("decimal(20,9)")
            .alias("w"),
        )
    )
    w1 = undd.select(F.col("s").alias("mid"), F.col("d").alias("a"), "w")
    # broadcast the edge-sized wedge side (size-gated) so the Σ deg²
    # wedge stream never shuffles — the graph_common_neighbors recipe
    w2 = _hinted(
        undd.select(F.col("s").alias("mid"), F.col("d").alias("b")),
        2 * n_sub,
        BROADCAST_NODE_ROW_LIMIT,
    )
    cand = (
        w1.join(w2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum("w").alias("_aa"),
        )
        .join(pairs, ["a", "b"], "left_anti")
    )
    return (
        cand.select(
            "a",
            "b",
            "common_neighbors",
            F.round(F.col("_aa").cast("double"), 6).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "a", "b")
        .limit(_AA_TOPK)
    )


GRAPH_ADAMIC_ADAR_SQL = f"""
WITH {_PAIR_CTE},
sub AS (SELECT a, b FROM pairs WHERE a % {_AA_MOD} = 0 AND b % {_AA_MOD} = 0),
und AS (SELECT a AS s, b AS d FROM sub UNION ALL SELECT b, a FROM sub),
deg AS (SELECT s, count(*) AS deg FROM und GROUP BY s),
undd AS (
    SELECT und.s, und.d,
           CAST(round(1.0 / ln(CAST(deg.deg AS DOUBLE)), 9)
                AS DECIMAL(20,9)) AS w
    FROM und JOIN deg USING (s)
),
cand AS (
    SELECT w1.d AS a, w2.d AS b,
           count(*) AS common_neighbors,
           sum(w1.w) AS aa
    FROM undd w1 JOIN undd w2 ON w1.s = w2.s
    WHERE w1.d < w2.d
    GROUP BY 1, 2
),
nonadj AS (
    SELECT c.* FROM cand c
    ANTI JOIN sub e ON e.a = c.a AND e.b = c.b
)
SELECT a, b, CAST(common_neighbors AS BIGINT) AS common_neighbors,
       round(CAST(aa AS DOUBLE), 6) AS aa_score
FROM nonadj
ORDER BY aa_score DESC, a, b
LIMIT {_AA_TOPK}
"""


# ---------------------------------------------------------------------------
# graph_triangles — per-node triangle census
# ---------------------------------------------------------------------------


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, degree, triangles, clustering) for every node with
    degree >= 2, ordered by node: the per-node drill-down of
    ``graph_triangle_count``'s one-row census.

    The classic skew trap in distributed triangle counting is wedge
    enumeration at hub nodes (wedges ∝ degree²); the standard fix
    (Suri & Vassilvitskii's MR node-iterator++) orients every edge from
    its lower-(degree, id) endpoint to its higher one, which caps every
    node's out-degree at O(sqrt(|E|)).  Each triangle is enumerated
    exactly once under ANY orientation, so the DuckDB oracle uses plain
    id-ordering while the Spark plan degree-orients.

    Shuffle shape: degree agg (1 shuffle on node), rank join onto the
    edge list (node-keyed), one self-join on the wedge apex, one
    equi-join to close the wedge, explode-3 + count.  Every join is a
    key equi-join on node ids — no row ever carries a neighbor list,
    so nothing grows with degree.
    """
    pairs = _copurchase_pairs(spark, sf_dir)  # (a, b), a < b, distinct

    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionAll(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )

    # orient each edge from lower (degree, id) to higher: src -> dst,
    # carrying the dst rank for the wedge ordering below
    e = (
        pairs.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("src"),
                    F.col("b").alias("dst"),
                    F.struct(F.col("db").alias("d"), F.col("b").alias("n")).alias("rdst"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("src"),
                    F.col("a").alias("dst"),
                    F.struct(F.col("da").alias("d"), F.col("a").alias("n")).alias("rdst"),
                )
            )
            .alias("o")
        )
        .select("o.src", "o.dst", "o.rdst")
        # no persist: the three consumers re-derive the frame through
        # AQE-reused shuffles (free disk reuse) instead of pinning an
        # edge-sized deserialized block in executor memory — the
        # difference between finishing and GC-thrashing in a small heap
    )

    # wedges at apex u: out-neighbors v < w in rank order; close with
    # the oriented edge (v, w).  Both joins carry EDGE-sized (and at the
    # apex, wedge-sized) streams, so they are hinted to sort-merge:
    # Catalyst's size estimate through the basket posexplode is garbage
    # (it priced the oriented edge frame under the broadcast threshold
    # and planned THREE edge-sized broadcast builds — which OOMs a
    # default 1 GB driver at sf0.1 and would be catastrophic at scale;
    # SMJ spills gracefully at any size)
    e1 = e.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.col("rdst").alias("rv"))
    e2 = e.select(F.col("src").alias("u"), F.col("dst").alias("w"), F.col("rdst").alias("rw"))
    wedges = (
        e1.join(e2.hint("merge"), "u")
        .filter(F.col("rv") < F.col("rw"))
        .select("u", "v", "w")
    )
    tri = wedges.join(
        e.select(F.col("src").alias("v"), F.col("dst").alias("w")).hint("merge"),
        ["v", "w"],
    ).select("u", "v", "w")

    tcnt = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )

    return (
        deg.filter(F.col("degree") >= 2)
        .join(tcnt, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - F.lit(1))),
                6,
            ).alias("clustering"),
        )
        .orderBy("node")
    )


GRAPH_TRIANGLES_SQL = f"""
WITH {_PAIR_CTE},
deg AS (
    SELECT node, count(*) AS degree
    FROM (SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
    GROUP BY node
),
tri AS (
    -- id-orientation enumerates the same triangle set as the engine's
    -- degree-orientation: each (u < v < w) exactly once
    SELECT e1.a AS u, e1.b AS v, e2.b AS w
    FROM pairs e1
    JOIN pairs e2 ON e2.a = e1.b
    JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
),
tcnt AS (
    SELECT node, count(*) AS triangles
    FROM (SELECT u AS node FROM tri
          UNION ALL SELECT v FROM tri
          UNION ALL SELECT w FROM tri)
    GROUP BY node
)
SELECT d.node, d.degree,
       COALESCE(t.triangles, 0) AS triangles,
       round(2.0 * COALESCE(t.triangles, 0)
             / (d.degree * (d.degree - 1)), 6) AS clustering
FROM deg d LEFT JOIN tcnt t USING (node)
WHERE d.degree >= 2
ORDER BY d.node
"""


# ---------------------------------------------------------------------------
# graph_k_hop — bounded k-hop reachability (BFS)
# ---------------------------------------------------------------------------

_SEED_MOD = 1000
_HOPS = 3


def graph_k_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seed, n_1hop, n_2hop, n_3hop) — cumulative distinct reachable
    node counts within 1, 2 and 3 hops of each seed part (parts ≡ 0 mod
    1000), seed excluded.

    Each hop is ONE distinct equi-join of the (seed, node) frontier
    against the edge list — frontier rows are pairs, never neighborhood
    lists, so no row grows with degree; the 3-round unroll keeps
    lineage bounded without checkpoints.  The delta-BFS lives in
    ``operators/graph.k_hop_counts`` (shared with the 10× scale smoke).
    Every seed comes from the edge list, so it has ≥1 hop-1 neighbor
    and survives the groupBy.
    """
    edges = scoped_persist(_both_ways(_copurchase_pairs(spark, sf_dir), "s", "d"))
    seeds = (
        edges.select(F.col("s").alias("seed"))
        .filter(F.col("seed") % _SEED_MOD == 0)
        .distinct()
    )
    return k_hop_counts(edges, seeds, hops=_HOPS)


GRAPH_K_HOP_SQL = f"""
WITH {_PAIR_CTE},
edges AS (
    SELECT a AS s, b AS d FROM pairs UNION ALL SELECT b, a FROM pairs
),
seeds AS (
    SELECT DISTINCT s AS seed FROM edges WHERE s % {_SEED_MOD} = 0
),
h1 AS (
    SELECT DISTINCT sd.seed, e.d AS node
    FROM seeds sd JOIN edges e ON e.s = sd.seed
),
r1 AS (
    SELECT seed, node FROM h1
    UNION SELECT seed, seed FROM seeds
),
h2 AS (
    SELECT DISTINCT r.seed, e.d AS node
    FROM h1 r JOIN edges e ON e.s = r.node
),
r2 AS (SELECT seed, node FROM r1 UNION SELECT seed, node FROM h2),
h3 AS (
    SELECT DISTINCT r.seed, e.d AS node
    FROM h2 r JOIN edges e ON e.s = r.node
),
r3 AS (SELECT seed, node FROM r2 UNION SELECT seed, node FROM h3)
SELECT s.seed,
       (SELECT count(*) FROM r1 WHERE r1.seed = s.seed AND r1.node != s.seed)
         AS n_1hop,
       (SELECT count(*) FROM r2 WHERE r2.seed = s.seed AND r2.node != s.seed)
         AS n_2hop,
       (SELECT count(*) FROM r3 WHERE r3.seed = s.seed AND r3.node != s.seed)
         AS n_3hop
FROM seeds s
ORDER BY s.seed
"""


GRAPH_QUERIES = {
    "graph_pagerank": graph_pagerank,
    "graph_ppr": graph_ppr,
    "graph_label_prop": graph_label_prop,
    "graph_triangle_count": graph_triangle_count,
    "graph_degree_stats": graph_degree_stats,
    "graph_common_neighbors": graph_common_neighbors,
    "graph_adamic_adar": graph_adamic_adar,
    "graph_triangles": graph_triangles,
    "graph_k_hop": graph_k_hop,
}

GRAPH_ORACLES = {
    "graph_pagerank": _pagerank_sql(),
    "graph_ppr": _ppr_sql(),
    "graph_label_prop": _label_prop_sql(),
    "graph_triangle_count": GRAPH_TRIANGLE_COUNT_SQL,
    "graph_degree_stats": GRAPH_DEGREE_STATS_SQL,
    "graph_common_neighbors": GRAPH_COMMON_NEIGHBORS_SQL,
    "graph_adamic_adar": GRAPH_ADAMIC_ADAR_SQL,
    "graph_triangles": GRAPH_TRIANGLES_SQL,
    "graph_k_hop": GRAPH_K_HOP_SQL,
}
