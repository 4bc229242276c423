"""Integer-exact PageRank message passing over a node-sized adjacency.

Extracted from the ``graph_pagerank`` registry query (graph_queries)
so the hub-salting variant is a first-class, tested code path rather
than a docstring recipe.

Rank is bigint "mass" (``total_mass`` units split across nodes) and
every transfer is an integer division with positive operands, so the
result is bit-identical regardless of partitioning, accumulation
order, salting, or engine — the discipline that gives an iterative
algorithm a full value-hash DuckDB oracle.

Scale shape (100 TB argument): the adjacency is keyed by the
RECEIVING node — ``(dst, ins array<struct<src, deg>>)`` — built by an
out-adjacency groupBy (degree + neighbor set in one pass, map-side
edge dedupe) exploded and re-grouped by dst, each in-neighbor's total
out-degree riding in the struct (two edge-sized build exchanges, no
degree join).  That orientation is what makes
the ITERATIONS shuffle-free: the cached adjacency is hash-partitioned
by ``dst``; ``explode`` and a broadcast join against the node-sized
rank frame both preserve that partitioning, so the per-round
``groupBy(dst)`` aggregates in place — Catalyst plans partial+final
HashAggregate with NO Exchange between them (verified in the executed
plan).  Five rounds over a 100 TB edge set therefore shuffle the edge
stream exactly once (the build), not once per round; the old
src-keyed formulation paid an edge-sized contribution shuffle every
round.  Measured at sf0.1 (20k nodes, interleaved A/B, cold cache per
run): near-parity on wall — 3.1 s vs the src-keyed formulation's
3.2–4.9 s window; five sequential job waves dominate both at this SF,
and the win is the SHAPE (per-round shuffled bytes: edge-sized → zero).
Masses bit-identical.

On a hub-heavy graph a single receiving node's ``collect_list`` row
would hold its full in-neighbor set; ``salt_buckets=k`` splits each
node's list across ``k`` fixed buckets ``(dst, pmod(hash(src), k))``
so no single adjacency row exceeds ``max_in_degree / k`` entries.  The
per-round aggregation then needs one small exchange (≤ k partial rows
per node, node×k-sized — never edge-sized); transfers still use each
in-neighbor's TOTAL degree from the struct, so masses are identical
bit-for-bit (asserted in tests/test_graph_salted.py on a 30%-hub
graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from atd_data_lake_spark.operators.scale import scoped_persist

# Row ceiling for every size-gated broadcast hint of the graph family:
# the per-round node frames here and the node- and edge-sized frames of
# graph_queries.  An explicit ``F.broadcast`` BYPASSES Spark's size
# check, so an ungated hint is a hard OOM at 10⁸⁺ rows (realistic for a
# 100 TB edge set) instead of a graceful shuffle join.  8M rows ×
# ~40 B/row ≈ 320 MB broadcast build — near the practical
# executor/driver ceiling; above it the joins run un-hinted and AQE
# picks the strategy from runtime stats.  The row counts gating this are
# already needed to materialize the caches, so the gate costs no extra
# scan.
BROADCAST_NODE_ROW_LIMIT = 8_000_000


def _hinted(df: DataFrame, node_rows: int, limit: int) -> DataFrame:
    """``F.broadcast(df)`` only while the frame provably fits."""
    return F.broadcast(df) if node_rows <= limit else df


def pagerank_masses(
    edges: DataFrame,
    n_iter: int = 5,
    total_mass: int = 1_000_000_000_000,
    salt_buckets: int | None = None,
    dedupe_edges: bool = False,
    broadcast_node_limit: int = BROADCAST_NODE_ROW_LIMIT,
    symmetric_edges: bool = False,
) -> DataFrame:
    """(node, mass) after ``n_iter`` integer-exact PageRank rounds.

    ``edges`` is a directed edge list ``(src, dst)``; orient an
    undirected graph both ways before calling.  Every node keeps the
    teleport share ``15·total_mass div (100·N)`` and receives
    ``(85·mass) div (100·deg)`` from each in-neighbor per round.

    ``salt_buckets=None`` builds one adjacency row per receiving node;
    ``salt_buckets=k`` splits each node's in-neighbor list across ``k``
    hash buckets (hub-degree bound) with bit-identical output.

    ``dedupe_edges=True`` accepts a NON-distinct edge stream: the
    out-adjacency's ``collect_set`` dedupes in the partial (map-side)
    aggregation, so duplicate edges never reach a shuffle and callers
    skip their own ``.distinct()`` exchange over the full edge stream.

    ``symmetric_edges=True`` is the caller's promise that every edge
    appears in BOTH directions (the undirected-orientation convention
    all registry callers use).  Then senders == receivers == the cached
    adjacency's ``dst`` keys, so the node frame is read straight off
    the cache keys (already distinct — they are a groupBy key) and
    ``N == n_adj_rows``, which is already counted to materialize the
    cache.  That deletes the explode + distinct + count node-derivation
    job entirely — at sf0.1 it was ~1.7 s of graph_pagerank's ~6.5 s
    wall (r9 noop decomposition; guide §1.2: remove work before tuning
    it).  Output is bit-identical by construction; asserted against the
    default path in tests/test_graph_salted.py.  CAVEAT: with
    ``salt_buckets`` set the adjacency keys are ``(dst, _bkt)`` — a node
    can own several rows, so the fast path is silently DISABLED (the
    guard below requires ``salt_buckets is None``) and the node frame
    falls back to the explode + distinct + count derivation; the
    salted-and-symmetric combination still pays that job.

    The per-round rank frame is node-sized and broadcast WHILE the
    adjacency row count (counted once to materialize the iteration
    cache) stays under ``broadcast_node_limit``; above it every join
    runs un-hinted (AQE picks the strategy) — integer masses stay exact
    under a shuffle join too, bit-identical by construction and asserted
    in tests/test_graph_salted.py.

    NOTE: nodes with out-degree but no in-edges still appear in round
    0 (every node of a symmetric-orientation graph has both); sink
    handling follows the registry query's convention (mass re-derived
    from in-contributions each round).
    """
    # Build path: an out-adjacency groupBy (collect_set dedupes
    # duplicate edges in the map-side partial when asked) computes each
    # node's degree and neighbor set together, then explodes and
    # re-groups by the receiving node with the sender's degree riding in
    # the struct.  Two edge-sized exchanges total and (unsalted) no
    # degree join — measured 0.6 s faster at sf0.1 than the
    # countDistinct + broadcast-join build it replaced, output
    # identical.
    #
    # r10 ONE-exchange symmetric build: when the caller promises a
    # both-ways edge stream (symmetric_edges=True, unsalted), each
    # node's in-neighbor set IS its out-neighbor set, so the
    # receiver-keyed adjacency can be built DIRECTLY — one
    # ``groupBy(dst).agg(collect_set(src))`` over the raw edges — and
    # the sender's degree no longer needs to ride in a struct: it is
    # ``size(srcs)`` of the sender's own cached row, read off the
    # node-sized rank frame each round (the rank frame carries ``_deg``
    # and the broadcast side ships the precomputed per-sender transfer
    # ``(85·mass) div (100·deg)``).  That deletes the second edge-sized
    # exchange (the old flat→groupBy(dst) regroup) and halves the cache
    # row (a bare long array instead of (src, deg) structs) while
    # keeping the per-round groupBy(dst) exchange-free — the cache is
    # still dst-partitioned and explode + broadcast join preserve it.
    # Masses are bit-identical (same integer ops over the same edge
    # multiset; deg(u) = |N_in(u)| = |N_out(u)| under the symmetry
    # promise) — pinned vs the default path in tests/test_graph_salted.
    if symmetric_edges and salt_buckets is None:
        neigh_src = (
            F.collect_set("src") if dedupe_edges else F.collect_list("src")
        )
        in_adj = scoped_persist(
            edges.groupBy("dst").agg(neigh_src.alias("srcs"))
        )
        n = in_adj.count()  # materializes the cache; N == |keys| (symmetric)
        if n == 0:
            raise ValueError("pagerank_masses: empty edge list")
        hint_ok = n <= broadcast_node_limit
        ranks = in_adj.select(
            F.col("dst").alias("node"),
            F.size("srcs").cast("long").alias("_deg"),
            F.lit(total_mass // n).cast("long").alias("mass"),
        )
        base_lit = F.lit(15 * total_mass // (100 * n)).cast("long")
        for _ in range(n_iter):
            ex = in_adj.select(
                "dst",
                F.size("srcs").cast("long").alias("_rdeg"),
                F.explode("srcs").alias("_s"),
            )
            # per-sender transfer computed ON the node-sized broadcast
            # side: the edge-sized probe never touches the sender's mass
            oshare = ranks.select(
                "node", F.expr("(85 * mass) div (100 * _deg)").alias("_c")
            )
            contrib = (
                ex.join(
                    F.broadcast(oshare) if hint_ok else oshare,
                    F.col("_s") == F.col("node"),
                )
                # _rdeg is constant within a dst group (projected off the
                # group's own adjacency row), so first() is deterministic
                .groupBy("dst")
                .agg(F.sum("_c").alias("_in"), F.first("_rdeg").alias("_deg"))
            )
            ranks = contrib.select(
                F.col("dst").alias("node"),
                "_deg",
                (base_lit + F.col("_in")).alias("mass"),
            )
        return ranks.select("node", "mass")

    neigh = F.collect_set("dst") if dedupe_edges else F.collect_list("dst")
    if salt_buckets is None:
        out_adj = (
            edges.groupBy("src")
            .agg(neigh.alias("dsts"))
            .select("src", F.size("dsts").cast("long").alias("deg"), "dsts")
        )
        flat = out_adj.select("src", "deg", F.explode("dsts").alias("dst"))
    else:
        # the hub bound must hold at the BUILD too: an unbucketed
        # collect_set would materialize a hub's full out-neighbor set in
        # one aggregation buffer — exactly the row the salt exists to
        # split.  Bucket the out-adjacency by hash(dst), re-aggregate
        # TOTAL degree from the ≤k bucket sizes per node (node×k rows),
        # and broadcast it back onto the bucketed rows.
        out_bkt = scoped_persist(
            edges.groupBy(
                "src",
                F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)).alias("_ob"),
            )
            .agg(neigh.alias("dsts"))
            .select("src", F.size("dsts").cast("long").alias("_deg_b"), "dsts")
        )
        # node×≤k rows: the cache count both materializes the build's one
        # edge scan and gates the node-sized deg broadcast below
        n_out_rows = out_bkt.count()
        deg = out_bkt.groupBy("src").agg(F.sum("_deg_b").alias("deg"))
        flat = (
            out_bkt.join(
                _hinted(deg, n_out_rows, broadcast_node_limit), "src"
            )
            .select("src", "deg", F.explode("dsts").alias("dst"))
        )
    ins_agg = F.collect_list(F.struct("src", "deg")).alias("ins")
    if salt_buckets is None:
        in_adj = scoped_persist(flat.groupBy("dst").agg(ins_agg))
    else:
        in_adj = scoped_persist(
            flat.groupBy(
                "dst",
                F.pmod(F.xxhash64("src"), F.lit(salt_buckets)).alias("_bkt"),
            )
            .agg(ins_agg)
        )
    # materializes the cache the rounds read, so this job is the build
    n_adj_rows = in_adj.count()

    # Derive the node set FROM THE CACHED ADJACENCY (distinct senders =
    # distinct src over the exploded ins structs), the label_propagate
    # discipline: `edges.select("src").distinct()` re-evaluated the
    # caller's FULL edge lineage (for the registry queries that is the
    # lineitem scan → basket collect_set → posexplode pair build) once
    # for the n-count job and again inside the round-1 broadcast build —
    # two redundant edge builds per query (guide §2.4: remove recompute
    # before tuning anything else).  Reading the cache costs one
    # edge-sized explode + distinct and keeps the whole algorithm at ONE
    # edge-source scan.
    # (the unsalted symmetric combination returned above on the
    # one-exchange build — this derivation serves directed and/or
    # salted callers)
    nodes = in_adj.select(F.explode("ins").alias("_e")).select(
        F.col("_e.src").alias("src")
    ).distinct()
    # the teleport denominator N, needed as a scalar anyway — and it
    # is the EXACT size of the round-1 ranks frame, which on a
    # directed graph can dwarf the dst-keyed adjacency (r7 review: a
    # dst-only gate undercounts when many sources fan into few
    # receivers), so the OOM gate takes the max of both
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank_masses: empty edge list")
    hint_ok = max(n_adj_rows, n) <= broadcast_node_limit
    ranks = nodes.select(
        F.col("src").alias("node"),
        F.lit(total_mass // n).cast("long").alias("mass"),
        F.lit(15 * total_mass // (100 * n)).cast("long").alias("_base"),
    )
    for _ in range(n_iter):
        # explode + broadcast-join preserve the cached adjacency's
        # dst-partitioning, so this groupBy(dst) runs with NO exchange
        # (one ≤k-partial-rows-per-node exchange when salted)
        ex = in_adj.select("dst", F.explode("ins").alias("_e")).select(
            "dst",
            F.col("_e.src").alias("_s"),
            F.col("_e.deg").alias("_d"),
        )
        contrib = (
            ex.join(
                F.broadcast(ranks) if hint_ok else ranks,
                F.col("_s") == F.col("node"),
            )
            .select(
                "dst",
                F.expr("(85 * mass) div (100 * _d)").alias("_c"),
                F.col("_base"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"), F.first("_base").alias("_base"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (F.col("_base") + F.col("_in")).alias("mass"),
            F.col("_base"),
        )
    return ranks.select("node", "mass")


def label_propagate(
    edges: DataFrame,
    n_rounds: int = 3,
    broadcast_node_limit: int = BROADCAST_NODE_ROW_LIMIT,
    symmetric_edges: bool = False,
) -> DataFrame:
    """Deterministic min-label propagation (synchronous LPA) —
    community detection's simplest convergent form: every node starts
    labeled with its own id; each round it takes the minimum of its own
    label and its in-neighbors' labels.  After ``n_rounds`` rounds two
    nodes share a label iff they are within ``n_rounds`` hops of a
    common minimum — the bounded-round community sketch used to seed
    Louvain-style refinement at scale.  min() makes the update
    order-free and engine-exact, so the query carries a full value-hash
    oracle (the same determinism discipline as ``pagerank_masses``).

    Scale shape (mirrors pagerank_masses): the graph materializes ONCE
    as a receiver-keyed adjacency ``(dst, ins array<src>)`` — map-side
    collect_set dedupes the raw pair stream before its single
    edge-sized exchange; each round explodes the cached dst-partitioned
    adjacency and broadcast-joins the node-sized label frame, so the
    per-round groupBy(dst) aggregates with NO exchange.  ``n_rounds``
    rounds over a 100 TB edge set shuffle the edge stream once.
    """
    # SELF-LOOP folded into the adjacency at build time (array_union
    # dedupes): min over (in-neighbors ∪ self) ≡ least(own label, min
    # of in-neighbor labels), so each round needs ONE join + ONE
    # aggregate instead of the old neighbor-min join PLUS a left-join
    # least() update — per round that deletes a node-sized broadcast
    # build and a join (guide §1.2/§2.4; measured A/B below).  Nodes
    # that never appear as a receiver (src-only) have no adjacency row;
    # their label provably never changes, so they ride as a constant
    # persisted frame unioned per round.
    in_adj = scoped_persist(
        edges.groupBy("dst").agg(
            F.array_union(
                F.collect_set("src"), F.array(F.col("dst"))
            ).alias("ins")
        )
    )
    # nodes = src ∪ dst: a sink (in-edges only) must still start with its
    # own label — init from src alone silently dropped sinks on directed
    # graphs (r6 review; symmetric-orientation callers were unaffected).
    # Derive the node set FROM THE CACHED ADJACENCY (dst ∪ exploded ins)
    # rather than the edge frame: scan_amplification showed the naive
    # init re-scanning the edge source a second time (2.0×); this keeps
    # the whole algorithm at one edge scan.
    # ``symmetric_edges=True`` (caller promise: every edge appears both
    # ways, the registry convention): every node is a receiver, so the
    # label frame is a plain projection of the cached groupBy keys
    # (distinct by construction — no explode/union/distinct job) and the
    # src-only frame is empty by construction, so the rounds skip its
    # per-round union and the anti-join that builds it.
    if symmetric_edges:
        labels = in_adj.select(
            F.col("dst").alias("node"), F.col("dst").alias("label")
        )
        src_only = None
    else:
        labels = (
            in_adj.select(F.col("dst").alias("node"))
            .union(in_adj.select(F.explode("ins").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("label"))
        )
    # the OOM gate counts the LABELS frame itself — |src ∪ dst|, which
    # on a directed graph can dwarf the dst-keyed adjacency row count
    # (r7 review: a dst-only gate undercounts when many sources fan
    # into few receivers).  The count reads through the in_adj cache,
    # materializing it for the rounds; above the gate every join runs
    # un-hinted (AQE decides), labels identical.
    hint_ok = labels.count() <= broadcast_node_limit
    if not symmetric_edges:
        src_only = scoped_persist(
            labels.join(
                in_adj.select(F.col("dst").alias("node")), "node", "left_anti"
            )
        )
    for _ in range(n_rounds):
        ex = in_adj.select("dst", F.explode("ins").alias("_s"))
        upd = (
            ex.join(
                F.broadcast(labels) if hint_ok else labels,
                F.col("_s") == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.min("label").alias("label"))
            .select(F.col("dst").alias("node"), "label")
        )
        labels = upd if src_only is None else upd.unionByName(src_only)
    return labels


def k_hop_counts(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 3,
) -> DataFrame:
    """Cumulative distinct reachable-node counts per seed (seed
    excluded), delta-BFS: the frontier carries only NEWLY-discovered
    (seed, node) pairs (anti-join against the reached set), so hop h+1
    never re-expands nodes hop h already visited — in a dense graph the
    naive frontier is nearly the whole reachable set by hop 3 and
    re-expanding it dominated the runtime (11 s → ~4 s at sf0.1).
    Extracted r7 from the ``graph_k_hop`` registry query so the 10×
    scale smoke exercises the same code path.

    ``edges``: directed ``(s, d)``; orient undirected graphs both ways.
    ``seeds``: ``(seed,)``.  Output: ``(seed, n_1hop .. n_{hops}hop)``.

    100 TB shape: per hop, one join keyed on the frontier node and one
    (seed, node) anti-join — both frontier-sized, shrinking as discovery
    saturates; the cumulative counts fall out of ONE conditional-sum
    groupBy instead of a distinct + join per hop.
    """
    if hops < 1:
        raise ValueError("k_hop_counts: hops must be >= 1")
    reached = seeds.select("seed", F.col("seed").alias("node"))
    frontier = reached
    layers = []
    for hop in range(1, hops + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.s)
            .select("seed", F.col("d").alias("node"))
            .distinct()
        )
        new = scoped_persist(
            nxt.join(reached, ["seed", "node"], "left_anti")
            .withColumn("hop", F.lit(hop))
        )
        # disjoint by construction — no distinct needed on the union
        reached = reached.unionByName(new.select("seed", "node"))
        frontier = new.select("seed", "node")
        layers.append(new)
    disc = layers[0]
    for lyr in layers[1:]:
        disc = disc.unionByName(lyr)
    aggs = [
        F.sum(F.when(F.col("hop") <= h, 1).otherwise(0)).alias(f"n_{h}hop")
        for h in range(1, hops)
    ] + [F.sum(F.lit(1)).alias(f"n_{hops}hop")]
    counts = disc.groupBy("seed").agg(*aggs)
    # a seed with zero discoveries (no out-edges / isolated) must still
    # report a (seed, 0, ..., 0) row — the groupBy alone would silently
    # drop it (r7 review; edge-derived seeds dodge this by construction)
    zeros = [
        F.coalesce(F.col(f"n_{h}hop"), F.lit(0).cast("long"))
        .alias(f"n_{h}hop")
        for h in range(1, hops + 1)
    ]
    return (
        seeds.select("seed")
        .distinct()
        .join(counts, "seed", "left")
        .select("seed", *zeros)
        .orderBy("seed")
    )


def ppr_masses(
    edges: DataFrame,
    seeds: DataFrame | None,
    n_iter: int = 5,
    total_mass: int = 1_000_000_000_000,
    dedupe_edges: bool = False,
    broadcast_node_limit: int = BROADCAST_NODE_ROW_LIMIT,
    symmetric_edges: bool = False,
    seed_pred=None,
) -> DataFrame:
    """(node, mass) after ``n_iter`` integer-exact PERSONALIZED PageRank
    rounds: all initial mass and every round's 15% teleport share land
    on the SEED set only (``seeds`` = a one-column (node) frame), so
    masses measure relevance *to the seeds* — the recommendation /
    entity-salience form of PageRank.

    Differs from :func:`pagerank_masses` in exactly one structural way:
    the teleport base is PER-NODE (seed or zero), so it joins onto the
    receiving side after each round's contribution aggregate instead of
    riding the sender rows — one extra node-sized broadcast join per
    round, gated by the same node-count limit.  Integer div keeps every
    round bit-exact on both engines.

    ``seed_pred`` (optional, a ``Column -> Column`` callable): when the
    seed set is definable as a predicate over node ids (the registry
    convention — e.g. ``node % 97 == 0``), the seed flag becomes a pure
    PROJECTION over the node frame instead of a distinct + left join
    against a caller-built seed frame, and (symmetric path) the caller
    no longer needs to persist its raw pair stream just to share it
    between the adjacency build and the seed derivation.  Semantically
    identical to passing ``seeds = nodes.filter(pred)``: the old left
    join also restricted seeds to graph nodes.  ``seeds`` is ignored
    (may be None) when ``seed_pred`` is given.

    r10 ONE-exchange symmetric build (same derivation as
    :func:`pagerank_masses`): under the both-ways promise the
    receiver-keyed adjacency is built directly with
    ``groupBy(dst).agg(collect_set(src))`` — ONE edge-sized exchange
    instead of two — and sender degrees ride the node-sized rank frame
    (``_deg = size(srcs)``) instead of edge-sized structs; the n-count
    and s_n waves fuse into ONE aggregate that also materializes the
    cache.  Bit-identical masses (tests/test_graph_salted.py).
    """
    if symmetric_edges:
        neigh_src = (
            F.collect_set("src") if dedupe_edges else F.collect_list("src")
        )
        in_adj = scoped_persist(
            edges.groupBy("dst").agg(neigh_src.alias("srcs"))
        )
        if seed_pred is not None:
            # pure projection over the cached keys — no join.  STILL
            # persisted: the per-round base projection must read a
            # NARROW node-sized cache, not re-scan the adjacency cache's
            # heavy srcs arrays once per round (the sf1 scale probe
            # measured ppr 4× pagerank without this persist; with it
            # the rounds touch 24 bytes/node instead of the edge-sized
            # array column)
            flagged = scoped_persist(
                in_adj.select(
                    F.col("dst").alias("node"),
                    F.size("srcs").cast("long").alias("_deg"),
                    seed_pred(F.col("dst")).alias("_is_seed"),
                )
            )
        else:
            seeds_d = seeds.select(
                F.col(seeds.columns[0]).alias("node")
            ).distinct()
            # no forced hint on the seed side: its size is the CALLER's
            # frame (unbounded by the node gate); AQE picks the strategy
            flagged = scoped_persist(
                in_adj.select(
                    F.col("dst").alias("node"),
                    F.size("srcs").cast("long").alias("_deg"),
                )
                .join(seeds_d.withColumn("_is_seed", F.lit(True)), "node", "left")
                .select(
                    "node",
                    "_deg",
                    F.coalesce(F.col("_is_seed"), F.lit(False)).alias("_is_seed"),
                )
            )
        # ONE wave: materializes the adjacency cache (and the flagged
        # cache when it exists) and returns N + s_n together — the old
        # shape paid an in_adj.count() job AND a flagged aggregate job
        row = flagged.agg(
            F.count("*").alias("_n"),
            F.sum(F.col("_is_seed").cast("long")).alias("_s"),
        ).first()
        n = row[0]
        if n == 0:
            raise ValueError("ppr_masses: empty edge list")
        s_n = row[1]
        if s_n == 0:
            raise ValueError("ppr_masses: no seed appears in the edge list")
        hint_ok = n <= broadcast_node_limit
        base = flagged.select(
            "node",
            "_deg",
            F.when(
                F.col("_is_seed"),
                F.lit(15 * total_mass // (100 * s_n)).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("_base"),
            F.when(
                F.col("_is_seed"), F.lit(total_mass // s_n).cast("long")
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("_init"),
        )
        ranks = base.select("node", "_deg", F.col("_init").alias("mass"))
        for _ in range(n_iter):
            ex = in_adj.select("dst", F.explode("srcs").alias("_s"))
            oshare = ranks.select(
                "node", F.expr("(85 * mass) div (100 * _deg)").alias("_c")
            )
            contrib = (
                ex.join(
                    F.broadcast(oshare) if hint_ok else oshare,
                    F.col("_s") == F.col("node"),
                )
                .groupBy("dst")
                .agg(F.sum("_c").alias("_in"))
            )
            # base LEFT join contrib: a node with no in-contributions
            # this round keeps its teleport share instead of vanishing
            ranks = (
                base.select("node", "_deg", "_base")
                .join(
                    F.broadcast(contrib) if hint_ok else contrib,
                    F.col("node") == F.col("dst"),
                    "left",
                )
                .select(
                    "node",
                    "_deg",
                    (
                        F.col("_base") + F.coalesce(F.col("_in"), F.lit(0))
                    ).alias("mass"),
                )
            )
            # lazy lineage truncation — each round re-references base
            # (see the directed path below for the O(rounds²) rationale)
            ranks = ranks.localCheckpoint(eager=False)
        return ranks.select("node", "mass")

    neigh = F.collect_set("dst") if dedupe_edges else F.collect_list("dst")
    out_adj = (
        edges.groupBy("src")
        .agg(neigh.alias("dsts"))
        .select("src", F.size("dsts").cast("long").alias("deg"), "dsts")
    )
    flat = out_adj.select("src", "deg", F.explode("dsts").alias("dst"))
    in_adj = scoped_persist(
        flat.groupBy("dst").agg(F.collect_list(F.struct("src", "deg")).alias("ins"))
    )
    n_adj_rows = in_adj.count()

    # src ∪ dst: a dst-only receiver must exist in the base frame or its
    # inbound mass silently vanishes at the round join; a src-only seed
    # must keep its teleport share (r7 review — on symmetric graphs the
    # union is a no-op, on directed inputs it is the correctness fix).
    # Derived FROM THE CACHED ADJACENCY (receivers = dst keys, senders =
    # exploded ins.src) and PERSISTED: the raw-edge formulation re-ran
    # the caller's full edge lineage once per consumer (n-count,
    # seed_nodes join, base join — three redundant edge builds per
    # query; guide §2.4), and without its own persist the cache-read
    # explode+distinct would still re-run per consumer.
    # (symmetric callers returned above on the one-exchange build; this
    # derivation serves directed edge streams)
    nodes = scoped_persist(
        in_adj.select(F.col("dst").alias("src"))
        .unionByName(
            in_adj.select(F.explode("ins").alias("_e")).select(
                F.col("_e.src").alias("src")
            )
        )
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("ppr_masses: empty edge list")
    hint_ok = max(n_adj_rows, n) <= broadcast_node_limit

    # One wave instead of three (r9 decomposition: the s_n count and
    # the base count were ~2.6 s + ~1.4 s of graph_ppr's wall while all
    # five ROUNDS took ~0.7 s): the seed flag attaches in-plan (left
    # join against the distinct seed keys — distinct is required, a
    # duplicated seed row would duplicate its node row), the flagged
    # frame persists, and ONE aggregate both materializes the cache and
    # returns s_n.  The per-node masses need s_n as a literal, so they
    # are projected lazily OVER the cached flag frame afterwards — a
    # node-sized cache-read projection per consumer, no third wave.
    if seed_pred is not None:
        flagged = scoped_persist(
            nodes.select(
                F.col("src").alias("node"),
                seed_pred(F.col("src")).alias("_is_seed"),
            )
        )
    else:
        seeds_d = seeds.select(
            F.col(seeds.columns[0]).alias("src")
        ).distinct()
        # no forced hint on the seed side: its size is the CALLER's frame
        # (unbounded by the node gate), and auto-broadcast/AQE already
        # picks the strategy from runtime stats — the old semi-join was
        # un-hinted for the same reason
        flagged = scoped_persist(
            nodes.join(
                seeds_d.withColumn("_is_seed", F.lit(True)),
                "src",
                "left",
            ).select(
                F.col("src").alias("node"),
                F.coalesce(F.col("_is_seed"), F.lit(False)).alias("_is_seed"),
            )
        )
    s_n = flagged.agg(
        F.sum(F.col("_is_seed").cast("long"))
    ).first()[0]
    if s_n == 0:
        raise ValueError("ppr_masses: no seed appears in the edge list")
    base = flagged.select(
        "node",
        F.when(
            F.col("_is_seed"),
            F.lit(15 * total_mass // (100 * s_n)).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("_base"),
        F.when(
            F.col("_is_seed"), F.lit(total_mass // s_n).cast("long")
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("_init"),
    )

    ranks = base.select("node", F.col("_init").alias("mass"))
    for _ in range(n_iter):
        ex = in_adj.select("dst", F.explode("ins").alias("_e")).select(
            "dst",
            F.col("_e.src").alias("_s"),
            F.col("_e.deg").alias("_d"),
        )
        contrib = (
            ex.join(
                F.broadcast(ranks) if hint_ok else ranks,
                F.col("_s") == F.col("node"),
            )
            .select("dst", F.expr("(85 * mass) div (100 * _d)").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        # base LEFT join contrib: a node with no in-contributions this
        # round (a src-only seed, an isolated receiver) keeps its
        # teleport share instead of vanishing (r7 review)
        ranks = (
            base.select("node", "_base")
            .join(
                F.broadcast(contrib) if hint_ok else contrib,
                F.col("node") == F.col("dst"),
                "left",
            )
            .select(
                "node",
                (
                    F.col("_base") + F.coalesce(F.col("_in"), F.lit(0))
                ).alias("mass"),
            )
        )
        # lazy lineage truncation (the connected_components discipline):
        # unlike uniform PR, each round here RE-references the cached
        # base frame, so the un-truncated logical plan re-prints base's
        # full child lineage per nesting level — O(rounds²) plan text
        # and analysis work for identical execution.  eager=False keeps
        # the loop free of driver actions.
        ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "mass")
