"""Market-basket mining: the family of every registry query named
``mb_*``, with its DuckDB oracle, and the one basket construction the
graph family and ``tools/scale_smoke.py`` also run on.

- ``mb_copurchase_lift`` — top-50 co-purchased part pairs with lift.
- ``mb_item_cf_topk`` — item-item cosine top-5 recommendations.
- ``mb_affinity_npmi`` — top-20 part pairs by normalized PMI.
- ``mb_sequential_rules`` — next-event transition rules per user.

Shared pieces, each written once: the basket frame (:func:`baskets`, one
sorted part-id array per order), the in-row pair generator
(:func:`basket_pairs`), the three counting slices over one basket
exchange (:func:`basket_count_slices`) and the oracles' basket CTE
(``BASKET_CTE``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t

# ---------------------------------------------------------------------------
# the basket frame and pair generator (Spark) and CTE (DuckDB)
# ---------------------------------------------------------------------------


def baskets(lineitem: DataFrame) -> DataFrame:
    """``(l_orderkey, parts)``: one sorted distinct part-id array per
    order, in ONE collect_set shuffle."""
    return lineitem.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )


def basket_pairs(
    baskets_df: DataFrame, names: tuple[str, str] = ("a", "b")
) -> DataFrame:
    """Co-purchase pairs ``lo < hi``, one row per basket holding both
    (NOT distinct), generated IN-ROW as posexplode(parts) ×
    slice(parts, i+2, …): generator + slice stay in whole-stage codegen
    (measured 1.6× faster than the equivalent nested ``transform``
    lambdas, which are interpreted per element), so candidate volume is
    Σ(basket size choose 2), bounded by the ~4-line TPC-H basket, never
    |lineitem|².  ``names`` labels the (lo, hi) columns."""
    lo, hi = names
    return baskets_df.select(
        "parts", F.posexplode("parts").alias("_i", lo)
    ).select(
        lo,
        F.explode(F.expr("slice(parts, _i + 2, size(parts))")).alias(hi),
    )


BASKET_CTE = """b AS (
    SELECT l_orderkey,
           list_sort(list_distinct(list(l_partkey))) AS parts
    FROM lineitem GROUP BY l_orderkey
)"""


def basket_count_slices(
    spark: SparkSession, sf_dir: str, symmetric: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared market-basket counting source: ``(pair_counts(a, b,
    n), per_part(a, n), n_orders(n))`` — three DIRECT aggregates over
    ONE shared basket subtree.

    One basket collect_set shuffle, shared by all three slices through
    AQE exchange reuse (the executed plans show ONE physical
    ``Exchange hashpartitioning(l_orderkey)`` plus ReusedExchange per
    consumer) — which is why all three derive from the SAME ``baskets``
    frame object.  Pairs come from :func:`basket_pairs`.

    Each slice is its own aggregate, not a filter of one union: Catalyst
    pushes a consumer's group-key filter into a union below the
    aggregate, so every consumer would re-evaluate all the branches
    (plans/r10/mb_*_executed.txt); the reuse comes from the identical
    scan+groupBy subtree, not from a union.  ``per_part``
    feeds two broadcast margin joins whose BroadcastExchanges the
    runtime does NOT deduplicate (executed plans show two separate
    BroadcastQueryStages) — it stays UN-persisted anyway, because a
    cache builds from its own plan in a separate sub-execution that
    cannot reuse the main query's basket exchange (see the inline
    comment below); two reduce-side slice rebuilds beat one extra
    corpus-sized shuffle.

    ``symmetric=True`` (the ``mb_item_cf_topk`` form) emits BOTH
    directions of every pair occurrence from the SAME generate chain
    (explode of a 2-struct array — the r9 shape re-ran the whole
    pair generation once per direction through a union) and
    pre-partitions the stream on ``a`` so the pair aggregate's
    hashpartitioning(a) also serves the per-item rank window downstream
    with no further exchange.

    Shared by ``mb_copurchase_lift``, ``mb_item_cf_topk`` and
    ``mb_affinity_npmi``."""
    b = baskets(_t(spark, sf_dir, "lineitem"))
    ordered = basket_pairs(b, ("_a", "_b"))
    if symmetric:
        pair_stream = ordered.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("_a").cast("long").alias("a"),
                        F.col("_b").cast("long").alias("b"),
                    ),
                    F.struct(
                        F.col("_b").cast("long").alias("a"),
                        F.col("_a").cast("long").alias("b"),
                    ),
                )
            ).alias("_p")
        ).select("_p.a", "_p.b")
        # hashpartitioning(a) satisfies the groupBy(a, b) clustering AND
        # a downstream partitionBy(a) window — one exchange for both
        pair_stream = pair_stream.repartition("a")
    else:
        pair_stream = ordered.select(
            F.col("_a").cast("long").alias("a"),
            F.col("_b").cast("long").alias("b"),
        )
    pair_counts = pair_stream.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("n")
    )
    # NO persist on per_part: a cache builds from its OWN plan in a
    # separate sub-execution, which re-runs the lineitem scan + basket
    # exchange instead of reusing the main query's (verified in the
    # executed plan: the InMemoryRelation build carried its own basket
    # Exchange).  Un-persisted, each margin broadcast re-derives the
    # slice through a ReusedExchange of the one basket shuffle — a
    # reduce-side explode+agg per consumer, vs a full extra corpus
    # shuffle at 100 TB for the cache.
    per_part = (
        b.select(F.explode("parts").alias("_a"))
        .groupBy(F.col("_a").cast("long").alias("a"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    n_orders = b.agg(F.count("*").cast("long").alias("n"))
    return pair_counts, per_part, n_orders


# ---------------------------------------------------------------------------
# mb_copurchase_lift — market-basket pair mining
# ---------------------------------------------------------------------------


def mb_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-purchased part pairs with support counts and lift.

    Plan: NO self-join — baskets collapse to a sorted part-id array in
    ONE shuffle (collect_set), then pairs are generated IN-ROW
    (:func:`basket_pairs`), so candidate volume is Σ(basket size
    choose 2), never |lineitem|².

    NO corpus-sized persist: AQE's exchange reuse materializes the one
    basket shuffle for all three slices (``basket_count_slices``) —
    shuffle-file re-reads give the persist's reuse for free, on disk,
    without pinning a multi-TB intermediate in executor memory at
    100 TB; the per-part margin frame is double-broadcast and
    deliberately NOT persisted, so this query holds no cache.
    Lift is one IEEE division of exact bigint counts (identical both
    engines): lift = n_pair · n_orders / (n_a · n_b)."""
    pair_counts, per_part_n, n_orders_1 = basket_count_slices(spark, sf_dir)
    n_orders = n_orders_1.select(F.col("n").alias("n_orders"))
    per_part = per_part_n.select(
        F.col("a").alias("pk"), F.col("n").alias("n_part")
    )
    pairs = pair_counts.select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("n").alias("n_pair"),
    )
    return (
        pairs.join(
            F.broadcast(per_part.select(F.col("pk"), F.col("n_part").alias("n_a"))),
            F.col("part_a") == F.col("pk"),
        )
        .drop("pk")
        .join(
            F.broadcast(per_part.select(F.col("pk"), F.col("n_part").alias("n_b"))),
            F.col("part_b") == F.col("pk"),
        )
        .drop("pk")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_pair") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), "part_a", "part_b")
        .limit(50)
    )


MB_COPURCHASE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
per_part AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part FROM li GROUP BY 1),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_pair, pa.n_part AS n_a, pb.n_part AS n_b,
       round(CAST(n_pair * n.n_orders AS DOUBLE)
             / CAST(pa.n_part * pb.n_part AS DOUBLE), 6) AS lift
FROM pairs
JOIN per_part pa ON part_a = pa.l_partkey
JOIN per_part pb ON part_b = pb.l_partkey, n
ORDER BY n_pair DESC, part_a, part_b
LIMIT 50
"""


# ---------------------------------------------------------------------------
# mb_item_cf_topk
# ---------------------------------------------------------------------------

_CF_K = 5


def mb_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 item-item cosine recommendations per part.

    100 TB shape: baskets collapse in ONE lineitem shuffle, pairs
    generate in-row (Σ basket² bounded by the ~4-line basket, never
    |lineitem|²); the rank window runs over pair rows (∝ co-occurrence,
    not catalog²).  Cosine = one IEEE divide-by-correctly-rounded-sqrt
    of exact bigint counts — engine-exact.

    r9 single-exchange rewrite (guide §2.4 "two operations keyed the
    same way can share one exchange"; A/B 3.41 → 2.50 s min-of-4,
    results bit-identical): the pair stream is symmetrized AT SOURCE
    and explicitly repartitioned on ``a`` — hashpartitioning(a)
    satisfies the ``groupBy(a, b)`` clustering requirement AND the rank
    window's ``partitionBy(part_a)``, so the aggregate and the window
    share ONE pair-slice exchange with no persist barrier.  The trade:
    that exchange carries raw pair occurrences (no map-side combine)
    and hashes on ``a`` alone — a mega-popular part skews it, but that
    same key already skewed the old window exchange, so the skew
    profile is unchanged while the exchange count drops.  Both pair
    directions come from ONE generate chain and the margins are their
    own un-persisted slice (``basket_count_slices``, ``symmetric=True``).
    """
    counts, per_part_n, _ = basket_count_slices(spark, sf_dir, symmetric=True)
    per_part = per_part_n.select(
        F.col("a").alias("pk"), F.col("n").alias("n_part")
    )
    # both directions already counted — this IS the symmetrized frame
    sym = counts.select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("n").alias("n_pair"),
    )
    scored = (
        sym.join(F.broadcast(per_part), F.col("part_a") == F.col("pk"))
        .withColumnRenamed("n_part", "n_a")
        .drop("pk")
        .join(F.broadcast(per_part), F.col("part_b") == F.col("pk"))
        .withColumnRenamed("n_part", "n_b")
        .drop("pk")
        .select(
            "part_a",
            "part_b",
            "n_pair",
            F.round(
                F.col("n_pair")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.col("cos_sim").desc(), F.col("part_b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CF_K)
        .select(
            F.col("part_a").alias("part"),
            F.col("part_b").alias("rec"),
            "n_pair",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("part", "rank")
    )


MB_ITEM_CF_TOPK_SQL = f"""
WITH baskets AS (
    SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
    FROM lineitem GROUP BY l_orderkey
),
pairs_raw AS (
    SELECT parts[i] AS a, parts[j] AS b
    FROM baskets,
         LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i) ii,
         LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS j) jj
    WHERE i < j
),
pair_counts AS (
    SELECT a, b, count(*) AS n_pair FROM pairs_raw GROUP BY a, b
),
per_part AS (
    SELECT part, count(*) AS n_part FROM (
        SELECT l_orderkey, unnest(parts) AS part FROM baskets
    ) GROUP BY part
),
sym AS (
    SELECT a AS part_a, b AS part_b, n_pair FROM pair_counts
    UNION ALL
    SELECT b, a, n_pair FROM pair_counts
),
scored AS (
    SELECT s.part_a, s.part_b, s.n_pair,
           round(s.n_pair / sqrt(CAST(pa.n_part * pb.n_part AS DOUBLE)), 6)
               AS cos_sim
    FROM sym s
    JOIN per_part pa ON pa.part = s.part_a
    JOIN per_part pb ON pb.part = s.part_b
),
ranked AS (
    SELECT part_a, part_b, n_pair, cos_sim,
           row_number() OVER (PARTITION BY part_a
               ORDER BY cos_sim DESC, part_b ASC) AS rank
    FROM scored
)
SELECT part_a AS part, part_b AS rec, CAST(n_pair AS BIGINT) AS n_pair,
       cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_CF_K}
ORDER BY part, rank
"""


# ---------------------------------------------------------------------------
# mb_sequential_rules — next-event transition rules
# ---------------------------------------------------------------------------


def mb_sequential_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential association rules over per-user event streams:
    consecutive (prev_type → next_type) transitions ordered by
    (ts, event_id), with support and confidence — the market-basket
    family's temporal cousin (``mb_copurchase_lift`` without the
    order-blindness).

    100 TB shape: ONE per-user window (lead over the user's timeline —
    the sessionize exchange) feeds one map-side-combined pair count;
    confidence joins the ≤|types|² pair frame against its ≤|types|
    margin (broadcast).  Ties broken by event_id so both engines see
    the identical sequence.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    margin = trans.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("n_prev")
    )
    return (
        trans.join(F.broadcast(margin), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("n_prev"), 6).alias("confidence"),
        )
        .orderBy("prev_type", "next_type")
    )


MB_SEQUENTIAL_RULES_SQL = """
WITH seq AS (
    SELECT event_type AS prev_type,
           lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type
    FROM events
),
trans AS (
    SELECT prev_type, next_type, count(*) AS n
    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
),
margin AS (SELECT prev_type, sum(n) AS n_prev FROM trans GROUP BY 1)
SELECT t.prev_type, t.next_type, CAST(t.n AS BIGINT) AS n,
       round(t.n / CAST(m.n_prev AS DOUBLE), 6) AS confidence
FROM trans t JOIN margin m USING (prev_type)
ORDER BY prev_type, next_type
"""


# ---------------------------------------------------------------------------
# mb_affinity_npmi — normalized pointwise mutual information
# ---------------------------------------------------------------------------

NPMI_MIN_N = 5


def mb_affinity_npmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs by NORMALIZED PMI over basket co-occurrence:
    npmi = ln(p(a,b)/(p(a)p(b))) / −ln(p(a,b)) ∈ [−1, 1] — the
    association measure that, unlike raw lift (``mb_copurchase_lift``),
    is comparable across support levels.  Pairs with co-count <
    ``NPMI_MIN_N`` are dropped (PMI is noise at tiny support).

    Engine-exactness: probabilities are exact count ratios under one
    fixed parenthesization; npmi rounded to 6 dp, ties broken (a, b).

    100 TB shape: identical to the copurchase counting shape
    (``basket_count_slices``) — baskets collapse in one lineitem
    shuffle, pair counts map-side-combine, and n_baskets rides as a
    1-row broadcast crossJoin beside the broadcast per-part margins: one
    job, no corpus persist, no driver action.
    """
    pair_counts, per_part_n, n_orders_1 = basket_count_slices(spark, sf_dir)
    n_baskets = n_orders_1.select(F.col("n").alias("n_baskets"))
    part_n = per_part_n.select(
        F.col("a").alias("pk"), F.col("n").alias("n_p")
    )
    pair_n = pair_counts.select(
        "a", "b", F.col("n").alias("n_ab")
    ).filter(F.col("n_ab") >= NPMI_MIN_N)
    nb = F.col("n_baskets").cast("double")
    p_ab = F.col("n_ab") / nb
    npmi = F.round(
        F.log(p_ab / ((F.col("n_a") / nb) * (F.col("n_b") / nb)))
        / -F.log(p_ab),
        6,
    )
    # both margin joins broadcast the un-persisted margin frame (see
    # basket_count_slices): each build re-runs the reduce-side slice
    pn = F.broadcast(part_n)
    return (
        pair_n.join(pn, F.col("a") == F.col("pk"))
        .withColumnRenamed("n_p", "n_a")
        .drop("pk")
        .join(pn, F.col("b") == F.col("pk"))
        .withColumnRenamed("n_p", "n_b")
        .drop("pk")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "a",
            "b",
            F.col("n_ab").cast("long").alias("n_ab"),
            npmi.alias("npmi"),
        )
        .orderBy(F.col("npmi").desc(), "a", "b")
        .limit(20)
    )


MB_AFFINITY_NPMI_SQL = f"""
WITH {BASKET_CTE},
nb AS (SELECT count(*) AS n FROM b),
pairs AS (
    SELECT t1.a, t2.b, count(*) AS n_ab
    FROM b, UNNEST(b.parts) t1(a), UNNEST(b.parts) t2(b)
    WHERE t1.a < t2.b
    GROUP BY 1, 2
    HAVING count(*) >= {NPMI_MIN_N}
),
pn AS (
    SELECT p, count(*) AS n_p
    FROM (SELECT l_orderkey, unnest(parts) AS p FROM b)
    GROUP BY p
)
SELECT pr.a, pr.b, CAST(pr.n_ab AS BIGINT) AS n_ab,
       round(ln((pr.n_ab / CAST(nb.n AS DOUBLE))
             / ((pa.n_p / CAST(nb.n AS DOUBLE))
                * (pb.n_p / CAST(nb.n AS DOUBLE))))
             / -ln(pr.n_ab / CAST(nb.n AS DOUBLE)), 6) AS npmi
FROM pairs pr
JOIN pn pa ON pa.p = pr.a
JOIN pn pb ON pb.p = pr.b, nb
ORDER BY npmi DESC, pr.a, pr.b
LIMIT 20
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

BASKET_QUERIES = {
    "mb_copurchase_lift": mb_copurchase_lift,
    "mb_item_cf_topk": mb_item_cf_topk,
    "mb_sequential_rules": mb_sequential_rules,
    "mb_affinity_npmi": mb_affinity_npmi,
}

BASKET_ORACLES = {
    "mb_copurchase_lift": MB_COPURCHASE_SQL,
    "mb_item_cf_topk": MB_ITEM_CF_TOPK_SQL,
    "mb_sequential_rules": MB_SEQUENTIAL_RULES_SQL,
    "mb_affinity_npmi": MB_AFFINITY_NPMI_SQL,
}
