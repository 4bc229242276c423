"""Round-4 query additions: data-engineering ops a 100 TB lake needs
daily, each a distinct PLAN SHAPE the engine must get right at scale.

- ``dq_profile`` — one-pass multi-column profile (nulls, exact
  distincts, min/max) unpivoted to (column, metric) rows;
- ``dq_referential_orphans`` — FK integrity sweep via broadcast
  anti-joins, one scan per fact table;
- ``mb_copurchase_lift`` — market-basket pair mining: the per-basket
  self-join whose output is bounded by (items/basket)², never
  |lineitem|²;
- ``w3_percent_rank_cume`` — the remaining rank-family window
  functions (percent_rank / cume_dist / ntile);
- ``evt_gap_stats`` — inter-event gap distribution per user (lag +
  exact interpolated median on integer microseconds);
- ``text_top_bigrams`` — adjacent-pair heavy hitters entirely in JVM
  higher-order functions (no Python, one skew-absorbing agg).

The round's TPC-H shapes (q2/q4/q7/q8/q9/q11/q12/q16/q17/q20/q21/q22)
live in ``tpch_queries``.  Time goes through integer epoch
microseconds, and a ratio that is inherently fractional is a single
floating division (not a float SUM) — both engines compute the same
IEEE double from the same exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# dq_profile — one-pass multi-column data profile
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate"]


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile sweep over lineitem: null count, EXACT distinct
    count, min and max (stringified) for each audited column — the
    daily data-quality report a lake runs per table.

    Plan: one 1-COLUMN aggregate per audited column, unioned.  The
    tempting alternative — a single agg with N countDistinct calls —
    makes Catalyst Expand every row N+1 times (one replica per
    distinct-aggregate grouping), which measured 8× SLOWER at sf0.1
    (19.3 s vs 2.5 s).  Per-column branches each scan ONLY their column
    (parquet is columnar: total I/O equals one full-width scan), each
    runs an independent 2-phase agg, and they execute concurrently —
    this is the shape that survives a 100 TB table."""
    li = _t(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            li.select(c).agg(
                F.lit(c).alias("column_name"),
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(F.col(c).cast("string")).alias("min_value"),
                F.max(F.col(c).cast("string")).alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


DQ_PROFILE_SQL = """
WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
SELECT column_name, n.n_rows AS n_rows, m.n_nulls, m.n_distinct,
       m.min_value, m.max_value
FROM (
  SELECT 'l_quantity' AS column_name,
         CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
         min(CAST(l_quantity AS VARCHAR)) AS min_value,
         max(CAST(l_quantity AS VARCHAR)) AS max_value
  FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice',
         CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT l_extendedprice) AS BIGINT),
         min(CAST(l_extendedprice AS VARCHAR)), max(CAST(l_extendedprice AS VARCHAR))
  FROM lineitem
  UNION ALL
  SELECT 'l_discount',
         CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT l_discount) AS BIGINT),
         min(CAST(l_discount AS VARCHAR)), max(CAST(l_discount AS VARCHAR))
  FROM lineitem
  UNION ALL
  SELECT 'l_returnflag',
         CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT l_returnflag) AS BIGINT),
         min(l_returnflag), max(l_returnflag)
  FROM lineitem
  UNION ALL
  SELECT 'l_shipdate',
         CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT l_shipdate) AS BIGINT),
         min(CAST(l_shipdate AS VARCHAR)), max(CAST(l_shipdate AS VARCHAR))
  FROM lineitem
) m, n
ORDER BY column_name
"""


# ---------------------------------------------------------------------------
# dq_referential_orphans — FK integrity sweep
# ---------------------------------------------------------------------------


def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned-FK row counts for every
    fact→dimension edge in the schema, one row per relation.

    Plan: each check is a LEFT ANTI join; dimension key sets broadcast
    (they are the small side by construction), so each fact table is
    scanned once with only its FK column read."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    checks = [
        ("lineitem.l_orderkey -> orders", li.select(F.col("l_orderkey").alias("fk")),
         o.select(F.col("o_orderkey").alias("pk"))),
        ("lineitem.l_partkey -> part", li.select(F.col("l_partkey").alias("fk")),
         _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("pk"))),
        ("lineitem.l_suppkey -> supplier", li.select(F.col("l_suppkey").alias("fk")),
         _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("pk"))),
        ("orders.o_custkey -> customer", o.select(F.col("o_custkey").alias("fk")),
         _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("pk"))),
    ]
    spark_parts = []
    for name, fact, dim in checks:
        orphans = fact.join(F.broadcast(dim), F.col("fk") == F.col("pk"), "left_anti")
        spark_parts.append(
            orphans.agg(
                F.lit(name).alias("relation"),
                F.count("*").cast("long").alias("n_orphans"),
            )
        )
    out = spark_parts[0]
    for part_df in spark_parts[1:]:
        out = out.unionByName(part_df)
    return out.orderBy("relation")


DQ_ORPHANS_SQL = """
SELECT relation, n_orphans FROM (
  SELECT 'lineitem.l_orderkey -> orders' AS relation,
         CAST(count(*) AS BIGINT) AS n_orphans
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
  UNION ALL
  SELECT 'lineitem.l_partkey -> part',
         CAST(count(*) AS BIGINT)
  FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
  UNION ALL
  SELECT 'lineitem.l_suppkey -> supplier',
         CAST(count(*) AS BIGINT)
  FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
  UNION ALL
  SELECT 'orders.o_custkey -> customer',
         CAST(count(*) AS BIGINT)
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
)
ORDER BY relation
"""


# ---------------------------------------------------------------------------
# mb_copurchase_lift — market-basket pair mining
# ---------------------------------------------------------------------------


def basket_count_slices(
    spark: SparkSession, sf_dir: str, symmetric: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared market-basket counting source: ``(pair_counts(a, b,
    n), per_part(a, n), n_orders(n))`` — three DIRECT aggregates over
    ONE shared basket subtree.

    One basket collect_set shuffle, shared by all three slices through
    AQE exchange reuse (the executed plans show ONE physical
    ``Exchange hashpartitioning(l_orderkey)`` plus ReusedExchange per
    consumer).  Pairs generate IN-ROW as posexplode(parts) ×
    slice(parts, i+2, …) (generator + slice stay in whole-stage codegen
    — measured 1.6× faster than the equivalent nested ``transform``
    lambdas, which are interpreted per element), so candidate volume is
    Σ(basket size choose 2), bounded by the ~4-line TPC-H basket, never
    |lineitem|².

    r10 rewrite of the r9 3-way-union-with-sentinels shape: the union
    promised "one groupBy serves all three consumers", but the EXECUTED
    plans (plans/r10/mb_*_executed.txt) show Catalyst pushing each
    consumer's group-key filter into the union below the aggregate, so
    the three slice exchanges were never reused — each consumer
    re-evaluated ALL THREE branches (9 reduce-side basket aggregates
    and 4 fully-discarded pair generations per query) just to keep rows
    it then filtered out.  Computing each disjoint slice directly does
    strictly less work per consumer while the shared basket exchange
    still materializes once (guide §2.4 — the reuse comes from the
    identical SCAN+groupBy subtree, not from the union).  ``per_part``
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

    Shared by ``mb_copurchase_lift``, ``mb_item_cf_topk`` (round 38) and
    ``mb_affinity_npmi`` (round 46) — one definition of the pair
    generator (r9 review finding: three copies risked silent
    divergence)."""
    baskets = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    ordered = baskets.select(
        "parts", F.posexplode("parts").alias("_i", "_a")
    ).select(
        "_a",
        F.explode(F.expr("slice(parts, _i + 2, size(parts))")).alias("_b"),
    )
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
        baskets.select(F.explode("parts").alias("_a"))
        .groupBy(F.col("_a").cast("long").alias("a"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    n_orders = baskets.agg(F.count("*").cast("long").alias("n"))
    return pair_counts, per_part, n_orders


def mb_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-purchased part pairs with support counts and lift.

    Plan: NO self-join — baskets collapse to a sorted part-id array in
    ONE shuffle (collect_set), then pairs are generated IN-ROW as
    posexplode(parts) × slice(parts, i+2, …) — generator + slice stay
    in whole-stage codegen (measured 1.6× faster at sf0.1 than the
    equivalent nested ``transform`` lambdas, which are interpreted
    per-element) — so candidate volume is Σ(basket size choose 2),
    bounded by the ~4-line TPC-H basket, never |lineitem|².

    NO corpus-sized persist: the three slices derive from ONE baskets
    groupBy and AQE's exchange reuse materializes that lineitem shuffle
    once (verified in the EXECUTED plan: one
    ``Exchange hashpartitioning(l_orderkey)`` plus ReusedExchange
    wrappers) — shuffle-file re-reads give the persist's reuse for
    free, on disk, without pinning a multi-TB intermediate in executor
    memory at 100 TB.  The r9→r10 slice rewrite is documented on
    ``basket_count_slices`` (each consumer now computes only ITS slice
    instead of re-evaluating all three union branches; the catalog-sized
    per-part margin frame is double-broadcast and deliberately NOT
    persisted, so this query holds no cache).
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
# w3 — rank-family windows: percent_rank / cume_dist / ntile
# ---------------------------------------------------------------------------


def w3_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family window functions over customers,
    partitioned by market segment: percent_rank, cume_dist, ntile(10).

    The window order includes the unique key (c_custkey) so ranks are
    total-order deterministic; the fractional ranks are integer-ratio
    IEEE doubles — identical in both engines."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 9).alias("cume"),
            F.ntile(10).over(w).cast("long").alias("decile"),
        )
        .filter(F.col("decile").isin(1, 10))
        .orderBy("c_mktsegment", "c_custkey")
    )


W3_SQL = """
SELECT * FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         round(percent_rank() OVER w, 9) AS pct_rank,
         round(cume_dist() OVER w, 9) AS cume,
         CAST(ntile(10) OVER w AS BIGINT) AS decile
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
)
WHERE decile IN (1, 10)
ORDER BY c_mktsegment, c_custkey
"""


# ---------------------------------------------------------------------------
# evt_gap_stats — inter-event gap distribution per user
# ---------------------------------------------------------------------------


def evt_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics: count, min/max (whole
    seconds), mean (3 dp) and exact interpolated median of the gaps.

    All gap arithmetic is integer epoch-microseconds (lag over the
    per-user window); the median is Spark's exact percentile() on
    bigints — the same (a+b)/2 interpolation DuckDB's quantile_cont
    uses, so the doubles match bit-for-bit."""
    from atd_data_lake_spark.functions.datetime_fns import as_instant

    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(as_instant(e, "ts"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        e.select("user_id", us.alias("ts_us"), "event_id")
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            (F.min("gap_us") / F.lit(1000000)).cast("long").alias("min_gap_s"),
            (F.max("gap_us") / F.lit(1000000)).cast("long").alias("max_gap_s"),
            F.round(F.sum("gap_us") / F.count("*") / 1e6, 3).alias("mean_gap_s"),
            F.round(F.expr("percentile(gap_us, 0.5)") / 1e6, 3).alias("median_gap_s"),
        )
        .filter(F.col("n_gaps") >= 5)
        .orderBy("user_id")
    )


EVT_GAP_STATS_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_us) // 1000000 AS BIGINT) AS min_gap_s,
       CAST(max(gap_us) // 1000000 AS BIGINT) AS max_gap_s,
       round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1e6, 3) AS mean_gap_s,
       round(quantile_cont(gap_us, 0.5) / 1e6, 3) AS median_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id
HAVING count(*) >= 5
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# text_top_bigrams — adjacent-pair heavy hitters, zero Python
# ---------------------------------------------------------------------------


def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 corpus bigrams (adjacent token pairs) with collection and
    document frequency — entirely in JVM higher-order functions
    (split → transform over an index sequence → explode), no Python
    stage.  The stopword-skew shape: partial aggregation absorbs the
    hot bigrams map-side before the single shuffle."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1),"
        " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
    )
    return (
        d.select(F.col("doc_id"), toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(40)
    )


TEXT_TOP_BIGRAMS_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
b AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
)
SELECT bigram,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM b
GROUP BY bigram
ORDER BY n_occurrences DESC, bigram
LIMIT 40
"""


# ---------------------------------------------------------------------------
# cur_deterministic_shuffle — reproducible global training order
# ---------------------------------------------------------------------------


def cur_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded pseudo-random global ordering of the corpus
    (operators/ordering.py deterministic_shuffle): md5(key:seed) sort
    key, rank composed from 256 hash-range buckets + broadcast offsets
    — one data shuffle, no single-partition window, identical result
    under any partitioning (invariance-suite-enforced).  The oracle is
    the textbook single-window form the operator refuses to run."""
    from atd_data_lake_spark.operators.ordering import deterministic_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return deterministic_shuffle(d, key_col="doc_id", seed=42).select(
        "doc_id", "source", "shuffle_rank"
    )


CUR_DETERMINISTIC_SHUFFLE_SQL = """
SELECT doc_id, source,
       CAST(row_number() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')) AS BIGINT)
         AS shuffle_rank
FROM documents
"""


ROUND4_QUERIES = {
    "dq_profile": dq_profile,
    "dq_referential_orphans": dq_referential_orphans,
    "mb_copurchase_lift": mb_copurchase_lift,
    "w3_percent_rank_cume": w3_percent_rank_cume,
    "evt_gap_stats": evt_gap_stats,
    "text_top_bigrams": text_top_bigrams,
    "cur_deterministic_shuffle": cur_deterministic_shuffle,
}

ROUND4_ORACLES = {
    "dq_profile": DQ_PROFILE_SQL,
    "dq_referential_orphans": DQ_ORPHANS_SQL,
    "mb_copurchase_lift": MB_COPURCHASE_SQL,
    "w3_percent_rank_cume": W3_SQL,
    "evt_gap_stats": EVT_GAP_STATS_SQL,
    "text_top_bigrams": TEXT_TOP_BIGRAMS_SQL,
    "cur_deterministic_shuffle": CUR_DETERMINISTIC_SHUFFLE_SQL,
}
