"""Round-4 query additions: data-engineering ops a 100 TB lake needs
daily, each a distinct PLAN SHAPE the engine must get right at scale.

- ``dq_profile`` — one-pass multi-column profile (nulls, exact
  distincts, min/max) unpivoted to (column, metric) rows;
- ``dq_referential_orphans`` — FK integrity sweep via broadcast
  anti-joins, one scan per fact table;
- ``w3_percent_rank_cume`` — the remaining rank-family window
  functions (percent_rank / cume_dist / ntile);
- ``evt_gap_stats`` — inter-event gap distribution per user (lag +
  exact interpolated median on integer microseconds);
- ``text_top_bigrams`` — adjacent-pair heavy hitters entirely in JVM
  higher-order functions (no Python, one skew-absorbing agg).

The round's TPC-H shapes (q2/q4/q7/q8/q9/q11/q12/q16/q17/q20/q21/q22)
live in ``tpch_queries`` and its ``mb_copurchase_lift`` (with the shared
basket counting source) in ``basket_queries``.  Time goes through integer epoch
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
    "w3_percent_rank_cume": w3_percent_rank_cume,
    "evt_gap_stats": evt_gap_stats,
    "text_top_bigrams": text_top_bigrams,
    "cur_deterministic_shuffle": cur_deterministic_shuffle,
}

ROUND4_ORACLES = {
    "dq_profile": DQ_PROFILE_SQL,
    "dq_referential_orphans": DQ_ORPHANS_SQL,
    "w3_percent_rank_cume": W3_SQL,
    "evt_gap_stats": EVT_GAP_STATS_SQL,
    "text_top_bigrams": TEXT_TOP_BIGRAMS_SQL,
    "cur_deterministic_shuffle": CUR_DETERMINISTIC_SHUFFLE_SQL,
}
