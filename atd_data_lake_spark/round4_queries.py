"""Round-4 query additions: data-engineering ops a 100 TB lake needs
daily, each a distinct PLAN SHAPE the engine must get right at scale.

- ``w3_percent_rank_cume`` — the remaining rank-family window
  functions (percent_rank / cume_dist / ntile);
- ``evt_gap_stats`` — inter-event gap distribution per user (lag +
  exact interpolated median on integer microseconds);
- ``text_top_bigrams`` — adjacent-pair heavy hitters entirely in JVM
  higher-order functions (no Python, one skew-absorbing agg).

The round's TPC-H shapes (q2/q4/q7/q8/q9/q11/q12/q16/q17/q20/q21/q22)
live in ``tpch_queries`` and its ``mb_copurchase_lift`` (with the shared
basket counting source) in ``basket_queries``; its ``dq_profile`` and
``dq_referential_orphans`` live in ``dq_queries``.  Time goes through integer epoch
microseconds, and a ratio that is inherently fractional is a single
floating division (not a float SUM) — both engines compute the same
IEEE double from the same exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


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
    "w3_percent_rank_cume": w3_percent_rank_cume,
    "evt_gap_stats": evt_gap_stats,
    "text_top_bigrams": text_top_bigrams,
    "cur_deterministic_shuffle": cur_deterministic_shuffle,
}

ROUND4_ORACLES = {
    "w3_percent_rank_cume": W3_SQL,
    "evt_gap_stats": EVT_GAP_STATS_SQL,
    "text_top_bigrams": TEXT_TOP_BIGRAMS_SQL,
    "cur_deterministic_shuffle": CUR_DETERMINISTIC_SHUFFLE_SQL,
}
