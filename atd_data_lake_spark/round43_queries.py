"""Round-43 query additions — order-statistics sketches on the same
exactly-reproducible md5 hashing as round 42's Bloom/count-min.

- ``agg_kmv_distinct`` — K-minimum-values distinct-count sketch
  (Bar-Yossef et al. RANDOM'02; the Theta-sketch core): per group keep
  the k smallest normalized hash values of the key; the (k)th smallest
  u_(k) estimates |D| ≈ (k−1)/u_(k).  The k-min SET is the mergeable
  artifact — the k smallest of a union of per-group k-min sets IS the
  k-min set of the union (proved in tests), so per-shard/per-day rows
  roll up exactly like the HLL/DDSketch/CMS rows.  Where
  ``evt_rolling_active_hll`` is rows-only (HLL++ register encoding is
  engine-internal), KMV's entire state is k plain integers — both
  engines compute the identical sketch, so even the ESTIMATES
  value-hash match.  Output keeps est vs exact side by side.
- ``cur_weighted_reservoir`` — exact-size-k weighted sampling without
  replacement (Efraimidis–Spirakis '06): each doc draws u ∈ (0,1] from
  its own md5 hash and scores key = ln(u)/w (take the k LARGEST —
  equivalent to u^{1/w} max-k); the top-k by key is a weighted sample
  where P(doc first) = w_i/Σw.  Deterministic u makes the draw
  reproducible across engines AND across reruns/retries — the property
  a distributed sampler actually needs (a task retry must not change
  the sample).  Spark plans orderBy+limit as TakeOrdered: per-partition
  partial top-k, no global sort shuffle.

100 TB shapes: both collapse the corpus in one pass — KMV via a
map-side-combined distinct + per-group bounded top-k window (state = k
longs per group); the reservoir via TakeOrdered (k rows per partition
cross the wire).  Float caveat (the round-41 ln() argument): ln is
correctly-rounded-close in both engines and keys are continuous-hash
spread, so a 1-ulp divergence would need two keys within ~1e-15 —
ruled out on this corpus by the multi-SF parity sweeps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


_KMV_K = 64
_H60 = "CAST(conv(substring(md5(CAST({key} AS STRING)), 1, 15), 16, 10) AS BIGINT)"
_TWO60 = float(1 << 60)


def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event_type plus the MERGED 'ALL'
    scope built from the per-type k-min sets (never from raw events —
    the rollup path a stored per-shard sketch gives you).  When a scope
    holds fewer than k distinct hashes the sketch IS the exact set and
    the estimate equals the exact count."""
    ev = _t(spark, sf_dir, "events")
    h = F.expr(_H60.format(key="user_id"))
    hashes = (
        ev.select("event_type", h.alias("h"))
        .distinct()  # KMV is a set sketch: duplicates never count
    )
    w = Window.partitionBy("event_type").orderBy("h")
    kmin = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )
    # merged scope: k smallest of the union of per-type k-min sets ==
    # k smallest of the union of the full sets (min-closure; tested)
    merged = (
        kmin.select("h")
        .distinct()
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("h"))
        )
        .filter(F.col("rn") <= _KMV_K)
        .withColumn("event_type", F.lit("ALL"))
    )
    both = kmin.select("event_type", "h", "rn").unionByName(
        merged.select("event_type", "h", "rn")
    )
    sk = both.groupBy("event_type").agg(
        F.count("*").alias("n_kept"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("h_k"),
    )
    est = F.when(
        (F.col("n_kept") < _KMV_K) | (F.col("h_k") <= 0),
        F.col("n_kept").cast("double"),
    ).otherwise(
        (F.lit(_KMV_K - 1) * F.lit(_TWO60)) / F.col("h_k").cast("double")
    )
    exact_t = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    exact_all = ev.agg(
        F.countDistinct("user_id").alias("exact_distinct")
    ).withColumn("event_type", F.lit("ALL"))
    exact = exact_t.unionByName(exact_all.select("event_type", "exact_distinct"))
    return (
        sk.join(exact, "event_type")
        .select(
            F.col("event_type").alias("scope"),
            F.round(est, 4).alias("est_distinct"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
        )
        .orderBy("scope")
    )


AGG_KMV_DISTINCT_SQL = f"""
WITH hashes AS (
    SELECT DISTINCT event_type,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
               AS BIGINT) AS h
    FROM events
),
kmin AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hashes
    QUALIFY rn <= {_KMV_K}
),
merged AS (
    SELECT 'ALL' AS event_type, h,
           row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM kmin)
    QUALIFY rn <= {_KMV_K}
),
unioned AS (
    SELECT event_type, h, rn FROM kmin
    UNION ALL
    SELECT event_type, h, rn FROM merged
),
sk AS (
    SELECT event_type, count(*) AS n_kept,
           max(CASE WHEN rn = {_KMV_K} THEN h END) AS h_k
    FROM unioned GROUP BY 1
),
ex AS (
    SELECT event_type, count(DISTINCT user_id) AS exact_distinct
    FROM events GROUP BY 1
    UNION ALL
    SELECT 'ALL', count(DISTINCT user_id) FROM events
)
SELECT sk.event_type AS scope,
       round(CASE WHEN sk.n_kept < {_KMV_K} OR sk.h_k <= 0
                  THEN CAST(sk.n_kept AS DOUBLE)
                  ELSE ({_KMV_K - 1} * {_TWO60!r}) / CAST(sk.h_k AS DOUBLE)
             END, 4) AS est_distinct,
       CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
FROM sk JOIN ex ON sk.event_type = ex.event_type
ORDER BY scope
"""


_RES_K = 50


def cur_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted k-sample of documents, weight =
    n_chars: key_i = ln(u_i)/w_i with u_i = (h_i + 1)/2⁶⁰ from the
    doc's md5 hash, keep the k largest keys.  Deterministic-by-hash ⇒
    rerun/retry-stable and oracle-reproducible; heavier docs win
    proportionally more often, the standard one-pass distributed
    weighted sampler."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.expr(_H60.format(key="doc_id"))
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        (
            F.log((h.cast("double") + F.lit(1.0)) / F.lit(_TWO60))
            / F.col("n_chars").cast("double")
        ).alias("_key"),
    )
    # final presentation order uses the UNROUNDED key, exactly like the
    # oracle's ORDER BY (ADVICE r8: ordering by the 9-dp-rounded
    # sample_key could emit two near-tied rows in a different order
    # than DuckDB; the verify harness sorts rows, but the contract
    # shouldn't lean on that)
    return (
        scored.orderBy(F.col("_key").desc(), F.col("doc_id"))
        .limit(_RES_K)
        .select(
            "doc_id",
            "weight",
            F.round("_key", 9).alias("sample_key"),
            F.col("_key").alias("_order_key"),
        )
        .orderBy(F.col("_order_key").desc(), F.col("doc_id"))
        .drop("_order_key")
    )


CUR_WEIGHTED_RESERVOIR_SQL = f"""
WITH scored AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                    AS BIGINT) + 1.0) / {_TWO60!r})
             / CAST(n_chars AS DOUBLE) AS key
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, weight, round(key, 9) AS sample_key
FROM scored
ORDER BY key DESC, doc_id
LIMIT {_RES_K}
"""


ROUND43_QUERIES = {
    "agg_kmv_distinct": agg_kmv_distinct,
    "cur_weighted_reservoir": cur_weighted_reservoir,
}

ROUND43_ORACLES = {
    "agg_kmv_distinct": AGG_KMV_DISTINCT_SQL,
    "cur_weighted_reservoir": CUR_WEIGHTED_RESERVOIR_SQL,
}
