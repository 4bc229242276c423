"""Round-8 query additions: leakage-safe splitting, interval-union
coverage, and token-entropy quality scoring.

- ``cur_leakage_safe_split`` — train/val/test assignment that hashes the
  NEAR-DUP CLUSTER id, not the document id: every member of a near-dup
  cluster lands in the same split, so no near-duplicate of a training
  document can leak into eval (the contamination mode a plain per-doc
  split cannot prevent).  Composes the engine's own cluster machinery
  (n-gram Jaccard pairs → connected components) with the deterministic
  md5-bucket split.
- ``evt_interval_coverage`` — per-entity union of overlapping time
  intervals (gaps-and-islands merge) → covered seconds, interval and
  island counts.  The SLA/uptime/sensor-coverage primitive; µs-integer
  arithmetic end to end, so the merge is exact on both engines.
- ``text_token_entropy`` — per-document Shannon entropy of the token
  distribution (gibberish ↔ low entropy via repetition; token soup ↔
  high): the information-theoretic quality signal beside the LM-score
  (unigram_logprob) and repetition profiles.  Per-term contributions
  are rounded then summed as DECIMAL, so the float-log accumulation is
  order-invariant.

Every query has a DuckDB oracle; every computed column is aliased
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.dedup_queries import components_sql
from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# cur_leakage_safe_split — cluster-aware train/val/test assignment
# ---------------------------------------------------------------------------


def cur_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents 80/10/10, hashing the near-dup GROUP key.

    group_key = the connected-component id of the doc's n-gram-Jaccard
    near-dup cluster (``dedup_clusters``), or the doc's own id when it
    has no near-dup.  ``split_dataset`` then buckets md5(group_key) —
    membership is a pure function of (group, salt): re-runs, task
    retries, repartitions, and corpus growth never move a group, and a
    cluster is atomic across splits BY CONSTRUCTION (single hash input).

    Scale: the pair list is a dedup output (∝ near-dups); components is
    O(log n) rounds over it; the final assignment is a per-row hash
    expression after one broadcast-sized left join of (doc → component).
    """
    from atd_data_lake_spark.operators.components import dedup_clusters
    from atd_data_lake_spark.operators.curation import split_dataset
    from atd_data_lake_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5)
    comp = dedup_clusters(pairs).select("doc_id", "component")
    grp = d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("group_key"),
    )
    out = split_dataset(grp, key_col="group_key", salt="v1")
    return out.select("doc_id", "group_key", "bucket", "split")


def make_leakage_split_sql(jaccard_sql: str, bucket_sql: str) -> str:
    """Oracle builder: transitive-closure components over the identical
    pair SQL, then the identical md5-bucket thresholds on the group key.
    (Built in queries.py, where _bucket_sql lives.)"""
    return components_sql(jaccard_sql) + f""",
grp AS (
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_key
    FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, group_key, CAST({bucket_sql} AS BIGINT) AS bucket,
       CASE WHEN {bucket_sql} < 52429 THEN 'train'
            WHEN {bucket_sql} < 58982 THEN 'val'
            ELSE 'test' END AS split
FROM grp
"""


# ---------------------------------------------------------------------------
# evt_interval_coverage — per-entity interval union (gaps-and-islands)
# ---------------------------------------------------------------------------


def evt_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge each user's (possibly overlapping) activity intervals and
    report covered seconds, interval count, and merged-island count.

    Interval: [ts, ts + value minutes] (duration floored at 0).  Island
    detection is the running-max-end formulation: a new island starts
    where this interval's start exceeds the max end seen so far; the
    island id is a running sum of those breaks.  ALL arithmetic is µs
    integers (unix_micros) until one final /1e6, so the merge is exact
    and partition-invariant.  One window sort on the entity key; the
    covered-seconds agg is map-side combinable.
    """
    from atd_data_lake_spark.functions.datetime_fns import as_instant

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    start = F.unix_micros(as_instant(ev, "ts"))
    dur = F.greatest(F.lit(0).cast("long"), (F.col("value") * 60000000).cast("long"))
    iv = ev.select(
        "user_id",
        "event_id",
        start.alias("s_us"),
        (start + dur).alias("e_us"),
    )
    w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max_end = F.max("e_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "_new",
        F.when(
            prev_max_end.isNull() | (F.col("s_us") > prev_max_end), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = flagged.groupBy("user_id", "island").agg(
        F.min("s_us").alias("i_start"),
        F.max("e_us").alias("i_end"),
        F.count("*").alias("n_iv"),
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.sum("n_iv").alias("n_intervals"),
            F.count("*").alias("n_islands"),
            F.round(
                F.sum(F.col("i_end") - F.col("i_start")) / 1000000.0, 6
            ).alias("covered_seconds"),
        )
        .orderBy("user_id")
    )


EVT_INTERVAL_COVERAGE_SQL = """
WITH iv AS (
    SELECT user_id, event_id,
           epoch_us(ts) AS s_us,
           -- floor before the cast: DuckDB CAST(double AS BIGINT) rounds
           -- half-away, Spark's cast("long") truncates — floor() on the
           -- non-negative duration makes both engines agree
           epoch_us(ts) + greatest(0, CAST(floor(value * 60000000) AS BIGINT)) AS e_us
    FROM events
),
flagged AS (
    SELECT user_id, s_us, e_us,
           CASE WHEN max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR s_us > max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) THEN 1 ELSE 0 END AS _new,
           event_id
    FROM iv
),
islands_src AS (
    SELECT user_id, s_us, e_us,
           sum(_new) OVER (
               PARTITION BY user_id ORDER BY s_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS island
    FROM flagged
),
islands AS (
    SELECT user_id, island,
           min(s_us) AS i_start, max(e_us) AS i_end, count(*) AS n_iv
    FROM islands_src GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(n_iv) AS BIGINT) AS n_intervals,
       count(*) AS n_islands,
       round(sum(i_end - i_start) / 1000000.0, 6) AS covered_seconds
FROM islands
GROUP BY 1
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# text_token_entropy — order-invariant Shannon entropy per document
# ---------------------------------------------------------------------------


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy H = −Σ p·ln p over the doc's token
    distribution (whitespace tokens, the unigram_logprob tokenizer).

    Determinism: each term −p·ln p is an IEEE-deterministic function of
    the integer pair (count, total); terms are rounded to 12 dp and
    summed as DECIMAL(38,18), so the per-doc reduction is exact and
    independent of accumulation order — the a1 stddev discipline applied
    to a float-log aggregate.  Two keyed aggs ((doc, tok) then doc), both
    map-side combinable; empty docs report entropy 0 with 0 tokens.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.explode(
            F.when(
                F.trim("text") == "", F.array().cast("array<string>")
            ).otherwise(F.split(F.trim("text"), r"\s+"))
        ).alias("tok"),
    )
    # tf feeds the per-doc total AND the entropy join — persist or the
    # explode+count recomputes for each consumer
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("n")).persist()
    tot = tf.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total")
    term = F.round(-p * F.log(p), 12).cast("decimal(38,18)")
    ent = (
        tf.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.first("total").alias("n_tokens"),
            F.round(F.sum(term).cast("double"), 6).alias("entropy"),
        )
    )
    return (
        d.select("doc_id")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("entropy", F.lit(0.0)).alias("entropy"),
        )
        .orderBy("doc_id")
    )


TEXT_TOKEN_ENTROPY_SQL = r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
    FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
tf AS (SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(n) AS total FROM tf GROUP BY 1),
ent AS (
    SELECT tf.doc_id,
           any_value(tot.total) AS n_tokens,
           round(CAST(sum(CAST(round(
               -(tf.n / CAST(tot.total AS DOUBLE))
               * ln(tf.n / CAST(tot.total AS DOUBLE)), 12)
               AS DECIMAL(38,18))) AS DOUBLE), 6) AS entropy
    FROM tf JOIN tot USING (doc_id)
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(ent.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(ent.entropy, 0.0) AS entropy
FROM documents d LEFT JOIN ent USING (doc_id)
ORDER BY d.doc_id
"""


ROUND8_QUERIES = {
    "cur_leakage_safe_split": cur_leakage_safe_split,
    "evt_interval_coverage": evt_interval_coverage,
    "text_token_entropy": text_token_entropy,
}

# cur_leakage_safe_split's oracle is composed in queries.py, where
# _bucket_sql is in scope.
ROUND8_ORACLES = {
    "evt_interval_coverage": EVT_INTERVAL_COVERAGE_SQL,
    "text_token_entropy": TEXT_TOKEN_ENTROPY_SQL,
}
