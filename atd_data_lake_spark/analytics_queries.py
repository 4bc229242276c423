"""Round-3 query additions: LLM-curation composites and event analytics.

- PII scrubbing (operators/pii.py), keep-best-per-near-dup-cluster
  (operators/curation.py) and a 3-step event funnel;
- as-of join with tolerance, lead/lag/ntile windows, incremental
  aggregate maintenance, z-score anomalies and unigram log-probs.

The round's TPC-H classics (q3/q6/q14/q18) live in ``tpch_queries`` and
its SemDeDup-style semantic dedup (``sim_semantic_dedup``) in
``sim_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.dedup_queries import dedup_clusters_sql
from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# Event funnel
# ---------------------------------------------------------------------------


def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step ordered funnel over the events stream: first signup →
    first click strictly after it → first purchase strictly after that,
    plus a 1-hour click→purchase conversion flag.

    Each step is a filtered min-aggregate keyed by user joined to the
    previous step — three scan-pruned aggregations on the same key, so
    at scale the event table shuffles on user_id once per step with
    map-side partial mins, and no window sort over raw events is ever
    materialized."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    funnel = s.join(c, "user_id", "left").join(p, "user_id", "left")
    stage = (
        F.lit(1)
        + F.col("first_click").isNotNull().cast("int")
        + F.col("first_purchase").isNotNull().cast("int")
    )
    converted = F.coalesce(
        F.col("first_purchase")
        <= F.col("first_click") + F.expr("INTERVAL 1 HOUR"),
        F.lit(False),
    )
    return funnel.select(
        "user_id",
        "signup_ts",
        "first_click",
        "first_purchase",
        stage.alias("stage"),
        converted.alias("converted_1h"),
    )


EVT_FUNNEL_SQL = """
WITH s AS (
    SELECT user_id, min(ts) AS signup_ts
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS first_click
    FROM events e JOIN s ON e.user_id = s.user_id
    WHERE e.event_type = 'click' AND e.ts > s.signup_ts
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS first_purchase
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.first_click
    GROUP BY e.user_id
)
SELECT s.user_id, s.signup_ts, c.first_click, p.first_purchase,
       1 + CASE WHEN c.first_click IS NULL THEN 0 ELSE 1 END
         + CASE WHEN p.first_purchase IS NULL THEN 0 ELSE 1 END AS stage,
       coalesce(p.first_purchase <= c.first_click + INTERVAL 1 HOUR, false)
           AS converted_1h
FROM s
LEFT JOIN c ON s.user_id = c.user_id
LEFT JOIN p ON s.user_id = p.user_id
"""


def j9_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded forward as-of join (operators/asof.py
    ``tolerance=``): each error event matched to the user's next purchase
    only if it lands within 24 h — the bounded-staleness variant every
    sensor/SCD lookup needs (a match from arbitrarily far in the future
    is usually a bug, not an answer)."""
    from atd_data_lake_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    out = asof_join(
        errors,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="purchase_ts",
        direction="forward",
        tolerance=F.expr("INTERVAL 24 HOURS"),
    )
    return out.select("event_id", F.col("purchase_ts").alias("next_purchase_24h"))


J9_TOLERANCE_SQL = """
SELECT e.event_id, min(p.ts) AS next_purchase_24h
FROM events e LEFT JOIN events p
  ON p.user_id = e.user_id AND p.event_type = 'purchase'
 AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 24 HOURS
WHERE e.event_type = 'error'
GROUP BY e.event_id
"""


def w2_lead_lag_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — the remaining analytic-window family in one query: lag delta,
    lead peek, ntile quartile, and rank over per-user daily purchase
    totals.  One shuffle (the user_id window partition); the daily
    pre-aggregation makes every ordering key unique, so lag/lead/ntile
    are deterministic on both engines."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias("day_value"))
    w = Window.partitionBy("user_id").orderBy("day")
    return daily.select(
        "user_id",
        "day",
        "day_value",
        F.round(
            F.col("day_value") - F.lag("day_value").over(w), 6
        ).alias("delta_prev"),
        F.lead("day", 1).over(w).alias("next_day"),
        F.ntile(4).over(w).alias("quartile"),
        F.row_number().over(w).alias("rn"),
    )


W2_SQL = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS day_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, CAST(ts AS DATE)
)
SELECT user_id, day, day_value,
       round(day_value - lag(day_value) OVER w, 6) AS delta_prev,
       lead(day, 1) OVER w AS next_day,
       ntile(4) OVER w AS quartile,
       row_number() OVER w AS rn
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day)
"""


def inc_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance
    (operators/incremental.maintain_daily_aggregate): the standing daily
    aggregate built from history (days before Jan 25) is maintained with
    the Jan 25+ batch; the oracle is the FULL recompute over all events —
    i.e. the check is the maintenance invariant itself, not a replay of
    the implementation."""
    from atd_data_lake_spark.operators.incremental import maintain_daily_aggregate

    e = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-25").cast("timestamp")

    def build_agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )

    standing = build_agg(e.filter(F.col("ts") < cut))
    batch = e.filter(F.col("ts") >= cut)
    return maintain_daily_aggregate(standing, batch, build_agg, day_col="day")


INC_AGG_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
"""


def evt_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly flags over per-user daily purchase totals
    — the expected-vs-actual monitoring shape of the reference's perfmet
    layer (etl_perfmet_obs carries data/expected pairs,
    docs/appendix_perfmet.md:19-70), done windowed instead of
    job-at-a-time.

    Exactness: mean/std derive from INTEGER window sums (value scaled to
    10⁶ units; Σx as bigint, Σx² as decimal(38,0) — squares overflow
    bigint) so both engines see identical integers; the remaining double
    ops (÷, sqrt) are IEEE-exactly-rounded, making the z-score
    bit-identical — the same construction as the GS aggregate's
    exact-cents stddev.  One shuffle (the user window partition), over
    daily aggregates, not raw events."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum((F.col("value").cast("decimal(18,6)") * 1000000).cast("long")).alias(
            "_u"
        )
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    n = F.count("*").over(w)
    s1 = F.sum("_u").over(w)
    s2 = F.sum((F.col("_u").cast("decimal(38,0)") * F.col("_u"))).over(w)
    stats = daily.withColumn("_n", n).withColumn("_s1", s1).withColumn("_s2", s2)
    std = F.sqrt(
        (
            (F.col("_n").cast("decimal(38,0)") * F.col("_s2")
             - F.col("_s1").cast("decimal(38,0)") * F.col("_s1")).cast("double")
        )
        / F.greatest(F.col("_n") * (F.col("_n") - 1), F.lit(1)).cast("double")
    )
    mean = F.col("_s1").cast("double") / F.col("_n")
    z = (F.col("_u").cast("double") - mean) / std
    return stats.select(
        "user_id",
        "day",
        (F.col("_u").cast("double") / 1000000).alias("day_value"),
        F.col("_n").cast("int").alias("n_window"),
        F.when((F.col("_n") >= 3) & (std > 0), F.round(z, 6)).alias("zscore"),
        F.coalesce(
            (F.col("_n") >= 3) & (std > 0) & (F.abs(z) > 1.8), F.lit(False)
        ).alias("is_anomaly"),
    )


EVT_ANOMALY_SQL = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS u
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, CAST(ts AS DATE)
),
stats AS (
    SELECT user_id, day, u,
           count(*) OVER w AS n,
           sum(u) OVER w AS s1,
           sum(CAST(u AS HUGEINT) * u) OVER w AS s2
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT user_id, day,
       CAST(u AS DOUBLE) / 1000000 AS day_value,
       CAST(n AS INT) AS n_window,
       CASE WHEN n >= 3 AND sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / greatest(n * (n - 1), 1)) > 0
            THEN round((CAST(u AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                       / sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / greatest(n * (n - 1), 1)), 6)
       END AS zscore,
       coalesce(n >= 3 AND sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / greatest(n * (n - 1), 1)) > 0
                AND abs((CAST(u AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                        / sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / greatest(n * (n - 1), 1))) > 1.8,
                false) AS is_anomaly
FROM stats
"""


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/pii.py) demonstrated end-to-end: the
    corpus is augmented with deterministic synthetic PII (an email, a
    phone, an IP derived from doc_id — the env bakes no real PII into
    the test tables), then counted and scrubbed.  The md5 of the
    scrubbed text is the hard check: one mis-redacted character anywhere
    fails the driver's value hash."""
    from atd_data_lake_spark.operators.pii import pii_counts, scrub_pii

    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        sid,
        F.lit("@example.com call 512-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".3."),
        ((F.col("doc_id") * 7) % 200).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" cc admin@corp.example.org")).otherwise(
            F.lit("")
        ),
    )
    d = d.select("doc_id", aug.alias("_aug"))
    counts = pii_counts(F.col("_aug"))
    return d.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
        F.md5(scrub_pii(F.col("_aug"))).alias("scrubbed_md5"),
    )


def _pii_sql() -> str:
    from atd_data_lake_spark.operators.pii import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IPV4_RE,
        IPV4_TOKEN,
        PHONE_RE,
        PHONE_TOKEN,
    )

    def esc(p: str) -> str:
        return p.replace("'", "''")

    aug = (
        "text || ' contact user' || doc_id || '@example.com call 512-555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' from 10.' || (doc_id % 200) || '.3.' || ((doc_id * 7) % 200)"
        " || CASE WHEN doc_id % 5 = 0 THEN ' cc admin@corp.example.org' ELSE '' END"
    )
    return f"""
WITH a AS (SELECT doc_id, {aug} AS aug FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{esc(EMAIL_RE)}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(aug, '{esc(PHONE_RE)}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(aug, '{esc(IPV4_RE)}')) AS INT) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(aug,
               '{esc(EMAIL_RE)}', '{EMAIL_TOKEN}', 'g'),
               '{esc(PHONE_RE)}', '{PHONE_TOKEN}', 'g'),
               '{esc(IPV4_RE)}', '{IPV4_TOKEN}', 'g')) AS scrubbed_md5
FROM a
"""


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality proxy
    (operators/text.unigram_logprob_score): mean token log-probability
    under the corpus's own unigram distribution."""
    from atd_data_lake_spark.operators.text import unigram_logprob_score

    d = _t(spark, sf_dir, "documents")
    return unigram_logprob_score(d.select("doc_id", "text"))


UNIGRAM_LOGPROB_SQL = r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
    FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
vocab AS (SELECT tok, count(*) AS tok_n FROM tok GROUP BY tok),
total AS (SELECT count(*) AS n FROM tok),
scored AS (
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           round(avg(ln(vocab.tok_n / CAST(total.n AS DOUBLE))), 6) AS mean_logprob
    FROM tok JOIN vocab ON tok.tok = vocab.tok CROSS JOIN total
    GROUP BY tok.doc_id
)
SELECT d.doc_id,
       coalesce(scored.n_tokens, 0) AS n_tokens,
       scored.mean_logprob
FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
"""


# ---------------------------------------------------------------------------
# Keep-best-per-cluster
# ---------------------------------------------------------------------------


def cur_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization: n-gram-Jaccard pairs →
    connected components (the dedup_clusters machinery) → keep the
    highest-quality member per cluster (operators/curation.py
    keep_best_per_cluster)."""
    from atd_data_lake_spark.operators.components import dedup_clusters
    from atd_data_lake_spark.operators.curation import keep_best_per_cluster
    from atd_data_lake_spark.operators.dedup import ngram_jaccard_pairs
    from atd_data_lake_spark.operators.text import profile_documents

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.1)
    comps = dedup_clusters(pairs).select("doc_id", "component")
    quality = profile_documents(d.select("doc_id", "text"), text_col="text").select(
        "doc_id", "quality"
    )
    return keep_best_per_cluster(comps, quality)


def _keep_best_sql() -> str:
    from atd_data_lake_spark.queries import _text_profile_sql

    return f"""
WITH comps AS ({dedup_clusters_sql()}),
prof AS ({_text_profile_sql()}),
ranked AS (
    SELECT comps.component AS cluster_id, comps.doc_id, prof.quality,
           row_number() OVER (PARTITION BY comps.component
                              ORDER BY prof.quality DESC, comps.doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY comps.component) AS n_members
    FROM comps JOIN prof ON comps.doc_id = prof.doc_id
)
SELECT cluster_id, doc_id AS kept_id, quality AS kept_quality, n_members
FROM ranked WHERE rn = 1
"""


ANALYTICS_QUERIES = {
    "evt_funnel": evt_funnel,
    "j9_asof_tolerance": j9_asof_tolerance,
    "inc_agg_maintenance": inc_agg_maintenance,
    "evt_anomaly_zscore": evt_anomaly_zscore,
    "w2_lead_lag_ntile": w2_lead_lag_ntile,
    "text_pii_scrub": text_pii_scrub,
    "text_unigram_logprob": text_unigram_logprob,
    "cur_keep_best_per_cluster": cur_keep_best_per_cluster,
}

ANALYTICS_ORACLES = {
    "evt_funnel": EVT_FUNNEL_SQL,
    "j9_asof_tolerance": J9_TOLERANCE_SQL,
    "inc_agg_maintenance": INC_AGG_SQL,
    "evt_anomaly_zscore": EVT_ANOMALY_SQL,
    "w2_lead_lag_ntile": W2_SQL,
    "text_unigram_logprob": UNIGRAM_LOGPROB_SQL,
    # text_pii_scrub / cur_keep_best_per_cluster oracles are built lazily
    # (they import SQL fragments from queries.py); see queries.py wiring.
}
