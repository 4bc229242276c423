"""Round-3 query additions.

Each entry exists because it is a distinct PLAN SHAPE the engine must
get right at 100 TB, not just another query:

- ``evt_time_window_join`` — the band-predicate join Spark has no
  native operator for; proves the bucketized equi-join rewrite
  (operators/rangejoin.py) against a brute-force SQL oracle.
- ``j_asof_nearest`` — the third merge_asof direction (min |Δt| with
  deterministic backward-preference ties).
- ``j_salted_skew_join`` — explicit hot-key salting, verified
  semantically transparent against the plain unsalted SQL join.
- ``evt_retention`` — cohort retention in ONE user-shuffle via
  collect_set, instead of the textbook distinct + self-join (3
  shuffles of the full event table).
- ``evt_pivot`` / ``li_unpivot`` — long↔wide reshapes (pinned pivot
  values skip the schema-discovery scan; unpivot is a zero-shuffle
  generator).
- ``evt_json_extract`` — typed ``from_json`` over a semi-structured
  payload, with unparsed rows surfaced as a quality counter.
- ``evt_value_correlation`` — corr/covar from EXACT decimal sums (the
  a1 stddev discipline) instead of order-dependent float accumulators.
- ``text_top_tokens`` — corpus-scale heavy hitters; the skew case
  (stopwords own the corpus) that partial aggregation must absorb
  map-side before the shuffle.
- ``emb_int8_quantize`` — per-vector int8 quantization entirely in
  JVM higher-order functions (transform/filter/aggregate): zero
  Python, zero shuffle, scales linearly with the scan.
- ``cur_token_budget`` — greedy best-first selection under a
  per-source TOKEN budget (running-sum window).

The round's TPC-H shapes (q10/q13/q15/q19) live in ``tpch_queries`` and
its ``dedup_incremental_batch`` in ``dedup_queries``.

Decimal/epoch exactness rules: money through ``functions.money``'s
exact-decimal-sum construction, time through integer epoch
microseconds, so every oracle hash is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.functions.money import D2
from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# evt_time_window_join — band join via bucketized equi-join
# ---------------------------------------------------------------------------


def evt_time_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: events in the 5 minutes AFTER each error event.

    The band predicate (r.ts in (l.ts, l.ts+300s]) runs through
    operators/rangejoin.py's bucketized rewrite — a hash equi-join on
    (user_id, bucket), never a nested-loop — then aggregates pairs per
    user.  The exact filter re-checks the band in integer microseconds.
    """
    from atd_data_lake_spark.operators.rangejoin import time_window_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    after = ev.select("user_id", "event_id", "ts", "event_type")
    pairs = time_window_join(
        errors, after, on=["user_id"], window_seconds=300
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("l_event_id").alias("n_errors_followed"),
            F.sum(
                F.when(F.col("r_event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_purchases_after"),
        )
        .orderBy("user_id")
    )


EVT_TIME_WINDOW_JOIN_SQL = """
SELECT a.user_id AS user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT a.event_id) AS BIGINT) AS n_errors_followed,
       CAST(sum(CASE WHEN b.event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases_after
FROM events a
JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'error'
  AND epoch_us(b.ts) > epoch_us(a.ts)
  AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
GROUP BY a.user_id
ORDER BY a.user_id
"""


# ---------------------------------------------------------------------------
# evt_retention — cohort retention matrix
# ---------------------------------------------------------------------------


def evt_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-active date, counted at
    each day offset they return.

    Single user-keyed shuffle: groupBy(user) collects the (bounded:
    #days) distinct-day set AND the cohort min in one aggregation, then
    explodes — vs the textbook distinct + min-join formulation that
    shuffles the event table three times (oracle below keeps that shape
    so the two are checked against each other).
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("d").alias("cohort_date"), F.collect_set("d").alias("days")
    )
    return (
        per_user.select(
            "cohort_date", F.explode("days").alias("d")
        )
        .groupBy(
            "cohort_date",
            F.datediff(F.col("d"), F.col("cohort_date"))
            .cast("long")
            .alias("offset_days"),
        )
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_date", "offset_days")
    )


EVT_RETENTION_SQL = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
c AS (SELECT user_id, min(d) AS cohort_date FROM ud GROUP BY user_id)
SELECT c.cohort_date AS cohort_date,
       CAST(datediff('day', c.cohort_date, ud.d) AS BIGINT) AS offset_days,
       CAST(count(*) AS BIGINT) AS n_users
FROM ud JOIN c ON ud.user_id = c.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# text_top_tokens — exact corpus heavy hitters
# ---------------------------------------------------------------------------


def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by corpus frequency, with document frequency.

    The stopword-skew case: a handful of tokens own most of the corpus.
    Partial aggregation (map-side combine) collapses each input
    partition's counts before the shuffle, so the hot keys move as one
    row per partition, not one row per occurrence; the ordered limit is
    TakeOrderedAndProject (no global sort).  Deterministic across ties:
    (count DESC, token ASC) is a total order.
    """
    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(20)
    )


TEXT_TOP_TOKENS_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# emb_int8_quantize — higher-order-function int8 quantization
# ---------------------------------------------------------------------------


def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization stats: absmax scale,
    saturated-element count, reconstruction RMSE.

    Entirely JVM higher-order functions (transform / filter /
    aggregate) — no Python stage, no shuffle, one pruned 2-column scan;
    the cheapest possible plan for a 100 TB embedding sweep.  Elements
    cast float→double before any arithmetic so both engines compute in
    the same precision; round(…, 6) absorbs summation-order ulps.
    """
    e = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    df = e.select("vec_id", v.alias("v"))
    amax = F.array_max(F.transform("v", lambda x: F.abs(x)))
    # internal name ≠ output name: Spark's lateral column alias
    # resolution would otherwise bind the scale/rmse references below to
    # the ROUNDED `amax` output alias in the same select list.
    df = df.withColumn("_amax", amax)
    scale = F.col("_amax") / F.lit(127.0)

    def qerr(x):
        return F.pow(x - F.round(x / scale) * scale, F.lit(2.0))

    n_sat = F.size(
        F.filter("v", lambda x: F.abs(F.round(x / scale)) >= 127)
    ).cast("long")
    err2 = F.aggregate(
        "v", F.lit(0.0), lambda acc, x: acc + qerr(x)
    )
    rmse = F.round(F.sqrt(err2 / F.size("v")), 6)
    zero = F.col("_amax") == 0.0
    return df.select(
        "vec_id",
        F.round("_amax", 6).alias("amax"),
        F.when(zero, F.lit(0).cast("long")).otherwise(n_sat).alias(
            "n_saturated"
        ),
        F.when(zero, F.lit(0.0)).otherwise(rmse).alias("rmse"),
    ).orderBy("vec_id")


EMB_INT8_QUANTIZE_SQL = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS amax
  FROM base
)
SELECT vec_id,
       round(amax, 6) AS amax,
       CASE WHEN amax = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(len(list_filter(
                   v, x -> abs(round(x / (amax / 127.0))) >= 127))
                 AS BIGINT)
       END AS n_saturated,
       CASE WHEN amax = 0 THEN 0.0
            ELSE round(sqrt(list_sum(list_transform(
                   v, x -> pow(x - round(x / (amax / 127.0))
                               * (amax / 127.0), 2))) / len(v)), 6)
       END AS rmse
FROM s
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# j_asof_nearest — nearest-direction as-of join
# ---------------------------------------------------------------------------


def j_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of: each error event matched to the closest
    purchase by the same user within ±10 minutes (completes the
    backward/forward/tolerance family of operators/asof.py — pandas
    merge_asof's third direction).  Distance ties break to the earlier
    purchase, then the smaller event_id: the operator's struct-min_by
    key and the oracle's ORDER BY are the same total order."""
    from atd_data_lake_spark.functions.datetime_fns import as_instant
    from atd_data_lake_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    m = asof_join(
        errors,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="p_ts",
        direction="nearest",
        how="inner",
        tolerance=F.expr("INTERVAL 10 MINUTES"),
        broadcast_right=False,
    )
    dist = F.abs(
        F.unix_micros(as_instant(m, "p_ts")) - F.unix_micros(as_instant(m, "ts"))
    )
    return m.select(
        "error_id", "user_id", "purchase_id", dist.alias("dist_us")
    ).orderBy("error_id")


J_ASOF_NEAREST_SQL = """
WITH e AS (SELECT event_id AS error_id, user_id, ts
           FROM events WHERE event_type = 'error'),
p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT e.error_id, e.user_id, p.purchase_id,
         abs(epoch_us(p.p_ts) - epoch_us(e.ts)) AS dist_us,
         row_number() OVER (
           PARTITION BY e.error_id
           ORDER BY abs(epoch_us(p.p_ts) - epoch_us(e.ts)) ASC,
                    p.p_ts ASC, p.purchase_id ASC) AS rn
  FROM e JOIN p ON e.user_id = p.user_id
  WHERE abs(epoch_us(p.p_ts) - epoch_us(e.ts)) <= 600000000
)
SELECT error_id, user_id, purchase_id, CAST(dist_us AS BIGINT) AS dist_us
FROM j WHERE rn = 1
ORDER BY error_id
"""


# ---------------------------------------------------------------------------
# cur_token_budget — greedy per-source token-budget selection
# ---------------------------------------------------------------------------


def cur_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget mixture building: keep each source's
    longest documents while the running whitespace-token total stays
    ≤ 2000 (operators/curation.py token_budget_per_source)."""
    from atd_data_lake_spark.operators.curation import token_budget_per_source

    d = _t(spark, sf_dir, "documents")
    return token_budget_per_source(d, budget_tokens=2000).orderBy(
        "source", "doc_id"
    )


CUR_TOKEN_BUDGET_SQL = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), w AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source
           ORDER BY n_tokens DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM w WHERE cum_tokens <= 2000
ORDER BY source, doc_id
"""


# ---------------------------------------------------------------------------
# evt_json_extract — semi-structured payload extraction
# ---------------------------------------------------------------------------


def evt_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events ``props`` JSON
    payload with a TYPED ``from_json`` schema and aggregate the
    extracted field per event type.

    ``from_json`` with an explicit schema (not ``get_json_object``
    per-field string probing) is the scale choice: one parse per row
    regardless of field count, the parsed struct prunes like any other
    column, and malformed payloads become NULL structs instead of
    task failures (PERMISSIVE semantics) — counted here explicitly so
    data-quality drift is visible in the output."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "_p", F.from_json("props", "k BIGINT")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("_p.k")).alias("sum_k"),
            F.min(F.col("_p.k")).alias("min_k"),
            F.max(F.col("_p.k")).alias("max_k"),
            F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unparsed"),
        )
        .orderBy("event_type")
    )


EVT_JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS max_k,
       CAST(sum(CASE WHEN json_valid(props) THEN 0 ELSE 1 END)
            AS BIGINT) AS n_unparsed
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# evt_pivot / li_unpivot — reshape operators
# ---------------------------------------------------------------------------


def evt_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per event type
    (``Dataset.pivot`` with EXPLICIT values — pinning the value list
    keeps the output schema static and skips the extra distinct-scan
    job Spark otherwise runs to discover the pivot columns; a dynamic
    pivot at 100 TB pays a full scan just to learn its own schema)."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", kinds)
        .count()
    )
    # pivot cells with no rows are NULL; publish 0 (count semantics)
    return out.select(
        "day", *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds]
    ).orderBy("day")


EVT_PIVOT_SQL = """
SELECT CAST(ts AS DATE) AS day,
       CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events
GROUP BY 1
ORDER BY 1
"""


def li_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via ``DataFrame.unpivot`` (melt): lineitem
    measure columns become (metric, value) rows, then a per-metric
    profile.  Unpivot is a zero-shuffle generator (each input row emits
    k rows in place) — the reshape itself never exchanges; only the
    3-group aggregate does."""
    l = _t(spark, sf_dir, "lineitem")
    long = l.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="value",
    )
    return (
        long.groupBy("metric")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast(D2)).cast("double"), 2).alias(
                "total"
            ),
            F.round(F.min("value"), 2).alias("min_v"),
            F.round(F.max("value"), 2).alias("max_v"),
        )
        .orderBy("metric")
    )


LI_UNPIVOT_SQL = """
WITH long AS (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
         l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
  FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
)
SELECT metric,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS total,
       round(min(value), 2) AS min_v,
       round(max(value), 2) AS max_v
FROM long
GROUP BY metric
ORDER BY metric
"""


# ---------------------------------------------------------------------------
# evt_value_correlation — exact-sum statistical aggregates
# ---------------------------------------------------------------------------


def evt_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance of (value, props.k) per
    event type — the statistical-aggregate family, built on EXACT
    decimal/integer sums (the a1 stddev discipline): Σx, Σy, Σx², Σy²,
    Σxy aggregate exactly (value is 2-decimal money, k is integer), and
    only the final corr/covar arithmetic runs in double — identical
    IEEE ops on identical inputs in both engines, so round(6) compares
    hash-exact.  Spark's built-in ``corr``/``covar_samp`` stream
    float accumulators whose rounding is accumulation-order-dependent —
    unusable for cross-engine verification (and for any reproducible
    metric): this construction is the portable form.
    """
    ev = _t(spark, sf_dir, "events")
    x = F.col("value").cast(D2)
    y = F.from_json("props", "k BIGINT")["k"]
    base = ev.select(
        "event_type", x.alias("x"), y.cast("decimal(10,0)").alias("y")
    )
    agg = base.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt((n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy))
    return agg.select(
        "event_type",
        n.cast("long").alias("n_events"),
        F.round(num / den, 6).alias("corr_value_k"),
        F.round((F.col("sxy") - sx * sy / n) / (n - 1), 6).alias(
            "covar_value_k"
        ),
    ).orderBy("event_type")


EVT_VALUE_CORRELATION_SQL = """
WITH base AS (
  SELECT event_type,
         CAST(value AS DECIMAL(12,2)) AS x,
         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
              AS DECIMAL(10,0)) AS y
  FROM events
), agg AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy,
         CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM base GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS corr_value_k,
       round((sxy - sx * sy / n) / (n - 1), 6) AS covar_value_k
FROM agg
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# j_salted_skew_join — explicit skew salting, externally verified
# ---------------------------------------------------------------------------


def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join end-to-end: events (fact, skewed on user_id at scale)
    ⋈ a user dimension via operators/skew.salted_join, then a per-user
    revenue rollup.  Salting is semantically TRANSPARENT — the oracle is
    the plain unsalted SQL join — so the driver's hash check verifies
    the hot-key spreading machinery changes nothing but the task
    distribution.  (The dim here derives from events itself so the
    query is self-contained; in production it is any
    too-big-to-broadcast dimension.)"""
    from atd_data_lake_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.select("user_id")
        .distinct()
        .withColumn("user_tag", F.substring(F.md5(F.col("user_id").cast("string")), 1, 8))
    )
    joined = salted_join(
        ev.select("user_id", F.col("value").cast(D2).alias("v")),
        dim,
        key="user_id",
        salt_buckets=8,
    )
    return (
        joined.groupBy("user_id", "user_tag")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("v").cast("double"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


J_SALTED_SKEW_JOIN_SQL = """
WITH dim AS (
  SELECT DISTINCT user_id,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS user_tag
  FROM events
)
SELECT e.user_id, d.user_tag,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE), 2)
         AS total_value
FROM events e JOIN dim d ON e.user_id = d.user_id
GROUP BY e.user_id, d.user_tag
ORDER BY e.user_id
"""


# ---------------------------------------------------------------------------
# agg_group_medians — ordered-statistic aggregate
# ---------------------------------------------------------------------------


def agg_group_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median (interpolated at even counts) — the
    ordered-statistic aggregate the percentile family doesn't cover
    (`agg_exact_percentiles` pins rank semantics; median interpolates).
    Spark's JVM ``median`` is a single-shuffle sort-based aggregate; at
    scale the approx dial is ``percentile_approx`` with a documented
    error bound, not a different query shape."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.median("value"), 6).alias("median_value"),
        )
        .orderBy("event_type")
    )


AGG_GROUP_MEDIANS_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(median(value), 6) AS median_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# approx sketches — the at-scale dial for the exact aggregates
# ---------------------------------------------------------------------------


def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts and quantile-sketch percentiles per
    event type — the sketches that replace `agg_distinct_counts` /
    `agg_exact_percentiles` when the group's value set no longer fits an
    exact aggregate (both exact twins stay registered; this query is the
    documented dial, not a replacement).

    rows-only by design: sketch estimates are engine-specific (DuckDB's
    approx_count_distinct uses a different HLL variant), so no SQL
    oracle can hash-match.  What IS externally guaranteed: estimates are
    DETERMINISTIC for fixed data (hash-based, order/partitioning
    independent — asserted by the partitioning-invariance test) and land
    within the published error bounds of the exact values (pytest
    `test_approx_sketches_within_error_bounds`).

    Fully-oracled twins of both sketch families now exist where the
    state is portable integers instead of engine registers:
    ``agg_kmv_distinct`` (round 43, distinct counts) and
    ``ts_rolling_p95_sketch`` (round 41, DDSketch quantiles).
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.05).alias(
                "approx_users"
            ),
            F.approx_count_distinct("value", rsd=0.05).alias(
                "approx_values"
            ),
            F.percentile_approx(
                "value", [0.5, 0.95, 0.99], 10_000
            ).getItem(0).alias("p50"),
            F.percentile_approx(
                "value", [0.5, 0.95, 0.99], 10_000
            ).getItem(1).alias("p95"),
            F.percentile_approx(
                "value", [0.5, 0.95, 0.99], 10_000
            ).getItem(2).alias("p99"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# geo_radius_join — grid-bucketed spatial join
# ---------------------------------------------------------------------------


def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join via operators/spatialjoin.radius_join:
    neighbor counts for points within distance 0.5 on a 10×10 plane.

    Coordinates derive deterministically from the customer key via the
    portable md5 hash (curation.hash_u16) — both engines compute
    IDENTICAL doubles, so the oracle (brute-force SQL distance join)
    hash-matches exactly; the grid-bucketed plan is what's under test.
    The testdata has no geo columns; in the reference's domain the
    points are device lat/lons (J10's haversine stage) and the same
    plan applies with the haversine exact filter."""
    from atd_data_lake_spark.operators.curation import hash_u16
    from atd_data_lake_spark.operators.spatialjoin import radius_join

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (hash_u16(F.col("c_custkey"), salt="gx") / F.lit(65536.0) * 10.0).alias("x"),
        (hash_u16(F.col("c_custkey"), salt="gy") / F.lit(65536.0) * 10.0).alias("y"),
    )
    pairs = radius_join(pts, pts, radius=0.5).filter(
        F.col("l_id") != F.col("r_id")
    )
    return (
        pairs.groupBy(F.col("l_id").alias("c_custkey"))
        .agg(F.count("*").alias("n_neighbors"))
        .orderBy("c_custkey")
    )


def _geo_radius_sql() -> str:
    from atd_data_lake_spark.queries import _bucket_sql

    gx = _bucket_sql("c_custkey", "gx")
    gy = _bucket_sql("c_custkey", "gy")
    return f"""
WITH pts AS (
  SELECT c_custkey AS id,
         {gx} / 65536.0 * 10.0 AS x,
         {gy} / 65536.0 * 10.0 AS y
  FROM customer
)
SELECT l.id AS c_custkey, CAST(count(*) AS BIGINT) AS n_neighbors
FROM pts l JOIN pts r ON l.id <> r.id
WHERE sqrt((l.x - r.x) * (l.x - r.x) + (l.y - r.y) * (l.y - r.y)) <= 0.5
GROUP BY l.id
ORDER BY l.id
"""


# ---------------------------------------------------------------------------
# emb_label_centroids — grouped vector aggregation
# ---------------------------------------------------------------------------


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the class-centroid computation
    behind IVF training, SemDeDup cluster summaries, and k-NN class
    prototypes), as a pure DataFrame plan: posexplode → per-(label, pos)
    aggregate.  One shuffle keyed (label, pos); the vector never transits
    as a blob — each dimension aggregates independently, which is what
    makes the centroid of a BILLION vectors a plain partial-agg shuffle.

    Float discipline: elements round(6) BEFORE summing as
    decimal(18,6) — the sum is then exact and order-independent — and
    the MEAN is integer half-away-from-zero arithmetic on the exact
    micro-sum (the _avg_hu recipe, sign-extended for negative embedding
    components).  A bare ``round(sum/count, 6)`` double division hit a
    half-boundary 1-ulp divergence at sf0.1 (0.003213 vs 0.003214 —
    caught by the round-5 full sf0.1 sweep): Spark rounds the decimal
    string, DuckDB the binary value."""
    e = _t(spark, sf_dir, "embeddings")
    pos_val = e.select(
        "label",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )
    d6 = "decimal(18,6)"
    agg = pos_val.groupBy("label", (F.col("pos") + 1).alias("pos")).agg(
        F.count("*").alias("n_vecs"),
        # exact integer micro-sum: the decimal(18,6) sum × 1e6 is
        # integral by construction, so the bigint cast is exact
        (F.sum(F.round("val", 6).cast(d6)) * 1000000)
        .cast("long")
        .alias("_s"),
    )
    return (
        agg.select(
            "label",
            "pos",
            "n_vecs",
            # nearest-micro, half away from zero, all-positive integer
            # ops (identical div semantics in both engines)
            F.expr(
                "CAST(CASE WHEN _s < 0 THEN -1 ELSE 1 END"
                " * ((abs(_s) * 2 + n_vecs) div (2 * n_vecs)) AS DOUBLE)"
                " / 1000000.0"
            ).alias("mean_val"),
        )
        .orderBy("label", "pos")
    )


EMB_LABEL_CENTROIDS_SQL = """
WITH agg AS (
    SELECT label,
           CAST(i AS INT) AS pos,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                         AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s
    FROM embeddings, range(1, 65) t(i)
    GROUP BY label, i
)
SELECT label, pos, n_vecs,
       (CASE WHEN s < 0 THEN -1 ELSE 1 END)
         * ((abs(s) * 2 + n_vecs) // (2 * n_vecs)) / 1000000.0 AS mean_val
FROM agg
ORDER BY label, pos
"""


# ---------------------------------------------------------------------------
# cur_substring_decontaminate — exact-substring contamination check
# ---------------------------------------------------------------------------


def cur_substring_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring contamination: corpus documents containing any
    benchmark phrase verbatim (the strict mode next to
    ``cur_decontaminate``'s shingle-overlap mode — eval answers quoted
    word-for-word, not paraphrased).

    The benchmark phrase set is BOUNDED by the eval suite, so it
    collects to the driver (the IVF-training-sample precedent) and
    compiles into the plan as literal `contains` predicates — a
    zero-shuffle, broadcast-free map stage over the corpus scan.  Here
    the phrases derive from the first 3 tokens of docs 0-19 (a stand-in
    for a real benchmark's answer strings)."""
    d = _t(spark, sf_dir, "documents")
    phrase_col = F.array_join(F.slice(F.split("text", " "), 1, 3), " ")
    phrases = [
        r["p"]
        for r in d.filter(F.col("doc_id") < 20)
        .select(phrase_col.alias("p"))
        .orderBy("p")
        .collect()
    ]
    n_hits = None
    for p in phrases:
        hit = F.when(F.contains(F.col("text"), F.lit(p)), 1).otherwise(0)
        n_hits = hit if n_hits is None else n_hits + hit
    return (
        d.filter(F.col("doc_id") >= 20)
        .select("doc_id", "source", n_hits.cast("long").alias("n_matched"))
        .filter(F.col("n_matched") > 0)
        .orderBy("doc_id")
    )


CUR_SUBSTRING_DECON_SQL = """
WITH phrases AS (
  SELECT array_to_string((string_split(text, ' '))[1:3], ' ') AS phrase
  FROM documents WHERE doc_id < 20
)
SELECT d.doc_id, d.source, CAST(count(*) AS BIGINT) AS n_matched
FROM documents d JOIN phrases p ON strpos(d.text, p.phrase) > 0
WHERE d.doc_id >= 20
GROUP BY d.doc_id, d.source
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# evt_markov_transitions — event-sequence transition matrix
# ---------------------------------------------------------------------------


def evt_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition counts over per-user event sequences
    (the Markov-chain / session-flow primitive): lag window ordered by
    (ts, event_id) — the tiebreak makes simultaneous events a total
    order so both engines see the same sequence — then one aggregate on
    the (from, to) pair.  One window shuffle on user_id + one pair agg;
    the transition matrix is |types|² rows however large the stream."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    total_per_from = Window.partitionBy("from_type")
    return (
        seq.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
        .withColumn(
            "p_transition",
            F.round(
                F.col("n_transitions")
                / F.sum("n_transitions").over(total_per_from),
                6,
            ),
        )
        .orderBy("from_type", "to_type")
    )


EVT_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       round(n_transitions / CAST(sum(n_transitions)
             OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p_transition
FROM pairs
ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# doc_length_histogram — binned distribution aggregate
# ---------------------------------------------------------------------------


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (50-char bins) with per-bin bounds and
    corpus share — the binned-distribution profile a curation run reads
    before choosing its length gates.  Integer floor binning (exact in
    both engines), one partial-agg shuffle keyed by bin."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    bin_ = F.floor(F.col("n_chars") / 50).cast("long")
    # denominator via an unpartitioned window OVER THE BIN ROWS (a few
    # dozen rows post-aggregation) — no second scan action, no
    # single-partition pass over raw data
    total = F.sum("n_docs").over(Window.partitionBy(F.lit(1)))
    return (
        d.groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .withColumn(
            "share", F.round(F.col("n_docs") / total.cast("double"), 6)
        )
        .orderBy("bin")
    )


DOC_LENGTH_HISTOGRAM_SQL = """
SELECT CAST(floor(n_chars / 50.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       round(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE), 6)
         AS share
FROM documents
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# evt_rolling_active_users — trailing 7-day distinct users per day
# ---------------------------------------------------------------------------


def evt_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU: distinct users active in the trailing 7 days, per day.

    COUNT(DISTINCT) over a RANGE window doesn't exist (distinct is not
    frame-decomposable), and the textbook days×activity range join
    re-scans activity once per day.  The scale formulation inverts it:
    each (user, day) activity row EXPLODES to the 7 report days it
    contributes to, then one distinct-count per report day — cost is
    7× the deduped activity rows, independent of the day count, and
    every stage is a plain hash aggregate.  Report days trim to days
    with actual activity (a semi-join with the day dimension)."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct()
    cover = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day"),
    )
    return (
        cover.join(days, cover["day"] == days["d"], "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau_7d"))
        .orderBy("day")
    )


EVT_ROLLING_ACTIVE_SQL = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
days AS (SELECT DISTINCT d FROM ud)
SELECT days.d AS day,
       CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau_7d
FROM days JOIN ud
  ON ud.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
GROUP BY days.d
ORDER BY day
"""


ROUND3_QUERIES = {
    "evt_time_window_join": evt_time_window_join,
    "evt_retention": evt_retention,
    "text_top_tokens": text_top_tokens,
    "emb_int8_quantize": emb_int8_quantize,
    "j_asof_nearest": j_asof_nearest,
    "cur_token_budget": cur_token_budget,
    "evt_json_extract": evt_json_extract,
    "evt_pivot": evt_pivot,
    "li_unpivot": li_unpivot,
    "evt_value_correlation": evt_value_correlation,
    "j_salted_skew_join": j_salted_skew_join,
    "agg_group_medians": agg_group_medians,
    "agg_approx_sketches": agg_approx_sketches,
    "geo_radius_join": geo_radius_join,
    "emb_label_centroids": emb_label_centroids,
    "cur_substring_decontaminate": cur_substring_decontaminate,
    "evt_markov_transitions": evt_markov_transitions,
    "doc_length_histogram": doc_length_histogram,
    "evt_rolling_active_users": evt_rolling_active_users,
}

ROUND3_ORACLES = {
    "evt_time_window_join": EVT_TIME_WINDOW_JOIN_SQL,
    "evt_retention": EVT_RETENTION_SQL,
    "text_top_tokens": TEXT_TOP_TOKENS_SQL,
    "emb_int8_quantize": EMB_INT8_QUANTIZE_SQL,
    "j_asof_nearest": J_ASOF_NEAREST_SQL,
    "cur_token_budget": CUR_TOKEN_BUDGET_SQL,
    "evt_json_extract": EVT_JSON_EXTRACT_SQL,
    "evt_pivot": EVT_PIVOT_SQL,
    "li_unpivot": LI_UNPIVOT_SQL,
    "evt_value_correlation": EVT_VALUE_CORRELATION_SQL,
    "j_salted_skew_join": J_SALTED_SKEW_JOIN_SQL,
    "agg_group_medians": AGG_GROUP_MEDIANS_SQL,
    "emb_label_centroids": EMB_LABEL_CENTROIDS_SQL,
    "cur_substring_decontaminate": CUR_SUBSTRING_DECON_SQL,
    "evt_markov_transitions": EVT_MARKOV_SQL,
    "doc_length_histogram": DOC_LENGTH_HISTOGRAM_SQL,
    "evt_rolling_active_users": EVT_ROLLING_ACTIVE_SQL,
}
