"""Round-10 query addition: corpus-level Zipf fit.

``text_zipf_fit`` — least-squares slope/intercept of ln(freq) over
ln(rank) for the top-V vocabulary: the corpus-health diagnostic behind
every "is this scrape natural language?" check (natural text ≈ slope −1;
boilerplate/spam corpora bend the curve).  The regression is the
engine's exact-sum discipline (evt_value_correlation): each (x, y) term
is an IEEE-deterministic function of the integer (rank, count) pair,
rounded to 12 dp and DECIMAL-summed, so the fit is bit-identical under
any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


_ZIPF_TOP_V = 1000


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ln-ln regression of token frequency on rank over the top-1000
    vocabulary (whitespace tokens, count-desc + token-asc rank
    tiebreak).

    Plan: one map-side-combined vocab count (the Zipf-bounded aggregate
    every text op reuses), one window rank over the vocab — orders of
    magnitude smaller than the corpus — then a single-row exact-sum
    reduction.  slope/intercept come from the closed-form normal
    equations over DECIMAL-summed rounded terms.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        F.explode(
            F.when(
                F.trim("text") == "", F.array().cast("array<string>")
            ).otherwise(F.split(F.trim("text"), r"\s+"))
        ).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    # top-V first via TakeOrderedAndProject (distributed, no global sort
    # materializes), THEN the unpartitioned row_number runs over ≤ V rows
    # — a global window over the raw vocabulary would funnel the whole
    # (possibly 10M-type) vocab through one partition at scale
    top = vocab.orderBy(F.desc("freq"), F.asc("tok")).limit(_ZIPF_TOP_V)
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    dec = lambda c: F.round(c, 12).cast("decimal(38,18)")  # noqa: E731
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum(dec(x)).cast("double").alias("sx"),
        F.sum(dec(y)).cast("double").alias("sy"),
        F.sum(dec(x * x)).cast("double").alias("sxx"),
        F.sum(dec(x * y)).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return sums.select(
        F.col("n").cast("long").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


TEXT_ZIPF_FIT_SQL = rf"""
WITH t AS (
    SELECT CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
    FROM documents
),
tok AS (SELECT unnest(toks) AS tok FROM t),
vocab AS (SELECT tok, count(*) AS freq FROM tok GROUP BY 1),
ranked AS (
    SELECT freq,
           row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
    FROM vocab QUALIFY rank <= {_ZIPF_TOP_V}
),
sums AS (
    SELECT count(*) AS n,
           CAST(sum(CAST(round(ln(rank), 12) AS DECIMAL(38,18))) AS DOUBLE) AS sx,
           CAST(sum(CAST(round(ln(freq), 12) AS DECIMAL(38,18))) AS DOUBLE) AS sy,
           CAST(sum(CAST(round(ln(rank) * ln(rank), 12) AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(round(ln(rank) * ln(freq), 12) AS DECIMAL(38,18))) AS DOUBLE) AS sxy
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_types,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
           AS zipf_intercept
FROM sums
"""


# ---------------------------------------------------------------------------
# emb_drift_shift — embedding-space drift per label between two periods
# ---------------------------------------------------------------------------


def emb_drift_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid shift between two corpus halves (vec_id parity
    as the deterministic period stand-in): cosine of the two centroids
    and the L2 distance between them — the embedding-space counterpart
    of ``dq_psi_drift`` (a model's input drift shows up here before any
    scalar feature moves).

    Float discipline (the emb_label_centroids pattern): per-dimension
    means are exact decimal sums of round-6 elements; the cross-products
    for cosine/L2 are round-12 terms DECIMAL-summed, so the whole
    pipeline is accumulation-order invariant.  Shuffle inventory: one
    (label, period, dim) partial-agg exchange — dimensions aggregate
    independently, which is what makes a billion-vector centroid a plain
    map-side-combined shuffle — then a 2·|labels|·64-row reduction.
    """
    e = _t(spark, sf_dir, "embeddings")
    pos_val = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "val"),
    )
    d6 = "decimal(18,6)"
    means = pos_val.groupBy("label", "half", "pos").agg(
        F.round(
            F.sum(F.round("val", 6).cast(d6)).cast("double") / F.count("*"), 6
        ).alias("m"),
        F.count("*").alias("_n"),
    )
    paired = means.groupBy("label", "pos").agg(
        F.first(F.when(F.col("half") == 0, F.col("m")), ignorenulls=True).alias("m0"),
        F.first(F.when(F.col("half") == 1, F.col("m")), ignorenulls=True).alias("m1"),
        F.first(F.when(F.col("half") == 0, F.col("_n")), ignorenulls=True).alias("n0"),
        F.first(F.when(F.col("half") == 1, F.col("_n")), ignorenulls=True).alias("n1"),
    )
    dec = lambda c: F.round(c, 12).cast("decimal(38,18)")  # noqa: E731
    agg = paired.groupBy("label").agg(
        F.first("n0").alias("n0"),
        F.first("n1").alias("n1"),
        F.sum(dec(F.col("m0") * F.col("m1"))).cast("double").alias("_dot"),
        F.sum(dec(F.col("m0") * F.col("m0"))).cast("double").alias("_s0"),
        F.sum(dec(F.col("m1") * F.col("m1"))).cast("double").alias("_s1"),
        F.sum(dec((F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1"))))
        .cast("double")
        .alias("_l2"),
    )
    return agg.select(
        "label",
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(
            F.col("_dot") / (F.sqrt("_s0") * F.sqrt("_s1")), 6
        ).alias("centroid_cos"),
        F.round(F.sqrt("_l2"), 6).alias("l2_shift"),
    ).orderBy("label")


EMB_DRIFT_SHIFT_SQL = """
WITH means AS (
    SELECT label, (vec_id % 2) AS half, i AS pos,
           round(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                              AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS m,
           count(*) AS _n
    FROM embeddings, range(1, 65) t(i)
    GROUP BY 1, 2, 3
),
paired AS (
    SELECT label, pos,
           any_value(CASE WHEN half = 0 THEN m END) AS m0,
           any_value(CASE WHEN half = 1 THEN m END) AS m1,
           any_value(CASE WHEN half = 0 THEN _n END) AS n0,
           any_value(CASE WHEN half = 1 THEN _n END) AS n1
    FROM means GROUP BY 1, 2
),
agg AS (
    SELECT label, any_value(n0) AS n0, any_value(n1) AS n1,
           CAST(sum(CAST(round(m0 * m1, 12) AS DECIMAL(38,18))) AS DOUBLE) AS _dot,
           CAST(sum(CAST(round(m0 * m0, 12) AS DECIMAL(38,18))) AS DOUBLE) AS _s0,
           CAST(sum(CAST(round(m1 * m1, 12) AS DECIMAL(38,18))) AS DOUBLE) AS _s1,
           CAST(sum(CAST(round((m0 - m1) * (m0 - m1), 12) AS DECIMAL(38,18)))
                AS DOUBLE) AS _l2
    FROM paired GROUP BY 1
)
SELECT label,
       CAST(n0 AS BIGINT) AS n0,
       CAST(n1 AS BIGINT) AS n1,
       round(_dot / (sqrt(_s0) * sqrt(_s1)), 6) AS centroid_cos,
       round(sqrt(_l2), 6) AS l2_shift
FROM agg
ORDER BY label
"""


# ---------------------------------------------------------------------------
# evt_abtest_lift — two-proportion experiment readout
# ---------------------------------------------------------------------------


def evt_abtest_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split into control/treatment by
    user_id parity (the deterministic assignment stand-in), conversion =
    "user has a purchase event".  Reports per-arm conversion rates, the
    absolute and relative lift, and the two-proportion z-statistic
    (pooled standard error).

    All counts are integer-exact; every derived double is a fixed
    arithmetic expression of those integers (identical IEEE on both
    engines), so the readout carries a full value-hash oracle.  Plan:
    one user-keyed agg (map-side combined max for the conversion flag),
    one 2-row arm agg, one 1-row final projection — the event stream
    shuffles once.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")
    # conversion must be RARE to be a meaningful readout (every user has
    # *some* purchase at every SF, which degenerates p to 1.0 and the
    # pooled SE to 0): a high-value purchase is the conversion event
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 200.0),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    arms = per_user.groupBy(
        (F.col("user_id") % 2).alias("arm")
    ).agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = arms.groupBy().agg(
        F.first(F.when(F.col("arm") == 0, F.col("n_users")), ignorenulls=True).alias("n0"),
        F.first(F.when(F.col("arm") == 0, F.col("n_converted")), ignorenulls=True).alias("c0"),
        F.first(F.when(F.col("arm") == 1, F.col("n_users")), ignorenulls=True).alias("n1"),
        F.first(F.when(F.col("arm") == 1, F.col("n_converted")), ignorenulls=True).alias("c1"),
    )
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    se = F.sqrt(pp * (1 - pp) * (1 / F.col("n0") + 1 / F.col("n1")))
    return wide.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("c0").cast("long").alias("conv_control"),
        F.col("n1").cast("long").alias("n_treatment"),
        F.col("c1").cast("long").alias("conv_treatment"),
        F.round(p0, 6).alias("rate_control"),
        F.round(p1, 6).alias("rate_treatment"),
        F.round(p1 - p0, 6).alias("abs_lift"),
        # degenerate-arm guards (p0 = 0 or pooled SE = 0 → NULL, not a
        # crash: Spark 4 runs ANSI mode where /0 raises)
        F.round(F.when(p0 != 0, (p1 - p0) / p0), 6).alias("rel_lift"),
        F.round(F.when(se != 0, (p1 - p0) / se), 6).alias("z_score"),
    )


EVT_ABTEST_LIFT_SQL = """
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' AND value > 200.0
                    THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY 1
),
arms AS (
    SELECT (user_id % 2) AS arm, count(*) AS n_users,
           sum(converted) AS n_converted
    FROM per_user GROUP BY 1
),
wide AS (
    SELECT any_value(CASE WHEN arm = 0 THEN n_users END) AS n0,
           any_value(CASE WHEN arm = 0 THEN n_converted END) AS c0,
           any_value(CASE WHEN arm = 1 THEN n_users END) AS n1,
           any_value(CASE WHEN arm = 1 THEN n_converted END) AS c1
    FROM arms
)
SELECT CAST(n0 AS BIGINT) AS n_control,
       CAST(c0 AS BIGINT) AS conv_control,
       CAST(n1 AS BIGINT) AS n_treatment,
       CAST(c1 AS BIGINT) AS conv_treatment,
       round(c0 / CAST(n0 AS DOUBLE), 6) AS rate_control,
       round(c1 / CAST(n1 AS DOUBLE), 6) AS rate_treatment,
       round(c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE), 6) AS abs_lift,
       round(CASE WHEN c0 / CAST(n0 AS DOUBLE) != 0 THEN
             (c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
             / (c0 / CAST(n0 AS DOUBLE)) END, 6) AS rel_lift,
       round(CASE WHEN sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / n0 + 1.0 / n1)) != 0 THEN
             (c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
             / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / n0 + 1.0 / n1)) END, 6) AS z_score
FROM wide
"""


# ---------------------------------------------------------------------------
# dedup_cross_source_report — where the near-dup burden lives
# ---------------------------------------------------------------------------


def dedup_cross_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts per (source_a, source_b): the report that
    decides dedup strategy — within-source duplication is fixed by
    per-source dedup before mixing, cross-source duplication (mirrors,
    syndication) needs the global pass.

    Composes the engine's own Jaccard pair list (∝ near-dups, not
    corpus²) with two broadcast-sized id→source lookups; sources are
    canonically ordered so (a,b) and (b,a) collapse.  Output ≤
    |sources|² rows at any corpus size.
    """
    from atd_data_lake_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    pairs = ngram_jaccard_pairs(
        d.select("doc_id", "text"), n=3, threshold=0.5
    )
    src = d.select("doc_id", "source")
    enriched = (
        pairs.join(
            F.broadcast(src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "_sa")),
            "id_a",
        )
        .join(
            F.broadcast(src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "_sb")),
            "id_b",
        )
    )
    return (
        enriched.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
        .withColumn(
            "cross_source", F.col("source_a") != F.col("source_b")
        )
        .orderBy("source_a", "source_b")
    )


def make_cross_source_sql(jaccard_sql: str) -> str:
    """Oracle builder (composed in queries.py where DEDUP_JACCARD_SQL
    is in scope)."""
    return f"""
WITH pairs AS ({jaccard_sql}),
enriched AS (
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b
    FROM pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
)
SELECT source_a, source_b, count(*) AS n_pairs,
       source_a != source_b AS cross_source
FROM enriched
GROUP BY 1, 2
ORDER BY 1, 2
"""


ROUND10_QUERIES = {
    "text_zipf_fit": text_zipf_fit,
    "emb_drift_shift": emb_drift_shift,
    "evt_abtest_lift": evt_abtest_lift,
    "dedup_cross_source_report": dedup_cross_source_report,
}
ROUND10_ORACLES = {
    "text_zipf_fit": TEXT_ZIPF_FIT_SQL,
    "emb_drift_shift": EMB_DRIFT_SHIFT_SQL,
    "evt_abtest_lift": EVT_ABTEST_LIFT_SQL,
}
