"""Round-41 query additions — threshold-free classifier evaluation and
mergeable quantile sketches.

- ``dq_classifier_auc`` — exact ROC-AUC (Mann-Whitney rank-sum with
  average-rank tie handling) + exact average-precision (PR-AUC) for a
  score/label column pair, the threshold-free numbers every
  classifier-filtered corpus decision (CCNet/fastText-style quality
  gating) actually turns on.  The classifier under test is the engine's
  own stopword-ratio quality signal scored against the ``lang == 'en'``
  ground truth.
- ``dq_pr_curve`` — the full precision/recall operating curve, one row
  per distinct score threshold (descending), cumulative TP/FP off a
  single window pass.
- ``ts_rolling_p95_sketch`` — trailing-7-day p50/p95/p99 of event value
  per type from MERGEABLE per-day quantile sketches (DDSketch-style
  log-γ buckets, Masson et al., VLDB'19).  Where ``ts_rolling_median``
  pays an exact band join priced on |types|×|days| daily SCALARS, raw
  percentiles over a window can't pre-reduce — the mergeable-sketch row
  (per-day bucket counts) is the standard 100 TB answer: raw events
  collapse in ONE map-side-combined aggregate, windows merge sketch
  rows by bucket-count addition (commutative/associative ⇒ partition-
  and merge-order-invariant), relative error ≤ 2α/(1−α) ≈ 2% at
  α = 0.01 by construction.

- ``dq_calibration_bins`` — reliability diagram + expected calibration
  error for the same score/label pair (does a 0.9 score MEAN 90%?),
  one ≤10-group aggregate over the corpus.
- ``text_kn_bigram_logprob`` — interpolated Kneser-Ney bigram LM
  scoring (the standard n-gram smoothing) trained in-plan by three
  map-side-combined aggregates over hashed buckets.
- ``evt_stream_sketch_quantile_executed`` — the STREAMING twin of the
  sketch rollup: append-mode watermarked windows pre-aggregate
  (window, type, bucket) counts — bounded per-bucket state, no raw
  values retained — and quantiles finalize on read over the sink.

All six carry full DuckDB oracles.  The sketch is oracle-able —
unlike random-sampling KLL — precisely BECAUSE the bucket function
``ceil(ln(v)/ln γ)`` is deterministic: both engines compute identical
bucket ids, so even the sketch CONTENTS are SQL-reproducible.
(A 1-ulp libm divergence could in principle flip a value sitting within
~1e-14 of a bucket boundary; the test corpus's 2-decimal values sit no
closer than 1e-5 to any boundary, and the multi-SF parity test pins it.)

100 TB shapes:

- AUC/PR never sort raw rows: the corpus collapses to one row per
  DISTINCT score (map-side combined groupBy), and the rank/cumulative
  windows run over that bounded threshold frame.  AUC over a trillion
  scored docs costs one aggregate shuffle + a window over |thresholds|
  rows.  The ROC numerator is pure BIGINT arithmetic (one final
  divide), so the result is engine-exact, not float-sum-order-exact.
- The sketch frame is |types|×|days|×|occupied buckets| rows; the
  trailing-window merge is a band join over THAT, never over events.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# dq_classifier_auc / dq_pr_curve
# ---------------------------------------------------------------------------

# the scored "classifier": English-stopword token ratio (a real quality
# signal the curation gates use), evaluated against lang == 'en' truth
_AUC_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(score, is_pos) per document — THE scored-classifier frame all
    three evaluation queries (AUC, PR curve, calibration) share, so the
    score definition lives in exactly one place.  The split() is
    hoisted into one materialized array column (splicing it into each
    select re-tokenizes per expression — the round-3 gotcha, fixed
    here by the r8 review)."""
    stop_arr = ", ".join(f"'{w}'" for w in _AUC_STOPWORDS)
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").isNotNull())
        .select("lang", F.expr("split(trim(text), '\\\\s+')").alias("tk"))
        .filter(F.size("tk") >= 1)
        .select(
            F.round(
                F.expr(
                    f"size(filter(tk, t -> t IN ({stop_arr})))"
                ).cast("double")
                / F.size("tk").cast("double"),
                6,
            ).alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_pos"),
        )
    )


def _scored_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per DISTINCT classifier score: (score, p, n) positive /
    negative label counts.  This is the only pass that touches the
    corpus; everything downstream windows over |distinct scores| rows."""
    return _scored(spark, sf_dir).groupBy("score").agg(
        F.sum("is_pos").cast("long").alias("p"),
        F.sum(1 - F.col("is_pos")).cast("long").alias("n"),
    )


def dq_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC + average precision of the stopword-ratio scorer
    vs the lang=='en' label, with average-rank tie handling.

    ROC-AUC via the grouped Mann-Whitney identity: ascending by score,
    AUC·2PN = Σ_g p_g·(2·cumN_below + n_g) — every term BIGINT, one
    final divide, so both engines produce the identical double.  AP is
    the standard threshold-sum Σ_g (p_g/P)·precision_at(≥score_g).
    Degenerate classes (P = 0 or N = 0) yield NULL AUC rather than a
    0/0 — pinned by a unit test.
    """
    g = _scored_thresholds(spark, sf_dir)
    w_asc = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    w_desc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    per = g.select(
        "score",
        "p",
        "n",
        F.coalesce(F.sum("n").over(w_asc), F.lit(0)).alias("cum_n_below"),
        F.sum("p").over(w_desc).alias("cum_tp"),
        F.sum(F.col("p") + F.col("n")).over(w_desc).alias("cum_pred"),
    )
    stats = per.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
        F.count("*").cast("long").alias("n_thresholds"),
        F.sum(F.col("p") * (2 * F.col("cum_n_below") + F.col("n")))
        .cast("long")
        .alias("rank_num"),
        F.sum(F.col("p") * F.col("cum_tp") / F.col("cum_pred")).alias("ap_num"),
    )
    return stats.select(
        "n_pos",
        "n_neg",
        "n_thresholds",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("rank_num")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                6,
            ),
        ).alias("roc_auc"),
        F.when(
            F.col("n_pos") > 0, F.round(F.col("ap_num") / F.col("n_pos"), 6)
        ).alias("pr_auc"),
    )


def dq_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall at every distinct score threshold (classify
    positive when score ≥ threshold), descending — the operating curve
    behind ``dq_classifier_auc``'s single AP number."""
    g = _scored_thresholds(spark, sf_dir)
    w_desc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = g.select(
        F.col("score").alias("threshold"),
        F.sum("p").over(w_desc).alias("tp"),
        F.sum("n").over(w_desc).alias("fp"),
        F.sum("p").over(w_all).alias("total_p"),
    )
    return per.select(
        "threshold",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias(
            "precision"
        ),
        F.round(F.col("tp") / F.col("total_p"), 6).alias("recall"),
    ).orderBy(F.col("threshold").desc())


def _auc_base_sql() -> str:
    stop_arr = ", ".join(f"'{w}'" for w in _AUC_STOPWORDS)
    return f"""
t AS (
    SELECT regexp_split_to_array(trim(text), '\\s+') AS toks, lang
    FROM documents
    WHERE text IS NOT NULL
      AND len(regexp_split_to_array(trim(text), '\\s+')) >= 1
),
scored AS (
    SELECT round(CAST(len(list_filter(toks, tk -> list_contains([{stop_arr}],
               tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS score,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
    FROM t
),
g AS (
    SELECT score, CAST(sum(is_pos) AS BIGINT) AS p,
           CAST(sum(1 - is_pos) AS BIGINT) AS n
    FROM scored GROUP BY score
)"""


DQ_CLASSIFIER_AUC_SQL = f"""
WITH {_auc_base_sql()},
per AS (
    SELECT score, p, n,
           coalesce(sum(n) OVER (ORDER BY score ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_n_below,
           sum(p) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
           sum(p + n) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pred
    FROM g
),
stats AS (
    SELECT CAST(sum(p) AS BIGINT) AS n_pos,
           CAST(sum(n) AS BIGINT) AS n_neg,
           CAST(count(*) AS BIGINT) AS n_thresholds,
           CAST(sum(p * (2 * cum_n_below + n)) AS BIGINT) AS rank_num,
           sum(p * cum_tp / (cum_pred * 1.0)) AS ap_num
    FROM per
)
SELECT n_pos, n_neg, n_thresholds,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round(rank_num / (2.0 * n_pos * n_neg), 6) END AS roc_auc,
       CASE WHEN n_pos > 0 THEN round(ap_num / n_pos, 6) END AS pr_auc
FROM stats
"""


DQ_PR_CURVE_SQL = f"""
WITH {_auc_base_sql()},
per AS (
    SELECT score AS threshold,
           sum(p) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
           sum(n) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
           sum(p) OVER () AS total_p
    FROM g
)
SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       round(tp / ((tp + fp) * 1.0), 6) AS precision,
       round(tp / (total_p * 1.0), 6) AS recall
FROM per
ORDER BY threshold DESC
"""


# ---------------------------------------------------------------------------
# dq_calibration_bins
# ---------------------------------------------------------------------------

_CAL_BINS = 10


def dq_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE for the stopword-ratio scorer vs the
    lang=='en' label: scores bin into 10 equal-width buckets; each row
    carries the bin's count, mean confidence, empirical accuracy, the
    |acc − conf| gap, and the dataset-level expected calibration error
    (Σ n_b/N·gap_b — constant across rows so the single number rides
    along without a second query).  The decision AUC can't make —
    whether a 0.9 score MEANS 90% — is exactly what thresholding a
    classifier-filtered corpus on a score value assumes.

    100 TB shape: the corpus collapses in ONE map-side-combined groupBy
    on the bin id (≤ 10 groups); everything after is window math over
    10 rows.
    """
    scored = _scored(spark, sf_dir)
    bins = (
        scored.select(
            F.least(
                F.floor(F.col("score") * _CAL_BINS), F.lit(_CAL_BINS - 1)
            )
            .cast("long")
            .alias("bin"),
            "score",
            "is_pos",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("score").alias("score_sum"),
            F.sum("is_pos").cast("long").alias("n_pos"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = bins.select(
        "bin",
        "n",
        F.round(F.col("score_sum") / F.col("n"), 6).alias("mean_conf"),
        F.round(F.col("n_pos") / F.col("n"), 6).alias("accuracy"),
        (
            F.col("n")
            * F.abs(
                F.col("score_sum") / F.col("n") - F.col("n_pos") / F.col("n")
            )
        ).alias("_w_gap"),
        F.sum("n").over(w_all).alias("_total"),
    )
    return per.select(
        "bin",
        "n",
        "mean_conf",
        "accuracy",
        F.round(F.abs(F.col("mean_conf") - F.col("accuracy")), 6).alias("gap"),
        F.round(
            F.sum("_w_gap").over(w_all) / F.col("_total"), 6
        ).alias("ece"),
    ).orderBy("bin")


DQ_CALIBRATION_BINS_SQL = f"""
WITH {_auc_base_sql()},
b AS (
    SELECT least(CAST(floor(score * {_CAL_BINS}) AS BIGINT),
                 {_CAL_BINS - 1}) AS bin,
           count(*) AS n,
           sum(score) AS score_sum,
           sum(is_pos) AS n_pos
    FROM scored GROUP BY 1
),
per AS (
    SELECT bin, CAST(n AS BIGINT) AS n,
           round(score_sum / n, 6) AS mean_conf,
           round(n_pos / (n * 1.0), 6) AS accuracy,
           n * abs(score_sum / n - n_pos / (n * 1.0)) AS w_gap,
           sum(n) OVER () AS total
    FROM b
)
SELECT bin, n, mean_conf, accuracy,
       round(abs(mean_conf - accuracy), 6) AS gap,
       round(sum(w_gap) OVER () / total, 6) AS ece
FROM per
ORDER BY bin
"""


# ---------------------------------------------------------------------------
# ts_rolling_p95_sketch
# ---------------------------------------------------------------------------

_SK_ALPHA = 0.01
_SK_GAMMA = (1.0 + _SK_ALPHA) / (1.0 - _SK_ALPHA)  # exact double, both engines
_SK_WINDOW_DAYS = 7
_SK_QUANTILES = (("p50", 0.50), ("p95", 0.95), ("p99", 0.99))


def daily_value_sketch(ev: DataFrame, gamma: float = _SK_GAMMA) -> DataFrame:
    """Per (event_type, day, bucket) DDSketch rows over ``value``:
    bucket = ceil(ln(v)/ln γ) for v > 0, with count.  The ONE pass that
    touches raw events; bucket counts add, so any union of these rows
    re-aggregated by key is the sketch of the unioned data (the
    mergeability the rolling window and the partition-invariance test
    both rely on).  Non-positive values are out of DDSketch's domain
    and are excluded (the reference corpus has none; a production table
    would carry them in a dedicated zero/negative bucket pair)."""
    return (
        ev.filter(F.col("value") > 0)
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.ceil(F.log(F.col("value")) / F.lit(math.log(gamma)))
            .cast("int")
            .alias("bucket"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def sketch_quantile_cols(gamma: float = _SK_GAMMA) -> list[F.Column]:
    """Quantile estimates off merged (bucket, cnt) rows grouped by the
    window key: for rank r_q = ceil(q·total), the estimate is
    2·γ^b/(γ+1) at the smallest bucket whose cumulative count reaches
    r_q.  Implemented as min-over-conditional so all quantiles come out
    of ONE cumulative pass."""
    cols = []
    for name, q in _SK_QUANTILES:
        b_q = F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(q) * F.col("total")), F.col("bucket")
            )
        )
        cols.append(
            F.round(
                2.0
                * F.pow(F.lit(gamma), b_q.cast("double"))
                / F.lit(gamma + 1.0),
                6,
            ).alias(name)
        )
    return cols


def ts_rolling_p95_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day p50/p95/p99 of event value per type, from merged
    per-day DDSketch bucket rows (relative error ≤ ~2% at α = 0.01;
    the error-bound test asserts < 5% vs the exact percentile).

    100 TB shape: raw events reduce to |types|×|days|×|occupied
    buckets| sketch rows in one map-side-combined aggregate; the
    trailing band join and everything after it runs over that frame.
    Merging = summing counts per bucket — no raw value ever re-read,
    the property that makes per-day sketches the storable/rollup-able
    artifact (same pattern as ``evt_rolling_active_hll``).
    """
    ev = _t(spark, sf_dir, "events")
    daily = daily_value_sketch(ev)
    anchors = daily.select("event_type", "day").distinct()
    r = daily.select(
        F.col("event_type").alias("event_type_r"),
        F.col("day").alias("day_r"),
        "bucket",
        "cnt",
    )
    merged = (
        anchors.join(
            r,
            (F.col("event_type") == F.col("event_type_r"))
            & (F.col("day_r") >= F.date_sub("day", _SK_WINDOW_DAYS - 1))
            & (F.col("day_r") <= F.col("day")),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type", "day")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type", "day")
    cum = merged.select(
        "event_type",
        "day",
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    return (
        cum.groupBy("event_type", "day")
        .agg(
            F.max("total").cast("long").alias("n_events"),
            *sketch_quantile_cols(),
        )
        .orderBy("event_type", "day")
    )


TS_ROLLING_P95_SKETCH_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(ceil(ln(value) / {math.log(_SK_GAMMA)!r}) AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events WHERE value > 0
    GROUP BY 1, 2, 3
),
anchors AS (SELECT DISTINCT event_type, day FROM daily),
merged AS (
    SELECT a.event_type, a.day, r.bucket, sum(r.cnt) AS cnt
    FROM anchors a JOIN daily r
      ON r.event_type = a.event_type
     AND r.day >= a.day - {_SK_WINDOW_DAYS - 1} AND r.day <= a.day
    GROUP BY 1, 2, 3
),
cum AS (
    SELECT event_type, day, bucket, cnt,
           sum(cnt) OVER (PARTITION BY event_type, day ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cnt) OVER (PARTITION BY event_type, day) AS total
    FROM merged
)
SELECT event_type, day, CAST(max(total) AS BIGINT) AS n_events,
       {", ".join(
           f"round(2.0 * pow({_SK_GAMMA!r}, "
           f"CAST(min(CASE WHEN cum >= ceil({q} * total) THEN bucket END) "
           f"AS DOUBLE)) / ({_SK_GAMMA!r} + 1.0), 6) AS {name}"
           for name, q in _SK_QUANTILES
       )}
FROM cum
GROUP BY event_type, day
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# text_kn_bigram_logprob
# ---------------------------------------------------------------------------

_KN_BUCKETS = 4096
_KN_D = 0.75


def text_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under an interpolated
    KNESER-NEY bigram LM over hashed tokens (Kneser & Ney '95; Chen &
    Goodman '99, interpolated form) — the standard n-gram smoothing,
    one rung above ``text_bigram_logprob``'s add-one:

        P(w2|w1) = (c(w1w2) − D)/c(w1)
                 + D·N1+(w1·)/c(w1) · N1+(·w2)/N1+(··)

    with D = 0.75.  Scoring corpus == training corpus, so every scored
    bigram has c ≥ 1 > D and the max(·,0)/backoff branch is never
    taken (documented precondition; a held-out scorer would add it).

    Engine-exactness: the probability is a fixed parenthesization of
    exact BIGINT counts under IEEE ops, its log is rounded to 9 dp and
    decimal-summed per doc (the ``text_bigram_logprob`` recipe).

    100 TB shape: THREE map-side-combined aggregates train the model
    (pair counts; per-context totals + fan-out; continuation counts) —
    all keyed on 8-byte hash buckets; the score join is a plain
    equi-join on (b1, b2) with NO forced broadcast (the pair model
    grows past LUT size with vocabulary; AQE broadcasts while it
    fits).  Tokens never shuffle, buckets do.

    r9 fusion attempts, MEASURED SLOWER and reverted (SCALE.md §r9):
    (a) collecting the ≤4096-row marginals as driver LUTs — the two
    extra driver actions cost more waves than the two joins they
    replaced (2.9 s vs 2.6 s steady-state), plus F.lit(4096-element
    list) alone burns ~2.3 s of py4j driver time; (b) persisting ``bk``
    — the 270k-row cache write outweighs the duplicated 50 ms tokenize.
    The residual over DuckDB is the sequential AQE stage-wave floor
    (~5 waves × ~0.4 s on this host), not data work.
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 2
    )
    # hash every token ONCE into a bucket array, then zip_with over two
    # slices of that array — split()/md5 evaluate per row/token, never
    # per bigram (the round-3 higher-order-function gotcha)
    hb = (
        f"transform(split(text, ' '), t -> "
        f"CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) "
        f"% {_KN_BUCKETS})"
    )
    bk = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"zip_with(slice({hb}, 1, size(split(text, ' ')) - 1), "
                f"slice({hb}, 2, size(split(text, ' ')) - 1), "
                f"(a, b) -> struct(a AS b1, b AS b2))"
            )
        ).alias("g"),
    ).select("doc_id", "g.b1", "g.b2")
    pairs = bk.groupBy("b1", "b2").agg(F.count("*").alias("c12"))
    ctx = pairs.groupBy("b1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n_fwd")
    )
    cont = pairs.groupBy("b2").agg(F.count("*").alias("n_back"))
    npairs = pairs.agg(F.count("*").alias("npairs"))
    lp = (
        pairs.join(ctx, "b1")
        .join(cont, "b2")
        .crossJoin(F.broadcast(npairs))
        .select(
            "b1",
            "b2",
            F.round(
                F.log(
                    (F.col("c12") - F.lit(_KN_D)) / F.col("c1")
                    + ((F.lit(_KN_D) * F.col("n_fwd")) / F.col("c1"))
                    * (F.col("n_back") / F.col("npairs"))
                ),
                9,
            ).alias("lp"),
        )
    )
    return (
        bk.join(lp, ["b1", "b2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("lp").cast("decimal(20,9)")).alias("_s"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.round(
                F.col("_s").cast("double") / F.col("n_bigrams"), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


TEXT_KN_BIGRAM_LOGPROB_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents WHERE len(string_split(text, ' ')) >= 2
),
bk AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(toks[i]), 1, 8))::UBIGINT
                % {_KN_BUCKETS} AS BIGINT) AS b1,
           CAST(('0x' || substr(md5(toks[i + 1]), 1, 8))::UBIGINT
                % {_KN_BUCKETS} AS BIGINT) AS b2
    FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
),
pairs AS (SELECT b1, b2, count(*) AS c12 FROM bk GROUP BY 1, 2),
ctx AS (SELECT b1, sum(c12) AS c1, count(*) AS n_fwd FROM pairs GROUP BY 1),
cont AS (SELECT b2, count(*) AS n_back FROM pairs GROUP BY 1),
np AS (SELECT count(*) AS npairs FROM pairs),
lp AS (
    SELECT p.b1, p.b2,
           round(ln((p.c12 - {_KN_D}) / c.c1
                 + (({_KN_D} * c.n_fwd) / c.c1)
                 * (o.n_back / (np.npairs * 1.0))), 9) AS lp
    FROM pairs p JOIN ctx c USING (b1) JOIN cont o USING (b2), np
)
SELECT bk.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(CAST(lp.lp AS DECIMAL(20,9))) AS DOUBLE)
             / count(*), 6) AS avg_logprob
FROM bk JOIN lp USING (b1, b2)
GROUP BY bk.doc_id
ORDER BY bk.doc_id
"""


# ---------------------------------------------------------------------------
# evt_stream_sketch_quantile_executed
# ---------------------------------------------------------------------------

_SSK_WINDOW = "60 minutes"
_SSK_DELAY = "30 minutes"


def evt_stream_sketch_quantile_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXECUTED Structured Streaming twin of the mergeable-sketch
    pattern: the stream pre-aggregates per (hour window, type, DDSketch
    bucket) COUNTS in append mode (watermark-finalized, emitted exactly
    once) — the storable sketch rows — and the quantile finalization
    (p50/p95) runs on READ over the sink, exactly how a 100 TB
    streaming-percentile pipeline splits work: the unbounded stream
    only ever maintains bounded per-bucket counters (no raw-value
    state, unlike a percentile_approx over the window), and any later
    consumer derives any quantile from the stored rows.

    Harness discipline per round-34: NTZ event time, named memory sink
    stopped before reuse, availableNow drain (the final no-data batch
    advances the watermark and flushes finalized windows).
    """
    from atd_data_lake_spark.round34_queries import _drain, _events_stream

    src = _events_stream(spark, sf_dir)
    its = F.to_utc_timestamp("ts", "UTC")
    sketch_rows = (
        src.filter(F.col("value") > 0)
        .select(
            its.alias("its"),
            "event_type",
            F.ceil(F.log(F.col("value")) / F.lit(math.log(_SK_GAMMA)))
            .cast("int")
            .alias("bucket"),
        )
        .withWatermark("its", _SSK_DELAY)
        .groupBy(
            F.window("its", _SSK_WINDOW).alias("w"), "event_type", "bucket"
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    sink = _drain(
        sketch_rows, "evt_stream_sketch_quantile_sink", spark, "append"
    )
    w_cum = (
        Window.partitionBy("w", "event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("w", "event_type")
    cum = sink.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    quants = []
    for name, q in (("p50", 0.50), ("p95", 0.95)):
        b_q = F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(q) * F.col("total")),
                F.col("bucket"),
            )
        )
        quants.append(
            F.round(
                2.0
                * F.pow(F.lit(_SK_GAMMA), b_q.cast("double"))
                / F.lit(_SK_GAMMA + 1.0),
                6,
            ).alias(name)
        )
    return (
        cum.groupBy("window_start", "event_type")
        .agg(F.max("total").cast("long").alias("n_events"), *quants)
        .orderBy("window_start", "event_type")
    )


EVT_STREAM_SKETCH_QUANTILE_SQL = f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
sk AS (
    SELECT make_timestamp(
               CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000)
             AS window_start,
           event_type,
           CAST(ceil(ln(value) / {math.log(_SK_GAMMA)!r}) AS INTEGER)
             AS bucket,
           count(*) AS cnt
    FROM events WHERE value > 0
    GROUP BY 1, 2, 3
),
fin AS (
    SELECT s.* FROM sk s, mx
    WHERE epoch(s.window_start) + 3600 <= epoch(m) - 1800
),
cum AS (
    SELECT window_start, event_type, bucket, cnt,
           sum(cnt) OVER (PARTITION BY window_start, event_type
               ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cnt) OVER (PARTITION BY window_start, event_type) AS total
    FROM fin
)
SELECT window_start, event_type, CAST(max(total) AS BIGINT) AS n_events,
       round(2.0 * pow({_SK_GAMMA!r}, CAST(min(CASE WHEN cum >=
           ceil(0.50 * total) THEN bucket END) AS DOUBLE))
           / ({_SK_GAMMA!r} + 1.0), 6) AS p50,
       round(2.0 * pow({_SK_GAMMA!r}, CAST(min(CASE WHEN cum >=
           ceil(0.95 * total) THEN bucket END) AS DOUBLE))
           / ({_SK_GAMMA!r} + 1.0), 6) AS p95
FROM cum
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


ROUND41_QUERIES = {
    "text_kn_bigram_logprob": text_kn_bigram_logprob,
    "evt_stream_sketch_quantile_executed": evt_stream_sketch_quantile_executed,
    "dq_classifier_auc": dq_classifier_auc,
    "dq_pr_curve": dq_pr_curve,
    "dq_calibration_bins": dq_calibration_bins,
    "ts_rolling_p95_sketch": ts_rolling_p95_sketch,
}

ROUND41_ORACLES = {
    "text_kn_bigram_logprob": TEXT_KN_BIGRAM_LOGPROB_SQL,
    "evt_stream_sketch_quantile_executed": EVT_STREAM_SKETCH_QUANTILE_SQL,
    "dq_classifier_auc": DQ_CLASSIFIER_AUC_SQL,
    "dq_pr_curve": DQ_PR_CURVE_SQL,
    "dq_calibration_bins": DQ_CALIBRATION_BINS_SQL,
    "ts_rolling_p95_sketch": TS_ROLLING_P95_SKETCH_SQL,
}
