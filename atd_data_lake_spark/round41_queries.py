"""Round-41 query additions — mergeable quantile sketches and
Kneser-Ney LM scoring.  The round's threshold-free classifier
evaluation (``dq_classifier_auc``, ``dq_pr_curve``,
``dq_calibration_bins``) lives in ``dq_queries``.

- ``ts_rolling_p95_sketch`` — trailing-7-day p50/p95/p99 of event value
  per type from MERGEABLE per-day quantile sketches (DDSketch-style
  log-γ buckets, Masson et al., VLDB'19).  Where ``ts_rolling_median``
  pays an exact band join priced on |types|×|days| daily SCALARS, raw
  percentiles over a window can't pre-reduce — the mergeable-sketch row
  (per-day bucket counts) is the standard 100 TB answer: raw events
  collapse in ONE map-side-combined aggregate, windows merge sketch
  rows by bucket-count addition (commutative/associative ⇒ partition-
  and merge-order-invariant), relative error ≤ 2α/(1−α) ≈ 2% at
  α = 0.01 by construction.  Its streaming twin,
  ``evt_stream_sketch_quantile_executed``, lives in
  ``executed_queries.py``; the bucket and quantile formulas both use
  are ``operators/sketches.sketch_bucket_col``/``sketch_quantile_cols``.
- ``text_kn_bigram_logprob`` — interpolated Kneser-Ney bigram LM
  scoring (the standard n-gram smoothing) trained in-plan by three
  map-side-combined aggregates over hashed buckets.

Both carry full DuckDB oracles.  The sketch is oracle-able —
unlike random-sampling KLL — precisely BECAUSE the bucket function
``ceil(ln(v)/ln γ)`` is deterministic: both engines compute identical
bucket ids, so even the sketch CONTENTS are SQL-reproducible.
(A 1-ulp libm divergence could in principle flip a value sitting within
~1e-14 of a bucket boundary; the test corpus's 2-decimal values sit no
closer than 1e-5 to any boundary, and the multi-SF parity test pins it.)

100 TB shapes:

- The sketch frame is |types|×|days|×|occupied buckets| rows; the
  trailing-window merge is a band join over THAT, never over events.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.sketches import (
    _SK_GAMMA,
    _SK_QUANTILES,
    sketch_bucket_col,
    sketch_quantile_cols,
)


# ---------------------------------------------------------------------------
# ts_rolling_p95_sketch
# ---------------------------------------------------------------------------

_SK_WINDOW_DAYS = 7


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
            sketch_bucket_col(F.col("value"), gamma).alias("bucket"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


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


ROUND41_QUERIES = {
    "text_kn_bigram_logprob": text_kn_bigram_logprob,
    "ts_rolling_p95_sketch": ts_rolling_p95_sketch,
}

ROUND41_ORACLES = {
    "text_kn_bigram_logprob": TEXT_KN_BIGRAM_LOGPROB_SQL,
    "ts_rolling_p95_sketch": TS_ROLLING_P95_SKETCH_SQL,
}
