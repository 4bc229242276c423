"""Round-14 query additions: weighted sampling, change-point detection
and sample-trained PCA projection (the round's revenue-concentration
query, ``olap_revenue_gini``, lives in ``tpch_queries``).

- ``cur_weighted_sample`` — Efraimidis-Spirakis A-ES weighted sampling
  without replacement over ``documents`` (weight = n_chars): each row
  draws a deterministic uniform u from md5 (the portable-hash trick —
  both engines parse the same 13 hex digits into the same 52-bit
  integer) and races with key -ln(u)/w; the k smallest keys win.  The
  one-pass, shuffle-free way to draw a weighted corpus subsample at
  100 TB: no global sort, just a top-k (TakeOrderedAndProject).
  Oracle-backed.
- ``evt_change_points`` — CUSUM change-point detection on the per-type
  daily count series: S_d = cumsum(c_d - mu), the |S| peak marks the
  most likely level shift; reports the detected day, peak magnitude,
  and the exact mean before/after.  Counts are integers so every sum is
  exact; mu enters once as a double product.  Oracle-backed.
- ``emb_pca_project`` — top-8 linear projection of the embedding
  corpus.  UPGRADED r7 from rows-only to a full driver value-hash
  oracle via the model-injection recipe (``ivf_topk_model`` /
  ``emb_pq_codes``): the registered query projects onto a FIXED
  loading matrix (the 8 lowest-vec_id embeddings, centered against the
  16-row train slice) — exactly how PCA inference runs at 100 TB
  (components are trained offline once and shipped; the projection job
  never re-solves the eigenproblem), and fully SQL-reproducible via
  ``list_dot_product``.  The eigensolve-trained path lives on as
  :func:`emb_pca_project_trained` with its orthonormality / variance /
  partition-invariance pytest gates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# cur_weighted_sample — A-ES weighted sampling without replacement
# ---------------------------------------------------------------------------

_WS_K = 50
_U_DENOM = float(1 << 52)


def cur_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 weighted sample of ``documents`` (weight = n_chars) by the
    exponential-race key -ln(u)/w; smaller key = earlier arrival = in
    the sample.  P(doc in sample) is proportional-to-size without
    replacement (A-ES / exponential clocks).

    u = first 13 md5 hex digits of 'ws:'||doc_id as a 52-bit uniform in
    (0,1] — deterministic, engine-portable, and independent of the
    weight column.  The plan is scan → project → top-k: no shuffle
    beyond TakeOrderedAndProject's single reduce.
    """
    d = _t(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id"))), 1, 13),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(_U_DENOM)
    key = -F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.round(key, 9).alias("race_key"),
        )
        .orderBy("race_key", "doc_id")
        .limit(_WS_K)
    )


CUR_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, source, n_chars,
       round(-ln((('0x' || substr(md5('ws:' || doc_id), 1, 13))::UBIGINT + 1.0)
                 / {_U_DENOM!r}) / n_chars, 9) AS race_key
FROM documents
ORDER BY race_key, doc_id
LIMIT {_WS_K}
"""


# ---------------------------------------------------------------------------
# evt_change_points — CUSUM level-shift detection per event type
# ---------------------------------------------------------------------------


def evt_change_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM change-point: the day where |cumsum(c_d - mu)|
    peaks, its magnitude, and the exact mean daily count before/after
    (split after the detected day).

    S_d = (running integer sum of counts) - k_d * mu — one window
    cumsum over day order per type, mu joined on as the per-type
    global mean.  Peak selection is a row_number over (|S| desc, day
    asc): deterministic on ties.  Means re-derive from the SAME frame
    with conditional integer sums — no second scan of events.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("c").alias("total"), F.count("*").alias("n_days")
    )
    mu = F.col("total") / F.col("n_days")
    w = Window.partitionBy("event_type").orderBy("day")
    cum = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn("k", F.row_number().over(w))
        .withColumn(
            "s",
            F.sum("c").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("k") * mu,
        )
    )
    peak = cum.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("s")).desc(), F.col("day").asc()
            )
        ),
    ).filter(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("change_day"),
        F.col("k").alias("k_at_peak"),
        F.round(F.abs(F.col("s")), 6).alias("cusum_peak"),
    )
    joined = daily.join(F.broadcast(peak), "event_type")
    means = joined.groupBy("event_type").agg(
        F.round(
            F.sum(F.when(F.col("day") <= F.col("change_day"), F.col("c")))
            / F.sum(F.when(F.col("day") <= F.col("change_day"), 1)),
            6,
        ).alias("mean_before"),
        F.round(
            F.sum(F.when(F.col("day") > F.col("change_day"), F.col("c")))
            / F.sum(F.when(F.col("day") > F.col("change_day"), 1)),
            6,
        ).alias("mean_after"),
    )
    return (
        peak.join(means, "event_type")
        .select(
            "event_type", "change_day", "cusum_peak", "mean_before", "mean_after"
        )
        .orderBy("event_type")
    )


EVT_CHANGE_POINTS_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
    FROM events GROUP BY 1, 2
),
tot AS (
    SELECT event_type, sum(c) AS total, count(*) AS n_days
    FROM daily GROUP BY 1
),
cum AS (
    SELECT d.event_type, d.day,
           row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS k,
           sum(d.c) OVER (PARTITION BY d.event_type ORDER BY d.day
                          ROWS UNBOUNDED PRECEDING)
             - row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
               * (t.total / CAST(t.n_days AS DOUBLE)) AS s
    FROM daily d JOIN tot t USING (event_type)
),
peak AS (
    SELECT event_type, day AS change_day, round(abs(s), 6) AS cusum_peak,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY abs(s) DESC, day ASC) AS rn
    FROM cum
),
p1 AS (SELECT event_type, change_day, cusum_peak FROM peak WHERE rn = 1),
means AS (
    SELECT d.event_type,
           round(sum(CASE WHEN d.day <= p.change_day THEN d.c END)
                 / CAST(sum(CASE WHEN d.day <= p.change_day THEN 1 END)
                        AS DOUBLE), 6) AS mean_before,
           round(sum(CASE WHEN d.day > p.change_day THEN d.c END)
                 / CAST(sum(CASE WHEN d.day > p.change_day THEN 1 END)
                        AS DOUBLE), 6) AS mean_after
    FROM daily d JOIN p1 p USING (event_type)
    GROUP BY 1
)
SELECT p.event_type, p.change_day, p.cusum_peak, m.mean_before, m.mean_after
FROM p1 p JOIN means m USING (event_type)
ORDER BY p.event_type
"""


# ---------------------------------------------------------------------------
# emb_pca_project — sample-trained PCA, full-corpus projection
# ---------------------------------------------------------------------------

_PCA_COMPONENTS = 8
_PCA_TRAIN_SAMPLE = 4096


def _pca_components(sample: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(mean, components[k, dim], explained_var[k]) from the sample —
    eigh of the sample covariance, eigenvectors sign-pinned so the
    entry of largest |value| (lowest index on ties) is positive."""
    mean = sample.mean(axis=0)
    X = sample - mean
    cov = (X.T @ X) / max(len(X) - 1, 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:_PCA_COMPONENTS]
    comps = vecs[:, order].T.copy()
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, vals[order]


def emb_pca_project_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA projection of every embedding; components trained on
    the first 4096 vec_ids (deterministic bounded sample, the PQ/IVF
    train-small-project-wide split).  One Arrow-batched matmul pass,
    zero shuffle; output is all-scalar (vec_id, p0..p7).

    Production path with the real eigensolve — pytest-gated
    (orthonormality, sign pinning, variance ordering, partition
    invariance); the registered ``emb_pca_project`` query is the
    model-injected twin below, which value-hash-checks the same
    projection machinery under the driver oracle."""
    e = _t(spark, sf_dir, "embeddings")
    sample_rows = (
        e.orderBy("vec_id").select("embedding").limit(_PCA_TRAIN_SAMPLE).collect()
    )
    sample = np.array([r[0] for r in sample_rows], dtype=np.float64)
    mean, comps, _ = _pca_components(sample)

    out_schema = T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [
            T.StructField(f"p{i}", T.DoubleType())
            for i in range(_PCA_COMPONENTS)
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64) - mean
            P = np.round(X @ comps.T, 6)
            out = {"vec_id": pdf["vec_id"]}
            for i in range(_PCA_COMPONENTS):
                out[f"p{i}"] = P[:, i]
            yield pd.DataFrame(out)

    return e.select("vec_id", "embedding").mapInPandas(op, schema=out_schema)


_PCA_BASIS_ROWS = 8
_PCA_TRAIN_ROWS = 16


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-injected linear projection — UPGRADED r7 from rows-only to
    a full driver value-hash oracle.  The loading matrix is the 8
    lowest-vec_id embeddings; centering is the scalar trick (dot is
    linear, so ``dot(v - m, b_i) = dot(v, b_i) - dot(m, b_i)`` with
    ``dot(m, b_i)`` the 9-dp-rounded mean of the 16 train-row dots) —
    no componentwise mean vector ever crosses an engine boundary.
    Output per vector: ``p0..p7`` (6-dp half-up), all scalars.

    100 TB shape: the model is 8x64 doubles + 8 scalars in the closure;
    projection is one Arrow matmul map pass, zero shuffle (identical to
    the trained path — this twin exists so the driver hash-checks the
    machinery end to end).
    """
    from atd_data_lake_spark.operators.similarity import (
        _round_half_up,
        drop_null_vectors,
    )

    e = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    rows = (
        e.filter(F.col("vec_id") < _PCA_TRAIN_ROWS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    train = np.array([r[0] for r in rows], dtype=np.float64)  # 16 x dim
    basis = train[:_PCA_BASIS_ROWS]  # 8 x dim
    # c_i = round(mean_j dot(train_j, basis_i), 9) — mirrors DuckDB's
    # avg(list_dot_product(...)); 9-dp rounding absorbs sum-order drift.
    centers = _round_half_up((train @ basis.T).mean(axis=0), 9)  # (8,)

    out_schema = T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [
            T.StructField(f"p{i}", T.DoubleType())
            for i in range(_PCA_BASIS_ROWS)
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            P = _round_half_up(X @ basis.T - centers, 6)
            out = {"vec_id": pdf["vec_id"]}
            for i in range(_PCA_BASIS_ROWS):
                out[f"p{i}"] = P[:, i]
            yield pd.DataFrame(out)

    return e.select("vec_id", "embedding").mapInPandas(op, schema=out_schema)


def _emb_pca_project_sql() -> str:
    proj_cols = ",\n       ".join(
        f"max(CASE WHEN comp = {i} THEN p END) AS p{i}"
        for i in range(_PCA_BASIS_ROWS)
    )
    return f"""
WITH ev AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
),
basis AS (
    SELECT vec_id AS comp, v AS b FROM ev WHERE vec_id < {_PCA_BASIS_ROWS}
),
ctr AS (
    SELECT comp, round(avg(list_dot_product(t.v, basis.b)), 9) AS c
    FROM (SELECT v FROM ev WHERE vec_id < {_PCA_TRAIN_ROWS}) t, basis
    GROUP BY comp
),
proj AS (
    SELECT e.vec_id, b.comp,
           round(list_dot_product(e.v, b.b) - ctr.c, 6) AS p
    FROM ev e, basis b JOIN ctr USING (comp)
)
SELECT vec_id,
       {proj_cols}
FROM proj
GROUP BY vec_id
ORDER BY vec_id
"""


EMB_PCA_PROJECT_SQL = _emb_pca_project_sql()


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND14_QUERIES = {
    "cur_weighted_sample": cur_weighted_sample,
    "evt_change_points": evt_change_points,
    "emb_pca_project": emb_pca_project,
}

ROUND14_ORACLES = {
    "cur_weighted_sample": CUR_WEIGHTED_SAMPLE_SQL,
    "evt_change_points": EVT_CHANGE_POINTS_SQL,
    # emb_pca_project: UPGRADED r7 to a full oracle via the injected
    # loading matrix + scalar centering (was rows-only)
    "emb_pca_project": EMB_PCA_PROJECT_SQL,
}
