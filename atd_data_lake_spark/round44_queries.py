"""Round-44 query addition — IN-PLAN quality-classifier TRAINING.

``dq_logreg_quality_train`` trains the CCNet/fastText-style quality
gate the curation queries assume as given: logistic regression of the
``lang == 'en'`` label on three document-quality features (stopword
ratio, capped length, lexical diversity), by THREE unrolled
batch-gradient-descent iterations executed entirely inside the query
plan — no collects, no driver loop, no MLlib.  Output is one row:
the trained weights and the final mean log-loss.

Engine-exact float discipline (the ``graph_ppr`` / ``text_kn_bigram``
recipe, extended to a TRAINING loop):

- features are rounded decimals (6 dp) — identical in both engines;
- each iteration's per-row residual σ(w·x) − y is rounded to 9 dp
  (libm ``exp`` may differ by 1 ulp across engines; after 9-dp
  rounding, a divergence needs the true value within ~1e-17 of a
  rounding boundary — ~2e-3 expected hits corpus-wide, pinned by the
  multi-SF parity sweeps) and DECIMAL-summed: gradient components are
  exact decimal sums, so both engines derive bit-identical weights;
- the weight update w − g/N divides exactly-equal doubles and rounds
  to 12 dp, keeping every iteration's model bit-identical;
- the dot product is a FIXED parenthesization ((w0 + w1·x1) + w2·x2)
  + w3·x3 in both engines — no sum-order nondeterminism.

100 TB shape: each iteration is ONE map-side-combined aggregate over
the (persisted, 4-column) feature frame — the corpus is scanned
exactly |iterations| + 1 times (3 gradients + final loss) and nothing
but 1-row weight frames ever moves between stages (broadcast
pass-throughs).  Batch GD over a trillion docs costs 4 narrow
aggregates; the model itself is 4 doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t

_LR_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")
_LR_ITERS = 3
_LR_CAP = 256  # length-feature cap, tokens


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    stop_arr = ", ".join(f"'{w}'" for w in _LR_STOPWORDS)
    d = _t(spark, sf_dir, "documents")
    # split once into a materialized column; every feature expression
    # reads that array (splicing split() into each select re-tokenizes
    # per expression — the round-3 gotcha)
    return (
        d.filter(F.col("text").isNotNull() & (F.length("text") >= 1))
        .select(
            "lang",
            F.expr("split(trim(text), '\\\\s+')").alias("tk"),
        )
        .filter(F.size("tk") >= 1)
        .select(
            F.round(
                F.expr(
                    f"size(filter(tk, t -> t IN ({stop_arr})))"
                ).cast("double")
                / F.size("tk").cast("double"),
                6,
            ).alias("x1"),
            F.round(
                F.least(F.size("tk"), F.lit(_LR_CAP)).cast("double")
                / F.lit(float(_LR_CAP)),
                6,
            ).alias("x2"),
            F.round(
                F.expr("size(array_distinct(tk))").cast("double")
                / F.size("tk").cast("double"),
                6,
            ).alias("x3"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        )
    )


def _grad_step(feats: DataFrame, w_df: DataFrame) -> DataFrame:
    """One batch-GD step: returns the NEXT 1-row weight frame.  The
    incoming weights crossJoin-broadcast onto the feature frame (1-row
    pass-through), the residual rounds to 9 dp and decimal-sums, and
    the update divides by N in double with a 12-dp round."""
    z = (
        (F.col("w0") + F.col("w1") * F.col("x1"))
        + F.col("w2") * F.col("x2")
    ) + F.col("w3") * F.col("x3")
    sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    r = F.round(sig - F.col("y"), 9).cast("decimal(20,9)")
    g = (
        feats.crossJoin(F.broadcast(w_df))
        .select(
            r.alias("r"),
            F.col("x1").cast("decimal(16,6)").alias("d1"),
            F.col("x2").cast("decimal(16,6)").alias("d2"),
            F.col("x3").cast("decimal(16,6)").alias("d3"),
            "w0",
            "w1",
            "w2",
            "w3",
        )
        .groupBy("w0", "w1", "w2", "w3")
        .agg(
            F.sum("r").alias("g0"),
            F.sum(F.col("r") * F.col("d1")).alias("g1"),
            F.sum(F.col("r") * F.col("d2")).alias("g2"),
            F.sum(F.col("r") * F.col("d3")).alias("g3"),
            F.count("*").cast("long").alias("n"),
        )
    )
    upd = [
        F.round(
            F.col(f"w{k}") - F.col(f"g{k}").cast("double") / F.col("n"), 12
        ).alias(f"w{k}")
        for k in range(4)
    ]
    return g.select(*upd)


def dq_logreg_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the quality classifier in-plan (module docstring) and
    report (n_docs, w0..w3, mean_loss) — decimal-exact, zero driver
    actions, |iterations|+1 corpus scans over a persisted 4-column
    feature frame."""
    feats = _features(spark, sf_dir).persist()
    w = feats.sparkSession.createDataFrame(
        [(0.0, 0.0, 0.0, 0.0)], "w0 double, w1 double, w2 double, w3 double"
    )
    for _ in range(_LR_ITERS):
        w = _grad_step(feats, w)
    z = (
        (F.col("w0") + F.col("w1") * F.col("x1"))
        + F.col("w2") * F.col("x2")
    ) + F.col("w3") * F.col("x3")
    sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    loss = F.round(
        -(
            F.col("y") * F.log(sig)
            + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - sig)
        ),
        9,
    ).cast("decimal(20,9)")
    return (
        feats.crossJoin(F.broadcast(w))
        .select(loss.alias("l"), "w0", "w1", "w2", "w3")
        .groupBy("w0", "w1", "w2", "w3")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("l").alias("_ls"),
        )
        .select(
            "n_docs",
            F.round("w0", 9).alias("w0"),
            F.round("w1", 9).alias("w1"),
            F.round("w2", 9).alias("w2"),
            F.round("w3", 9).alias("w3"),
            F.round(
                F.col("_ls").cast("double") / F.col("n_docs"), 6
            ).alias("mean_loss"),
        )
    )


def _sql_feats() -> str:
    stop_arr = ", ".join(f"'{w}'" for w in _LR_STOPWORDS)
    return f"""
f AS (
    SELECT round(CAST(len(list_filter(toks, tk ->
               list_contains([{stop_arr}], tk))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE), 6) AS x1,
           round(CAST(least(len(toks), {_LR_CAP}) AS DOUBLE)
               / {float(_LR_CAP)}, 6) AS x2,
           round(CAST(len(list_distinct(toks)) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE), 6) AS x3,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
    FROM (
        SELECT text, lang,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
        WHERE text IS NOT NULL AND length(text) >= 1
    ) WHERE len(toks) >= 1
)"""


def _sql_grad(prev: str, out: str) -> str:
    """One unrolled GD iteration as a CTE pair: gradient sums off the
    PREVIOUS weight row, then the 12-dp-rounded update."""
    z = "(((w0 + w1 * x1) + w2 * x2) + w3 * x3)"
    return f"""
g_{out} AS (
    SELECT w0, w1, w2, w3,
           sum(r) AS g0,
           sum(r * CAST(x1 AS DECIMAL(16,6))) AS g1,
           sum(r * CAST(x2 AS DECIMAL(16,6))) AS g2,
           sum(r * CAST(x3 AS DECIMAL(16,6))) AS g3,
           count(*) AS n
    FROM (
        SELECT CAST(round(1.0 / (1.0 + exp(-{z})) - y, 9)
                    AS DECIMAL(20,9)) AS r,
               x1, x2, x3, w0, w1, w2, w3
        FROM f, {prev}
    ) GROUP BY 1, 2, 3, 4
),
{out} AS (
    SELECT round(w0 - CAST(g0 AS DOUBLE) / n, 12) AS w0,
           round(w1 - CAST(g1 AS DOUBLE) / n, 12) AS w1,
           round(w2 - CAST(g2 AS DOUBLE) / n, 12) AS w2,
           round(w3 - CAST(g3 AS DOUBLE) / n, 12) AS w3
    FROM g_{out}
)"""


def _logreg_sql() -> str:
    z = "(((w0 + w1 * x1) + w2 * x2) + w3 * x3)"
    its = ["w_0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"]
    for i in range(_LR_ITERS):
        its.append(_sql_grad(f"w_{i}", f"w_{i + 1}").strip())
    joined = ",\n".join(its)
    return f"""
WITH {_sql_feats().strip()},
{joined}
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(w0, 9) AS w0, round(w1, 9) AS w1,
       round(w2, 9) AS w2, round(w3, 9) AS w3,
       round(CAST(sum(CAST(round(-(y * ln(1.0 / (1.0 + exp(-{z})))
             + (1.0 - y) * ln(1.0 - 1.0 / (1.0 + exp(-{z})))), 9)
             AS DECIMAL(20,9))) AS DOUBLE) / count(*), 6) AS mean_loss
FROM f, w_{_LR_ITERS}
GROUP BY w0, w1, w2, w3
"""


DQ_LOGREG_TRAIN_SQL = _logreg_sql()


ROUND44_QUERIES = {
    "dq_logreg_quality_train": dq_logreg_quality_train,
}

ROUND44_ORACLES = {
    "dq_logreg_quality_train": DQ_LOGREG_TRAIN_SQL,
}
