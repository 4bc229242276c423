"""Round-32 query addition — DSIR selection.

- ``cur_dsir_resample`` — DSIR-style importance resampling (Xie et al.
  2023): hashed-unigram bucket counts estimate a target (lang='en')
  and raw feature distribution; each document scores the decimal-exact
  sum of its tokens' rounded log importance ratios, and a
  deterministic md5-uniform acceptance test keeps it with probability
  ``min(1, w)`` — the standard quality-targeting selector beside the
  mixture/quota/gate curation ops.

It carries a full DuckDB oracle.  The round's substring-dedup queries
(``dedup_repeated_spans``, ``dedup_incremental_spans``) live in
``dedup_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# cur_dsir_resample
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_U52_DENOM = float(1 << 52)  # 2^52 — u52/denom exactly representable


def cur_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight + deterministic resample.

    ONE token aggregation computes both distributions (the target count
    is a conditional sum over the same rows — no second scan); the
    256-row bucket model broadcasts back onto the token stream; the
    per-doc weight is a decimal sum of 9-dp-rounded per-bucket log
    ratios, so it is order/partitioning-invariant and engine-exact
    (the token-entropy pattern).  Acceptance: a doc keeps iff
    ``ln(u) < logw`` for the md5-derived uniform ``u`` — probability
    ``min(1, w)``, reproducible anywhere.

    100 TB shape: two keyed exchanges (bucket agg is map-side-combined
    to ≤ 256 rows; per-doc sum on doc_id) — the model is plan-literal
    sized, the corpus text never shuffles.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
        % _DSIR_BUCKETS
    )
    tk = toks.select("doc_id", "lang", bucket.alias("bucket"))
    bs = tk.groupBy("bucket").agg(
        F.count("*").alias("nr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
    )
    tot = bs.agg(
        F.sum("nr").alias("_tot_r"), F.sum("nt").alias("_tot_t")
    )
    lr = bs.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                (F.col("nt") + F.lit(1.0)) / (F.col("_tot_t") + F.lit(256.0))
            )
            - F.log(
                (F.col("nr") + F.lit(1.0)) / (F.col("_tot_r") + F.lit(256.0))
            ),
            9,
        ).alias("lr"),
    )
    logw = (
        tk.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("lr").cast("decimal(20,9)")).alias("_s"),
        )
        .select(
            "doc_id",
            "lang",
            F.round(F.col("_s").cast("double"), 6).alias("logw"),
        )
    )
    u52 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    ln_u = F.round(F.log((u52 + F.lit(1).cast("long")) / F.lit(_U52_DENOM)), 9)
    return logw.select(
        "doc_id",
        "lang",
        "logw",
        (ln_u < F.col("logw")).alias("keep"),
    ).orderBy("doc_id")


CUR_DSIR_RESAMPLE_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
    FROM documents
),
tk AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT
                % {_DSIR_BUCKETS} AS BIGINT) AS bucket
    FROM toks WHERE token <> ''
),
bs AS (
    SELECT bucket, count(*) AS nr,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt
    FROM tk GROUP BY bucket
),
tot AS (SELECT sum(nr) AS tot_r, sum(nt) AS tot_t FROM bs),
lr AS (
    SELECT bucket,
           round(ln((nt + 1.0) / (tot_t + 256.0))
                 - ln((nr + 1.0) / (tot_r + 256.0)), 9) AS lr
    FROM bs, tot
),
dw AS (
    SELECT doc_id, lang,
           round(CAST(sum(CAST(lr AS DECIMAL(20,9))) AS DOUBLE), 6) AS logw
    FROM tk JOIN lr USING (bucket)
    GROUP BY doc_id, lang
)
SELECT doc_id, lang, logw,
       round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                 ::UBIGINT + 1) / {_U52_DENOM!r}), 9) < logw AS keep
FROM dw
ORDER BY doc_id
"""


ROUND32_QUERIES = {
    "cur_dsir_resample": cur_dsir_resample,
}

ROUND32_ORACLES = {
    "cur_dsir_resample": CUR_DSIR_RESAMPLE_SQL,
}
