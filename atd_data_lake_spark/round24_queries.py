"""Round-24 query addition: BM25 retrieval (``graph_triangles`` lives
in ``graph_queries``).

``text_bm25_topk`` — Okapi BM25 (k1=1.2, b=0.75) retrieval of the
top-10 documents for a fixed conjunctive keyword query.  The ranked
sibling of ``text_tfidf_top_terms``: idf and the length-normalized tf
saturation are floats, so the per-term contributions are rounded to
9 dp and summed as DECIMAL(38,9) (order-invariant — the token-entropy
parity pattern), and the global top-k is orderBy+limit (Spark's
distributed TakeOrdered), never a partition-less window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "merge", "window")
_BM25_TOPK = 10


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank, doc_id, n_terms_hit, score) — top-10 documents by BM25
    for the fixed query terms, score summed exact-decimal.

    Plan: tokenize/explode (no Python), per-doc length agg, tf for the
    3 query terms only (filter BEFORE the tf shuffle — the term filter
    prunes the token stream to the query's posting lists), df + corpus
    stats as 1-row/3-row broadcasts, one keyed agg for the score, then
    orderBy+limit — Spark plans a distributed TakeOrdered, so no
    single-partition window ever sees the full corpus.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )

    qtoks = toks.filter(F.col("term").isin(*_BM25_TERMS))
    tf = qtoks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))

    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))  # 1-row broadcast: benign nested-loop
        .join(dl, "doc_id")
        .select(
            "doc_id",
            "term",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (
                        F.lit(1.0)
                        - F.lit(_BM25_B)
                        + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                ),
                9,
            )
            .cast("decimal(38,9)")
            .alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_hit"),
        F.round(F.sum("c"), 6).cast("double").alias("score"),
    )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        _BM25_TOPK
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select(
        F.row_number().over(w).alias("rank"), "doc_id", "n_terms_hit", "score"
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b, k = _BM25_K1, _BM25_B, _BM25_TOPK
    return f"""
WITH toks AS (
    SELECT doc_id, t.term
    FROM documents,
         UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(term)
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           sum(dl) / count(*) AS avgdl
    FROM dl
),
tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM toks WHERE term IN ({terms})
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
contrib AS (
    SELECT tf.doc_id,
           CAST(round(
               ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
               * (tf.tf * ({k1} + 1))
               / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / stats.avgdl)),
               9) AS DECIMAL(38,9)) AS c
    FROM tf
    JOIN dfreq USING (term)
    CROSS JOIN stats
    JOIN dl USING (doc_id)
),
scored AS (
    SELECT doc_id, count(*) AS n_terms_hit,
           CAST(round(sum(c), 6) AS DOUBLE) AS score
    FROM contrib GROUP BY doc_id
),
top AS (
    SELECT * FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS rank,
       doc_id, n_terms_hit, score
FROM top
ORDER BY rank
"""


ROUND24_QUERIES = {
    "text_bm25_topk": text_bm25_topk,
}
ROUND24_ORACLES = {
    "text_bm25_topk": _bm25_sql(),
}
