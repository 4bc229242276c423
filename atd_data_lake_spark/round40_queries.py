"""Round-40 query addition — per-document keyword extraction
(``graph_ppr`` lives in ``graph_queries``).

- ``text_doc_keywords`` — per-DOCUMENT top-3 TF-IDF keywords (the
  corpus-level ``text_tfidf_top_terms`` re-aimed at each doc): the
  keyword-extraction primitive behind tagging / routing / search
  indexing.  IDF is 9-dp-rounded before the per-term product so scores
  are engine-exact; rank window ties break on the term string.

It carries a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# text_doc_keywords
# ---------------------------------------------------------------------------

_KW_K = 3


def text_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document.

    100 TB shape: one (doc, term) count agg (map-side combined), one
    term-keyed df agg reduced to vocabulary size (Zipf-bounded,
    broadcast back), one per-doc rank window over (doc, term) rows —
    text never shuffles twice.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = d.count()
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = df_.select(
        "term",
        F.round(
            F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)), 9
        ).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KW_K)
        .select("doc_id", "term", "tfidf", F.col("rank").cast("long").alias("rank"))
        .orderBy("doc_id", "rank")
    )


TEXT_DOC_KEYWORDS_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term <> '' GROUP BY doc_id, term
),
nd AS (SELECT count(*) AS n_docs FROM documents),
idf AS (
    SELECT term, round(ln((nd.n_docs + 1.0) / (count(*) + 1.0)), 9) AS idf
    FROM tf, nd GROUP BY term, nd.n_docs
),
scored AS (
    SELECT tf.doc_id, tf.term, round(tf.tf * idf.idf, 6) AS tfidf
    FROM tf JOIN idf USING (term)
),
ranked AS (
    SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, term ASC) AS rank
    FROM scored
)
SELECT doc_id, term, tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_KW_K}
ORDER BY doc_id, rank
"""


ROUND40_QUERIES = {
    "text_doc_keywords": text_doc_keywords,
}

ROUND40_ORACLES = {
    "text_doc_keywords": TEXT_DOC_KEYWORDS_SQL,
}
