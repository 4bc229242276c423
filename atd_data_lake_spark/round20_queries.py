"""Round-20 query addition: Matryoshka-truncation retrieval eval (the
round's YoY growth query, ``olap_yoy_growth``, lives in
``tpch_queries`` and its expectations-style validation,
``dq_expectations``, in ``dq_queries``).

- ``emb_matryoshka_eval`` — recall@10 of 16-dim-truncated cosine
  retrieval against full 64-dim ground truth, per query: the
  dimension-truncation quality check behind every Matryoshka-embedding
  deployment decision.  Both retrievals run the engine's exact
  ``cosine_topk`` (corpus streams, queries broadcast); the oracle
  replays both searches in SQL with list slicing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# emb_matryoshka_eval
# ---------------------------------------------------------------------------

_MAT_DIMS = 16
_MAT_K = 10
_MAT_QUERIES = 20


def emb_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of 16-dim-truncated cosine retrieval vs the full
    64-dim ground truth, per query (vec_id < 20).

    Both searches are the exact ``cosine_topk`` operator (queries
    broadcast, corpus streams through one Arrow pass each); recall is
    an integer hit count over the (query, neighbor) semi-join."""
    from atd_data_lake_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _MAT_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = cosine_topk(emb, queries, k=_MAT_K)
    sliced = F.slice("embedding", 1, _MAT_DIMS).alias("embedding")
    trunc = cosine_topk(
        emb.select("vec_id", sliced),
        queries.select("query_id", sliced),
        k=_MAT_K,
    )
    hits = truth.select("query_id", "neighbor_id").join(
        trunc.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = hits.groupBy("query_id").agg(F.count("*").alias("n_hits"))
    base = queries.select("query_id")
    return (
        base.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.lit(float(_MAT_K)), 6
            ).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


EMB_MATRYOSHKA_EVAL_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
    FROM embeddings WHERE vec_id < {_MAT_QUERIES}
),
full_rank AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(
                       q.qvec, CAST(e.embedding AS DOUBLE[])), 6) DESC,
                       e.vec_id ASC) AS rank
        FROM q, embeddings e WHERE e.vec_id <> q.query_id
    ) WHERE rank <= {_MAT_K}
),
trunc_rank AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(
                       q.qvec[1:{_MAT_DIMS}],
                       CAST(e.embedding AS DOUBLE[])[1:{_MAT_DIMS}]), 6) DESC,
                       e.vec_id ASC) AS rank
        FROM q, embeddings e WHERE e.vec_id <> q.query_id
    ) WHERE rank <= {_MAT_K}
),
hits AS (
    SELECT f.query_id, count(*) AS n_hits
    FROM full_rank f
    JOIN trunc_rank t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY 1
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / {float(_MAT_K)!r}, 6) AS recall_at_10
FROM q LEFT JOIN hits h ON h.query_id = q.query_id
ORDER BY q.query_id
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND20_QUERIES = {
    "emb_matryoshka_eval": emb_matryoshka_eval,
}

ROUND20_ORACLES = {
    "emb_matryoshka_eval": EMB_MATRYOSHKA_EVAL_SQL,
}
