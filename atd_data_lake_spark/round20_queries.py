"""Round-20 query additions: expectations-style validation and
Matryoshka-truncation retrieval eval (the round's YoY growth query,
``olap_yoy_growth``, lives in ``tpch_queries``).

- ``dq_expectations`` — declarative constraint suite (the
  great-expectations shape): each rule is a predicate compiled into ONE
  shared scan pass per table via conditional sums; output is one row
  per rule with violation counts and pass/fail.  Rules here: value
  ranges, cross-field order (l_shipdate >= o_orderdate — violated in
  this synthetic data, so the report is non-trivial), domain membership.
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
# dq_expectations
# ---------------------------------------------------------------------------


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-per-row validation report over lineitem ⋈ orders.

    All rules on a table evaluate in ONE aggregate over one scan
    (conditional sums) — never a scan per rule; the join-scoped rule
    shares the single lineitem⋈orders pass.  Output:
    (rule, n_checked, n_violations, pass).
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")

    li_agg = li.agg(
        F.count("*").alias("n"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("v_qty"),
        F.sum(
            (~F.col("l_discount").between(0.0, 1.0)).cast("long")
        ).alias("v_disc"),
        F.sum((F.col("l_extendedprice") < 0).cast("long")).alias("v_price"),
        F.sum(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
        ).alias("v_flag"),
    )
    j = li.select("l_orderkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    j_agg = j.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("l_shipdate") < F.col("o_orderdate")).cast("long")
        ).alias("v_ship"),
    )

    def rule(agg, name, n_col, v_col):
        return agg.select(
            F.lit(name).alias("rule"),
            F.col(n_col).alias("n_checked"),
            F.col(v_col).alias("n_violations"),
            (F.col(v_col) == 0).alias("pass"),
        )

    out = (
        rule(li_agg, "l_quantity > 0", "n", "v_qty")
        .unionByName(rule(li_agg, "l_discount in [0,1]", "n", "v_disc"))
        .unionByName(rule(li_agg, "l_extendedprice >= 0", "n", "v_price"))
        .unionByName(rule(li_agg, "l_returnflag in {A,N,R}", "n", "v_flag"))
        .unionByName(rule(j_agg, "l_shipdate >= o_orderdate", "n", "v_ship"))
    )
    return out.orderBy("rule")


DQ_EXPECTATIONS_SQL = """
WITH li_agg AS (
    SELECT count(*) AS n,
           sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS v_qty,
           sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 1.0
                    THEN 1 ELSE 0 END) AS v_disc,
           sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS v_price,
           sum(CASE WHEN l_returnflag NOT IN ('A','N','R')
                    THEN 1 ELSE 0 END) AS v_flag
    FROM lineitem
),
j_agg AS (
    SELECT count(*) AS n,
           sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
             AS v_ship
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT 'l_quantity > 0' AS rule, n AS n_checked,
       CAST(v_qty AS BIGINT) AS n_violations, v_qty = 0 AS pass FROM li_agg
UNION ALL SELECT 'l_discount in [0,1]', n, CAST(v_disc AS BIGINT),
    v_disc = 0 FROM li_agg
UNION ALL SELECT 'l_extendedprice >= 0', n, CAST(v_price AS BIGINT),
    v_price = 0 FROM li_agg
UNION ALL SELECT 'l_returnflag in {A,N,R}', n, CAST(v_flag AS BIGINT),
    v_flag = 0 FROM li_agg
UNION ALL SELECT 'l_shipdate >= o_orderdate', n, CAST(v_ship AS BIGINT),
    v_ship = 0 FROM j_agg
ORDER BY rule
"""


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
    "dq_expectations": dq_expectations,
    "emb_matryoshka_eval": emb_matryoshka_eval,
}

ROUND20_ORACLES = {
    "dq_expectations": DQ_EXPECTATIONS_SQL,
    "emb_matryoshka_eval": EMB_MATRYOSHKA_EVAL_SQL,
}
