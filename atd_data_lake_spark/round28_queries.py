"""Round-28 query additions (registered BEHIND the driver-sweep backlog
per the round-4 freeze policy — new entries take their external check
after the never-checked queue drains).

- ``cur_semantic_decontaminate`` — embedding-level benchmark
  decontamination (paraphrase leakage, the complement of the n-gram
  ``cur_decontaminate``): every corpus vector scored against a held-out
  benchmark set, best match + threshold flag.  Zero-shuffle map stage;
  benchmark matrix ships in the task closure.

Each query has a full DuckDB oracle; every computed column is aliased
identically on both sides.  The round's TPC-H Q5
(``q5_local_supplier_volume``) lives in ``tpch_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# cur_semantic_decontaminate — embedding-level benchmark decontamination
# ---------------------------------------------------------------------------

_SEMDECON_THRESHOLD = 0.30
# The held-out eval set is a FIXED id range (vec_id < 20), not a modulo
# fraction: a fraction grows with SF, which contradicts the operator's
# "benchmark sets are small" scale contract (the benchmark matrix ships in
# every task closure and the DuckDB oracle cross-joins corpus x bench).
# A fixed range keeps driver memory and oracle cost LINEAR in corpus size.
_SEMDECON_BENCH_MAX_ID = 20


def cur_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every corpus embedding scored against the benchmark set: best
    match (max rounded cosine, ties toward the smallest bench id) and a
    contamination flag at 0.30 (the synthetic embeddings are
    near-orthogonal — max benchmark cosine ≈ 0.45, p99 ≈ 0.29 — so 0.30
    flags a real ~1% tail at every SF)."""
    from atd_data_lake_spark.operators.curation import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < _SEMDECON_BENCH_MAX_ID)
    corpus = emb.filter(F.col("vec_id") >= _SEMDECON_BENCH_MAX_ID)
    return semantic_decontaminate(
        corpus, bench, threshold=_SEMDECON_THRESHOLD
    ).orderBy("vec_id")


CUR_SEMDECON_SQL = f"""
WITH bench AS (
    SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS bvec
    FROM embeddings WHERE vec_id < {_SEMDECON_BENCH_MAX_ID}
),
corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec
    FROM embeddings WHERE vec_id >= {_SEMDECON_BENCH_MAX_ID}
),
scored AS (
    SELECT c.vec_id, b.bench_id,
           round(list_cosine_similarity(c.cvec, b.bvec), 6) AS cos_sim
    FROM corpus c CROSS JOIN bench b
),
best AS (
    SELECT vec_id, bench_id, cos_sim,
           row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_sim DESC, bench_id ASC
           ) AS rn
    FROM scored
)
SELECT vec_id, bench_id, cos_sim,
       cos_sim >= {_SEMDECON_THRESHOLD} AS contaminated
FROM best WHERE rn = 1
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# text_ngram_novelty — memorization-risk scan (common-shingle fraction)
# ---------------------------------------------------------------------------

_NOVELTY_COMMON_DF = 2


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty profile: fraction of each doc's distinct
    word trigrams shared with >= 2 documents (operators/text.ngram_novelty
    — the per-document complement of the pairwise near-dup detectors;
    the planted duplicates in the synthetic corpus give a real common
    tail)."""
    from atd_data_lake_spark.operators.text import ngram_novelty

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_novelty(d, common_df=_NOVELTY_COMMON_DF).orderBy("doc_id")


TEXT_NGRAM_NOVELTY_SQL = f"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents
    WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
),
g AS (
    SELECT DISTINCT doc_id,
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
    FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
),
dfc AS (SELECT shingle, count(*) AS dfn FROM g GROUP BY 1),
per AS (
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN dfc.dfn >= {_NOVELTY_COMMON_DF}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_common
    FROM g JOIN dfc USING (shingle)
    GROUP BY 1
)
SELECT doc_id, n_shingles, n_common,
       round(1.0 - n_common * 1.0 / n_shingles, 6) AS novelty_ratio
FROM per
ORDER BY doc_id
"""


ROUND28_QUERIES = {
    "cur_semantic_decontaminate": cur_semantic_decontaminate,
    "text_ngram_novelty": text_ngram_novelty,
}

ROUND28_ORACLES = {
    "cur_semantic_decontaminate": CUR_SEMDECON_SQL,
    "text_ngram_novelty": TEXT_NGRAM_NOVELTY_SQL,
}
