"""Round-36 query additions — hard-negative mining and entity
resolution.

- ``sim_hard_negatives`` — contrastive-training data prep: for each
  anchor vector, the top-5 most-cosine-similar vectors with a DIFFERENT
  label (the "hard negatives" a triplet/contrastive loss wants).  One
  Arrow map pass scores the corpus against the anchor panel and reduces
  each batch to its local top-k — the ``sim_ann_pq_adc`` shape with a
  label-inequality gate.
- ``er_canonical_entities`` — entity resolution as an operator
  composition: PassJoin edit-distance pairs over titles (+ the planted
  one-edit twin cohort) → distributed connected components → one
  canonical entity id (min member) + member count per entity.  The
  blocking/verify/cluster pipeline every dedup-to-golden-record system
  runs, end to end under one oracle; its titles and pair SQL are the
  ``dedup_edit_distance`` ones (``dedup_queries``).

Both carry full DuckDB oracles.  The round's MinHash banding eval
(``dedup_minhash_eval``) lives in ``dedup_queries``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atd_data_lake_spark.dedup_queries import (
    DEDUP_EDIT_DISTANCE_SQL,
    components_sql,
    edit_distance_corpus,
)
from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# sim_hard_negatives
# ---------------------------------------------------------------------------

_HN_ANCHORS = 10
_HN_K = 5


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hardest negatives (highest cosine, different label) per
    anchor (vec_id < 10).

    100 TB shape: the anchor panel (10x64 + labels) rides in the
    closure; ONE Arrow map pass scores every corpus vector against all
    anchors, applies the label gate, and emits only per-batch local
    top-k rows (≤ k·|anchors| per batch); the global rank is a window
    over those bounded candidates.  Raw vectors never shuffle.
    """
    from atd_data_lake_spark.operators.similarity import (
        _round_half_up,
        drop_null_vectors,
    )

    e = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    anchor_rows = (
        e.filter(F.col("vec_id") < _HN_ANCHORS)
        .orderBy("vec_id")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    a_ids = np.array([int(r[0]) for r in anchor_rows])
    a_mat = np.array([r[1] for r in anchor_rows], dtype=np.float64)
    a_lab = np.array([int(r[2]) for r in anchor_rows])
    a_norm = np.sqrt((a_mat * a_mat).sum(axis=1))

    out_schema = T.StructType(
        [
            T.StructField("anchor_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            labs = pdf["label"].to_numpy()
            xn = np.sqrt((X * X).sum(axis=1))
            cos = _round_half_up(
                (X @ a_mat.T) / np.outer(xn, a_norm), 6
            )  # (n, anchors)
            outs = []
            for qi, (aid, alab) in enumerate(zip(a_ids, a_lab)):
                mask = (labs != alab) & (ids != aid)
                cand_ids = ids[mask]
                cand_cos = cos[mask, qi]
                order = np.lexsort((cand_ids, -cand_cos))[: _HN_K]
                outs.append(
                    pd.DataFrame(
                        {
                            "anchor_id": aid,
                            "neighbor_id": cand_ids[order],
                            "cos_sim": cand_cos[order],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    local = e.select("vec_id", "embedding", "label").mapInPandas(
        op, schema=out_schema
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select(
            "anchor_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("anchor_id", "rank")
    )


SIM_HARD_NEGATIVES_SQL = f"""
WITH ev AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
),
a AS (SELECT vec_id AS anchor_id, v AS av, label AS alab FROM ev
      WHERE vec_id < {_HN_ANCHORS}),
scored AS (
    SELECT a.anchor_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(a.av, e.v), 6) AS cos_sim,
           row_number() OVER (
               PARTITION BY a.anchor_id
               ORDER BY round(list_cosine_similarity(a.av, e.v), 6) DESC,
                   e.vec_id ASC) AS rank
    FROM a JOIN ev e
      ON e.label <> a.alab AND e.vec_id <> a.anchor_id
)
SELECT anchor_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM scored WHERE rank <= {_HN_K}
ORDER BY anchor_id, rank
"""


# ---------------------------------------------------------------------------
# er_canonical_entities
# ---------------------------------------------------------------------------

def er_canonical_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking → verify → cluster → canonicalize: PassJoin ed<=1 pairs
    over titles (documents + the one-edit twin cohort), connected
    components, one golden-record id per entity (the min member id) with
    the member count.  Singleton titles (no pair) are their own entity
    and are excluded, as in every ER report.

    100 TB shape: pairs from the segment equi-join (never all-pairs),
    components via hook+shortcut pointer jumping (O(log n) rounds), the
    final rollup keyed on the component id.
    """
    from atd_data_lake_spark.operators.components import connected_components
    from atd_data_lake_spark.operators.fuzzy import passjoin_pairs

    # single-sourced with dedup_edit_distance: both oracles embed the
    # SAME pair SQL, so both queries must build the SAME corpus
    corpus = edit_distance_corpus(_t(spark, sf_dir, "documents"))
    pairs = passjoin_pairs(corpus, id_col="id", str_col="title", max_dist=1)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        comp.groupBy(F.col("component").alias("entity_id"))
        .agg(F.count("*").alias("n_members"))
        .select("entity_id", F.col("n_members").cast("long").alias("n_members"))
        .orderBy("entity_id")
    )


ER_ENTITIES_SQL = components_sql(DEDUP_EDIT_DISTANCE_SQL, node="node") + """
SELECT component AS entity_id, CAST(count(*) AS BIGINT) AS n_members
FROM comp
GROUP BY component
ORDER BY entity_id
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND36_QUERIES = {
    "sim_hard_negatives": sim_hard_negatives,
    "er_canonical_entities": er_canonical_entities,
}

ROUND36_ORACLES = {
    "sim_hard_negatives": SIM_HARD_NEGATIVES_SQL,
    "er_canonical_entities": ER_ENTITIES_SQL,
}
