"""Round-37 query addition — IVFADC: the full two-level ANN serving
architecture (Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).

``sim_ann_ivfpq`` composes the two already-verified model-injected
pieces into the index structure FAISS ships as ``IndexIVFPQ``:

1. coarse quantizer (the ``sim_ann_ivf`` 16-centroid model) routes each
   corpus vector to a cell and each query to its 4 probe cells;
2. PQ codes (the ``emb_pq_codes`` 16x8 codebooks) stand in for the raw
   vectors, and the query scores candidates through its 8x16 ADC
   lookup table (the ``sim_ann_pq_adc`` aggregation) — candidates from
   the probed cells ONLY, never the whole corpus.

Every decision is 6-dp-rounded with smallest-id tie-breaks, so the
complete ranked result carries a full DuckDB oracle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atd_data_lake_spark.io.reader import read_table_utc as _t


_IVFPQ_CELLS = 16
_IVFPQ_PROBES = 4
_IVFPQ_SUBSPACES = 8
_IVFPQ_QUERIES = 5
_IVFPQ_K = 10


def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+ADC search: probe 4 of 16 cells, score candidates through the
    PQ lookup table, top-10 per query.

    100 TB shape: the whole index model (16 centroids + 16x64 codebook
    rows + the per-query 8x16 LUTs) rides in the closure; ONE Arrow map
    pass assigns cell + codes, applies the probe mask per query, and
    reduces each batch to local top-k (≤ k·|Q| rows leave a batch); the
    global rank is a window over bounded candidates.  Raw vectors never
    shuffle — and unlike ``sim_ann_pq_adc``'s exhaustive scan, only
    ~n_probe/n_cells of each batch is even scored.
    """
    from atd_data_lake_spark.operators.similarity import (
        _cosine_matrix,
        _round_half_up,
        drop_null_vectors,
    )

    e = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    model_rows = (
        e.filter(F.col("vec_id") < _IVFPQ_CELLS)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    cids = np.array([int(r[0]) for r in model_rows])
    cmat = np.array([r[1] for r in model_rows], dtype=np.float64)
    dim = cmat.shape[1]
    sub_d = dim // _IVFPQ_SUBSPACES
    q_rows = (
        e.filter(F.col("vec_id") < _IVFPQ_QUERIES)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([int(r[0]) for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)

    # probe cells per query: top-4 rounded cosine, smallest-id ties
    qsims = _round_half_up(_cosine_matrix(q_mat, cmat))
    probes = {}
    for i, qid in enumerate(q_ids):
        order = sorted(range(len(cids)), key=lambda j: (-qsims[i, j], cids[j]))
        probes[qid] = set(int(cids[j]) for j in order[:_IVFPQ_PROBES])

    # ADC LUTs (same convention as sim_ann_pq_adc / emb_pq_codes)
    lut = np.zeros((len(q_ids), _IVFPQ_SUBSPACES, _IVFPQ_CELLS))
    for s in range(_IVFPQ_SUBSPACES):
        qs = q_mat[:, s * sub_d : (s + 1) * sub_d]
        cs = cmat[:, s * sub_d : (s + 1) * sub_d]
        lut[:, s, :] = _round_half_up(
            np.sqrt(((qs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2))
        )

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            # cell assignment: rounded cosine argmax (first max =
            # smallest centroid id, since cmat is id-ordered)
            sims = _round_half_up(_cosine_matrix(X, cmat))
            cells = cids[sims.argmax(axis=1)]
            codes = np.zeros((len(X), _IVFPQ_SUBSPACES), dtype=np.int64)
            for s in range(_IVFPQ_SUBSPACES):
                Xs = X[:, s * sub_d : (s + 1) * sub_d]
                Cs = cmat[:, s * sub_d : (s + 1) * sub_d]
                dmat = _round_half_up(
                    np.sqrt(
                        ((Xs[:, None, :] - Cs[None, :, :]) ** 2).sum(axis=2)
                    )
                )
                codes[:, s] = dmat.argmin(axis=1)
            outs = []
            for qi, qid in enumerate(q_ids):
                mask = np.isin(cells, list(probes[qid])) & (ids != qid)
                if not mask.any():
                    continue
                cand_ids = ids[mask]
                cand_codes = codes[mask]
                adc = np.zeros(len(cand_ids))
                for s in range(_IVFPQ_SUBSPACES):
                    adc += lut[qi, s, cand_codes[:, s]]
                adc = _round_half_up(adc, 6)
                order = np.lexsort((cand_ids, adc))[: _IVFPQ_K]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": cand_ids[order],
                            "adc_dist": adc[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    local = e.select("vec_id", "embedding").mapInPandas(op, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVFPQ_K)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


SIM_ANN_IVFPQ_SQL = f"""
WITH ev AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
),
cent AS (
    SELECT vec_id AS centroid_id, v AS cvec FROM ev
    WHERE vec_id < {_IVFPQ_CELLS}
),
assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, cent.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(e.v, cent.cvec), 6)
                       DESC, cent.centroid_id) AS rn
        FROM ev e CROSS JOIN cent
    ) WHERE rn = 1
),
q AS (
    SELECT vec_id AS query_id, v AS qvec FROM ev
    WHERE vec_id < {_IVFPQ_QUERIES}
),
probes AS (
    SELECT query_id, centroid_id FROM (
        SELECT q.query_id, cent.centroid_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.qvec, cent.cvec), 6)
                       DESC, cent.centroid_id) AS rn
        FROM q CROSS JOIN cent
    ) WHERE rn <= {_IVFPQ_PROBES}
),
subs AS (SELECT unnest(range({_IVFPQ_SUBSPACES})) AS s),
slices AS (
    SELECT vec_id, s, v[s * 8 + 1 : s * 8 + 8] AS sv FROM ev, subs
),
cb AS (
    SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS code,
           sv AS cv
    FROM slices WHERE vec_id < {_IVFPQ_CELLS}
),
codes AS (
    SELECT vec_id, s, code FROM (
        SELECT sl.vec_id, sl.s, cb.code,
               row_number() OVER (PARTITION BY sl.vec_id, sl.s
                   ORDER BY round(list_distance(sl.sv, cb.cv), 6), cb.code)
                   AS rn
        FROM slices sl JOIN cb ON cb.s = sl.s
    ) WHERE rn = 1
),
lut AS (
    SELECT sl.vec_id AS query_id, cb.s, cb.code,
           round(list_distance(sl.sv, cb.cv), 6) AS d
    FROM slices sl JOIN cb ON cb.s = sl.s
    WHERE sl.vec_id < {_IVFPQ_QUERIES}
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
    WHERE a.vec_id <> p.query_id
),
adc AS (
    SELECT c.query_id, c.neighbor_id,
           round(CAST(sum(CAST(l.d AS DECIMAL(20,6))) AS DOUBLE), 6)
               AS adc_dist
    FROM cand c
    JOIN codes k ON k.vec_id = c.neighbor_id
    JOIN lut l ON l.query_id = c.query_id AND l.s = k.s AND l.code = k.code
    GROUP BY c.query_id, c.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM adc
)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_IVFPQ_K}
ORDER BY query_id, rank
"""


ROUND37_QUERIES = {
    "sim_ann_ivfpq": sim_ann_ivfpq,
}

ROUND37_ORACLES = {
    "sim_ann_ivfpq": SIM_ANN_IVFPQ_SQL,
}
