"""Similarity search: the sim family, every registry query named
``sim_*`` with its DuckDB oracle.

The family is the engine's top-k vector retrieval workload over the
``embeddings`` table: which corpus vectors are nearest to a small panel
of query vectors, found exactly or through an index.

- ``sim_knn_bruteforce`` / ``sim_maxdot_topk`` — exact cosine and
  inner-product (MIPS) top-10 for the query panel.
- ``sim_ann_lsh`` / ``sim_ann_ivf`` — approximate top-10 through loaded
  sign-LSH hyperplanes and a loaded 16-centroid IVF quantizer.
- ``sim_recall_eval`` / ``sim_ann_ivf_recall`` — recall@10 of those
  indexes against the exact top-10.
- ``sim_ann_pq_adc`` / ``sim_ann_ivfpq`` — asymmetric-distance (ADC)
  top-10 over product-quantization codes, over the whole corpus and
  over the 4 probed IVF cells only (FAISS ``IndexIVFPQ``).
- ``sim_hard_negatives`` — top-5 most similar vectors of a different
  label per anchor (contrastive training data).
- ``sim_ivf_upsert`` — incremental IVF index maintenance.
- ``sim_semantic_dedup`` — SemDeDup-style greedy dedup inside IVF cells.

Every model is loaded from the data: rows ``vec_id < 16`` are the IVF
centroids and the PQ codebooks, rows ``vec_id`` 100..115 the LSH
hyperplanes, and rows ``vec_id < 5`` the query panel.  Every decision
(cell, probe, sign bit, code, rank) is taken on a 6-dp-rounded score
with smallest-id tie-breaks, so each query carries a full oracle.

Shared pieces, each written once.  Spark side: the id-ordered model
collect (:func:`load_model`, :func:`load_centroids`), the query panel
(:func:`query_panel`), the PQ encoder and ADC lookup table
(:func:`pq_dists`, :func:`pq_encode`, :func:`adc_scores`); the per-batch
local top-k, the global rank and the probe selection are
``operators/similarity``'s ``local_topk``, ``rank_topk`` and
``probe_cells``.  Oracle side: the vector source (``VECTORS_CTE``,
non-null and non-empty, the rows the Spark side keeps), the IVF
``assign`` and ``probes`` CTEs, the ranked top-k over candidate pairs
(:func:`rank_sql`; the exact top-k ranks every pair), the LSH bucket
CTEs and the PQ code CTEs.  ``emb_kmeans_assign`` and ``emb_pq_codes``
load their models and build their oracles from the same pieces.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.scale import scoped_persist
from atd_data_lake_spark.operators.semdedup import semantic_dedup_model
from atd_data_lake_spark.operators.similarity import (
    _cosine_matrix,
    _round_half_up,
    centroid_assign,
    cosine_topk,
    drop_null_vectors,
    ivf_topk_model,
    ivf_upsert,
    local_topk,
    lsh_topk,
    maxdot_topk,
    nearest_centroid,
    probe_cells,
    rank_topk,
    topk_schema,
)

_PANEL = 5  # the query panel: vec_id < 5
_K = 10
_CELLS = 16  # IVF centroids and PQ codebook rows: vec_id < 16
_PROBES = 4
_PLANES_LO = 100  # LSH hyperplanes: vec_id 100..115
_PLANES = 16
_BANDS = 4
_SUBSPACES = 8
_IVF_STANDING_MAX = 400  # vec_id < this simulates the already-built index
_RECALL_QUERIES = 20
_HN_ANCHORS = 10
_HN_K = 5
_SEMDEDUP_T = 0.35


# ---------------------------------------------------------------------------
# shared: loaded models, the query panel, the PQ encoder
# ---------------------------------------------------------------------------


def load_model(emb: DataFrame, rows: Column, *extra: str) -> tuple[np.ndarray, ...]:
    """The non-null, non-empty embedding rows matching ``rows``, in
    vec_id order, as ``(ids, vectors, *extra)`` numpy arrays.  The rows
    are a model (centroids, hyperplanes, codebooks) or a query panel,
    not data, so collecting them loads a model.  A null or empty vector
    among them is dropped, as the oracles' ``ev`` source drops it,
    instead of crashing the driver."""
    cols = list(
        zip(
            *drop_null_vectors(emb, "embedding")
            .filter(rows)
            .orderBy("vec_id")
            .select("vec_id", "embedding", *extra)
            .collect()
        )
    )
    return (
        np.array(cols[0], dtype=np.int64),
        np.array(cols[1], dtype=np.float64),
        *(np.array(c) for c in cols[2:]),
    )


def load_centroids(emb: DataFrame, n: int) -> list[tuple[int, np.ndarray]]:
    """The rows ``vec_id < n`` as the ``(centroid_id, vector)`` model the
    centroid operators take."""
    ids, mat = load_model(emb, F.col("vec_id") < n)
    return [(int(i), v) for i, v in zip(ids, mat)]


def _plane_rows() -> Column:
    return (F.col("vec_id") >= _PLANES_LO) & (F.col("vec_id") < _PLANES_LO + _PLANES)


def query_panel(emb: DataFrame, n: int = _PANEL) -> DataFrame:
    """The ``vec_id < n`` query panel as ``(query_id, embedding)``,
    without null or empty vectors."""
    return (
        drop_null_vectors(emb, "embedding")
        .filter(F.col("vec_id") < n)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def pq_dists(X: np.ndarray, books: np.ndarray, n_sub: int) -> np.ndarray:
    """n×S×K: the 6-dp-rounded Euclidean distance of each vector's s-th
    slice to the s-th slice of each codebook row.  Its argmin over K is
    the PQ code (:func:`pq_encode`); for a query panel it is the ADC
    lookup table."""
    sub_d = books.shape[1] // n_sub
    out = np.empty((len(X), n_sub, len(books)))
    for s in range(n_sub):
        xs = X[:, s * sub_d : (s + 1) * sub_d]
        cs = books[:, s * sub_d : (s + 1) * sub_d]
        out[:, s, :] = _round_half_up(
            np.sqrt(((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2))
        )
    return out


def pq_encode(
    X: np.ndarray, books: np.ndarray, n_sub: int
) -> tuple[np.ndarray, np.ndarray]:
    """n×S codes (the first minimum, i.e. the smallest code, on a tie)
    and their rounded distances."""
    d = pq_dists(X, books, n_sub)
    codes = d.argmin(axis=2)
    return codes, np.take_along_axis(d, codes[:, :, None], axis=2)[:, :, 0]


def adc_scores(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """n×q ADC distances: the sum over subspaces of each query's LUT
    entry at the vector's code.  Each term is a 6-dp decimal, so the
    float sum of 8 is exact on the grid."""
    adc = np.zeros((len(codes), len(lut)))
    for s in range(codes.shape[1]):
        adc += lut[:, s, codes[:, s]].T
    return _round_half_up(adc)


def _ranked(df: DataFrame, *cols: str) -> DataFrame:
    return df.select(*cols, F.col("rank").cast("long").alias("rank"))


# ---------------------------------------------------------------------------
# shared: oracle CTEs
# ---------------------------------------------------------------------------

VECTORS_CTE = """ev AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
)"""


def panel_sql(n: int) -> str:
    return (
        "q AS (SELECT vec_id AS query_id, v AS qvec, label AS qlab "
        f"FROM ev WHERE vec_id < {n})"
    )


def assign_sql(n_cells: int) -> str:
    """``cent`` (rows vec_id < n_cells) and every vector's nearest one,
    ``assign(vec_id, centroid_id, cos_sim)``."""
    return f"""cent AS (
    SELECT vec_id AS centroid_id, v AS cvec FROM ev WHERE vec_id < {n_cells}
),
assign AS (
    SELECT vec_id, centroid_id, cos_sim FROM (
        SELECT e.vec_id, cent.centroid_id,
               round(list_cosine_similarity(e.v, cent.cvec), 6) AS cos_sim,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(e.v, cent.cvec), 6)
                       DESC, cent.centroid_id) AS rn
        FROM ev e CROSS JOIN cent
    ) WHERE rn = 1
)"""


def probes_sql(n_probe: int) -> str:
    """Each panel query's ``probes`` and the ``ivf_cands`` in them."""
    return f"""probes AS (
    SELECT query_id, centroid_id FROM (
        SELECT q.query_id, cent.centroid_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.qvec, cent.cvec), 6)
                       DESC, cent.centroid_id) AS rn
        FROM q CROSS JOIN cent
    ) WHERE rn <= {n_probe}
),
ivf_cands AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
    WHERE a.vec_id <> p.query_id
)"""


def lsh_sql(rows_per_band: int) -> str:
    """Sign bits against the loaded hyperplanes, banded bucket keys, and
    the ``lsh_cands`` sharing a bucket with a panel query."""
    r = rows_per_band
    return f"""planes AS (
    SELECT CAST(vec_id - {_PLANES_LO} AS INTEGER) AS pidx, v AS pvec
    FROM ev WHERE vec_id >= {_PLANES_LO} AND vec_id < {_PLANES_LO + _PLANES}
),
bits AS (
    SELECT e.vec_id, p.pidx,
           CASE WHEN round(list_cosine_similarity(e.v, p.pvec), 6) >= 0
                THEN 1 ELSE 0 END AS bit
    FROM ev e CROSS JOIN planes p
),
keys AS (
    SELECT vec_id, pidx // {r} AS band,
           CAST(sum(bit * (1 << (pidx % {r}))) AS BIGINT) AS bucket
    FROM bits GROUP BY vec_id, pidx // {r}
),
lsh_cands AS (
    SELECT DISTINCT q.query_id, kc.vec_id AS neighbor_id
    FROM q
    JOIN keys kq ON kq.vec_id = q.query_id
    JOIN keys kc ON kc.band = kq.band AND kc.bucket = kq.bucket
    WHERE kc.vec_id <> kq.vec_id
)"""


def pq_sql(n_sub: int, n_codes: int) -> str:
    """8-dim ``slices``, the codebook ``cb`` (code = id-order rank of the
    rows vec_id < n_codes), every slice-to-code distance ``sd`` and each
    vector's nearest ``codes(vec_id, s, code, dist)``."""
    return f"""subs AS (SELECT unnest(range({n_sub})) AS s),
slices AS (
    SELECT vec_id, s, v[s * 8 + 1 : s * 8 + 8] AS sv FROM ev, subs
),
cb AS (
    SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS code,
           sv AS cv
    FROM slices WHERE vec_id < {n_codes}
),
sd AS (
    SELECT sl.vec_id, sl.s, cb.code,
           round(list_distance(sl.sv, cb.cv), 6) AS dist
    FROM slices sl JOIN cb ON cb.s = sl.s
),
codes AS (
    SELECT vec_id, s, code, dist FROM (
        SELECT vec_id, s, code, dist,
               row_number() OVER (PARTITION BY vec_id, s
                   ORDER BY dist, code) AS rn
        FROM sd
    ) WHERE rn = 1
)"""


def exact_cands(gate: str = "TRUE") -> str:
    """Every (panel query, other vector) pair passing ``gate``."""
    return (
        "(SELECT q.query_id, e.vec_id AS neighbor_id FROM q JOIN ev e "
        f"ON e.vec_id <> q.query_id AND {gate})"
    )


def rank_sql(
    cands: str, k: int, fn: str = "list_cosine_similarity", score: str = "cos_sim"
) -> str:
    """Top-k of the candidate pairs ``cands`` by the rounded ``fn`` score,
    ties to the smaller neighbor id: the re-rank of an index's
    candidates, and over :func:`exact_cands` the exact top-k."""
    return f"""SELECT query_id, neighbor_id, {score}, rank FROM (
    SELECT c.query_id, c.neighbor_id,
           round({fn}(q.qvec, e.v), 6) AS {score},
           row_number() OVER (
               PARTITION BY c.query_id
               ORDER BY round({fn}(q.qvec, e.v), 6) DESC,
                   c.neighbor_id) AS rank
    FROM {cands} c
    JOIN q ON q.query_id = c.query_id
    JOIN ev e ON e.vec_id = c.neighbor_id
) WHERE rank <= {k}"""


def adc_sql(cands: str, k: int) -> str:
    """ADC top-k of the candidate pairs: a pair's distance is the
    decimal-exact sum of the query's rounded slice-to-code distances
    (its lookup table) at the neighbor's codes, smallest first."""
    return f"""SELECT query_id, neighbor_id, adc_dist, rank FROM (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM (
        SELECT c.query_id, c.neighbor_id,
               round(CAST(sum(CAST(l.dist AS DECIMAL(20,6))) AS DOUBLE), 6)
                   AS adc_dist
        FROM {cands} c
        JOIN codes cd ON cd.vec_id = c.neighbor_id
        JOIN sd l ON l.vec_id = c.query_id AND l.s = cd.s AND l.code = cd.code
        GROUP BY c.query_id, c.neighbor_id
    )
) WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# exact top-k: cosine and maximum inner product
# ---------------------------------------------------------------------------


def sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for the query panel
    (operators/similarity.cosine_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, query_panel(emb), k=_K)
    return _ranked(out, "query_id", "neighbor_id", "cos_sim")


SIM_KNN_SQL = f"""
WITH {VECTORS_CTE},
{panel_sql(_PANEL)}
{rank_sql(exact_cands(), _K)}
"""


def sim_maxdot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MIPS top-10 for the query panel
    (operators/similarity.maxdot_topk) — the two-tower retrieval
    contract beside ``sim_knn_bruteforce``'s cosine: magnitude counts."""
    emb = _t(spark, sf_dir, "embeddings")
    out = maxdot_topk(emb, query_panel(emb), k=_K)
    return _ranked(out, "query_id", "neighbor_id", "dot")


SIM_MAXDOT_SQL = f"""
WITH {VECTORS_CTE},
{panel_sql(_PANEL)}
{rank_sql(exact_cands(), _K, "list_inner_product", "dot")}
"""


# ---------------------------------------------------------------------------
# loaded-model ANN: sign-LSH and IVF
# ---------------------------------------------------------------------------


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-10: the 16 hyperplanes are a loaded
    model (the embeddings at vec_id 100..115) and sign decisions use the
    6-dp-rounded cosine, so bucketing, the candidate set and the exact
    re-rank are all SQL-reproducible.  The numpy-seeded production
    default stays exercised by ``tests/test_similarity*.py``
    recall/determinism gates."""
    emb = _t(spark, sf_dir, "embeddings")
    _, planes = load_model(emb, _plane_rows())
    out = lsh_topk(
        emb, query_panel(emb), k=_K, bands=_BANDS, planes=planes,
        sign_mode="cosine6",
    )
    return _ranked(out, "query_id", "neighbor_id", "cos_sim")


SIM_ANN_LSH_SQL = f"""
WITH {VECTORS_CTE},
{panel_sql(_PANEL)},
{lsh_sql(_PLANES // _BANDS)}
{rank_sql("lsh_cands", _K)}
"""


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: the coarse quantizer is a loaded
    16-centroid model (the 16 lowest-vec_id embeddings) and cell
    assignment / probe selection use the 6-dp-rounded cosine with
    smallest-id tie-breaks (``ivf_topk_model``), so the complete ranked
    result is SQL-reproducible.  The k-means-trained production path
    (``ivf_topk``) stays exercised by recall/determinism pytest gates
    and the persisted-layout tests."""
    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_topk_model(
        emb, query_panel(emb), load_centroids(emb, _CELLS), k=_K,
        n_probe=_PROBES,
    )
    return _ranked(out, "query_id", "neighbor_id", "cos_sim")


SIM_ANN_IVF_SQL = f"""
WITH {VECTORS_CTE},
{panel_sql(_PANEL)},
{assign_sql(_CELLS)},
{probes_sql(_PROBES)}
{rank_sql("ivf_cands", _K)}
"""


# ---------------------------------------------------------------------------
# recall of the indexes against the exact top-k
# ---------------------------------------------------------------------------


def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of both ANN indexes (sign-LSH bands, IVF probes)
    against the exact cosine top-10, one summary row per index.

    Both indexes run their loaded-model form — the 16 hyperplanes of
    ``sim_ann_lsh`` and the 16-centroid quantizer of ``sim_ann_ivf`` —
    so the candidate sets, ranks and hit counts are all
    SQL-reproducible.  The seeded/k-means-trained production paths keep
    their pytest recall bounds (test_similarity*, test_skew_ivf).

    100 TB shape: truth is the brute-force pass (the point of an eval —
    run on a bounded query panel); hits are (query, neighbor) semi-joins
    against 50-row frames.
    """
    emb = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    # ONE model-collect job for both indexes (guide §1.2 wave fusion)
    ids, mat = load_model(emb, (F.col("vec_id") < _CELLS) | _plane_rows())
    planes = mat[ids >= _PLANES_LO]
    centroids = [(int(i), v) for i, v in zip(ids, mat) if i < _CELLS]
    queries = query_panel(emb)
    # scoped_persist, not raw persist: the fused single-action rewrite
    # keeps the cache alive until the CALLER's action, so it must be
    # reclaimable by a tracked_caches() scope (r9 review)
    exact = scoped_persist(
        cosine_topk(emb, queries, k=_K).select("query_id", "neighbor_id")
    )
    # materialize the cache BEFORE the fused final job: its two
    # semi-join branches otherwise race each other into the unbuilt
    # persist and duplicate the brute-force pass (measured 4.1 s vs
    # 3.1 s — the A/B that motivated keeping this one wave)
    exact.count()
    n_truth_agg = exact.agg(F.count("*").alias("n_truth"))

    # hits per index and the truth count fused into ONE action: each
    # branch is a semi-join + 1-row aggregate, unioned and cross-joined
    # with the 1-row truth count.  hits/n_truth at 4 dp has no
    # representable half-way ties (n_truth is a top-k multiple of the
    # panel), so HALF_UP F.round equals the oracle's round.
    branches = []
    for index_name, approx in (
        (
            "lsh",
            lsh_topk(
                emb, queries, k=_K, bands=_BANDS, planes=planes,
                sign_mode="cosine6",
            ),
        ),
        ("ivf", ivf_topk_model(emb, queries, centroids, k=_K, n_probe=_PROBES)),
    ):
        branches.append(
            exact.join(
                approx.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            )
            .agg(F.count("*").alias("n_hits"))
            .select(F.lit(index_name).alias("index_name"), "n_hits")
        )
    return (
        branches[0]
        .unionByName(branches[1])
        .crossJoin(F.broadcast(n_truth_agg))
        .select(
            "index_name",
            F.lit(_K).cast("int").alias("k"),
            "n_truth",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_truth"), 4).alias("recall"),
        )
        .orderBy("index_name")
    )


SIM_RECALL_EVAL_SQL = f"""
WITH {VECTORS_CTE},
{panel_sql(_PANEL)},
full_rank AS ({rank_sql(exact_cands(), _K)}),
{lsh_sql(_PLANES // _BANDS)},
lsh_rank AS ({rank_sql("lsh_cands", _K)}),
{assign_sql(_CELLS)},
{probes_sql(_PROBES)},
ivf_rank AS ({rank_sql("ivf_cands", _K)}),
truth AS (SELECT count(*) AS n FROM full_rank),
hits_lsh AS (
    SELECT count(*) AS h FROM full_rank f
    JOIN lsh_rank t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
),
hits_ivf AS (
    SELECT count(*) AS h FROM full_rank f
    JOIN ivf_rank t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
)
SELECT 'ivf' AS index_name, CAST({_K} AS INTEGER) AS k,
       CAST(n AS BIGINT) AS n_truth, CAST(h AS BIGINT) AS n_hits,
       round(h / (n * 1.0), 4) AS recall
FROM truth, hits_ivf
UNION ALL
SELECT 'lsh', CAST({_K} AS INTEGER), CAST(n AS BIGINT), CAST(h AS BIGINT),
       round(h / (n * 1.0), 4)
FROM truth, hits_lsh
ORDER BY index_name
"""


def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 4-probe model-IVF search against the exact
    brute-force ground truth, per panel query (vec_id < 20) — the eval
    that prices an IVF deployment's probe budget (the
    ``emb_matryoshka_eval`` recipe with the IVF candidate generator in
    the approximate seat)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = query_panel(emb, _RECALL_QUERIES)
    truth = cosine_topk(emb, queries, k=_K)
    approx = ivf_topk_model(
        emb, queries, load_centroids(emb, _CELLS), k=_K, n_probe=_PROBES
    )
    hits = truth.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = hits.groupBy("query_id").agg(F.count("*").alias("n_hits"))
    base = queries.select("query_id")
    return base.join(per_q, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(float(_K)), 6).alias(
            "recall_at_10"
        ),
    )


SIM_ANN_IVF_RECALL_SQL = f"""
WITH {VECTORS_CTE},
{panel_sql(_RECALL_QUERIES)},
{assign_sql(_CELLS)},
{probes_sql(_PROBES)},
ivf_rank AS ({rank_sql("ivf_cands", _K)}),
full_rank AS ({rank_sql(exact_cands(), _K)}),
hits AS (
    SELECT f.query_id, count(*) AS n_hits
    FROM full_rank f
    JOIN ivf_rank t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY 1
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / {float(_K)!r}, 6) AS recall_at_10
FROM q LEFT JOIN hits h ON h.query_id = q.query_id
"""


# ---------------------------------------------------------------------------
# PQ codes: ADC over the corpus and over the probed IVF cells
# ---------------------------------------------------------------------------


def sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance) approximate top-10 over PQ codes.

    The injected model is the ``emb_pq_codes`` one (codebook for
    subspace s = the s-th 8-dim slice of the 16 lowest-vec_id
    embeddings); corpus codes are the argmin of the 6-dp-rounded
    per-subspace Euclidean distance (identical to ``emb_pq_codes``
    c0..c7), and a query's score against a coded vector is the
    decimal-exact sum of its 8 rounded LUT entries — so the full ranked
    output is SQL-reproducible.  This is the FAISS IVFADC aggregation
    stage with the sum-of-subspace L2 variant (classic ADC squares each
    term; only the exponent differs).

    100 TB shape: the corpus is touched by ONE Arrow map pass that
    encodes and immediately reduces each batch to its local top-k per
    query (≤ k·|Q| rows leave each batch); the global rank is a window
    over |Q|·k·n_batches candidate rows.  The 8x16 LUT per query lives
    in the closure; raw vectors never shuffle.
    """
    e = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    _, books = load_model(e, F.col("vec_id") < _CELLS)
    q_ids, q_mat = load_model(e, F.col("vec_id") < _PANEL)
    lut = pq_dists(q_mat, books, _SUBSPACES)
    names = ["query_id", "neighbor_id", "adc_dist"]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes, _ = pq_encode(X, books, _SUBSPACES)
            yield local_topk(
                pdf["vec_id"].to_numpy(), q_ids, adc_scores(lut, codes), _K,
                names, False,
            )

    local = e.select("vec_id", "embedding").mapInPandas(
        op, schema=topk_schema(names)
    )
    return _ranked(
        rank_topk(local, _K, "query_id", F.col("adc_dist").asc()), *names
    ).orderBy("query_id", "rank")


SIM_ANN_PQ_ADC_SQL = f"""
WITH {VECTORS_CTE},
{panel_sql(_PANEL)},
{pq_sql(_SUBSPACES, _CELLS)}
{adc_sql(exact_cands(), _K)}
ORDER BY query_id, rank
"""


def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search (Jégou, Douze, Schmid, "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011; FAISS ``IndexIVFPQ``): the
    ``sim_ann_ivf`` coarse quantizer routes each corpus vector to a cell
    and each query to its 4 probe cells; the ``emb_pq_codes`` codes
    stand in for the raw vectors, and the query scores candidates from
    the probed cells ONLY through its 8x16 ADC lookup table.

    100 TB shape: the whole index model (16 centroids, also the 16x64
    codebook rows, + the per-query 8x16 LUTs) rides in the closure; ONE
    Arrow map pass assigns cell + codes, applies the probe mask per
    query, and reduces each batch to local top-k (≤ k·|Q| rows leave a
    batch); the global rank is a window over bounded candidates.  Raw
    vectors never shuffle.
    """
    e = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    cids, cmat = load_model(e, F.col("vec_id") < _CELLS)
    q_ids, q_mat = load_model(e, F.col("vec_id") < _PANEL)
    probes = probe_cells(q_mat, cids, cmat, _PROBES)
    lut = pq_dists(q_mat, cmat, _SUBSPACES)
    names = ["query_id", "neighbor_id", "adc_dist"]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cells = cids[nearest_centroid(X, cmat)[0]]
            probed = np.stack([np.isin(cells, p) for p in probes], axis=1)
            codes, _ = pq_encode(X, cmat, _SUBSPACES)
            yield local_topk(
                pdf["vec_id"].to_numpy(), q_ids, adc_scores(lut, codes), _K,
                names, False, probed,
            )

    local = e.select("vec_id", "embedding").mapInPandas(
        op, schema=topk_schema(names)
    )
    return _ranked(
        rank_topk(local, _K, "query_id", F.col("adc_dist").asc()), *names
    ).orderBy("query_id", "rank")


SIM_ANN_IVFPQ_SQL = f"""
WITH {VECTORS_CTE},
{panel_sql(_PANEL)},
{assign_sql(_CELLS)},
{probes_sql(_PROBES)},
{pq_sql(_SUBSPACES, _CELLS)}
{adc_sql("ivf_cands", _K)}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# sim_hard_negatives
# ---------------------------------------------------------------------------


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hardest negatives (highest cosine, different label) per
    anchor (vec_id < 10) — the contrastive-training data prep.

    100 TB shape: the anchor panel (10x64 + labels) rides in the
    closure; ONE Arrow map pass scores every corpus vector against all
    anchors, applies the label gate, and emits only per-batch local
    top-k rows (≤ k·|anchors| per batch); the global rank is a window
    over those bounded candidates.  Raw vectors never shuffle.
    """
    e = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    a_ids, a_mat, a_lab = load_model(e, F.col("vec_id") < _HN_ANCHORS, "label")
    names = ["anchor_id", "neighbor_id", "cos_sim"]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            other_label = pdf["label"].to_numpy()[:, None] != a_lab[None, :]
            yield local_topk(
                pdf["vec_id"].to_numpy(), a_ids,
                _round_half_up(_cosine_matrix(X, a_mat)), _HN_K, names, True,
                other_label,
            )

    local = e.select("vec_id", "embedding", "label").mapInPandas(
        op, schema=topk_schema(names)
    )
    return _ranked(
        rank_topk(local, _HN_K, "anchor_id", F.col("cos_sim").desc()), *names
    ).orderBy("anchor_id", "rank")


SIM_HARD_NEGATIVES_SQL = f"""
WITH {VECTORS_CTE},
{panel_sql(_HN_ANCHORS)}
SELECT query_id AS anchor_id, neighbor_id, cos_sim, rank FROM (
{rank_sql(exact_cands("e.label <> q.qlab"), _HN_K)}
)
ORDER BY anchor_id, rank
"""


# ---------------------------------------------------------------------------
# sim_ivf_upsert — incremental ANN index maintenance
# ---------------------------------------------------------------------------


def sim_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: the reference's anti-join ingest
    pattern (J1, ``atd_data_lake/support/last_update.py`` compare-loop)
    applied to an IVF index — anti-join the incoming batch against the
    standing index (which the batch partially re-delivers), assign only
    the new vectors, and report per-cell deltas for index-health
    monitoring."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = load_centroids(emb, _CELLS)
    # in production the standing index is a stored table (a scan, free to
    # read twice); here it derives from an Arrow assignment stage, which
    # gets no AQE reuse — persist the slim (id, cell) frame so its two
    # consumers (anti-join ids + the standing rollup) run it once
    standing = scoped_persist(
        centroid_assign(
            emb.filter(F.col("vec_id") < _IVF_STANDING_MAX), centroids
        ).select("vec_id", "centroid_id")
    )
    return ivf_upsert(standing, emb, centroids).orderBy("centroid_id")


SIM_IVF_UPSERT_SQL = f"""
WITH {VECTORS_CTE},
{assign_sql(_CELLS)},
standing AS (
    SELECT vec_id, centroid_id FROM assign
    WHERE vec_id < {_IVF_STANDING_MAX}
),
added AS (
    SELECT * FROM assign
    WHERE vec_id NOT IN (SELECT vec_id FROM standing)
),
std_roll AS (
    SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_standing
    FROM standing GROUP BY 1
),
add_roll AS (
    SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_added,
           round(CAST(sum(CAST(cos_sim AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS added_sim_sum
    FROM added GROUP BY 1
)
SELECT coalesce(s.centroid_id, a.centroid_id) AS centroid_id,
       CAST(coalesce(s.n_standing, 0) AS BIGINT) AS n_standing,
       CAST(coalesce(a.n_added, 0) AS BIGINT) AS n_added,
       CAST(coalesce(s.n_standing, 0) + coalesce(a.n_added, 0) AS BIGINT)
           AS n_total,
       coalesce(a.added_sim_sum, 0.0) AS added_sim_sum
FROM std_roll s FULL OUTER JOIN add_roll a ON s.centroid_id = a.centroid_id
ORDER BY centroid_id
"""


# ---------------------------------------------------------------------------
# sim_semantic_dedup — SemDeDup inside loaded IVF cells
# ---------------------------------------------------------------------------


def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: the coarse quantizer is a loaded
    16-centroid model (the 16 lowest-vec_id embeddings), and assignment
    plus every greedy keep/drop decision use the 6-dp-rounded cosine
    with smallest-id tie-breaks, so the complete (cluster, keep,
    dup_of, max_sim) output is reproducible in ANSI SQL — the greedy
    kept-set recursion becomes a recursive CTE over cluster ranks.
    Threshold 0.35 = the semantic near-dup radius of the synthetic
    corpus (0.95 drops nothing here); the k-means-trained production
    path (``operators/semdedup.semantic_dedup``) keeps its
    determinism/planted-dup pytest gates."""
    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_model(e, load_centroids(e, _CELLS), threshold=_SEMDEDUP_T)


SIM_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE
{VECTORS_CTE},
{assign_sql(_CELLS)},
m AS (
    SELECT a.centroid_id AS cluster, a.vec_id, e.v,
           row_number() OVER (PARTITION BY a.centroid_id
                              ORDER BY a.vec_id) AS rnk,
           count(*) OVER (PARTITION BY a.centroid_id) AS n
    FROM assign a JOIN ev e USING (vec_id)
),
p AS (
    SELECT x.cluster, x.vec_id AS a_id, y.vec_id AS b_id,
           round(list_cosine_similarity(x.v, y.v), 6) AS sim
    FROM m x JOIN m y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
),
k AS (
    -- greedy kept-set recursion, one cluster rank per step: the member
    -- at rank step+1 joins the kept list iff no ALREADY-KEPT earlier
    -- member sits within the threshold radius
    SELECT cluster, 1 AS step, [vec_id] AS kept, n FROM m WHERE rnk = 1
    UNION ALL
    SELECT k.cluster, k.step + 1,
           CASE WHEN EXISTS (
               SELECT 1 FROM p
               WHERE p.cluster = k.cluster AND p.b_id = nxt.vec_id
                 AND p.sim >= {_SEMDEDUP_T} AND list_contains(k.kept, p.a_id))
             THEN k.kept ELSE list_append(k.kept, nxt.vec_id) END,
           k.n
    FROM k JOIN m nxt ON nxt.cluster = k.cluster AND nxt.rnk = k.step + 1
),
f AS (SELECT cluster, kept FROM k WHERE step = n),
pk AS (
    SELECT p.b_id, p.a_id, p.sim,
           row_number() OVER (PARTITION BY p.b_id
                              ORDER BY p.sim DESC, p.a_id) AS rn
    FROM p JOIN f ON f.cluster = p.cluster
    WHERE list_contains(f.kept, p.a_id)
),
stats AS (
    SELECT b_id AS vec_id, max(sim) AS msim,
           max(CASE WHEN rn = 1 THEN a_id END) AS best_a
    FROM pk GROUP BY b_id
)
SELECT m.vec_id, m.cluster,
       list_contains(f.kept, m.vec_id) AS keep,
       CASE WHEN list_contains(f.kept, m.vec_id) THEN NULL
            ELSE s.best_a END AS dup_of,
       coalesce(s.msim, 0.0) AS max_sim
FROM m JOIN f ON f.cluster = m.cluster
LEFT JOIN stats s ON s.vec_id = m.vec_id
ORDER BY m.vec_id
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

SIM_QUERIES = {
    "sim_knn_bruteforce": sim_knn_bruteforce,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_semantic_dedup": sim_semantic_dedup,
    "sim_recall_eval": sim_recall_eval,
    "sim_ivf_upsert": sim_ivf_upsert,
    "sim_ann_ivf_recall": sim_ann_ivf_recall,
    "sim_ann_pq_adc": sim_ann_pq_adc,
    "sim_hard_negatives": sim_hard_negatives,
    "sim_ann_ivfpq": sim_ann_ivfpq,
    "sim_maxdot_topk": sim_maxdot_topk,
}

SIM_ORACLES = {
    "sim_knn_bruteforce": SIM_KNN_SQL,
    "sim_ann_lsh": SIM_ANN_LSH_SQL,
    "sim_ann_ivf": SIM_ANN_IVF_SQL,
    "sim_semantic_dedup": SIM_SEMANTIC_DEDUP_SQL,
    "sim_recall_eval": SIM_RECALL_EVAL_SQL,
    "sim_ivf_upsert": SIM_IVF_UPSERT_SQL,
    "sim_ann_ivf_recall": SIM_ANN_IVF_RECALL_SQL,
    "sim_ann_pq_adc": SIM_ANN_PQ_ADC_SQL,
    "sim_hard_negatives": SIM_HARD_NEGATIVES_SQL,
    "sim_ann_ivfpq": SIM_ANN_IVFPQ_SQL,
    "sim_maxdot_topk": SIM_MAXDOT_SQL,
}
