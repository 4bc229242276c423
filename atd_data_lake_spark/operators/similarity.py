"""Similarity search over embedding columns (array<float>).

Beyond-reference extension (BASELINE.json north star).  Two paths:

- ``cosine_topk`` — exact brute-force top-k: the query set (small)
  broadcasts into an Arrow-batched ``mapInPandas`` stage that scores each
  corpus batch against ALL queries with one numpy matmul and emits only
  the per-batch top-k per query, so the shuffle that follows carries
  O(batches × queries × k) rows — never |corpus| × |queries|.  A final
  window rank merges the partial top-ks.  This is the correctness
  baseline and the right plan whenever queries fit in executor memory.

- ``lsh_topk`` — random-hyperplane (sign) LSH bucketing: corpus and
  queries hash to sign-bit band buckets; candidates are bucket-equi-join
  matches, scored exactly, then top-k.  The scale path: candidate
  generation is an equi-join, never a cross join.

Why pandas UDFs and not column expressions: Spark's higher-order
functions (``aggregate``/``zip_with``) evaluate their lambda per array
element in the interpreter — a 64-dim dot product via ``zip_with`` is
~10× slower than the same math as an Arrow-batched numpy matmul
(measured at sf0.1: 0.88 s vs 0.09 s for 16×2000 dot products).  Vector
math is the documented exception to "built-ins first".

Hyperplanes are generated from a fixed seed so results are deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atd_data_lake_spark.operators.scale import fan_out, scoped_persist



def _round_half_up(x: np.ndarray, decimals: int = 6) -> np.ndarray:
    """Half-away-from-zero rounding — matches Spark's ``round`` and DuckDB's
    ``round`` (numpy's ``np.round`` is banker's/half-to-even and would
    disagree on exact .5 boundaries)."""
    scale = 10.0 ** decimals
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def _cosine_matrix(corpus_mat: np.ndarray, query_mat: np.ndarray) -> np.ndarray:
    """(n×d, q×d) → n×q cosine similarities, float64."""
    cn = np.linalg.norm(corpus_mat, axis=1, keepdims=True)
    qn = np.linalg.norm(query_mat, axis=1, keepdims=True)
    cn[cn == 0] = 1.0
    qn[qn == 0] = 1.0
    return (corpus_mat / cn) @ (query_mat / qn).T



def drop_null_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop NULL/empty vectors before any Arrow vector-math stage.

    ``np.stack`` over a batch containing a NULL (or zero-length) array
    raises inside the Python worker and kills the whole job — one bad
    row in a 100 TB embedding table must degrade to "not comparable",
    not a job failure.  One whole-stage-codegen filter at the scan;
    dimension mismatches remain a data contract (they indicate a broken
    pipeline upstream, not a row-level defect)."""
    return df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    )

def _scored_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    score_fn,
    score_col: str,
) -> DataFrame:
    """Shared brute-force top-k scaffold for the exact retrieval
    operators (cosine / inner-product): queries are driver-small and
    ship in the task closure, the corpus crosses ONE Arrow stage that
    emits each batch's top-k per query (≤ k·|queries| rows per
    partition), and a final window keeps the global k.
    ``score_fn(corpus_mat, query_mat) → n×q`` float64 scores.  Empty
    query sets return an empty (schema-stable) frame instead of
    crashing the Arrow stage (r9 review)."""
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    qrows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)

    out_schema = topk_schema(["query_id", "neighbor_id", score_col])
    if len(qrows) == 0:
        # StructType.add mutates in place — build the ranked schema fresh
        full_schema = T.StructType(
            list(out_schema.fields)
            + [T.StructField("rank", T.IntegerType())]
        )
        return corpus.sparkSession.createDataFrame([], full_schema)

    def score_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            scores = _round_half_up(score_fn(mat, qmat))  # n×q
            yield local_topk(ids, qids, scores, k, out_schema.names, True)

    partial = fan_out(corpus).select(id_col, vec_col).mapInPandas(
        score_batch, schema=out_schema
    )
    return rank_topk(partial, k, "query_id", F.col(score_col).desc()).select(
        "query_id", "neighbor_id", score_col, "rank"
    )


def topk_schema(names: list[str]) -> T.StructType:
    """(query id, neighbor id, score) — the partial top-k row."""
    q, n, score = names
    return T.StructType(
        [
            T.StructField(q, T.LongType()),
            T.StructField(n, T.LongType()),
            T.StructField(score, T.DoubleType()),
        ]
    )


def local_topk(
    ids: np.ndarray,
    qids: np.ndarray,
    scores: np.ndarray,
    k: int,
    names: list[str],
    descending: bool,
    keep: np.ndarray | None = None,
) -> pd.DataFrame:
    """One Arrow batch's top-k per query: ``scores`` is n×q (corpus rows
    × queries), ranked high-first when ``descending`` (similarities) and
    low-first otherwise (distances), ties to the smaller id.  A query
    never matches itself; ``keep`` (n×q bool) gates candidates further.
    ``names`` are the (query, neighbor, score) output columns.  Only
    ≤ k·|queries| rows leave the batch, so the global rank that follows
    (:func:`rank_topk`) shuffles bounded candidates, never the corpus."""
    outs = []
    for j, qid in enumerate(qids):
        mask = ids != qid
        if keep is not None:
            mask &= keep[:, j]
        cand_ids, cand_scores = ids[mask], scores[mask, j]
        key = -cand_scores if descending else cand_scores
        order = np.lexsort((cand_ids, key))[:k]
        outs.append(
            pd.DataFrame(
                {
                    names[0]: qid,
                    names[1]: cand_ids[order],
                    names[2]: cand_scores[order],
                }
            )
        )
    return pd.concat(outs, ignore_index=True)


def rank_topk(partial: DataFrame, k: int, query_col: str, score: Column) -> DataFrame:
    """Global top-k per ``query_col`` over scored candidate rows: a
    ``rank`` row number ordered by ``score`` (the caller's orientation,
    e.g. ``F.col("cos_sim").desc()``), ties to the smaller
    ``neighbor_id``."""
    w = Window.partitionBy(query_col).orderBy(score, F.col("neighbor_id").asc())
    return partial.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``: (query_id, embedding), must be driver-small (it is
    collected and closure-broadcast to executors).  Excludes self-matches
    when ids collide.  Output: (query_id, neighbor_id, cos_sim, rank)
    with deterministic tie-break on neighbor id.
    """
    return _scored_topk(
        corpus, queries, k, id_col, vec_col, query_id_col,
        _cosine_matrix, "cos_sim",
    )


def maxdot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k MAXIMUM-INNER-PRODUCT neighbors per query vector —
    the retrieval contract of a trained two-tower / recommendation
    model, where magnitude carries signal and cosine's normalization
    would erase it (MIPS; Shrivastava & Li NIPS'14 frame the
    reduction-to-cosine; here the brute-force baseline is exact).

    Same shape as :func:`cosine_topk` (shared ``_scored_topk``
    scaffold): queries ship in the task closure, the corpus crosses ONE
    Arrow stage emitting per-batch top-k, and a final window keeps the
    global k.  Output: (query_id, neighbor_id, dot, rank), ties broken
    by neighbor id.
    """
    return _scored_topk(
        corpus, queries, k, id_col, vec_col, query_id_col,
        lambda mat, qmat: mat @ qmat.T, "dot",
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _plane_bits(mat: np.ndarray, planes: np.ndarray, sign_mode: str) -> np.ndarray:
    """Sign bits of ``mat`` (n×d) against ``planes`` (p×d) → n×p {0,1}.

    ``dot`` is the production path (one matmul, sign of the raw float
    dot).  ``cosine6`` decides the sign on the 6-dp-half-up-rounded
    COSINE instead — same bits except within 1e-6 of the boundary, but
    SQL-reproducible: ``round(list_cosine_similarity(v, p), 6) >= 0`` in
    DuckDB computes the identical decision (the green parity recipe
    behind ``centroid_assign``/``cosine_topk`` oracles)."""
    if sign_mode == "dot":
        return (mat @ planes.T >= 0).astype(np.int64)
    if sign_mode != "cosine6":
        raise ValueError(f"unknown sign_mode {sign_mode!r}")
    return (_round_half_up(_cosine_matrix(mat, planes)) >= 0).astype(np.int64)


def _band_keys(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: np.ndarray,
    bands: int,
    rows_per_band: int,
    sign_mode: str = "dot",
) -> DataFrame:
    """Sign-LSH banded bucket keys: one Arrow pass emitting ``bands`` rows
    (_id, band, bucket) per vector.  The bucket is the band's sign-bit
    pattern packed into an int, so candidate generation downstream is a
    plain equi-join on (band, bucket)."""
    weights = 1 << np.arange(rows_per_band)  # bits → int bucket key

    band_schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = _plane_bits(mat, planes, sign_mode)  # n × n_planes
            frames = []
            for b in range(bands):
                chunk = bits[:, b * rows_per_band : (b + 1) * rows_per_band]
                frames.append(
                    pd.DataFrame(
                        {
                            "_id": pdf[id_col],
                            "band": np.int32(b),
                            "bucket": chunk @ weights,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return fan_out(df).select(id_col, vec_col).mapInPandas(op, schema=band_schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_planes: int | None = None,
    bands: int = 4,
    seed: int = 42,
    target_bucket_load: int = 32,
    planes: np.ndarray | None = None,
    sign_mode: str = "dot",
) -> DataFrame:
    """Approximate top-k: sign-LSH banded bucketing for candidates, exact
    cosine re-rank.  A query and corpus vector are candidates iff they
    agree on all bits of at least one band.

    The signature (one numpy matmul against the fixed hyperplanes) and the
    banded bucket keys are computed in a single Arrow-batched pass; the
    candidate join is a broadcast equi-join on (band, bucket).

    Band geometry follows the same corpus-sized discipline as
    ``embedding_near_dups``: with r bits per band a bucket holds
    ≈ n/2^r vectors, and every one of them is a candidate for a query
    probing that bucket — a fixed small r degenerates to scanning a
    constant fraction of the corpus per query.  When ``n_planes`` is
    None, r = clamp(⌈log2(n/target_bucket_load)⌉, 2, 20) and bands
    rises with r to hold OR-recall; candidates per query stay
    ≈ bands · target_bucket_load regardless of corpus size.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    if planes is not None:
        # injected model (e.g. the oracle-reproducible data-derived
        # planes of sim_ann_lsh) — geometry comes from its shape
        planes = np.asarray(planes, dtype=np.float64)
        n_planes = planes.shape[0]
    else:
        if n_planes is None:
            import math

            n_rows = corpus.count()
            r = min(
                20,
                max(2, math.ceil(math.log2(max(n_rows / target_bucket_load, 4)))),
            )
            bands = max(bands, r)
            n_planes = r * bands
        planes = _hyperplanes(dim, n_planes, seed)
    if n_planes % bands:
        raise ValueError(f"bands={bands} must divide n_planes={n_planes}")
    rows_per_band = n_planes // bands
    weights = 1 << np.arange(rows_per_band)  # bits → int bucket key

    # corpus band keys: 3 small columns — the vectors stay in their scan
    # partitions until the (tiny) candidate set is known
    c = _band_keys(corpus, id_col, vec_col, planes, bands, rows_per_band, sign_mode)

    # queries are driver-small (same contract as cosine_topk/ivf_topk):
    # band them locally — no Spark stage, no Arrow roundtrip
    qrows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qbits = _plane_bits(qmat, planes, sign_mode)
    q_band_rows = [
        (int(qid), int(b), int(qbits[i, b * rows_per_band : (b + 1) * rows_per_band] @ weights))
        for i, qid in enumerate(qids)
        for b in range(bands)
    ]
    q = corpus.sparkSession.createDataFrame(q_band_rows, "_qid long, band int, bucket long")

    # candidate (corpus, query) id pairs: equi-join on band buckets, then
    # distinct over the 16-byte id pair — NOT over the vectors (a pair that
    # collides in several bands would otherwise shuffle its vectors once
    # per band)
    pair_ids = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .filter(F.col("_id") != F.col("_qid"))
        .select("_id", "_qid")
        .distinct()
    )

    return _rerank_pairs(corpus, pair_ids, qids, qmat, k, id_col, vec_col)


def _rerank_pairs(
    corpus: DataFrame,
    pair_ids: DataFrame,
    qids,
    qmat: np.ndarray,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact cosine re-rank of candidate ``(_id, _qid)`` pairs → top-k
    per query, shared by ``lsh_topk`` / ``ivf_topk_model``.

    The (small) candidate id set broadcasts back onto the corpus scan so
    vectors only leave their partitions for actual candidates; query
    vectors ride in the task closure keyed by id (model-sized).  Scores
    are 6-dp half-up — the SQL-reproducible contract — and ties break to
    the smaller neighbor id."""
    qvec_by_id = {int(qid): qmat[i] for i, qid in enumerate(qids)}
    qnorms = np.linalg.norm(qmat, axis=1)
    qnorms[qnorms == 0] = 1.0
    qnorm_by_id = {int(qid): float(qnorms[i]) for i, qid in enumerate(qids)}

    cands = corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).join(F.broadcast(pair_ids), "_id")

    pair_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
            an = np.linalg.norm(a, axis=1)
            an[an == 0] = 1.0
            qid_arr = pdf["_qid"].to_numpy()
            b = np.stack([qvec_by_id[int(qid)] for qid in qid_arr])
            bn = np.array([qnorm_by_id[int(qid)] for qid in qid_arr])
            sims = _round_half_up((a * b).sum(axis=1) / (an * bn))
            yield pd.DataFrame(
                {
                    "query_id": qid_arr,
                    "neighbor_id": pdf["_id"],
                    "cos_sim": sims,
                }
            )

    scored = cands.mapInPandas(score, schema=pair_schema)
    return rank_topk(scored, k, "query_id", F.col("cos_sim").desc()).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


# --- kept as column expressions for composition in other operators ---------


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed in double.
    NOTE: interpreted per element — fine for one-off expressions, use the
    pandas-UDF paths above for bulk scoring."""
    return _dot(a, b) / (_norm(a) * _norm(b))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def _sq_dists(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared euclidean distances (n×d, k×d) → n×k via the matmul
    identity |x−c|² = |x|² + |c|² − 2x·c — one BLAS call instead of
    materializing an n×k×d broadcast tensor (~10× faster, ~k× less
    memory)."""
    return (
        (x * x).sum(axis=1)[:, None]
        + (c * c).sum(axis=1)[None, :]
        - 2.0 * (x @ c.T)
    )


def _kmeans_centroids(
    sample: np.ndarray, n_cells: int, n_iter: int = 10, seed: int = 42
) -> np.ndarray:
    """Deterministic Lloyd's k-means on a driver-side sample.  At 100 TB
    the quantizer trains on a bounded sample (centroids are the model,
    not the data) — this is how IVF indexes are built everywhere."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)
    centroids = sample[np.sort(idx)].astype(np.float64)
    for _ in range(n_iter):
        assign = _sq_dists(sample, centroids).argmin(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    n_probe: int = 4,
    train_sample: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer → corpus rows land
    in their nearest cell (one Arrow pass, no shuffle) → each query
    probes its ``n_probe`` nearest cells → candidate equi-join on cell id
    → exact cosine re-rank.

    Recall/cost dial: n_probe/n_cells is the fraction of the corpus
    scored per query (n_probe=n_cells degenerates to exact).  The
    centroid model is driver-trained on a bounded sample and
    closure-broadcast — at any corpus size the shuffled data is the
    candidate set, never the corpus.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    # orderBy before limit: a bare limit picks arbitrary partitions and
    # would make the trained quantizer (and thus results) nondeterministic
    sample_rows = corpus.orderBy(id_col).select(vec_col).limit(train_sample).collect()
    sample = np.array([r[0] for r in sample_rows], dtype=np.float64)
    centroids = _kmeans_centroids(sample, n_cells, seed=seed)

    cell_schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("_vec", corpus.schema[vec_col].dataType),
            T.StructField("cell", T.IntegerType()),
        ]
    )

    def assign_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "_id": pdf[id_col],
                    "_vec": pdf[vec_col],
                    "cell": _sq_dists(mat, centroids).argmin(axis=1).astype(np.int32),
                }
            )

    c = (
        fan_out(corpus)
        .select(F.col(id_col), vec_col)
        .mapInPandas(assign_cells, schema=cell_schema)
    )

    # queries: driver-small → probe lists computed locally, broadcast join
    qrows = queries.select(query_id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    probes = np.argsort(_sq_dists(qmat, centroids), axis=1)[:, :n_probe]
    probe_rows = [
        (int(qid), qmat[i].tolist(), int(cell))
        for i, qid in enumerate(qids)
        for cell in probes[i]
    ]
    q = corpus.sparkSession.createDataFrame(
        probe_rows, "_qid long, _qvec array<double>, cell int"
    )

    cands = c.join(F.broadcast(q), "cell").filter(F.col("_id") != F.col("_qid"))

    pair_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
            b = np.stack(pdf["_qvec"].to_numpy()).astype(np.float64)
            an, bn = np.linalg.norm(a, axis=1), np.linalg.norm(b, axis=1)
            an[an == 0] = 1.0
            bn[bn == 0] = 1.0
            yield pd.DataFrame(
                {
                    "query_id": pdf["_qid"],
                    "neighbor_id": pdf["_id"],
                    "cos_sim": _round_half_up((a * b).sum(axis=1) / (an * bn)),
                }
            )

    scored = cands.mapInPandas(score, schema=pair_schema)
    return rank_topk(scored, k, "query_id", F.col("cos_sim").desc()).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


def ivf_topk_model(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k against an INJECTED coarse-quantizer model
    (a driver-small ``(centroid_id, vector)`` list) — the production
    shape where the quantizer was trained offline and the search loads
    it, vs ``ivf_topk`` which trains its own.

    Unlike ``ivf_topk``'s raw-float euclidean argmin, cell assignment
    and probe selection here use the 6-dp-rounded COSINE with
    smallest-id tie-breaks (``centroid_assign``), making every decision
    — and therefore the full ranked result — SQL-reproducible, so the
    query carries a complete DuckDB oracle.

    Plan shape: assignment is zero-shuffle JVM column math over the
    scan; probes are computed driver-side from the model; candidates are
    one broadcast equi-join on cell id; the exact re-rank touches only
    candidates.  Nothing corpus-sized ever shuffles.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    cells = centroid_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)

    qrows = queries.select(query_id_col, vec_col).collect()
    qids = [int(r[0]) for r in qrows]
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    cids = np.array([int(c) for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)
    probe_rows = [
        (qid, int(cell))
        for qid, cells in zip(qids, probe_cells(qmat, cids, cmat, n_probe))
        for cell in cells
    ]
    q = corpus.sparkSession.createDataFrame(
        probe_rows, "_qid long, centroid_id long"
    )

    pair_ids = (
        cells.select(F.col(id_col).alias("_id"), "centroid_id")
        .join(F.broadcast(q), "centroid_id")
        .filter(F.col("_id") != F.col("_qid"))
        .select("_id", "_qid")
        .distinct()
    )
    return _rerank_pairs(corpus, pair_ids, qids, qmat, k, id_col, vec_col)


def probe_cells(
    qmat: np.ndarray, cids: np.ndarray, cmat: np.ndarray, n_probe: int
) -> list[np.ndarray]:
    """Each query's ``n_probe`` cells of a loaded quantizer: highest
    6-dp-rounded cosine first, ties to the smaller centroid id — the
    decision the oracles' ``probes`` CTE makes in SQL."""
    sims = _round_half_up(_cosine_matrix(qmat, cmat))  # q × cells
    return [cids[np.lexsort((cids, -row))[:n_probe]] for row in sims]


def ivf_upsert(
    standing: DataFrame,
    incoming: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF index maintenance — the reference's incremental
    anti-join ingest pattern (``operators/incremental.py``, J1 /
    ``last_update.py`` compare-loop) applied to an ANN index: given the
    ``standing`` index (``id, centroid_id`` rows already indexed) and an
    ``incoming`` vector batch that may re-deliver already-indexed ids,
    assign ONLY the genuinely new vectors to their nearest cell and
    report the per-cell delta.

    Output per cell: ``centroid_id, n_standing, n_added, n_total,
    added_sim_sum`` (6-dp decimal-exact sum of the new members' centroid
    similarities — the drift signal that tells an index operator a cell
    needs re-training or splitting).

    100 TB shape: the anti-join is id-only (two slim columns shuffle, or
    broadcast when the batch is small); assignment of the surviving new
    rows is one zero-shuffle Arrow map against the closure-borne model;
    both rollups are cell-cardinality aggregates with map-side combine.  The
    standing index is never re-scored and the corpus never re-shuffles —
    cost scales with the incoming batch, not the index.
    """
    # dedupe WITHIN the batch too: an id re-delivered twice in one
    # incoming batch is one vector, not two (r6 review — the anti-join
    # alone only prunes ids the standing index already has, so an
    # intra-batch duplicate doubled every per-cell delta it touched);
    # copies of one id are the same vector by contract, so which one
    # dropDuplicates keeps is immaterial
    new_vecs = (
        incoming.select(id_col, vec_col)
        .dropDuplicates([id_col])
        .join(standing.select(id_col), id_col, "left_anti")
    )
    added = centroid_assign(new_vecs, centroids, id_col=id_col, vec_col=vec_col)
    std_roll = standing.groupBy("centroid_id").agg(
        F.count("*").alias("n_standing")
    )
    add_roll = added.groupBy("centroid_id").agg(
        F.count("*").alias("n_added"),
        F.round(
            F.sum(F.col("cos_sim").cast("decimal(18,6)")).cast("double"), 6
        ).alias("added_sim_sum"),
    )
    n_std = F.coalesce("n_standing", F.lit(0)).cast("long")
    n_add = F.coalesce("n_added", F.lit(0)).cast("long")
    return std_roll.join(add_roll, "centroid_id", "full").select(
        "centroid_id",
        n_std.alias("n_standing"),
        n_add.alias("n_added"),
        (n_std + n_add).alias("n_total"),
        F.coalesce("added_sim_sum", F.lit(0.0)).alias("added_sim_sum"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs
# ---------------------------------------------------------------------------


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_collect_rows: int = 500_000,
    dim: int = 64,
    n_planes: int | None = None,
    bands: int = 8,
    seed: int = 42,
    target_bucket_load: int = 32,
) -> DataFrame:
    """Near-dup pairs: (id_a, id_b, cos_sim) for cos ≥ threshold, id_a < id_b.

    Two plans behind one signature, gated on corpus size (one 1-column
    count() action):

    - ``≤ max_collect_rows`` — EXACT: the corpus is collected once into a
      closure-broadcast matrix (10⁶ × 64 floats ≈ 256 MB); each Arrow
      batch block-matmuls against it and emits only pairs over the
      threshold.  Shuffled data = the near-dup pairs themselves.
    - ``> max_collect_rows`` — the scale path: the corpus NEVER reaches
      the driver.  Banded sign-LSH keys (``_band_keys``, shared with
      ``lsh_topk``) self-equi-join on (band, bucket) to generate candidate
      id pairs; candidates rejoin their vectors and are exact-cosine
      re-ranked against the threshold.  Every returned pair is a true
      near-dup (exact re-rank); recall < 1.

    Banding discipline (the part that decides whether this is linear or
    quadratic): with ``r`` bits per band, a band has 2^r buckets, and a
    bucket of L vectors emits L²/2 candidate rows — so ``r`` MUST grow
    with the corpus: 2^r ≈ n / target_bucket_load keeps candidate volume
    ≈ n · bands · load/2, i.e. LINEAR in n.  A fixed small r (the old
    2-bit default) floods every bucket on a large corpus and the
    self-join degenerates to all-pairs (observed: 10× corpus → timeout).
    When ``n_planes`` is None both dials auto-size from the corpus count:
    r = clamp(⌈log2(n/load)⌉, 2, 20), bands = max(bands, r) (wider band
    rows lower per-band match probability p^r, so bands rises to keep
    OR-recall: at cos 0.95, p ≈ 0.9, r = b = 14 ⇒ recall ≈ 0.97; true
    near-identicals (cos → 1) stay ≈ 1.0 at any r).  Pass explicit
    ``n_planes``/``bands`` to pin the geometry.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    n_rows = corpus.count()
    if n_rows > max_collect_rows:
        if n_planes is None:
            import math

            r = min(20, max(2, math.ceil(math.log2(max(n_rows / target_bucket_load, 4)))))
            eff_bands = max(bands, r)
            eff_planes = r * eff_bands
        else:
            eff_planes, eff_bands = n_planes, bands
        return _near_dups_lsh(
            corpus, threshold, id_col, vec_col, dim, eff_planes, eff_bands, seed
        )
    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bids = pdf[id_col].to_numpy()
            bmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bn = np.linalg.norm(bmat, axis=1)
            bn[bn == 0] = 1.0
            sims = _round_half_up((bmat / bn[:, None]) @ unit.T)
            keep_r, keep_c = np.where(
                (sims >= threshold) & (bids[:, None] < ids[None, :])
            )
            if len(keep_r):
                yield pd.DataFrame(
                    {
                        "id_a": bids[keep_r],
                        "id_b": ids[keep_c],
                        "cos_sim": sims[keep_r, keep_c],
                    }
                )

    return fan_out(corpus).select(id_col, vec_col).mapInPandas(op, schema=out_schema)


def _near_dups_lsh(
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """Distributed near-dup path: banded sign-LSH candidate self-join +
    exact cosine re-rank.  No driver collect at any corpus size."""
    planes = _hyperplanes(dim, n_planes, seed)
    rows_per_band = n_planes // bands

    # band keys computed once, consumed by both sides of the self-join
    # (multi-consumer mapInPandas output → persist, or the Python stage
    # runs twice)
    sig = scoped_persist(
        _band_keys(corpus, id_col, vec_col, planes, bands, rows_per_band)
    )
    left = sig.select(F.col("_id").alias("id_a"), "band", "bucket")
    right = sig.select(F.col("_id").alias("id_b"), "band", "bucket")
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        # distinct over the 16-byte id pair BEFORE vectors join in: a pair
        # colliding in several bands must not shuffle its vectors per band
        .distinct()
    )

    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    cands = pairs.join(va, "id_a").join(vb, "id_b")

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["_va"].to_numpy()).astype(np.float64)
            b = np.stack(pdf["_vb"].to_numpy()).astype(np.float64)
            an, bn = np.linalg.norm(a, axis=1), np.linalg.norm(b, axis=1)
            an[an == 0] = 1.0
            bn[bn == 0] = 1.0
            sims = _round_half_up((a * b).sum(axis=1) / (an * bn))
            keep = sims >= threshold
            if keep.any():
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"].to_numpy()[keep],
                        "id_b": pdf["id_b"].to_numpy()[keep],
                        "cos_sim": sims[keep],
                    }
                )

    return cands.mapInPandas(score, schema=out_schema)


# ---------------------------------------------------------------------------
# Centroid assignment — the clustering primitive (map side of Lloyd's)
# ---------------------------------------------------------------------------


def nearest_centroid(
    mat: np.ndarray, cmat: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Row index into the id-ascending centroid matrix ``cmat`` of each
    vector's nearest centroid by 6-dp-rounded cosine, and that cosine.
    ``argmax`` returns the FIRST max, so rounded ties resolve to the
    smallest centroid id.  ``_cosine_matrix``'s zero-norm guard divides
    by 1, so a zero vector (or zero centroid) scores exactly 0.0 against
    everything — no extra masking needed."""
    sims = _round_half_up(_cosine_matrix(mat, cmat))
    best = sims.argmax(axis=1)
    return best, sims[np.arange(len(best)), best]


def centroid_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid by cosine
    similarity.  ``centroids`` is a fitted model — a driver-small list of
    (centroid_id, vector) — NOT data; it is inlined into the plan as
    literals so assignment is a ZERO-shuffle, pure-JVM map stage at any
    corpus size (the same model-moves-not-data stance as ``ivf_topk``'s
    coarse quantizer).

    Output: (id, centroid_id, cos_sim) with cos_sim rounded to 6 places;
    ties (after rounding) break to the smallest centroid_id, so the
    assignment is deterministic and SQL-reproducible.  Zero-norm vectors
    (and zero-norm centroids) get cos_sim 0 and ties resolve to the
    smallest centroid id.

    Execution is ONE zero-shuffle Arrow map stage: the centroid matrix
    rides in the task closure and each batch scores with one numpy
    matmul + 6-dp half-up rounding — the proven-green oracle contract
    (``round(list_cosine_similarity(...), 6)`` in DuckDB; same recipe as
    ``cosine_topk``/``semantic_decontaminate``).  Two JVM column
    formulations were tried and rejected: ``zip_with``/``aggregate``
    lambdas evaluate per element in the interpreter (~2.2 s for 16×64×5k
    — the SURVEY §7 gotcha), and a fully unrolled ``element_at``
    expression tree (~2k nodes) blew codegen memory in a 1 GB plain
    session.  Vector math is the documented pandas-UDF exception.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    order = sorted(range(len(centroids)), key=lambda i: int(centroids[i][0]))
    cids = np.array([int(centroids[i][0]) for i in order], dtype=np.int64)
    cmat = np.array([centroids[i][1] for i in order], dtype=np.float64)
    out_schema = T.StructType(
        [
            T.StructField("_ca_id", corpus.schema[id_col].dataType),
            T.StructField("centroid_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            best, best_sim = nearest_centroid(mat, cmat)
            yield pd.DataFrame(
                {
                    "_ca_id": pdf[id_col],
                    "centroid_id": cids[best],
                    "cos_sim": best_sim,
                }
            )

    # no fan_out here: the per-row cost is one k×d multiply-add (unlike
    # shingling there is nothing to widen), and the repartition it adds
    # would break the operator's zero-shuffle contract on small inputs
    # while being a no-op on production scans
    return (
        corpus.select(id_col, vec_col)
        .mapInPandas(op, schema=out_schema)
        .withColumnRenamed("_ca_id", id_col)
    )
