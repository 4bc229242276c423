"""Round-36 query additions — hard-negative mining, entity resolution,
MinHash banding eval.

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
  runs, end to end under one oracle.
- ``dedup_minhash_eval`` — the tuning loop for the MinHash family: an
  ENGINE-PORTABLE 8-permutation MinHash (min over md5-52(shingle # j))
  banded 4x2 — a deliberately loose geometry — scored against the
  exact trigram-Jaccard >= 0.5 truth: candidate count, recall,
  precision.  On the driver tables every true pair is an exact
  duplicate (J = 1, always caught — recall 1.0) and PRECISION is the
  live signal (~0.40 at sf0.1: 633 candidates for 256 true pairs); the
  recall-loss regime is pinned by a synthetic mid-Jaccard pytest.
  (The production ``dedup_minhash_lsh`` geometry has recall ~1-3e-7,
  which is why its oracle IS the exact pair set; this query measures
  what a cheaper geometry costs.)

All three carry full DuckDB oracles.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    from atd_data_lake_spark.round33_queries import edit_distance_corpus

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


def _er_entities_sql(pair_sql: str) -> str:
    return f"""
WITH RECURSIVE pairs AS ({pair_sql}),
sym AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
reach AS (
    SELECT u, v FROM sym
    UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
    SELECT u AS node, least(u, min(v)) AS component
    FROM reach GROUP BY u
)
SELECT component AS entity_id, CAST(count(*) AS BIGINT) AS n_members
FROM comp
GROUP BY component
ORDER BY entity_id
"""


# ---------------------------------------------------------------------------
# dedup_minhash_eval
# ---------------------------------------------------------------------------

_MH_PERMS = 8
_MH_BANDS = 4  # 4 bands x 2 rows — deliberately loose (recall < 1)
_MH_TRUTH_T = 0.5


def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of a LOOSE portable-MinHash banding (8 perms,
    4x2 bands) against the exact trigram-Jaccard >= 0.5 truth — the
    number that tells you whether a cheaper signature geometry is safe.

    Engine-portable signature: permutation j's hash of a shingle is the
    52-bit md5 prefix of ``shingle || '#j'`` — both engines compute the
    identical minimum per document, so the candidate set itself is
    SQL-reproducible (not just the verified output, as in
    ``dedup_minhash_lsh``).

    100 TB shape (r9 single-pass rewrite, detail at the stage below):
    the corpus is scanned ONCE through an Arrow stage that emits a
    narrow union frame of hash-posting rows (for the exact-Jaccard
    truth self-join, 8-byte shuffle width, J ≥ t size prune inside the
    join) and pre-banded signature rows (for the candidate self-join)
    — that union is the only persisted frame; shingle strings never
    leave the pandas batch.  Candidates and truth meet in a full-outer
    join on the pair key (both sides already pair-partitioned — no
    extra exchange) and ONE aggregate emits the single summary row:
    one Spark action, no driver-side counting.
    """
    # r9 single-pass rewrite: the r8 formulation materialized a cached
    # per-doc shingle-array frame via JVM ``zip_with``/``array_distinct``
    # (interpreted per-element lambdas — ~2.5 s cold at sf0.1) and then
    # computed the 8 per-perm minima as ``array_min(transform(shingles,
    # md5(...)))`` — another ~2M INTERPRETED md5 evals, measured 4.4 s of
    # the query's 5.7 s wall (the round-3 HOF gotcha, paid in our own r8
    # rewrite).  Now ONE Arrow stage shingles each doc and emits BOTH
    # work products as a union-schema frame (the only corpus pass):
    #   posting rows (doc_id, _sz, _hash)   — vectorized 64-bit shingle
    #     hash for the exact-Jaccard truth self-join (negligible-
    #     collision assumption, as shingle_hash_rows documents: the
    #     oracle joins exact strings, Spark joins their 64-bit hashes —
    #     a collision between distinct shared shingles would inflate
    #     the intersection; at 2^64 this is ~1e-9 for this corpus);
    #   band rows (doc_id, band, key)       — per-perm minima of the
    #     52-bit md5 prefix of shingle||'#j' via hashlib.md5 (byte-
    #     identical to the SQL oracle's md5), pre-banded in-batch.
    # The persisted frame is the narrow union (~280k rows), never the
    # shingle strings.  Measured 5.7 → 2.5 s same host (cold cache),
    # ~1.2x the DuckDB proxy — under the 2x bar for the first time.
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from atd_data_lake_spark.operators.dedup import _doc_shingles
    from atd_data_lake_spark.operators.scale import fan_out

    d = _t(spark, sf_dir, "documents")
    sfx = [f"#{j}".encode() for j in range(_MH_PERMS)]

    def fused_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            p_ids: list = []
            p_sh: list[str] = []
            p_cnt: list[int] = []
            b_ids: list = []
            b_band: list[int] = []
            b_key: list[str] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                sh = _doc_shingles(text, 3)
                if not sh:
                    continue
                p_ids.append(did)
                p_sh.extend(sh)
                p_cnt.append(len(sh))
                h = [
                    min(
                        int(md5(s.encode("utf-8") + sfx[j]).hexdigest()[:13], 16)
                        for s in sh
                    )
                    for j in range(_MH_PERMS)
                ]
                for b in range(_MH_BANDS):
                    b_ids.append(did)
                    b_band.append(b)
                    b_key.append(f"{h[2 * b]}:{h[2 * b + 1]}")
            if not p_ids:
                continue
            cnt = np.array(p_cnt, dtype=np.int64)
            hashes = pd.util.hash_array(
                np.array(p_sh, dtype=object)
            ).astype(np.int64)
            posting = pd.DataFrame(
                {
                    "doc_id": np.repeat(np.array(p_ids), cnt),
                    "band": np.full(len(p_sh), -1, dtype=np.int32),
                    "key": np.full(len(p_sh), None, dtype=object),
                    "_sz": np.repeat(cnt, cnt),
                    "_hash": hashes,
                }
            )
            band = pd.DataFrame(
                {
                    "doc_id": np.array(b_ids),
                    "band": np.array(b_band, dtype=np.int32),
                    "key": b_key,
                    "_sz": np.full(len(b_ids), -1, dtype=np.int64),
                    "_hash": np.zeros(len(b_ids), dtype=np.int64),
                }
            )
            yield pd.concat([posting, band], ignore_index=True)

    fused = (
        fan_out(d)
        .select("doc_id", "text")
        .mapInPandas(
            fused_rows,
            schema="doc_id long, band int, key string, _sz long, _hash long",
        )
        .persist()
    )
    bands = fused.filter(F.col("band") >= 0).select("doc_id", "band", "key")
    l = bands.select("band", "key", F.col("doc_id").alias("id_a"))
    r = bands.select("band", "key", F.col("doc_id").alias("id_b"))
    cand = (
        l.join(r, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact truth from the SAME cached union frame: inverted-index
    # self-join on the 64-bit shingle hash, size prune in the join
    # (J ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|); ε guards float overshoot).
    posting = fused.filter(F.col("band") < 0).select("doc_id", "_sz", "_hash")
    a, b = posting.alias("a"), posting.alias("b")
    size_ok = (
        F.col("a._sz") >= F.lit(_MH_TRUTH_T) * F.col("b._sz") - F.lit(1e-9)
    ) & (F.col("b._sz") >= F.lit(_MH_TRUTH_T) * F.col("a._sz") - F.lit(1e-9))
    truth = (
        a.join(
            b,
            (F.col("a._hash") == F.col("b._hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count("*").alias("inter"),
            F.min("a._sz").alias("sz_a"),
            F.min("b._sz").alias("sz_b"),
        )
        .filter(
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            )
            >= _MH_TRUTH_T
        )
        .select("id_a", "id_b")
    )
    joined = truth.withColumn("in_t", F.lit(1)).join(
        cand.withColumn("in_c", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    stats = joined.agg(
        F.coalesce(F.sum("in_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("in_c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("in_t").isNotNull() & F.col("in_c").isNotNull(), 1
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_hits"),
    )
    return stats.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_hits") / F.col("n_truth"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
        F.when(
            F.col("n_candidates") > 0,
            F.round(F.col("n_hits") / F.col("n_candidates"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("precision"),
    )


def _minhash_eval_sql(jaccard_sql: str) -> str:
    mins = ",\n           ".join(
        f"min(CAST(('0x' || substr(md5(shingle || '#{j}'), 1, 13)) AS UBIGINT)"
        f"::BIGINT) AS h{j}"
        for j in range(_MH_PERMS)
    )
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, "
        f"CAST(h{2 * b} AS VARCHAR) || ':' || CAST(h{2 * b + 1} AS VARCHAR) "
        f"AS key FROM sig"
        for b in range(_MH_BANDS)
    )
    return f"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
),
g AS (
    SELECT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
    FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
),
sig AS (
    SELECT doc_id,
           {mins}
    FROM g GROUP BY doc_id
),
bands AS (
{band_rows}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
truth AS (SELECT id_a, id_b FROM ({jaccard_sql})),
hits AS (
    SELECT count(*) AS h FROM truth JOIN cand USING (id_a, id_b)
),
counts AS (
    SELECT (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT h FROM hits) AS n_hits
)
SELECT CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hits AS BIGINT) AS n_hits,
       CASE WHEN n_truth > 0 THEN round(n_hits / (n_truth * 1.0), 6)
            ELSE 0.0 END AS recall,
       CASE WHEN n_candidates > 0 THEN round(n_hits / (n_candidates * 1.0), 6)
            ELSE 0.0 END AS precision
FROM counts
"""


# ---------------------------------------------------------------------------
# registration (oracle SQL for er/minhash is assembled in queries.py,
# where the shared pair/jaccard SQL builders live)
# ---------------------------------------------------------------------------

ROUND36_QUERIES = {
    "sim_hard_negatives": sim_hard_negatives,
    "er_canonical_entities": er_canonical_entities,
    "dedup_minhash_eval": dedup_minhash_eval,
}

ROUND36_ORACLES = {
    "sim_hard_negatives": SIM_HARD_NEGATIVES_SQL,
}
