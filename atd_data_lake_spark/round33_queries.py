"""Round-33 query additions — PQ-ADC search, temperature sampling,
bigram LM scoring, NB classifier eval.

- ``sim_ann_pq_adc`` — asymmetric-distance (ADC) approximate top-k over
  PQ codes: corpus vectors are encoded once with the injected 16x8
  codebooks (the ``emb_pq_codes`` model), queries scan a 8x16 lookup
  table — the FAISS IVFADC aggregation stage, with the sum-of-subspace
  L2 aggregation variant so every score is a decimal-exact sum of
  6-dp-rounded lookups (classic ADC squares each term; only the
  exponent differs).
- ``cur_temperature_sample`` — temperature-scaled language rebalancing
  (the mBERT/XLM-R alpha-sampling): keep probability
  ``sqrt(n_min / n_lang)`` gives kept counts proportional to
  ``p_lang^0.5``.  sqrt and the power-of-two uniform are correctly
  rounded IEEE ops, so acceptance is engine-exact.
- ``text_bigram_logprob`` — per-document mean log-probability under a
  4096-bucket hashed BIGRAM LM with add-one smoothing (the KenLM-class
  fluency signal one order above ``text_unigram_logprob``).
- ``text_nb_langid_eval`` — train a bucketed Naive-Bayes language
  classifier in-plan (one token aggregation), score every document with
  a decimal-exact log-likelihood-ratio sum, and report the per-source
  confusion matrix vs the labeled ``lang`` — classifier-based filtering
  plus its calibration readout (the FineWeb-Edu/DCLM filter shape, with
  the model trained by the plan instead of injected).

All four carry full DuckDB oracles.  The round's edit-distance dedup
(``dedup_edit_distance``, PassJoin) lives in ``dedup_queries``.
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
# sim_ann_pq_adc
# ---------------------------------------------------------------------------

_ADC_SUBSPACES = 8
_ADC_CODES = 16
_ADC_QUERIES = 5
_ADC_K = 10


def sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance) approximate top-10 over PQ codes.

    The injected model is the ``emb_pq_codes`` one (codebook for
    subspace s = the s-th 8-dim slice of the 16 lowest-vec_id
    embeddings); corpus codes are the argmin of the 6-dp-rounded
    per-subspace Euclidean distance (identical to ``emb_pq_codes``
    c0..c7), and a query's score against a coded vector is the
    decimal-exact sum of its 8 rounded LUT entries — so the full ranked
    output is SQL-reproducible.

    100 TB shape: the corpus is touched by ONE Arrow map pass that
    encodes and immediately reduces each batch to its local top-k per
    query (≤ k·|Q| rows leave each batch); the global rank is a window
    over |Q|·k·n_batches candidate rows.  The 8x16 LUT per query lives
    in the closure; raw vectors never shuffle.
    """
    from atd_data_lake_spark.operators.similarity import (
        _round_half_up,
        drop_null_vectors,
    )

    e = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    model_rows = (
        e.filter(F.col("vec_id") < _ADC_CODES)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    books = np.array([r[0] for r in model_rows], dtype=np.float64)  # 16xdim
    dim = books.shape[1]
    sub_d = dim // _ADC_SUBSPACES
    q_rows = (
        e.filter(F.col("vec_id") < _ADC_QUERIES)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([int(r[0]) for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    # LUT[q, s, code] = round6(euclid(q_slice, codebook_slice))
    lut = np.zeros((len(q_ids), _ADC_SUBSPACES, _ADC_CODES))
    for s in range(_ADC_SUBSPACES):
        qs = q_mat[:, s * sub_d : (s + 1) * sub_d]
        cs = books[:, s * sub_d : (s + 1) * sub_d]
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
            codes = np.zeros((len(X), _ADC_SUBSPACES), dtype=np.int64)
            for s in range(_ADC_SUBSPACES):
                Xs = X[:, s * sub_d : (s + 1) * sub_d]
                Cs = books[:, s * sub_d : (s + 1) * sub_d]
                dmat = _round_half_up(
                    np.sqrt(
                        ((Xs[:, None, :] - Cs[None, :, :]) ** 2).sum(axis=2)
                    )
                )
                codes[:, s] = dmat.argmin(axis=1)
            # adc[q, n] = sum_s lut[q, s, codes[n, s]] — each term is a
            # 6-dp decimal, so the float sum of 8 is exact on the grid
            adc = np.zeros((len(q_ids), len(X)))
            for s in range(_ADC_SUBSPACES):
                adc += lut[:, s, codes[:, s]]
            adc = _round_half_up(adc, 6)
            outs = []
            for qi, qid in enumerate(q_ids):
                mask = ids != qid
                cand_ids = ids[mask]
                cand_adc = adc[qi][mask]
                # local top-k: bounded rows leave the batch
                order = np.lexsort((cand_ids, cand_adc))[: _ADC_K]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": cand_ids[order],
                            "adc_dist": cand_adc[order],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    local = e.select("vec_id", "embedding").mapInPandas(op, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ADC_K)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


SIM_ANN_PQ_ADC_SQL = f"""
WITH ev AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
),
subs AS (SELECT unnest(range({_ADC_SUBSPACES})) AS s),
slices AS (
    SELECT vec_id, s, v[s * 8 + 1 : s * 8 + 8] AS sv FROM ev, subs
),
cb AS (
    SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1
               AS code,
           sv AS cv
    FROM slices WHERE vec_id < {_ADC_CODES}
),
assigned AS (
    SELECT vec_id, s, code FROM (
        SELECT sl.vec_id, sl.s, cb.code,
               row_number() OVER (PARTITION BY sl.vec_id, sl.s
                   ORDER BY round(list_distance(sl.sv, cb.cv), 6), cb.code)
                   AS rn
        FROM slices sl JOIN cb ON cb.s = sl.s
    ) WHERE rn = 1
),
lut AS (
    SELECT q.vec_id AS query_id, cb.s, cb.code,
           round(list_distance(q.sv, cb.cv), 6) AS d
    FROM slices q JOIN cb ON cb.s = q.s
    WHERE q.vec_id < {_ADC_QUERIES}
),
adc AS (
    SELECT l.query_id, a.vec_id AS neighbor_id,
           round(CAST(sum(CAST(l.d AS DECIMAL(20,6))) AS DOUBLE), 6)
               AS adc_dist
    FROM assigned a
    JOIN lut l ON l.s = a.s AND l.code = a.code
    WHERE a.vec_id <> l.query_id
    GROUP BY l.query_id, a.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM adc
)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_ADC_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# cur_temperature_sample
# ---------------------------------------------------------------------------

_U52_DENOM = float(1 << 52)


def cur_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) language rebalancing: keep each
    document of language l with probability ``sqrt(n_min / n_l)``, so
    kept counts are proportional to ``p_l^0.5`` — the standard
    multilingual rebalancing before tokenizer/LM training.

    Engine-exactness: ``n_min / n_l`` is one IEEE divide and ``sqrt``
    is correctly rounded, so both engines compute bit-identical rates
    (no libm ``pow``); the md5-derived 52-bit uniform over a power-of-
    two denominator is exact.  100 TB shape: one map-side-combined agg
    to |langs| rows, a broadcast join back, one final rollup — the text
    never shuffles.
    """
    d = _t(spark, sf_dir, "documents")
    lc = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    nmin = lc.agg(F.min("n_docs").alias("n_min"))
    rates = lc.crossJoin(F.broadcast(nmin)).select(
        "lang",
        "n_docs",
        F.round(F.sqrt(F.col("n_min") / F.col("n_docs")), 9).alias("rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(_U52_DENOM)
    )
    kept = (
        d.join(F.broadcast(rates), "lang")
        .select("lang", "n_docs", "rate", (u < F.col("rate")).alias("keep"))
        .groupBy("lang", "n_docs", "rate")
        .agg(F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"))
    )
    return kept.select(
        "lang", "n_docs", "rate", F.col("n_kept").cast("long").alias("n_kept")
    ).orderBy("lang")


CUR_TEMPERATURE_SAMPLE_SQL = f"""
WITH lc AS (
    SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
),
nmin AS (SELECT min(n_docs) AS n_min FROM lc),
rates AS (
    SELECT lang, n_docs, round(sqrt(n_min / (n_docs * 1.0)), 9) AS rate
    FROM lc, nmin
)
SELECT r.lang, r.n_docs, r.rate,
       CAST(sum(CASE WHEN ('0x' || substr(
                    md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 13))
                    ::UBIGINT / {_U52_DENOM!r} < r.rate
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN rates r ON r.lang = d.lang
GROUP BY r.lang, r.n_docs, r.rate
ORDER BY r.lang
"""


# ---------------------------------------------------------------------------
# text_bigram_logprob
# ---------------------------------------------------------------------------

_BG_BUCKETS = 4096


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under a hashed-bigram LM with
    add-one smoothing — the order-2 fluency/perplexity signal (the
    ``cur_perplexity_buckets`` unigram recipe, one order up).

    The 4096-bucket model is trained by ONE bigram aggregation
    (map-side combined to ≤ 4096 rows), broadcast back; each document's
    score is the decimal-exact sum of its bigrams' 9-dp-rounded bucket
    log-probs divided by its bigram count.  100 TB shape: two keyed
    exchanges — (bucket agg, per-doc sum); 8-byte bigram hashes on the
    wire, never text.

    r9: the 16-byte/row ``bk`` bucket frame is ``scoped_persist``ed —
    it feeds BOTH the model aggregation and the scoring join, and the
    broadcast-join side has no exchange below it for AQE to reuse, so
    the unpersisted form re-ran the split + zip_with + md5 bigram
    derivation over the corpus twice (guide §5: cache iff reused and
    recompute > memory pressure — A/B 2.09 → 1.54 s min-of-4, values
    identical; MEMORY_AND_DISK spills gracefully at scale).
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 2
    )
    # zip_with over two slices: split() evaluates per ROW (Catalyst
    # inlines it ~4x/doc), never per element — the transform/element_at
    # form re-splits the text per bigram and is ~10x slower at 10x
    # (the round-3 higher-order-function gotcha)
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with("
                "slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
                "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram"),
    )
    bucket = (
        F.conv(F.substring(F.md5("bigram"), 1, 8), 16, 10).cast("long")
        % _BG_BUCKETS
    )
    from atd_data_lake_spark.operators.scale import scoped_persist

    bk = scoped_persist(bg.select("doc_id", bucket.alias("bucket")))
    bc = bk.groupBy("bucket").agg(F.count("*").alias("c"))
    tot = bc.agg(F.sum("c").alias("t"))
    lp = bc.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                (F.col("c") + F.lit(1.0))
                / (F.col("t") + F.lit(float(_BG_BUCKETS)))
            ),
            9,
        ).alias("lp"),
    )
    return (
        bk.join(F.broadcast(lp), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("lp").cast("decimal(20,9)")).alias("_s"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.round(
                F.col("_s").cast("double") / F.col("n_bigrams"), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


TEXT_BIGRAM_LOGPROB_SQL = f"""
WITH ws AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
    SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
    FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
),
bk AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(bigram), 1, 8))::UBIGINT
                % {_BG_BUCKETS} AS BIGINT) AS bucket
    FROM bg
),
bc AS (SELECT bucket, count(*) AS c FROM bk GROUP BY bucket),
tot AS (SELECT sum(c) AS t FROM bc),
lp AS (
    SELECT bucket,
           round(ln((c + 1.0) / (t + {float(_BG_BUCKETS)!r})), 9) AS lp
    FROM bc, tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(CAST(lp AS DECIMAL(20,9))) AS DOUBLE) / count(*), 6)
           AS avg_logprob
FROM bk JOIN lp USING (bucket)
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# text_nb_langid_eval
# ---------------------------------------------------------------------------

_NB_BUCKETS = 256


def text_nb_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a bucketed Naive-Bayes 'is English' classifier in-plan and
    report its per-source confusion matrix against the labeled ``lang``
    — the classifier-filtering calibration loop (how a FineWeb-Edu /
    DCLM-style quality filter gets its threshold audited), with the
    model trained by one aggregation instead of injected.

    Determinism: per-bucket log-likelihood ratios and the class prior
    are 9-dp-rounded; each document's score is their decimal-exact sum,
    so prediction is order/partitioning-invariant and engine-exact.
    100 TB shape: one token agg to ≤ 256 rows (broadcast model), one
    per-doc sum, one ≤ |sources|-row rollup.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        (F.col("lang") == "en").alias("is_en"),
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
        % _NB_BUCKETS
    )
    tk = toks.select("doc_id", "source", "is_en", bucket.alias("bucket"))
    bs = tk.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).alias("n_en"),
        F.sum(F.when(F.col("is_en"), 0).otherwise(1)).alias("n_ot"),
    )
    tot = bs.agg(F.sum("n_en").alias("t_en"), F.sum("n_ot").alias("t_ot"))
    llr = bs.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                (F.col("n_en") + F.lit(1.0))
                / (F.col("t_en") + F.lit(float(_NB_BUCKETS)))
            )
            - F.log(
                (F.col("n_ot") + F.lit(1.0))
                / (F.col("t_ot") + F.lit(float(_NB_BUCKETS)))
            ),
            9,
        ).alias("llr"),
    )
    dc = d.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("d_en"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("d_ot"),
    )
    prior = dc.select(
        F.round(
            F.log((F.col("d_en") + F.lit(1.0)) / (F.col("d_ot") + F.lit(1.0))),
            9,
        ).alias("prior")
    )
    scored = (
        tk.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id", "source", "is_en")
        .agg(F.sum(F.col("llr").cast("decimal(20,9)")).alias("_s"))
        .crossJoin(F.broadcast(prior))
        .select(
            "source",
            "is_en",
            (
                F.col("_s").cast("double") + F.col("prior") > F.lit(0.0)
            ).alias("pred_en"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("is_en") & F.col("pred_en"), 1).otherwise(0))
            .alias("tp"),
            F.sum(F.when(~F.col("is_en") & F.col("pred_en"), 1).otherwise(0))
            .alias("fp"),
            F.sum(F.when(F.col("is_en") & ~F.col("pred_en"), 1).otherwise(0))
            .alias("fn"),
            F.sum(F.when(~F.col("is_en") & ~F.col("pred_en"), 1).otherwise(0))
            .alias("tn"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            F.col("fn").cast("long").alias("fn"),
            F.col("tn").cast("long").alias("tn"),
            F.round((F.col("tp") + F.col("tn")) / F.col("n_docs"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("source")
    )


TEXT_NB_LANGID_EVAL_SQL = f"""
WITH toks AS (
    SELECT doc_id, source, lang = 'en' AS is_en,
           unnest(string_split(text, ' ')) AS token
    FROM documents
),
tk AS (
    SELECT doc_id, source, is_en,
           CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT
                % {_NB_BUCKETS} AS BIGINT) AS bucket
    FROM toks WHERE token <> ''
),
bs AS (
    SELECT bucket,
           sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS n_en,
           sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS n_ot
    FROM tk GROUP BY bucket
),
tot AS (SELECT sum(n_en) AS t_en, sum(n_ot) AS t_ot FROM bs),
llr AS (
    SELECT bucket,
           round(ln((n_en + 1.0) / (t_en + {float(_NB_BUCKETS)!r}))
                 - ln((n_ot + 1.0) / (t_ot + {float(_NB_BUCKETS)!r})), 9)
               AS llr
    FROM bs, tot
),
prior AS (
    SELECT round(ln((sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1.0)
                 / (sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) + 1.0)), 9)
               AS prior
    FROM documents
),
scored AS (
    SELECT tk.source, tk.is_en,
           CAST(sum(CAST(llr.llr AS DECIMAL(20,9))) AS DOUBLE)
               + any_value(prior.prior) > 0.0 AS pred_en
    FROM tk JOIN llr USING (bucket), prior
    GROUP BY tk.doc_id, tk.source, tk.is_en
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN is_en AND pred_en THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
       CAST(sum(CASE WHEN NOT is_en AND pred_en THEN 1 ELSE 0 END) AS BIGINT)
           AS fp,
       CAST(sum(CASE WHEN is_en AND NOT pred_en THEN 1 ELSE 0 END) AS BIGINT)
           AS fn,
       CAST(sum(CASE WHEN NOT is_en AND NOT pred_en THEN 1 ELSE 0 END)
            AS BIGINT) AS tn,
       round(sum(CASE WHEN is_en = pred_en THEN 1 ELSE 0 END)
             / (count(*) * 1.0), 6) AS accuracy
FROM scored
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND33_QUERIES = {
    "sim_ann_pq_adc": sim_ann_pq_adc,
    "cur_temperature_sample": cur_temperature_sample,
    "text_bigram_logprob": text_bigram_logprob,
    "text_nb_langid_eval": text_nb_langid_eval,
}

ROUND33_ORACLES = {
    "sim_ann_pq_adc": SIM_ANN_PQ_ADC_SQL,
    "cur_temperature_sample": CUR_TEMPERATURE_SAMPLE_SQL,
    "text_bigram_logprob": TEXT_BIGRAM_LOGPROB_SQL,
    "text_nb_langid_eval": TEXT_NB_LANGID_EVAL_SQL,
}
