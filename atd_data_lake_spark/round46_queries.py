"""Round-46 (build round 9) query additions — the END-TO-END curation
DAG as one flagship query (VERDICT r8 item 5).

``cur_full_pipeline`` composes the stages the engine previously proved
only one-at-a-time into the single nightly job a 100 TB corpus-prep
pipeline actually runs:

    profile → quality + language gate → benchmark decontamination →
    exact near-dup dedup (Jaccard ≥ t → connected components) →
    leakage-safe train/val/test split (hash of the CLUSTER id, so
    near-duplicates can never straddle a split boundary)

Per-stage semantics are the already-oracle-checked building blocks
(``text_profile``, ``cur_decontaminate``, ``dedup_clusters``,
``cur_split_assign``), so the composite's DuckDB oracle is assembled
from the same SQL fragments — full value-hash parity, recursive-CTE
components included.

100 TB shape (the point of composing): the corpus text is read by
exactly TWO Arrow passes — the profile and the shared shingle frame
(``dedup.shingle_hashes``, VERDICT r8 item 3) — and then never again;
every later stage (bench markers, contamination counts, pair
generation, components, split) runs over the two narrow persisted
products (per-doc meta ≤ 32 B/doc; shingle hashes 24 B/shingle).  The
benchmark side is a filter of the SAME shingle frame (no second
shingle pass), its distinct hashes broadcast; the split is a zero-
shuffle md5-bucket expression on the component id.  Composing also
surfaces what per-operator queries cannot: without the shared frame
this DAG would shingle the corpus twice (decontam + dedup) — the
redundant-scan class VERDICT r8 told this round to remove.

The round's market-basket queries (``mb_sequential_rules``,
``mb_affinity_npmi``) live in ``basket_queries``, its brute-force
MIPS (``sim_maxdot_topk``) in ``sim_queries``, and its KS drift and
Benford digit screens (``dq_ks_statistic``, ``dq_benford_digits``) in
``dq_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# cur_full_pipeline
# ---------------------------------------------------------------------------

_FP_QUALITY = 0.5
_FP_LANG = "en"
# drop docs with >= 50% benchmark shingle overlap.  The synthetic corpus
# is highly self-overlapping (the 5% bench slice covers 20-50% of almost
# every doc's shingles), so 0.5 drops the truly contaminated tail — 290
# of 4332 gated docs at sf0.1 — where an any-hit or 0.2 policy would
# nuke the corpus; the policy knob is the operator's, the pipeline just
# picks a value that leaves real work for the downstream stages.
_FP_CONTAM_T = 0.5
_FP_JACC_T = 0.5
_FP_SALT = "v1"
_FP_TRAIN_B = 52429  # 0.8 * 65536, the split_dataset quantization
_FP_VAL_B = 58982  # 0.9 * 65536


def cur_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per SURVIVING corpus document:
    (doc_id, n_tokens, quality, component, is_canonical, bucket, split).

    Stage semantics (each the oracle-checked single-operator contract):

    - gate: quality ≥ 0.5 AND lang_pred = 'en' (``text_profile``),
      benchmark docs (doc_id % 20 == 0) excluded from the corpus;
    - decontam: drop docs whose 3-gram shingle overlap with the
      benchmark's shingle set reaches ratio ≥ 0.5 (``cur_decontaminate``
      counting, threshold applied); docs with < 3 tokens have no
      shingles and trivially survive;
    - dedup: exact trigram Jaccard ≥ 0.5 pairs among survivors →
      connected components (min-id label, ``dedup_clusters``);
      isolated docs are their own component; is_canonical ⇔
      doc_id == component;
    - split: 80/10/10 by ``hash_u16(component, salt 'v1')`` — keyed on
      the COMPONENT so a near-dup cluster lands wholly in one split
      (the leakage-safe variant of ``cur_split_assign``).
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return full_pipeline_frame(d)


def _profile_shingle_rows(d: DataFrame) -> DataFrame:
    """ONE Arrow pass over the corpus emitting BOTH streams the pipeline
    needs: per-doc profile sentinel rows (``_hash`` NULL, carrying
    n_tokens / quality / lang_pred) and the distinct-trigram shingle
    rows (``_hash``/``_sz`` set, profile columns NULL).

    r10 fusion (guide §4.1): the pipeline previously ran TWO Arrow
    corpus passes — ``profile_documents`` then ``shingle_hashes`` — each
    reading and tokenizing the full text column (and the profile pass
    also md5-fingerprinting every doc for a column the pipeline never
    reads).  The fused op tokenizes once, computes only the profile
    columns the gates consume, and derives the shingles from the SAME
    token lists (``s.strip().split()`` tokens ≡ ``s.split()``'s) through
    ``dedup.shingle_hash_arrays``, the hash loop ``shingle_hash_rows``
    runs, so the shingle hashes are bit-identical.  The profile
    formulas are ``text.profile_arrays`` — one definition shared with
    ``profile_documents``, so pipeline and single-operator oracles
    cannot drift.  At 100 TB this halves the flagship's corpus I/O and
    Python-boundary bytes; the two streams ride one persisted frame the
    way ``shingle_hashes`` rides its memo (mapInPandas gets no AQE
    exchange reuse — the persist IS the sharing)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from atd_data_lake_spark.operators.dedup import shingle_hash_arrays
    from atd_data_lake_spark.operators.scale import fan_out
    from atd_data_lake_spark.operators.text import STOPWORDS, profile_arrays

    out_schema = T.StructType(
        [
            T.StructField("_id", d.schema["doc_id"].dataType),
            T.StructField("_hash", T.LongType()),
            T.StructField("_sz", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("quality", T.DoubleType()),
            T.StructField("lang_pred", T.StringType()),
        ]
    )
    langs = list(STOPWORDS)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            text = pdf["text"].fillna("")
            cols, toks, _low = profile_arrays(text, langs)
            ids = pdf["doc_id"].to_numpy()
            # nullable dtypes throughout so the concat with the shingle
            # rows (whose profile columns are NULL) keeps exact dtypes
            prof = pd.DataFrame(
                {
                    "_id": ids,
                    "_hash": pd.array([None] * len(pdf), dtype="Int64"),
                    "_sz": pd.array([None] * len(pdf), dtype="Int64"),
                    "n_tokens": pd.array(cols["n_tokens"], dtype="Int64"),
                    "quality": pd.array(cols["quality"], dtype="Float64"),
                    "lang_pred": cols["lang_pred"],
                }
            )
            rows = shingle_hash_arrays(ids, toks, 3)
            if rows is not None:
                sh_ids, hashes, cnt = rows
                shf = pd.DataFrame(
                    {
                        "_id": sh_ids,
                        "_hash": hashes,
                        "_sz": np.repeat(cnt, cnt),
                        "n_tokens": pd.array(
                            [None] * len(hashes), dtype="Int64"
                        ),
                        # nullable Float64, NOT np.nan — Spark reads a
                        # float NaN as NaN, and the sentinel columns
                        # must be true NULLs
                        "quality": pd.array(
                            [None] * len(hashes), dtype="Float64"
                        ),
                        "lang_pred": pd.array(
                            [None] * len(hashes), dtype=object
                        ),
                    }
                )
                yield pd.concat([prof, shf], ignore_index=True)
            else:
                yield prof

    return fan_out(d).select("doc_id", "text").mapInPandas(op, schema=out_schema)


def full_pipeline_frame(d: DataFrame) -> DataFrame:
    """The DAG over an arbitrary (doc_id, text) frame — the registry
    query reads the testdata table; ``tools/scale_smoke.py`` drives the
    same composition over the 10×-replicated corpus."""
    from atd_data_lake_spark.operators.components import connected_components
    from atd_data_lake_spark.operators.curation import hash_u16

    # ONE fused Arrow pass (was two: profile + shingles — see
    # _profile_shingle_rows).  The persisted frame carries both the
    # per-doc profile sentinels and the shingle rows; every downstream
    # stage is a cache-read filter of it, so the corpus text is read and
    # tokenized exactly once.
    ps = _profile_shingle_rows(d).persist()
    meta = (
        ps.filter(F.col("_hash").isNull())
        .filter(
            (F.col("quality") >= _FP_QUALITY)
            & (F.col("lang_pred") == _FP_LANG)
            & (F.col("_id") % 20 != 0)
        )
        .select(F.col("_id").alias("doc_id"), "n_tokens", "quality")
    )

    sh = ps.filter(F.col("_hash").isNotNull()).select("_id", "_hash", "_sz")
    bench_h = (
        sh.filter(F.col("_id") % 20 == 0)
        .select("_hash")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_sh = sh.filter(F.col("_id") % 20 != 0).join(
        meta.select(F.col("doc_id").alias("_id")), "_id", "left_semi"
    )

    # decontamination counts: one broadcast left join + one narrow agg
    contam = (
        corpus_sh.join(F.broadcast(bench_h), "_hash", "left")
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count("*").alias("_n_sh"),
            F.count("_hit").alias("_n_ov"),
        )
    )
    surv = (
        meta.join(contam, "doc_id", "left")
        .filter(
            F.coalesce(
                F.round(F.col("_n_ov") / F.col("_n_sh").cast("double"), 6),
                F.lit(0.0),
            )
            < _FP_CONTAM_T
        )
        .select("doc_id", "n_tokens", "quality")
        .persist()
    )

    # survivor shingles feed BOTH sides of the pair self-join: persist
    ssh = corpus_sh.join(
        surv.select(F.col("doc_id").alias("_id")), "_id", "left_semi"
    ).persist()
    a, b = ssh.alias("a"), ssh.alias("b")
    size_ok = (
        F.col("a._sz") >= F.lit(_FP_JACC_T) * F.col("b._sz") - F.lit(1e-9)
    ) & (F.col("b._sz") >= F.lit(_FP_JACC_T) * F.col("a._sz") - F.lit(1e-9))
    pairs = (
        a.join(
            b,
            (F.col("a._hash") == F.col("b._hash"))
            & (F.col("a._id") < F.col("b._id"))
            & size_ok,
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(
            F.count("*").alias("inter"),
            F.min("a._sz").alias("sz_a"),
            F.min("b._sz").alias("sz_b"),
        )
        .filter(
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            )
            >= _FP_JACC_T
        )
        .select("id_a", "id_b")
        .persist()
    )
    comp = connected_components(pairs)

    out = surv.join(
        comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).withColumn("component", F.coalesce("component", F.col("doc_id")))
    bucket = hash_u16(F.col("component"), salt=_FP_SALT)
    return (
        out.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality",
            F.col("component").cast("long").alias("component"),
            (F.col("doc_id") == F.col("component")).alias("is_canonical"),
            bucket.alias("bucket"),
            F.when(bucket < _FP_TRAIN_B, "train")
            .when(bucket < _FP_VAL_B, "val")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def _cur_full_pipeline_sql() -> str:
    from atd_data_lake_spark.queries import _bucket_sql, _text_profile_sql

    bucket = _bucket_sql("component", _FP_SALT)
    return f"""
WITH RECURSIVE prof AS ({_text_profile_sql()}),
gated AS (
    SELECT doc_id, n_tokens, quality
    FROM prof
    WHERE quality >= {_FP_QUALITY} AND lang_pred = '{_FP_LANG}'
      AND doc_id % 20 <> 0
),
t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents
    WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
),
g AS (
    SELECT DISTINCT doc_id,
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
    FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
),
bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 20 = 0),
gsub AS (SELECT g.* FROM g JOIN gated USING (doc_id)),
contam AS (
    SELECT gsub.doc_id, count(*) AS n_sh,
           sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_ov
    FROM gsub LEFT JOIN bench b USING (shingle)
    GROUP BY 1
),
surv AS (
    SELECT gated.doc_id, n_tokens, quality
    FROM gated LEFT JOIN contam USING (doc_id)
    WHERE coalesce(round(n_ov / CAST(n_sh AS DOUBLE), 6), 0.0)
          < {_FP_CONTAM_T}
),
ssh AS (SELECT gsub.* FROM gsub JOIN surv USING (doc_id)),
sz AS (SELECT doc_id, count(*) AS sz FROM ssh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
    FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT id_a, id_b
    FROM inter
    JOIN sz sa ON id_a = sa.doc_id
    JOIN sz sb ON id_b = sb.doc_id
    WHERE round(n * 1.0 / (sa.sz + sb.sz - n), 6) >= {_FP_JACC_T}
),
sym AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
),
reach AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
    SELECT u AS doc_id, least(u, min(v)) AS component
    FROM reach GROUP BY u
),
labeled AS (
    SELECT s.doc_id, s.n_tokens, s.quality,
           coalesce(c.component, s.doc_id) AS component
    FROM surv s LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       quality,
       CAST(component AS BIGINT) AS component,
       doc_id = component AS is_canonical,
       CAST({bucket} AS BIGINT) AS bucket,
       CASE WHEN {bucket} < {_FP_TRAIN_B} THEN 'train'
            WHEN {bucket} < {_FP_VAL_B} THEN 'val'
            ELSE 'test' END AS split
FROM labeled
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# text_good_turing — frequency-of-frequencies smoothing table
# ---------------------------------------------------------------------------

_GT_MAX_R = 20


def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies table over corpus token
    counts: for each token frequency r ≤ 20, the number of distinct
    tokens n_r seen exactly r times and the Turing estimate
    r* = (r+1)·n_{r+1}/n_r (Good '53) — the smoothing table a
    held-out LM scorer needs for unseen-mass estimation (the
    Kneser-Ney cousin of ``text_kn_bigram_logprob``).

    100 TB shape: tokens collapse by TWO map-side-combined aggregates
    (token → count, count → n_r); the lead lookup runs over the tiny
    frequency-of-frequencies table, never tokens, and the output is the
    ``_GT_MAX_R`` SMALLEST frequency classes (ordered limit — the
    synthetic corpus's dense vocabulary starts its r classes in the
    hundreds, so an absolute r cap would be empty).  Same tokenizer
    parity as ``text_top_tokens`` (split on ' ', empties dropped)."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("r"))
    nr = freq.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    w = Window.orderBy("r")
    return (
        nr.withColumn("_next_r", F.lead("r").over(w))
        .withColumn("_next_n", F.lead("n_r").over(w))
        .orderBy("r")
        .limit(_GT_MAX_R)
        .select(
            F.col("r").cast("long").alias("r"),
            "n_r",
            F.round(
                F.when(
                    F.col("_next_r") == F.col("r") + 1,
                    (F.col("r") + 1)
                    * (F.col("_next_n") / F.col("n_r")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("r_star"),
        )
        .orderBy("r")
    )


TEXT_GOOD_TURING_SQL = f"""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
freq AS (
    SELECT token, count(*) AS r FROM toks WHERE token <> '' GROUP BY token
),
nr AS (SELECT r, count(*) AS n_r FROM freq GROUP BY r),
led AS (
    SELECT r, n_r,
           lead(r) OVER (ORDER BY r) AS next_r,
           lead(n_r) OVER (ORDER BY r) AS next_n
    FROM nr
)
SELECT CAST(r AS BIGINT) AS r,
       CAST(n_r AS BIGINT) AS n_r,
       round(CASE WHEN next_r = r + 1
                  THEN (r + 1) * (next_n / CAST(n_r AS DOUBLE))
                  ELSE 0.0 END, 6) AS r_star
FROM led
ORDER BY r
LIMIT {_GT_MAX_R}
"""


# ---------------------------------------------------------------------------
# text_js_divergence — Jensen-Shannon divergence between two corpus halves
# ---------------------------------------------------------------------------


def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the unigram token
    distributions of the even- and odd-doc_id halves of the corpus —
    the symmetric, bounded [0, ln 2] drift measure for TEXT the KS test
    is for numeric columns (corpus-mix monitoring: did the new crawl
    shift the token distribution?).

    Engine-exactness: the ``text_bigram_logprob`` recipe — each
    per-token contribution P·ln(P/M) is one fixed parenthesization of
    exact-count IEEE divisions, rounded to 9 dp, and the corpus sum is
    a DECIMAL(30,9) (order-independent), so both engines add identical
    addends exactly; final JSD rounded to 6 dp.

    100 TB shape: ONE map-side-combined groupBy(token) with conditional
    counts carries both sides; the two scalar totals ride a 1-row
    broadcast crossJoin (allowlisted pass-through).  Tokens shuffle
    once, 16 bytes per distinct token.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % 2 == 0).alias("_even"),
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    g = toks.groupBy("token").agg(
        F.sum(F.when(F.col("_even"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("_even"), 1).otherwise(0)).alias("b"),
    )
    tot = g.agg(
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
    )
    p = F.col("a") / F.col("na")
    q = F.col("b") / F.col("nb")
    m = (p + q) / F.lit(2.0)
    term = lambda x: F.round(x * F.log(x / m), 9).cast(  # noqa: E731
        "decimal(30,9)"
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "na",
            "nb",
            F.when(F.col("a") > 0, term(p)).otherwise(
                F.lit(0).cast("decimal(30,9)")
            ).alias("ta"),
            F.when(F.col("b") > 0, term(q)).otherwise(
                F.lit(0).cast("decimal(30,9)")
            ).alias("tb"),
        )
        .agg(
            F.max("na").cast("long").alias("n_tokens_even"),
            F.max("nb").cast("long").alias("n_tokens_odd"),
            F.round(
                F.lit(0.5)
                * (F.sum("ta") + F.sum("tb")).cast("double"),
                6,
            ).alias("jsd"),
        )
    )


TEXT_JS_DIVERGENCE_SQL = """
WITH toks AS (
    SELECT doc_id % 2 = 0 AS even,
           unnest(string_split(text, ' ')) AS token
    FROM documents
),
g AS (
    SELECT token,
           sum(CASE WHEN even THEN 1 ELSE 0 END) AS a,
           sum(CASE WHEN NOT even THEN 1 ELSE 0 END) AS b
    FROM toks WHERE token <> '' GROUP BY token
),
tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM g),
terms AS (
    SELECT na, nb,
           CASE WHEN a > 0 THEN CAST(round(
               (a / CAST(na AS DOUBLE)) * ln((a / CAST(na AS DOUBLE))
               / (((a / CAST(na AS DOUBLE)) + (b / CAST(nb AS DOUBLE))) / 2.0)),
               9) AS DECIMAL(30,9)) ELSE CAST(0 AS DECIMAL(30,9)) END AS ta,
           CASE WHEN b > 0 THEN CAST(round(
               (b / CAST(nb AS DOUBLE)) * ln((b / CAST(nb AS DOUBLE))
               / (((a / CAST(na AS DOUBLE)) + (b / CAST(nb AS DOUBLE))) / 2.0)),
               9) AS DECIMAL(30,9)) ELSE CAST(0 AS DECIMAL(30,9)) END AS tb
    FROM g, tot
)
SELECT CAST(max(na) AS BIGINT) AS n_tokens_even,
       CAST(max(nb) AS BIGINT) AS n_tokens_odd,
       round(0.5 * CAST(sum(ta) + sum(tb) AS DOUBLE), 6) AS jsd
FROM terms
"""


# ---------------------------------------------------------------------------
# evt_funnel_conversion — ordered funnel completion per user
# ---------------------------------------------------------------------------

_FUNNEL = ("view", "click", "purchase")


def evt_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: a user reaches stage i+1
    only with an event STRICTLY AFTER their stage-i entry time (the
    classic product-analytics sequence constraint, not mere presence).
    Output: one row per stage with reach count and conversion from the
    previous stage.

    Engine-exactness: stage times are exact min-aggregates of
    timestamps; the strict ordering needs only the previous stage's min
    ts, so both engines agree bit-for-bit; the conversion division and
    its HALF_UP rounding run engine-side.

    100 TB shape: three user_id-keyed aggregates chained by equi-joins
    on user_id — each stage's frame is PER-USER (≤ |users| rows, not
    events), each join co-partitions on the same key so AQE reuses the
    exchange, and stage i+1's event filter (`event_type = X AND
    ts > t_prev`) prunes before its aggregate.  No window over raw
    events, no per-user event lists; the final rollup is three scalar
    counts over user-sized frames.
    """
    from atd_data_lake_spark.operators.scale import scoped_persist

    ev = _t(spark, sf_dir, "events")
    # v and c each feed the next stage AND their own count aggregate:
    # persist the tiny per-user frames so the fused job scans events
    # once per stage, not once per downstream consumer.  scoped_persist
    # (not raw persist): the single-action rewrite cannot unpersist
    # before the caller's action, so the frames must be reclaimable by
    # a tracked_caches() scope (r9 review).
    v = scoped_persist(
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = scoped_persist(
        ev.filter(F.col("event_type") == _FUNNEL[1])
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"), F.min("t_view").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == _FUNNEL[2])
        .join(c.select("user_id", "t_click"), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    # ONE action instead of three sequential count() waves + a
    # createDataFrame round-trip (guide §1.2/§2.4: the per-job
    # scheduling floor was 3× here): the three stage counts become
    # 1-row aggregates cross-joined in-plan, so the whole funnel is a
    # single job and the persisted v/c frames still materialize once
    # each (v feeds its own count AND c's join; c feeds its count AND
    # p's join).  Row values, rounding, and ordering are unchanged.
    nv = v.agg(F.count("*").alias("nv"))
    nc = c.agg(F.count("*").alias("nc"))
    np_ = p.agg(F.count("*").alias("np"))
    totals = F.broadcast(nv.crossJoin(nc).crossJoin(np_))
    staged = totals.selectExpr(
        "stack(3, "
        "'1_view', nv, cast(null as bigint), "
        "'2_click', nc, nv, "
        "'3_purchase', np, nc) AS (stage, n_users, _prev)"
    )
    # conversion division + rounding happens ENGINE-side (F.round is
    # HALF_UP like DuckDB's round; Python's round() is half-even)
    return (
        staged.select(
            "stage",
            "n_users",
            F.when(
                F.col("_prev") > 0,
                F.round(F.col("n_users") / F.col("_prev"), 6),
            ).alias("conversion"),
        )
        .orderBy("stage")
    )


EVT_FUNNEL_SQL = """
WITH v AS (
    SELECT user_id, min(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS t_click
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t_view
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS t_purchase
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    GROUP BY e.user_id
),
n AS (
    SELECT (SELECT count(*) FROM v) AS nv,
           (SELECT count(*) FROM c) AS nc,
           (SELECT count(*) FROM p) AS np
)
SELECT stage, n_users, conversion FROM (
    SELECT '1_view' AS stage, CAST(nv AS BIGINT) AS n_users,
           CAST(NULL AS DOUBLE) AS conversion FROM n
    UNION ALL
    SELECT '2_click', CAST(nc AS BIGINT),
           CASE WHEN nv > 0 THEN round(nc / CAST(nv AS DOUBLE), 6) END
    FROM n
    UNION ALL
    SELECT '3_purchase', CAST(np AS BIGINT),
           CASE WHEN nc > 0 THEN round(np / CAST(nc AS DOUBLE), 6) END
    FROM n
) ORDER BY stage
"""


# ---------------------------------------------------------------------------
# evt_retention_cohorts — weekly cohort retention matrix
# ---------------------------------------------------------------------------


def evt_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-seen week, and
    for each (cohort_week, weeks_since_cohort) cell the count of
    DISTINCT users active that week — the product-analytics matrix next
    to DAU/WAU stickiness.

    Engine-exactness: week boundaries via date_trunc('week') (Monday in
    both engines), week offsets as exact day differences / 7 (always an
    integer for week-truncated dates).

    100 TB shape: per-user first-seen = one map-side-combined
    groupBy(user_id) min; activity weeks = one DISTINCT (user, week)
    projection; the matrix joins the per-user cohort (broadcastable at
    |users| dimension or plain equi-join) and aggregates ≤
    |cohorts|×|weeks| cells."""
    ev = _t(spark, sf_dir, "events")
    wk = F.to_date(F.date_trunc("week", F.col("ts")))
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    weeks = ev.select("user_id", wk.alias("week")).distinct()
    return (
        weeks.join(first, "user_id")
        .groupBy(
            "cohort_week",
            F.datediff(F.col("week"), F.col("cohort_week"))
            .cast("long")
            .alias("days_since"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
        .select(
            "cohort_week",
            (F.col("days_since") / 7).cast("long").alias("weeks_since"),
            "n_users",
        )
        .orderBy("cohort_week", "weeks_since")
    )


EVT_RETENTION_SQL = """
WITH wk AS (
    SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
    FROM events
),
first AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1),
act AS (SELECT DISTINCT user_id, week FROM wk)
SELECT f.cohort_week,
       CAST(datediff('day', f.cohort_week, a.week) / 7 AS BIGINT)
           AS weeks_since,
       CAST(count(*) AS BIGINT) AS n_users
FROM act a JOIN first f USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_week, weeks_since
"""


# ---------------------------------------------------------------------------
# text_ttr_deciles — type-token-ratio by document-length decile
# ---------------------------------------------------------------------------


def text_ttr_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth diagnostic: documents bucketed into 10
    length deciles (ntile over (n_tokens, doc_id) — a TOTAL order, so
    the bucketing is engine-deterministic), each reporting doc count,
    token-length range, and the decimal-exact SUM of per-doc type-token
    ratios (distinct/total tokens, 6 dp) — the Heaps'-law readout that
    flags template/boilerplate strata (low TTR at high length).

    Sums instead of averages by design: a per-decile mean would need
    the half-up integer-averaging dance for float parity; the exact
    decimal sum plus the count carries the same information."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_types"),
    )
    w = Window.orderBy("n_tokens", "doc_id")
    return (
        per_doc.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            F.round(
                F.sum(
                    F.round(
                        F.col("n_types") / F.col("n_tokens").cast("double"),
                        6,
                    ).cast("decimal(20,6)")
                ).cast("double"),
                6,
            ).alias("sum_ttr"),
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_docs",
            "min_tokens",
            "max_tokens",
            "sum_ttr",
        )
        .orderBy("decile")
    )


TEXT_TTR_DECILES_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
per_doc AS (
    SELECT doc_id, count(*) AS n_tokens,
           count(DISTINCT token) AS n_types
    FROM toks WHERE token <> '' GROUP BY doc_id
),
dec AS (
    SELECT *, ntile(10) OVER (ORDER BY n_tokens, doc_id) AS decile
    FROM per_doc
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       round(CAST(sum(CAST(round(n_types / CAST(n_tokens AS DOUBLE), 6)
                           AS DECIMAL(20,6))) AS DOUBLE), 6) AS sum_ttr
FROM dec
GROUP BY decile
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# evt_pivot_monthly — the DataFrame pivot operator, oracle-checked
# ---------------------------------------------------------------------------

_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def evt_pivot_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly value totals PIVOTED to one column per event type — the
    `df.groupBy().pivot(values=...).agg()` operator surface (wide BI
    export shape).  The pivot value list is EXPLICIT, which is the
    at-scale contract anyway: an unlisted pivot forces an extra
    distinct-collect job to discover columns, and both engines must
    agree on the column set for parity.  Decimal-exact sums, absent
    cells coalesced to 0.00."""
    ev = _t(spark, sf_dir, "events")
    month = F.trunc(F.to_date("ts"), "month").alias("month")
    piv = (
        ev.select(month, "event_type", F.col("value").cast("decimal(14,2)").alias("v"))
        .groupBy("month")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.sum("v"))
    )
    cols = [
        F.round(F.coalesce(F.col(t), F.lit(0)).cast("double"), 2).alias(t)
        for t in _PIVOT_TYPES
    ]
    return piv.select("month", *cols).orderBy("month")


EVT_PIVOT_MONTHLY_SQL = """
SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
       round(CAST(coalesce(sum(CASE WHEN event_type = 'click'
           THEN CAST(value AS DECIMAL(14,2)) END), 0) AS DOUBLE), 2) AS click,
       round(CAST(coalesce(sum(CASE WHEN event_type = 'error'
           THEN CAST(value AS DECIMAL(14,2)) END), 0) AS DOUBLE), 2) AS error,
       round(CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
           THEN CAST(value AS DECIMAL(14,2)) END), 0) AS DOUBLE), 2) AS purchase,
       round(CAST(coalesce(sum(CASE WHEN event_type = 'signup'
           THEN CAST(value AS DECIMAL(14,2)) END), 0) AS DOUBLE), 2) AS signup,
       round(CAST(coalesce(sum(CASE WHEN event_type = 'view'
           THEN CAST(value AS DECIMAL(14,2)) END), 0) AS DOUBLE), 2) AS view
FROM events
GROUP BY 1
ORDER BY month
"""


ROUND46_QUERIES = {
    "cur_full_pipeline": cur_full_pipeline,
    "text_good_turing": text_good_turing,
    "text_js_divergence": text_js_divergence,
    "evt_funnel_conversion": evt_funnel_conversion,
    "evt_retention_cohorts": evt_retention_cohorts,
    "text_ttr_deciles": text_ttr_deciles,
    "evt_pivot_monthly": evt_pivot_monthly,
}


def round46_oracles() -> dict[str, str]:
    return {
        "cur_full_pipeline": _cur_full_pipeline_sql(),
        "text_good_turing": TEXT_GOOD_TURING_SQL,
        "text_js_divergence": TEXT_JS_DIVERGENCE_SQL,
        "evt_funnel_conversion": EVT_FUNNEL_SQL,
        "evt_retention_cohorts": EVT_RETENTION_SQL,
        "text_ttr_deciles": TEXT_TTR_DECILES_SQL,
        "evt_pivot_monthly": EVT_PIVOT_MONTHLY_SQL,
    }
