"""Round-29 query additions — the registry UNFREEZE batch (the r3 freeze's
exit condition — a zero never-checked backlog — was met in r5).

- ``url_domain_extract`` — URL canonicalization: host / registrable
  domain (eTLD+1 with multi-part public suffixes) / path depth /
  tracking-parameter stripping.  The per-page half of the C4/RefinedWeb
  domain gate.
- ``url_domain_rollup`` — per-registrable-domain quality rollup + keep
  gate (doc count, host fan-out, language mix): the domain-level half.
- ``sim_ivf_upsert`` — incremental ANN index maintenance: the
  reference's anti-join ingest pattern (J1,
  ``atd_data_lake/support/last_update.py`` compare-loop) applied to an
  IVF index — only genuinely new vectors are assigned; per-cell deltas
  come back for index-health monitoring.

The documents table has no URL column, so both the Spark queries and
their oracles synthesize one deterministically from ``(doc_id, source)``
— same literal expression on both sides; the operators under test are
the parse/extract/rollup stages, not the synthesis.

All three carry full DuckDB oracles (as do the round's other entries
here); the round's ``dedup_url_canonical`` lives in ``dedup_queries``
and reuses this module's synthetic-URL fixture (``_with_url``,
``_url_sql``, ``_URL_PARTS_SQL``); every computed column is aliased
identically on both sides, outputs are scalars only (no DECIMAL — the
driver-hasher contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.urls import MULTI_PART_SUFFIXES

_TLDS = (".com", ".co.uk", ".org", ".com.au", ".io")
_SUBS = ("www.", "cdn.static.", "blog.", "")
_SEGS = ("/", "/a", "/a/b", "/a/b/c")


def _with_url(d: DataFrame) -> DataFrame:
    """Deterministic synthetic URL from (doc_id, source) — mirrored
    byte-for-byte by :func:`_url_sql`."""
    pick = lambda opts, mod: F.element_at(  # noqa: E731
        F.array(*[F.lit(o) for o in opts]), (F.col("doc_id") % mod + 1).cast("int")
    )
    qs = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_medium=rss&page="),
                (F.col("doc_id") % 7).cast("string"),
            ),
        )
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("?ref="), F.col("source")))
        .otherwise(F.lit(""))
    )
    return d.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            pick(_SUBS, 4),
            F.col("source"),
            pick(_TLDS, 5),
            pick(_SEGS, 4),
            qs,
        ),
    )


def _url_sql() -> str:
    sub = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SUBS)
    )
    tld = " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_TLDS))
    seg = " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SEGS))
    return f"""
    SELECT *,
      'https://' ||
      CASE doc_id % 4 {sub} END ||
      source ||
      CASE doc_id % 5 {tld} END ||
      CASE doc_id % 4 {seg} END ||
      CASE doc_id % 3
        WHEN 0 THEN '?utm_source=feed&utm_medium=rss&page=' || (doc_id % 7)
        WHEN 1 THEN '?ref=' || source
        ELSE '' END AS url
    FROM documents
    """


_SUFFIX_IN = ", ".join(f"'{s}'" for s in MULTI_PART_SUFFIXES)

# host/path/query extraction + eTLD+1, shared by both oracles; mirrors
# operators/urls.url_parts + registrable_domain
_URL_PARTS_SQL = f"""
parts AS (
    SELECT *,
        lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)) AS host,
        regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        regexp_extract(url, '\\?([^#]*)', 1) AS query_string
    FROM u
),
dom AS (
    SELECT *,
        CASE WHEN len(labels) >= 3 AND last2 IN ({_SUFFIX_IN})
             THEN labels[-3] || '.' || last2
             WHEN len(labels) >= 2 THEN last2
             ELSE host END AS reg_domain
    FROM (
        SELECT *, string_split(host, '.') AS labels,
               labels[-2] || '.' || labels[-1] AS last2
        FROM parts
    )
)
"""


# ---------------------------------------------------------------------------
# url_domain_extract
# ---------------------------------------------------------------------------


def url_domain_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document URL canonicalization: host, registrable domain,
    path depth, tracking-param detection and stripping.

    Plan shape: every derived column is whole-stage-codegen string math
    over the one documents scan — zero shuffles, zero UDFs, column-
    pruned to (doc_id, source).  At 100 TB this is a pure map stage."""
    from atd_data_lake_spark.operators.urls import (
        path_depth,
        url_parts,
        with_query_params,
        with_registrable_domain,
    )

    d = _with_url(_t(spark, sf_dir, "documents").select("doc_id", "source"))
    out = with_query_params(
        with_registrable_domain(url_parts(d, "url"))
    )
    return out.select(
        "doc_id",
        "url",
        "host",
        "reg_domain",
        path_depth(F.col("path")).alias("path_depth"),
        "n_params",
        "has_tracking",
        "clean_query",
    )


URL_DOMAIN_EXTRACT_SQL = f"""
WITH u AS ({_url_sql()}),
{_URL_PARTS_SQL}
SELECT doc_id, url, host, reg_domain,
    CAST(len(list_filter(string_split(path[2:], '/'), s -> s <> '')) AS BIGINT)
        AS path_depth,
    CAST(len(list_filter(string_split(query_string, '&'), p -> p <> ''))
        AS BIGINT) AS n_params,
    len(list_filter(string_split(query_string, '&'),
        p -> p LIKE 'utm\\_%' ESCAPE '\\')) > 0 AS has_tracking,
    coalesce(array_to_string(list_filter(string_split(query_string, '&'),
        p -> p <> '' AND p NOT LIKE 'utm\\_%' ESCAPE '\\'), '&'), '')
        AS clean_query
FROM dom
"""


# ---------------------------------------------------------------------------
# url_domain_rollup
# ---------------------------------------------------------------------------


def url_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain quality rollup + C4-style keep gate.

    ONE shuffle: groupBy(reg_domain) with map-side partial aggregation;
    web-scale domain cardinality (millions) is far below page count, so
    the exchange carries rollup rows only."""
    from atd_data_lake_spark.operators.urls import (
        domain_quality_rollup,
        url_parts,
        with_registrable_domain,
    )

    d = _with_url(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "n_chars"
        )
    )
    out = domain_quality_rollup(
        with_registrable_domain(url_parts(d, "url"))
    )
    return out.select(
        "reg_domain", "n_docs", "n_hosts", "total_chars", "lang_frac", "keep"
    )


URL_DOMAIN_ROLLUP_SQL = f"""
WITH u AS ({_url_sql()}),
{_URL_PARTS_SQL}
SELECT reg_domain,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
    CAST(sum(n_chars) AS BIGINT) AS total_chars,
    round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) / count(*), 6)
        AS lang_frac,
    (count(*) >= 3 AND
     round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) / count(*), 6) >= 0.3)
        AS keep
FROM dom
GROUP BY reg_domain
"""


# ---------------------------------------------------------------------------
# sim_ivf_upsert — incremental ANN index maintenance
# ---------------------------------------------------------------------------

_IVF_CELLS = 16
_IVF_STANDING_MAX = 400  # vec_id < this simulates the already-built index


def sim_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: anti-join the incoming batch against
    the standing index (which the batch partially re-delivers), assign
    only the new vectors, and report per-cell deltas.

    The quantizer model is the 16 lowest-vec_id embeddings (the
    ``emb_kmeans_assign`` model-loading precedent); collecting it loads
    a model, not data."""
    from atd_data_lake_spark.operators.similarity import (
        centroid_assign,
        ivf_upsert,
    )

    emb = _t(spark, sf_dir, "embeddings")
    model_rows = (
        emb.filter(F.col("vec_id") < _IVF_CELLS)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = [(int(r[0]), list(r[1])) for r in model_rows]
    # in production the standing index is a stored table (a scan, free to
    # read twice); here it derives from an Arrow assignment stage, which
    # gets no AQE reuse — persist the slim (id, cell) frame so its two
    # consumers (anti-join ids + the standing rollup) run it once
    from atd_data_lake_spark.operators.scale import scoped_persist

    standing = scoped_persist(
        centroid_assign(
            emb.filter(F.col("vec_id") < _IVF_STANDING_MAX), centroids
        ).select("vec_id", "centroid_id")
    )
    return ivf_upsert(standing, emb, centroids).orderBy("centroid_id")


SIM_IVF_UPSERT_SQL = f"""
WITH c AS (
    SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cvec
    FROM embeddings WHERE vec_id < {_IVF_CELLS}
),
assign AS (
    SELECT vec_id, centroid_id, cos_sim FROM (
        SELECT e.vec_id, c.centroid_id,
               round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), c.cvec), 6) AS cos_sim,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC,
                       c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN c
    ) WHERE rn = 1
),
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
# url_domain_gate — the rollup's keep verdict applied back to documents
# ---------------------------------------------------------------------------


def url_domain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end C4-style domain gate: rollup the domains, broadcast the
    (domain → keep) verdicts back onto the page stream, and report the
    per-source kept/dropped split.

    100 TB shape: the verdict table is domain-cardinality (model-sized
    next to pages) and broadcasts; pages never shuffle for the gate —
    the only exchanges are the rollup's own and the final per-source
    aggregate."""
    from atd_data_lake_spark.operators.urls import (
        domain_quality_rollup,
        url_parts,
        with_registrable_domain,
    )

    d = _with_url(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "n_chars"
        )
    )
    pages = with_registrable_domain(url_parts(d, "url"))
    verdicts = domain_quality_rollup(pages).select("reg_domain", "keep")
    gated = pages.join(F.broadcast(verdicts), "reg_domain")
    return gated.groupBy("source").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
        F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )


URL_DOMAIN_GATE_SQL = f"""
WITH u AS ({_url_sql()}),
{_URL_PARTS_SQL},
verdicts AS (
    SELECT reg_domain,
           (count(*) >= 3 AND
            round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  / count(*), 6) >= 0.3) AS keep
    FROM dom GROUP BY reg_domain
)
SELECT d.source,
       CAST(sum(CASE WHEN v.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN NOT v.keep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       CAST(sum(CASE WHEN v.keep THEN d.n_chars ELSE 0 END) AS BIGINT)
           AS kept_chars
FROM dom d JOIN verdicts v ON v.reg_domain = d.reg_domain
GROUP BY d.source
"""


# ---------------------------------------------------------------------------
# text_line_dedup — corpus-level line dedup (RefinedWeb/CCNet pass)
# ---------------------------------------------------------------------------

_LINE_WORDS = 10
_LINE_MAX_DF = 2


def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-level dedup over 10-word chunk "lines":
    lines appearing in ≥2 distinct docs are boilerplate and are dropped
    from every doc; output is the per-doc kept/dropped split plus the
    md5 of the cleaned text (portable across engines).  See
    ``operators/text.line_level_dedup`` for the two-shuffle scale
    argument."""
    from atd_data_lake_spark.operators.text import line_level_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return line_level_dedup(
        d, words_per_line=_LINE_WORDS, max_df=_LINE_MAX_DF
    ).select("doc_id", "n_lines", "n_kept", "n_dropped", "clean_md5")


TEXT_LINE_DEDUP_SQL = f"""
WITH words AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
lines AS (
    SELECT doc_id,
           generate_subscripts(chunks, 1) - 1 AS pos,
           unnest(chunks) AS line
    FROM (
        SELECT doc_id,
            list_transform(
                generate_series(0,
                    CAST(ceil(len(ws) / {float(_LINE_WORDS)!r}) AS INT) - 1),
                i -> array_to_string(
                    ws[(i*{_LINE_WORDS}+1):(i*{_LINE_WORDS}+{_LINE_WORDS})],
                    ' ')) AS chunks
        FROM words)
),
freq AS (
    SELECT line FROM lines GROUP BY line
    HAVING count(DISTINCT doc_id) >= {_LINE_MAX_DF}
),
flagged AS (
    SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS is_freq
    FROM lines l LEFT JOIN freq f ON f.line = l.line
)
SELECT doc_id,
    CAST(count(*) AS BIGINT) AS n_lines,
    CAST(sum(CASE WHEN NOT is_freq THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
    CAST(sum(CASE WHEN is_freq THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
    md5(coalesce(string_agg(CASE WHEN NOT is_freq THEN line END,
                            ' ' ORDER BY pos), '')) AS clean_md5
FROM flagged
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# sim_ann_ivf_recall — recall@10 of the model-IVF vs exact ground truth
# ---------------------------------------------------------------------------

_RECALL_QUERIES = 20
_RECALL_K = 10


def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 4-probe model-IVF search against the exact
    brute-force ground truth, per query — the eval that prices an IVF
    deployment's probe budget (the ``emb_matryoshka_eval`` recipe with
    the IVF candidate generator in the approximate seat)."""
    from atd_data_lake_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_model,
    )

    emb = _t(spark, sf_dir, "embeddings")
    model_rows = (
        emb.filter(F.col("vec_id") < _IVF_CELLS)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = [(int(r[0]), list(r[1])) for r in model_rows]
    queries = emb.filter(F.col("vec_id") < _RECALL_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = cosine_topk(emb, queries, k=_RECALL_K)
    approx = ivf_topk_model(emb, queries, centroids, k=_RECALL_K, n_probe=4)
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
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.lit(float(_RECALL_K)), 6
        ).alias("recall_at_10"),
    )


SIM_ANN_IVF_RECALL_SQL = f"""
WITH c AS (
    SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cvec
    FROM embeddings WHERE vec_id < {_IVF_CELLS}
),
assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC,
                       c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN c
    ) WHERE rn = 1
),
q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
    FROM embeddings WHERE vec_id < {_RECALL_QUERIES}
),
probes AS (
    SELECT query_id, centroid_id FROM (
        SELECT q.query_id, c.centroid_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.qvec, c.cvec), 6)
                       DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN c
    ) WHERE rn <= 4
),
ivf_rank AS (
    SELECT query_id, neighbor_id FROM (
        SELECT cd.query_id, cd.neighbor_id,
               row_number() OVER (
                   PARTITION BY cd.query_id
                   ORDER BY round(list_cosine_similarity(
                       q.qvec, CAST(e.embedding AS DOUBLE[])), 6) DESC,
                       cd.neighbor_id) AS rank
        FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
            WHERE a.vec_id <> p.query_id
        ) cd
        JOIN q ON q.query_id = cd.query_id
        JOIN embeddings e ON e.vec_id = cd.neighbor_id
    ) WHERE rank <= {_RECALL_K}
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
    ) WHERE rank <= {_RECALL_K}
),
hits AS (
    SELECT f.query_id, count(*) AS n_hits
    FROM full_rank f
    JOIN ivf_rank t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY 1
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / {float(_RECALL_K)!r}, 6) AS recall_at_10
FROM q LEFT JOIN hits h ON h.query_id = q.query_id
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND29_QUERIES = {
    "url_domain_extract": url_domain_extract,
    "url_domain_rollup": url_domain_rollup,
    "url_domain_gate": url_domain_gate,
    "text_line_dedup": text_line_dedup,
    "sim_ivf_upsert": sim_ivf_upsert,
    "sim_ann_ivf_recall": sim_ann_ivf_recall,
}

ROUND29_ORACLES = {
    "url_domain_extract": URL_DOMAIN_EXTRACT_SQL,
    "url_domain_rollup": URL_DOMAIN_ROLLUP_SQL,
    "url_domain_gate": URL_DOMAIN_GATE_SQL,
    "text_line_dedup": TEXT_LINE_DEDUP_SQL,
    "sim_ivf_upsert": SIM_IVF_UPSERT_SQL,
    "sim_ann_ivf_recall": SIM_ANN_IVF_RECALL_SQL,
}
