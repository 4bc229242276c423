"""Round-5 query additions: lakehouse layout + clustering + curation ops.

Five families, each a plan shape or capability the 100 TB engine needs
that the registry didn't yet cover (``cur_mixture_resample`` — target
source-mixture down-sampling — is documented on its own function below):

- ``emb_kmeans_assign`` — nearest-centroid assignment (the clustering
  primitive / map side of Lloyd's iteration): the centroid set is a
  fitted MODEL inlined as plan literals, so assignment is a zero-shuffle
  pure-JVM map stage; contrast with every other embedding op, which
  moves data.  Oracle: DuckDB ``list_cosine_similarity`` + rank.
- ``evt_scd2_intervals`` — SCD2 interval pack (gaps-and-islands run
  collapse): builds the compact slowly-changing-dimension form the
  reference approximates with daily unit-data snapshots + as-of lookup
  (support/unitdata.py:40-63).  One shuffle on the entity key, both
  row_number windows share one Exchange+sort.
- ``text_containment`` — asymmetric n-gram set containment (Broder's
  resemblance-vs-containment distinction): catches the short-doc-quoted-
  in-long-doc wrapper case that Jaccard structurally misses.  Same
  inverted-index join shape as ``dedup_ngram_jaccard``, no symmetric
  size pruning (a tiny A inside a huge B is the target pair).
- ``evt_zorder_audit`` — Morton (Z-order) layout key as pure JVM bit
  arithmetic + a per-bucket min/max audit: the multi-dimensional file
  clustering (Delta OPTIMIZE ZORDER BY, PAPERS.md VLDB'20 §3.3) that
  turns two-predicate scans into footer-stat pruning on BOTH dimensions.
  The audit output IS the proof of layout quality: each z-bucket's
  (min,max) envelope on each source dimension is what a scan would
  prune with.

Every query has a DuckDB oracle; every computed column is aliased
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.sim_queries import VECTORS_CTE, assign_sql, load_centroids


# ---------------------------------------------------------------------------
# emb_kmeans_assign — nearest-centroid assignment, model-as-literals
# ---------------------------------------------------------------------------

_K_CENTROIDS = 8


def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every embedding to the nearest of k=8 centroids (cosine).

    The centroids here are the k lowest-vec_id embeddings — a
    deterministic stand-in for a fitted k-means model (the fit itself is
    ``similarity._kmeans_centroids``, exercised by ``ivf_topk``);
    collecting them is model-loading, not a data collect.  Assignment is
    one zero-shuffle Arrow matmul pass (model in the task closure) —
    see operators/similarity.centroid_assign.
    """
    from atd_data_lake_spark.operators.similarity import centroid_assign

    emb = _t(spark, sf_dir, "embeddings")
    centroids = load_centroids(emb, _K_CENTROIDS)
    return centroid_assign(emb, centroids, id_col="vec_id", vec_col="embedding")


EMB_KMEANS_ASSIGN_SQL = f"""
WITH {VECTORS_CTE},
{assign_sql(_K_CENTROIDS)}
SELECT vec_id, centroid_id, cos_sim FROM assign
"""


# ---------------------------------------------------------------------------
# evt_scd2_intervals — gaps-and-islands SCD2 pack
# ---------------------------------------------------------------------------


def evt_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each user's consecutive same-event_type runs into validity
    intervals — operators/windows.pack_intervals; event_id tiebreak pins
    run boundaries when timestamps repeat."""
    from atd_data_lake_spark.operators.windows import pack_intervals

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    out = pack_intervals(
        e, entity_col="user_id", ts_col="ts", state_col="event_type",
        tiebreak=["event_id"],
    )
    return out.select(
        "user_id", "event_type", "valid_from", "valid_to", "n_rows"
    )


EVT_SCD2_SQL = """
WITH runs AS (
    SELECT user_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS run
    FROM events
)
SELECT user_id, event_type,
       min(ts) AS valid_from, max(ts) AS valid_to,
       count(*) AS n_rows
FROM runs GROUP BY user_id, event_type, run
"""


# ---------------------------------------------------------------------------
# text_containment — asymmetric shingle-set containment
# ---------------------------------------------------------------------------

_CONT_THRESHOLD = 0.3


def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram containment pairs, max(direction) >= 0.3 — the wrapper-dup
    detector (operators/dedup.ngram_containment_pairs)."""
    from atd_data_lake_spark.operators.dedup import ngram_containment_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_containment_pairs(d, n=3, threshold=_CONT_THRESHOLD)


TEXT_CONTAINMENT_SQL = f"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
),
g AS (
    SELECT DISTINCT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
    FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
),
sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
    FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n * 1.0 / sa.sz, 6) AS cont_a_in_b,
       round(n * 1.0 / sb.sz, 6) AS cont_b_in_a
FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
WHERE greatest(round(n * 1.0 / sa.sz, 6), round(n * 1.0 / sb.sz, 6))
      >= {_CONT_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# evt_zorder_audit — Morton layout key + per-bucket envelope audit
# ---------------------------------------------------------------------------


def evt_zorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the events fact on (entity-bucket, time-of-day-bucket) and
    audit the layout: one row per z-bucket with its row count and the
    min/max envelope on both source dimensions — exactly the footer
    statistics a z-clustered file would expose to scan pruning.

    x = user_id & 255 (entity bucket), y = minute-of-day / 6 (0..239).
    The Morton key is pure JVM bit arithmetic (operators/layout.py); the
    audit is one shuffle on the 16-bit key with map-side partial agg.
    """
    from atd_data_lake_spark.operators.layout import morton_key_8x8

    e = _t(spark, sf_dir, "events")
    x = F.col("user_id").bitwiseAND(F.lit(255)).cast("int")
    y = F.floor((F.hour("ts") * 60 + F.minute("ts")) / 6).cast("int")
    keyed = e.select(
        morton_key_8x8(x, y).cast("long").alias("zkey"),
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
    )
    return keyed.groupBy("zkey").agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


def _spread_sql(v: str) -> str:
    """The same spread-bits rounds as operators/layout._SPREAD8, in SQL."""
    s = f"(({v}) & 255)"
    for shift, mask in ((4, 0x0F0F), (2, 0x3333), (1, 0x5555)):
        s = f"((({s} | ({s} << {shift})) & {mask}))"
    return s


EVT_ZORDER_SQL = f"""
WITH keyed AS (
    SELECT ({_spread_sql('user_id')}
            | ({_spread_sql("(hour(ts) * 60 + minute(ts)) // 6")} << 1)) AS zkey,
           user_id & 255 AS x,
           (hour(ts) * 60 + minute(ts)) // 6 AS y
    FROM events
)
SELECT zkey, count(*) AS n_rows,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y
FROM keyed GROUP BY zkey
"""


ROUND5_QUERIES = {
    "emb_kmeans_assign": emb_kmeans_assign,
    "evt_scd2_intervals": evt_scd2_intervals,
    "text_containment": text_containment,
    "evt_zorder_audit": evt_zorder_audit,
}

ROUND5_ORACLES = {
    "emb_kmeans_assign": EMB_KMEANS_ASSIGN_SQL,
    "evt_scd2_intervals": EVT_SCD2_SQL,
    "text_containment": TEXT_CONTAINMENT_SQL,
    "evt_zorder_audit": EVT_ZORDER_SQL,
}


# ---------------------------------------------------------------------------
# cur_mixture_resample — deterministic mixture down-sampling
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {f"src{i}": (4.0 if i == 0 else 2.0 if i == 1 else 1.0) for i in range(20)}


def cur_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample documents to a 4:2:1:...:1 source mixture —
    operators/curation.mixture_resample.  src0 is the binding source
    (keeps 100%), src1 keeps ~50%, the rest ~25%."""
    from atd_data_lake_spark.operators.curation import mixture_resample

    d = _t(spark, sf_dir, "documents")
    return mixture_resample(d, _MIX_WEIGHTS)


def _mixture_sql() -> str:
    from atd_data_lake_spark.queries import _bucket_sql

    vals = ", ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS.items())
    h = _bucket_sql("d.doc_id", "mix1")
    return f"""
WITH w(source, wt) AS (VALUES {vals}),
counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
per AS (SELECT c.source, c.n, CAST(w.wt AS DOUBLE) AS wt
        FROM counts c JOIN w ON c.source = w.source WHERE w.wt > 0),
s AS (SELECT min(n / wt) AS scale FROM per),
t AS (SELECT source, CAST(floor(wt * scale / n * 65536.0) AS BIGINT) AS thr
      FROM per, s)
SELECT d.doc_id, d.source
FROM documents d JOIN t ON d.source = t.source
WHERE {h} < t.thr
"""


ROUND5_QUERIES["cur_mixture_resample"] = cur_mixture_resample


# ---------------------------------------------------------------------------
# cur_winsorize — per-source outlier clipping at exact percentiles
# ---------------------------------------------------------------------------


def cur_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize document lengths per source: clip n_chars to that
    source's exact interpolated [p05, p95] — the outlier-tempering step
    before any length-sensitive statistic or length-balanced sampling
    (a handful of megadocs otherwise dominate per-source token budgets).

    Plan: one percentile aggregate over the tiny (source) groups,
    broadcast back onto the corpus — the fact side NEVER shuffles; the
    clip is `least(greatest(v, lo), hi)` inside the scan stage.  Exact
    cross-engine parity rides on the integer-operand percentile
    equivalence established by ``agg_exact_percentiles`` (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``) and row-wise clip math.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    bounds = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.05)").alias("_lo"),
        F.expr("percentile(n_chars, 0.95)").alias("_hi"),
    )
    return (
        d.join(F.broadcast(bounds), "source")
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round(
                F.least(
                    F.greatest(F.col("n_chars").cast("double"), F.col("_lo")),
                    F.col("_hi"),
                ),
                6,
            ).alias("clipped"),
        )
    )


CUR_WINSORIZE_SQL = """
WITH b AS (
    SELECT source,
           quantile_cont(n_chars, 0.05) AS lo,
           quantile_cont(n_chars, 0.95) AS hi
    FROM documents GROUP BY 1
)
SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
       round(least(greatest(CAST(d.n_chars AS DOUBLE), b.lo), b.hi), 6) AS clipped
FROM documents d JOIN b ON d.source = b.source
"""

ROUND5_QUERIES["cur_winsorize"] = cur_winsorize
ROUND5_ORACLES["cur_winsorize"] = CUR_WINSORIZE_SQL
