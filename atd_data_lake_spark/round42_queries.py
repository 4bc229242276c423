"""Round-42 query additions — sketch-backed membership and frequency,
the constant-state generalizations of the exact decontamination and
heavy-hitter operators.

- ``cur_bloom_decontam`` — benchmark decontamination through a BLOOM
  bitmap instead of the exact broadcast shingle set
  (``cur_decontaminate``).  The held-out side collapses to an m-bit
  constant (32 KB at m = 2¹⁸) regardless of its cardinality — the
  shape that survives when the reference set is itself web-scale and
  the exact 8-bytes-per-shingle broadcast would not fit on executors.
  Membership is one-sided: false positives over-flag (conservative for
  decontamination), never under-flag; the FP rate is the classic
  (1 − e^{−kn/m})^k ≈ 0.2% at this round's sizing on sf0.01.
- ``agg_countmin_user_counts`` — count-min sketch frequency estimates
  (d = 4 rows × w = 1024 cells) for every user key, joined against the
  exact counts so the one-sided error (est ≥ exact, ≤ exact + εN) is
  visible in the output.  The counter table is the mergeable artifact:
  d·w bounded cells per shard, rolled up by cell-wise addition —
  frequency analog of the HLL / DDSketch rows.

Both are EXACTLY oracle-able, false positives and collisions included,
because the bit/cell positions come from md5 double hashing
(Kirsch-Mitzenmacher): h1/h2 = the first/second 15 hex chars of
md5(key) — 60-bit integers both engines compute identically — and
p_i = (h1 + i·h2) mod m.  The DuckDB oracle replays membership as
position-set containment (all k probe positions ∈ the set of set
bits), which is definitionally the same predicate the bitmap test
evaluates.

100 TB shapes:

- Bloom build: positions explode map-side and collapse to ≤ m/64
  (word, bit_or) rows — the only collected frame, bounded by the
  bitmap geometry (4096 rows), never by the reference corpus.  Probe:
  the bitmap ships as ONE array literal in the task closure; the scan
  side computes two md5-derived longs per shingle and tests k bits —
  no join, no shuffle, nothing but the final per-doc count aggregate.
- CMS build: each event emits d cells; partial aggregation collapses
  them to ≤ d·w rows per task BEFORE the shuffle, so the exchange
  carries at most d·w rows per partition regardless of input size.
  Estimation broadcasts the ≤ d·w counter table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.sketches import (
    bloom_bitmap,
    cms_counters,
    cms_estimate,
)


# ---------------------------------------------------------------------------
# cur_bloom_decontam
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 18  # bits (32 KB bitmap)
_BLOOM_K = 3
_BLOOM_N = 3  # word-shingle order — matches cur_decontaminate


def cur_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-bitmap benchmark decontamination: flag corpus docs whose
    3-gram shingles probe positive against the held-out eval set
    (doc_id % 20 == 0), where the eval set was compacted to a 2¹⁸-bit
    Bloom bitmap.

    Output mirrors ``cur_decontaminate`` (n_shingles / n_flagged /
    flag_ratio / is_flagged); n_flagged ≥ the exact n_overlap by the
    one-sided-error guarantee.  The build-side collect is the bit-word
    frame, ≤ m/64 = 4096 rows by construction (the bounded-model-load
    pattern of the IVF/PQ queries), never the reference shingles.

    r9 wave fusion (r8 verdict item 1): the bitmap builds from ONLY the
    bench slice (5% of docs shingled — the filter precedes the Arrow
    stage, so the pandas work is 1/20th), and the corpus side runs as
    ONE fused shingle→probe→count Arrow pass
    (``bloom_shingle_probe_counts``) that emits a row per DOC — no
    persisted shingle frame, no exploded probe rows, no per-shingle
    groupBy shuffle.  Two job waves total: build (5% scan) + probe
    (one full scan); measured 9.7 → 2.1 s at sf0.1 (A/B same host).
    No ``distinct`` before the build: setting a bit twice is a no-op
    and ``bit_or`` partial aggregation already collapses map-side.
    """
    from atd_data_lake_spark.operators.dedup import shingle_string_rows
    from atd_data_lake_spark.operators.sketches import bloom_shingle_probe_counts

    d = _t(spark, sf_dir, "documents")
    bench_sh = shingle_string_rows(
        d.filter(F.col("doc_id") % 20 == 0), "doc_id", "text", _BLOOM_N,
        fan=False,  # 5% slice feeding a bounded bit_or — the repartition
        # wave costs more than it buys (see shingle_string_rows docstring)
    ).select("shingle")
    bitmap = bloom_bitmap(bench_sh, "shingle", _BLOOM_M, _BLOOM_K)
    rep = bloom_shingle_probe_counts(
        d, bitmap, "doc_id", "text", _BLOOM_N, _BLOOM_M, _BLOOM_K
    )
    ratio = F.round(
        F.col("n_flagged") / F.col("n_shingles").cast("double"), 6
    )
    return rep.select(
        "doc_id",
        "n_shingles",
        "n_flagged",
        ratio.alias("flag_ratio"),
        (F.col("n_flagged") > 0).alias("is_flagged"),
    ).orderBy("doc_id")


CUR_BLOOM_DECONTAM_SQL = f"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents
    WHERE text IS NOT NULL
      AND len(regexp_split_to_array(trim(text), '\\s+')) >= {_BLOOM_N}
),
g AS (
    SELECT DISTINCT doc_id,
           concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]) AS shingle
    FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
),
h AS (
    SELECT doc_id, shingle,
           ('0x' || substr(md5(shingle), 1, 15))::UBIGINT % {_BLOOM_M} AS h1,
           ('0x' || substr(md5(shingle), 17, 15))::UBIGINT % {_BLOOM_M} AS h2
    FROM g
),
bpos AS (
    SELECT DISTINCT (h1 + i * h2) % {_BLOOM_M} AS p
    FROM h, UNNEST([{", ".join(str(i) for i in range(_BLOOM_K))}]) AS u(i)
    WHERE doc_id % 20 = 0
),
ppos AS (
    SELECT doc_id, shingle, (h1 + i * h2) % {_BLOOM_M} AS p
    FROM h, UNNEST([{", ".join(str(i) for i in range(_BLOOM_K))}]) AS u(i)
),
hit AS (
    SELECT doc_id, shingle
    FROM ppos JOIN bpos USING (p)
    GROUP BY 1, 2
    HAVING count(*) = {_BLOOM_K}
),
sz AS (SELECT doc_id, count(*) AS n_shingles FROM g GROUP BY 1),
fl AS (SELECT doc_id, count(*) AS n_flagged FROM hit GROUP BY 1)
SELECT sz.doc_id AS doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(n_flagged, 0) AS BIGINT) AS n_flagged,
       round(coalesce(n_flagged, 0) / CAST(n_shingles AS DOUBLE), 6)
           AS flag_ratio,
       coalesce(n_flagged, 0) > 0 AS is_flagged
FROM sz LEFT JOIN fl ON sz.doc_id = fl.doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# agg_countmin_user_counts
# ---------------------------------------------------------------------------

_CMS_W = 1024
_CMS_D = 4


def agg_countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch event-count estimate per user vs the exact
    count: (user_id, est_count, exact_count, overcount) with
    overcount = est − exact ≥ 0 guaranteed by the sketch's one-sided
    error.  The d×w counter table is the storable/mergeable artifact;
    the probe set here is the key census (bounded at this corpus;
    at 100 TB the probe side is whatever bounded watchlist needs
    estimates — the counters never grow past d·w either way)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("user_id").cast("string").alias("k")
    )
    counters = cms_counters(ev, "k", _CMS_W, _CMS_D)
    probes = ev.distinct()
    est = cms_estimate(
        probes.select("k"), counters, "k", _CMS_W, _CMS_D
    )
    exact = ev.groupBy("user_id", "k").agg(
        F.count("*").cast("long").alias("exact_count")
    )
    return (
        exact.join(est, "k")
        .select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy("user_id")
    )


AGG_COUNTMIN_SQL = f"""
WITH e AS (
    SELECT user_id, CAST(user_id AS VARCHAR) AS k FROM events
),
h AS (
    SELECT DISTINCT user_id, k,
           ('0x' || substr(md5(k), 1, 15))::UBIGINT % {_CMS_W} AS h1,
           ('0x' || substr(md5(k), 17, 15))::UBIGINT % {_CMS_W} AS h2
    FROM e
),
cells AS (
    SELECT e.k, j AS r, (h.h1 + (j + 1) * h.h2) % {_CMS_W} AS p
    FROM e JOIN h USING (k),
         UNNEST([{", ".join(str(j) for j in range(_CMS_D))}]) AS u(j)
),
counters AS (SELECT r, p, count(*) AS cnt FROM cells GROUP BY 1, 2),
ppos AS (
    SELECT user_id, k, j AS r, (h1 + (j + 1) * h2) % {_CMS_W} AS p
    FROM h, UNNEST([{", ".join(str(j) for j in range(_CMS_D))}]) AS u(j)
),
est AS (
    SELECT user_id, min(cnt) AS est_count
    FROM ppos JOIN counters USING (r, p)
    GROUP BY 1
),
exact AS (SELECT user_id, count(*) AS exact_count FROM e GROUP BY 1)
SELECT exact.user_id AS user_id,
       CAST(est_count AS BIGINT) AS est_count,
       CAST(exact.exact_count AS BIGINT) AS exact_count,
       CAST(est_count - exact.exact_count AS BIGINT) AS overcount
FROM exact JOIN est ON exact.user_id = est.user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# dedup_jaccard_prefix — the PPJoin/AllPairs candidate path, first-class
# ---------------------------------------------------------------------------


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.5 pairs via the PREFIX-FILTER candidate path
    (``ngram_jaccard_pairs(prefix_filter=True)`` — PPJoin/AllPairs
    family): shingles order rarest-first and only each doc's first
    |S| − ⌈t·|S|⌉ + 1 postings self-join, so corpus-hot shingles never
    generate pairs.  Result-identical to the inverted-index path (the
    equivalence test in test_dedup_scale.py) and to the shared exact
    Jaccard oracle — this entry gives the candidate strategy its own
    driver verification.  The Zipf-vs-uniform cost trade is measured
    and documented in the operator docstring (operators/dedup.py)."""
    from atd_data_lake_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, n=3, threshold=0.5, prefix_filter=True
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# evt_txlog_skipping_executed
# ---------------------------------------------------------------------------

_SKIP_TYPES = ("click", "error", "purchase", "signup", "view")


def evt_txlog_skipping_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED min/max file skipping through the txlog: events land as
    one append per event_type (the clustered-write layout a stream
    partitioned by type produces), then ``read_where(event_type =
    'purchase')`` resolves the snapshot's commit-log stats and opens
    ONLY the files whose [min, max] covers 'purchase' — 1 of the 5 data
    files; the residual predicate keeps the result exact either way.
    Daily rollup of what came back, value-hashed against raw events.
    The file-count assertion (1 of 5 opened) lives in
    tests/test_txlog_skipping.py; here the oracle pins that pruning
    never changes RESULTS."""
    import shutil
    import tempfile

    from atd_data_lake_spark.io import txlog

    work = tempfile.mkdtemp(prefix="txlog_skip_")
    try:
        table = f"{work}/tbl"
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        for t in _SKIP_TYPES:
            txlog.append(
                ev.filter(F.col("event_type") == t).coalesce(1),
                table,
                commit_id=f"slice-{t}",
            )
        picked = txlog.read_where(
            spark, table, "event_type", "purchase", "purchase"
        )
        agg = (
            picked.groupBy(F.to_date("ts").alias("day"))
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(14,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("total_value"),
            )
            .orderBy("day")
        )
        rows = agg.collect()  # materialize before the temp dir vanishes
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


EVT_TXLOG_SKIPPING_SQL = """
SELECT CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY day
"""


ROUND42_QUERIES = {
    "cur_bloom_decontam": cur_bloom_decontam,
    "agg_countmin_user_counts": agg_countmin_user_counts,
    "dedup_jaccard_prefix": dedup_jaccard_prefix,
    "evt_txlog_skipping_executed": evt_txlog_skipping_executed,
}

ROUND42_ORACLES = {
    "cur_bloom_decontam": CUR_BLOOM_DECONTAM_SQL,
    "agg_countmin_user_counts": AGG_COUNTMIN_SQL,
    "evt_txlog_skipping_executed": EVT_TXLOG_SKIPPING_SQL,
    # dedup_jaccard_prefix assembled in queries.py, where the shared
    # jaccard SQL builder lives
}
