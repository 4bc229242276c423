"""Round-32 query additions — substring-level dedup + DSIR selection.

- ``dedup_repeated_spans`` — cross-document EXACT-substring detection
  (Lee et al., "Deduplicating Training Data Makes Language Models
  Better", ACL'22): maximal repeated token spans ≥ 12 tokens between
  distinct documents, via windowed 52-bit md5 hashes → df-pruned
  inverted index → diagonal gaps-and-islands merge
  (``operators/dedup.repeated_span_pairs``).  The memorization-risk
  class whole-document dedup cannot see.
- ``cur_dsir_resample`` — DSIR-style importance resampling (Xie et al.
  2023): hashed-unigram bucket counts estimate a target (lang='en')
  and raw feature distribution; each document scores the decimal-exact
  sum of its tokens' rounded log importance ratios, and a
  deterministic md5-uniform acceptance test keeps it with probability
  ``min(1, w)`` — the standard quality-targeting selector beside the
  mixture/quota/gate curation ops.

Both carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# dedup_repeated_spans
# ---------------------------------------------------------------------------

_SPAN_WINDOW = 8
_SPAN_MIN = 12
_SPAN_MAX_DF = 20


def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document repeated token spans (≥ 12 tokens).

    100 TB shape: see ``operators/dedup.repeated_span_pairs`` — 8-byte
    window hashes on every exchange, df-cutoff before the self-join
    bounds candidates at ``max_df²`` per hash, islands shuffle once on
    the (doc_a, doc_b) pair key (volume ∝ true duplication).
    """
    from atd_data_lake_spark.operators.dedup import repeated_span_pairs

    return repeated_span_pairs(
        _t(spark, sf_dir, "documents"),
        window=_SPAN_WINDOW,
        min_span=_SPAN_MIN,
        max_df=_SPAN_MAX_DF,
    ).orderBy("doc_a", "doc_b", "start_a", "start_b")


DEDUP_REPEATED_SPANS_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
w AS (
    SELECT doc_id,
           unnest(generate_series(
               1, greatest(len(ts) - {_SPAN_WINDOW - 1}, 0))) AS pos,
           ts
    FROM t
),
v AS (
    SELECT doc_id, pos,
           ('0x' || substr(md5(array_to_string(
               ts[pos:pos + {_SPAN_WINDOW - 1}], ' ')), 1, 13))::UBIGINT
               AS wh
    FROM w
),
keep AS (
    SELECT wh FROM v GROUP BY wh
    HAVING count(*) >= 2 AND count(*) <= {_SPAN_MAX_DF}
),
vk AS (SELECT v.* FROM v JOIN keep USING (wh)),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pa, b.pos AS pb
    FROM vk a JOIN vk b USING (wh)
    WHERE a.doc_id < b.doc_id
),
isl AS (
    SELECT doc_a, doc_b, pa, pb,
           pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
    FROM pairs
),
spans AS (
    SELECT doc_a, doc_b,
           min(pa) AS start_a, min(pb) AS start_b,
           max(pa) - min(pa) + {_SPAN_WINDOW} AS span_tokens
    FROM isl GROUP BY doc_a, doc_b, pa - pb, grp
)
SELECT doc_a, doc_b, start_a, start_b, span_tokens
FROM spans
WHERE span_tokens >= {_SPAN_MIN}
ORDER BY doc_a, doc_b, start_a, start_b
"""


# ---------------------------------------------------------------------------
# cur_dsir_resample
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_U52_DENOM = float(1 << 52)  # 2^52 — u52/denom exactly representable


def cur_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight + deterministic resample.

    ONE token aggregation computes both distributions (the target count
    is a conditional sum over the same rows — no second scan); the
    256-row bucket model broadcasts back onto the token stream; the
    per-doc weight is a decimal sum of 9-dp-rounded per-bucket log
    ratios, so it is order/partitioning-invariant and engine-exact
    (the token-entropy pattern).  Acceptance: a doc keeps iff
    ``ln(u) < logw`` for the md5-derived uniform ``u`` — probability
    ``min(1, w)``, reproducible anywhere.

    100 TB shape: two keyed exchanges (bucket agg is map-side-combined
    to ≤ 256 rows; per-doc sum on doc_id) — the model is plan-literal
    sized, the corpus text never shuffles.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
        % _DSIR_BUCKETS
    )
    tk = toks.select("doc_id", "lang", bucket.alias("bucket"))
    bs = tk.groupBy("bucket").agg(
        F.count("*").alias("nr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
    )
    tot = bs.agg(
        F.sum("nr").alias("_tot_r"), F.sum("nt").alias("_tot_t")
    )
    lr = bs.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                (F.col("nt") + F.lit(1.0)) / (F.col("_tot_t") + F.lit(256.0))
            )
            - F.log(
                (F.col("nr") + F.lit(1.0)) / (F.col("_tot_r") + F.lit(256.0))
            ),
            9,
        ).alias("lr"),
    )
    logw = (
        tk.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("lr").cast("decimal(20,9)")).alias("_s"),
        )
        .select(
            "doc_id",
            "lang",
            F.round(F.col("_s").cast("double"), 6).alias("logw"),
        )
    )
    u52 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    ln_u = F.round(F.log((u52 + F.lit(1).cast("long")) / F.lit(_U52_DENOM)), 9)
    return logw.select(
        "doc_id",
        "lang",
        "logw",
        (ln_u < F.col("logw")).alias("keep"),
    ).orderBy("doc_id")


CUR_DSIR_RESAMPLE_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
    FROM documents
),
tk AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT
                % {_DSIR_BUCKETS} AS BIGINT) AS bucket
    FROM toks WHERE token <> ''
),
bs AS (
    SELECT bucket, count(*) AS nr,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt
    FROM tk GROUP BY bucket
),
tot AS (SELECT sum(nr) AS tot_r, sum(nt) AS tot_t FROM bs),
lr AS (
    SELECT bucket,
           round(ln((nt + 1.0) / (tot_t + 256.0))
                 - ln((nr + 1.0) / (tot_r + 256.0)), 9) AS lr
    FROM bs, tot
),
dw AS (
    SELECT doc_id, lang,
           round(CAST(sum(CAST(lr AS DECIMAL(20,9))) AS DOUBLE), 6) AS logw
    FROM tk JOIN lr USING (bucket)
    GROUP BY doc_id, lang
)
SELECT doc_id, lang, logw,
       round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                 ::UBIGINT + 1) / {_U52_DENOM!r}), 9) < logw AS keep
FROM dw
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# dedup_incremental_spans
# ---------------------------------------------------------------------------


def dedup_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring dedup: the batch (doc_id % 10 = 7) pairs
    against the standing corpus and itself — the standing side never
    self-joins, and standing postings prune to batch-touched window
    hashes before the df count, so per-batch cost tracks the batch
    (``operators/dedup.incremental_repeated_spans``).  Output = the
    full-corpus span set restricted to pairs with a new member, which is
    what the oracle checks."""
    from atd_data_lake_spark.operators.dedup import incremental_repeated_spans

    d = _t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 7)
    standing = d.filter(F.col("doc_id") % 10 != 7)
    return incremental_repeated_spans(
        standing,
        new,
        window=_SPAN_WINDOW,
        min_span=_SPAN_MIN,
        max_df=_SPAN_MAX_DF,
    ).orderBy("doc_a", "doc_b", "start_a", "start_b")


DEDUP_INCREMENTAL_SPANS_SQL = (
    DEDUP_REPEATED_SPANS_SQL.replace(
        "WHERE span_tokens >= " + str(_SPAN_MIN),
        f"WHERE span_tokens >= {_SPAN_MIN}\n"
        "  AND (doc_a % 10 = 7 OR doc_b % 10 = 7)",
    )
)


# ---------------------------------------------------------------------------
# evt_txlog_compact_executed
# ---------------------------------------------------------------------------


def evt_txlog_compact_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED transactional lifecycle under the external oracle:
    4 idempotent-keyed txlog appends (batch slices of events) →
    ``compact`` (OPTIMIZE: 4+ data files → 2, metadata swap) → an
    adversarial REPLAY of batch 2 after the compaction (the commit-id
    index must survive the file rewrite or the rollup doubles) →
    snapshot read → per-type rollup, value-hashed against plain SQL over
    the source.  Proves compact preserves row content AND the
    exactly-once contract across it."""
    import shutil
    import tempfile

    from atd_data_lake_spark.io import txlog

    work = tempfile.mkdtemp(prefix="txlog_compact_")
    try:
        table = f"{work}/tbl"
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        for m in range(4):
            txlog.append(
                ev.filter(F.col("event_id") % 4 == m),
                table,
                commit_id=f"batch-{m}",
            )
        assert len(txlog.snapshot_files(table)) >= 4
        txlog.compact(spark, table, target_files=2)
        assert len(txlog.snapshot_files(table)) == 2
        # restart-window replay AFTER the rewrite: must be a no-op
        replay = txlog.append(
            ev.filter(F.col("event_id") % 4 == 2),
            table,
            commit_id="batch-2",
        )
        assert replay.replayed
        out = txlog.read_table(spark, table)
        agg = (
            out.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(12,2)"))
                    .cast("double"),
                    2,
                ).alias("total_value"),
            )
            .orderBy("event_type")
        )
        rows = agg.collect()  # materialize before the temp dir vanishes
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


EVT_TXLOG_COMPACT_SQL = """
SELECT event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


ROUND32_QUERIES = {
    "dedup_repeated_spans": dedup_repeated_spans,
    "cur_dsir_resample": cur_dsir_resample,
    "dedup_incremental_spans": dedup_incremental_spans,
    "evt_txlog_compact_executed": evt_txlog_compact_executed,
}

ROUND32_ORACLES = {
    "dedup_repeated_spans": DEDUP_REPEATED_SPANS_SQL,
    "cur_dsir_resample": CUR_DSIR_RESAMPLE_SQL,
    "dedup_incremental_spans": DEDUP_INCREMENTAL_SPANS_SQL,
    "evt_txlog_compact_executed": EVT_TXLOG_COMPACT_SQL,
}
