"""Round-16 query additions: tokenizer fertility and a compaction
(bin-packing) planner.

- ``text_fertility_by_lang`` — per-language tokenizer-fertility report:
  bytes/token and chars/token under the GPT-2-style pre-tokenizer.
  Fertility is the first thing a multilingual training pipeline checks
  per source/language (a high bytes-per-token language is
  under-served by the tokenizer).  All-JVM regexp_count + one agg;
  oracle-backed via the shared BPE_PRETOKEN_RE.
- ``io_compaction_plan`` — small-file compaction planner: next-fit-
  decreasing bin packing of a file manifest into target-sized output
  bins, expressed as a window cumulative sum (bin = (cum − size) div
  target — the standard SQL formulation).  The lake-maintenance shape
  behind every OPTIMIZE/compact job: the plan itself is metadata-sized
  no matter how big the lake is.  Manifest here derives
  deterministically from ``documents`` (file size = n_chars).
  Oracle-backed, exact integer arithmetic throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# text_fertility_by_lang
# ---------------------------------------------------------------------------


def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility: docs, bytes, chars, pre-tokens,
    bytes/token and chars/token (round 6).

    Integer sums (bytes, chars, token counts are exact), two final
    double divisions.  One pruned 3-column scan, one agg.
    """
    from atd_data_lake_spark.operators.text import bpe_pretoken_count

    d = _t(spark, sf_dir, "documents")
    agg = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).alias("total_bytes"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(bpe_pretoken_count(F.col("text"))).alias("total_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_bytes",
        "total_tokens",
        F.round(F.col("total_bytes") / F.col("total_tokens"), 6).alias(
            "bytes_per_token"
        ),
        F.round(F.col("total_chars") / F.col("total_tokens"), 6).alias(
            "chars_per_token"
        ),
    ).orderBy("lang")


def _fertility_sql() -> str:
    from atd_data_lake_spark.operators.text import BPE_PRETOKEN_RE

    pat = BPE_PRETOKEN_RE.replace("'", "''")
    n = f"len(regexp_extract_all(text, '{pat}'))"
    return f"""
WITH agg AS (
    SELECT lang,
           count(*) AS n_docs,
           sum(strlen(text)) AS total_bytes,
           sum(length(text)) AS total_chars,
           sum({n}) AS total_tokens
    FROM documents GROUP BY lang
)
SELECT lang, n_docs,
       CAST(total_bytes AS BIGINT) AS total_bytes,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       round(total_bytes / CAST(total_tokens AS DOUBLE), 6)
         AS bytes_per_token,
       round(total_chars / CAST(total_tokens AS DOUBLE), 6)
         AS chars_per_token
FROM agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# io_compaction_plan — next-fit-decreasing bin packing via cumsum
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 16_384  # target output size (chars) per compacted bin


def io_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction plan summary: files sorted descending by (size, id),
    assigned to bins by bin = (cum − size) div target over the running
    cumulative size; report per-bin file count, bytes, and fill ratio.

    Next-fit-decreasing guarantees ≤ 2·OPT bins and — unlike first-fit —
    is expressible as ONE window pass, which is what makes the planner
    itself scale: the manifest (one row per file) is the only thing
    sorted, never the data.  A real run would feed
    (path, size) from the lake listing; here the manifest derives from
    ``documents`` so the oracle can check every bin boundary exactly.
    """
    d = _t(spark, sf_dir, "documents")
    manifest = d.select(F.col("doc_id").alias("file_id"), F.col("n_chars").alias("size"))
    # the global (unpartitioned) window is deliberate: a compaction
    # planner sorts the FILE MANIFEST (one row per file), never data —
    # metadata-sized by construction
    binned = manifest.select(
        "file_id",
        "size",
        F.expr(
            f"(sum(size) over (order by size desc, file_id asc "
            f"rows between unbounded preceding and current row) - size) "
            f"div {_COMPACT_TARGET}"
        ).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("size").alias("bin_bytes"),
            F.round(
                F.sum("size") / F.lit(float(_COMPACT_TARGET)), 6
            ).alias("fill_ratio"),
        )
        .orderBy("bin")
    )


IO_COMPACTION_PLAN_SQL = f"""
WITH manifest AS (
    SELECT doc_id AS file_id, n_chars AS size FROM documents
),
binned AS (
    SELECT file_id, size,
           (sum(size) OVER (ORDER BY size DESC, file_id ASC
                            ROWS UNBOUNDED PRECEDING) - size)
             // {_COMPACT_TARGET} AS bin
    FROM manifest
)
SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_files,
       CAST(sum(size) AS BIGINT) AS bin_bytes,
       round(sum(size) / {float(_COMPACT_TARGET)!r}, 6) AS fill_ratio
FROM binned
GROUP BY bin
ORDER BY bin
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND16_QUERIES = {
    "text_fertility_by_lang": text_fertility_by_lang,
    "io_compaction_plan": io_compaction_plan,
}

ROUND16_ORACLES = {
    "text_fertility_by_lang": _fertility_sql(),
    "io_compaction_plan": IO_COMPACTION_PLAN_SQL,
}
