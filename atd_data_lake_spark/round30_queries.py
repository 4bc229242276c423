"""Round-30 query additions — curation gates (``graph_label_prop``
lives in ``graph_queries``).

- ``cur_perplexity_buckets`` — CCNet's defining step: score every doc
  under a corpus LM (the registry's unigram proxy), then split each
  language into head/middle/tail terciles by score.  Downstream recipes
  (LLaMA-style) keep head+middle and drop tail.
- ``cur_gopher_rules`` — Gopher/Dolma-style rule-table quality gate:
  word-count bounds, mean word length, stopword presence, single-word
  dominance — per-rule observables plus the conjunctive keep verdict.
Both carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# cur_perplexity_buckets
# ---------------------------------------------------------------------------


def cur_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail LM-score terciles (CCNet): the
    corpus-LM score is ``text.unigram_logprob_score`` (one vocabulary
    aggregate + one per-doc mean — the model derives in the plan); the
    tercile is an ntile over a UNIQUE (score desc, doc_id) order so the
    bucketing is engine-exact.  The per-lang window shuffles doc-sized
    score rows, never text."""
    from atd_data_lake_spark.operators.text import unigram_logprob_score

    d = _t(spark, sf_dir, "documents")
    scored = unigram_logprob_score(d.select("doc_id", "text"))
    w = Window.partitionBy("lang").orderBy(
        F.desc("mean_logprob"), F.asc("doc_id")
    )
    return (
        scored.join(d.select("doc_id", "lang"), "doc_id")
        .withColumn("_t", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "mean_logprob",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("_t"),
            ).alias("ppl_bucket"),
        )
    )


def _perplexity_buckets_sql() -> str:
    from atd_data_lake_spark.analytics_queries import UNIGRAM_LOGPROB_SQL

    return f"""
WITH scored AS ({UNIGRAM_LOGPROB_SQL}),
tiled AS (
    SELECT s.doc_id, d.lang, s.n_tokens, s.mean_logprob,
           ntile(3) OVER (
               PARTITION BY d.lang
               ORDER BY s.mean_logprob DESC, s.doc_id ASC) AS t
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, mean_logprob,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS ppl_bucket
FROM tiled
"""


# ---------------------------------------------------------------------------
# cur_gopher_rules
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ("the", "a", "of", "and", "to")
_G_MIN_WORDS, _G_MAX_WORDS = 20, 1000
_G_MIN_MWL, _G_MAX_MWL = 3.0, 10.0
_G_MAX_TOP_FRAC = 0.2


def cur_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-table gate, computed entirely from ONE
    (doc, word) count aggregation: word-count bounds, mean word length,
    English stopword occurrences (the Gopher "must contain common
    words" rule), and single-word dominance (max word frequency /
    words).  keep = every rule passes.

    Plan: explode → groupBy(doc, word) with map-side combine (the only
    token-volume exchange) → groupBy(doc) rollup.  Every observable is
    an exact integer ratio evaluated as one final double — no float
    accumulation."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wc = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
    )
    n_words = F.sum("cnt")
    sum_len = F.sum(F.col("cnt") * F.length("w"))
    stop_hits = F.sum(
        F.when(F.col("w").isin(*_GOPHER_STOPS), F.col("cnt")).otherwise(0)
    )
    top_cnt = F.max("cnt")
    agg = wc.groupBy("doc_id").agg(
        n_words.alias("n_words"),
        F.round(sum_len / n_words, 6).alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        F.round(top_cnt / n_words, 6).alias("top_word_frac"),
    )
    keep = (
        (F.col("n_words") >= _G_MIN_WORDS)
        & (F.col("n_words") <= _G_MAX_WORDS)
        & (F.col("mean_word_len") >= _G_MIN_MWL)
        & (F.col("mean_word_len") <= _G_MAX_MWL)
        & (F.col("stop_hits") >= 1)
        & (F.col("top_word_frac") <= _G_MAX_TOP_FRAC)
    )
    return agg.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "stop_hits",
        "top_word_frac",
        keep.alias("keep"),
    )


_GOPHER_STOP_IN = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)

CUR_GOPHER_RULES_SQL = f"""
WITH wc AS (
    SELECT doc_id, w, count(*) AS cnt
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    )
    GROUP BY doc_id, w
),
agg AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           round(sum(cnt * len(w)) / sum(cnt), 6) AS mean_word_len,
           CAST(sum(CASE WHEN w IN ({_GOPHER_STOP_IN}) THEN cnt ELSE 0 END)
               AS BIGINT) AS stop_hits,
           round(max(cnt) / sum(cnt), 6) AS top_word_frac
    FROM wc GROUP BY doc_id
)
SELECT doc_id, n_words, mean_word_len, stop_hits, top_word_frac,
       (n_words >= {_G_MIN_WORDS} AND n_words <= {_G_MAX_WORDS}
        AND mean_word_len >= {_G_MIN_MWL!r} AND mean_word_len <= {_G_MAX_MWL!r}
        AND stop_hits >= 1
        AND top_word_frac <= {_G_MAX_TOP_FRAC!r}) AS keep
FROM agg
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND30_QUERIES = {
    "cur_perplexity_buckets": cur_perplexity_buckets,
    "cur_gopher_rules": cur_gopher_rules,
}

ROUND30_ORACLES = {
    "cur_perplexity_buckets": _perplexity_buckets_sql(),
    "cur_gopher_rules": CUR_GOPHER_RULES_SQL,
}
