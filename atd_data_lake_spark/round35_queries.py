"""Round-35 query addition — BPE tokenizer train+apply.  (The round's
change-data-feed query, ``evt_txlog_cdf_executed``, lives in
``executed_queries.py`` and its l-diversity audit, ``dq_l_diversity``,
in ``dq_queries``.)

- ``text_bpe_apply`` — the tokenizer primitive: a LOADED 20-merge BPE
  model (trained at import by the canonical ``train_bpe_merges``
  pair-count/merge loop over a fixed seed corpus — the deployed-
  tokenizer pattern: at 100 TB the tokenizer is trained offline once
  and shipped, never re-trained inside the corpus job) applied
  corpus-wide as a chain of literal ``replace`` calls over the
  boundary-anchored spaced form (apply wide, zero shuffle), reporting
  per-language fertility.  The replace chain is the engine-exact
  application spec: one left-to-right non-overlapping pass per merge,
  bit-identical in Spark and DuckDB (adjacent repeats sharing a
  separator merge on a later merge's pass rather than within one —
  documented deviation from tuple-walk application).  The trainer
  itself is pytest-gated on live data (determinism, compression
  monotonicity, canonical merge order).

It carries a full DuckDB oracle.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# text_bpe_apply
# ---------------------------------------------------------------------------

_BPE_MERGES = 20

#: Fixed seed corpus the shipped model is trained from (drawn from the
#: synthetic tables' vocabulary domain, with realistic frequency skew).
#: Training is deterministic, so the merge list — and therefore the
#: oracle SQL — is a module-level constant.
_BPE_SEED_WORDS: list[str] = (
    ["table"] * 12 + ["value"] * 10 + ["scan"] * 9 + ["hash"] * 8
    + ["row"] * 8 + ["key"] * 7 + ["fast"] * 6 + ["slow"] * 5
    + ["agg"] * 5 + ["part"] * 5 + ["merge"] * 4 + ["batch"] * 4
    + ["spark"] * 4 + ["line"] * 3 + ["sort"] * 3 + ["window"] * 3
    + ["shuffle"] * 2 + ["join"] * 2 + ["filter"] * 2 + ["stream"] * 2
)


def train_bpe_merges(words: list[str], n_merges: int) -> list[tuple[str, str]]:
    """Canonical BPE trainer (Sennrich et al. 2016): count adjacent
    symbol pairs over the word multiset, merge the most frequent
    (count desc, then lexicographically smallest pair — deterministic),
    repeat.  Driver-side, bounded by the sample vocabulary."""
    wc = Counter(words)
    seqs: dict[str, list[str]] = {w: list(w) for w in wc}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for w, seq in seqs.items():
            c = wc[w]
            for a, b in zip(seq, seq[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        m = max(pc.values())
        best = min(p for p, c in pc.items() if c == m)
        merges.append(best)
        merged = best[0] + best[1]
        for w, seq in seqs.items():
            out: list[str] = []
            i = 0
            while i < len(seq):
                if (
                    i < len(seq) - 1
                    and seq[i] == best[0]
                    and seq[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seqs[w] = out
    return merges


def _bpe_apply_expr(col: str, merges: list[tuple[str, str]]) -> str:
    """The engine-exact application chain: boundary-anchored spaced
    chars, then one literal replace per merge.  Identical SQL text runs
    in Spark and DuckDB (both replace left-to-right, non-overlapping,
    all occurrences)."""
    expr = f"concat(' ', array_to_string(string_split({col}, ''), ' '), ' ')"
    for a, b in merges:
        expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return expr


#: The shipped model: trained once, at import, from the seed corpus.
_BPE_MODEL: list[tuple[str, str]] = [
    m
    for m in train_bpe_merges(_BPE_SEED_WORDS, _BPE_MERGES)
    if "'" not in m[0] + m[1]  # keep the literal SQL chain safe
]


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    merges = _BPE_MODEL

    w = d.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    spark_expr = _bpe_apply_expr("word", merges).replace(
        "string_split(word, '')", "split(word, '')"
    ).replace("array_to_string", "array_join")
    tokens = F.size(F.split(F.trim(F.expr(spark_expr)), " "))
    return (
        w.select("lang", tokens.alias("n_tok"), F.length("word").alias("n_chr"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
            F.sum("n_chr").cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            F.round(F.col("n_bpe_tokens") / F.col("n_words"), 6).alias(
                "fertility"
            ),
            F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


def _bpe_oracle_sql(merges: list[tuple[str, str]]) -> str:
    chain = _bpe_apply_expr("word", merges)
    return f"""
WITH w AS (
    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
),
t AS (
    SELECT lang,
           len(string_split(trim({chain}), ' ')) AS n_tok,
           length(word) AS n_chr
    FROM w WHERE word <> ''
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(n_chr) AS BIGINT) AS n_chars,
       round(sum(n_tok) / (count(*) * 1.0), 6) AS fertility,
       round(sum(n_chr) / (sum(n_tok) * 1.0), 6) AS chars_per_token
FROM t
GROUP BY lang
ORDER BY lang
"""


TEXT_BPE_APPLY_SQL = _bpe_oracle_sql(_BPE_MODEL)


ROUND35_QUERIES = {
    "text_bpe_apply": text_bpe_apply,
}

ROUND35_ORACLES = {
    "text_bpe_apply": TEXT_BPE_APPLY_SQL,
}
