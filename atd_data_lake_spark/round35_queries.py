"""Round-35 query additions — change data feed, BPE tokenizer
train+apply, l-diversity.

- ``evt_txlog_cdf_executed`` — EXECUTED change-data-feed over the
  native commit-log table (``io/txlog.changes``, Delta
  ``table_changes`` semantics): append a base snapshot, run a COW MERGE
  carrying both updates and inserts, then read the row-level feed
  between the two versions — updates surface as delete(old)+insert(new),
  carried-over rows cancel, and only the symmetric difference of the
  snapshot file lists is ever read.  The external oracle re-derives the
  exact feed from the source table.
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
- ``dq_l_diversity`` — l-diversity per quasi-identifier class (the
  companion of ``dq_k_anonymity``): a class is safe only if its
  SENSITIVE attribute takes ≥ l distinct values, catching the
  homogeneous classes k-anonymity certifies.

All three carry full DuckDB oracles.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# evt_txlog_cdf_executed
# ---------------------------------------------------------------------------


def evt_txlog_cdf_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v1 = append of the event_id % 3 == 0 slice; v2 = MERGE whose
    source updates every event_id % 6 == 0 row (value + 100) and
    inserts the % 3 == 1 slice.  ``changes(1, 2)`` must therefore be
    exactly: inserts = the new slice + the updated row versions,
    deletes = the pre-update row versions — and nothing from the
    carried-over rows the COW rewrite copied.  Rolled up per
    (change_type, event_type) and value-hashed externally."""
    import shutil
    import tempfile

    from atd_data_lake_spark.io import txlog

    work = tempfile.mkdtemp(prefix="txlog_cdf_")
    try:
        table = f"{work}/tbl"
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        txlog.append(ev.filter(F.col("event_id") % 3 == 0), table,
                     commit_id="base")
        source = ev.filter(F.col("event_id") % 3 == 1).unionByName(
            ev.filter(F.col("event_id") % 6 == 0).withColumn(
                "value", F.col("value") + F.lit(100.0)
            )
        )
        txlog.merge(spark, table, source, on=["event_id"],
                    commit_id="upsert")
        feed = txlog.changes(spark, table, from_version=1, to_version=2)
        agg = (
            feed.groupBy(
                F.col("_change_type").alias("change_type"), "event_type"
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.round(
                    F.sum(F.col("value").cast("decimal(14,2)"))
                    .cast("double"),
                    2,
                ).alias("total_value"),
            )
            .orderBy("change_type", "event_type")
        )
        rows = agg.collect()  # materialize before the temp dir vanishes
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


EVT_TXLOG_CDF_SQL = """
WITH ins AS (
    SELECT event_type, value FROM events WHERE event_id % 3 = 1
    UNION ALL
    SELECT event_type, value + 100.0 FROM events WHERE event_id % 6 = 0
),
del AS (
    SELECT event_type, value FROM events WHERE event_id % 6 = 0
)
SELECT 'insert' AS change_type, event_type,
       count(*) AS n_rows,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_value
FROM ins GROUP BY event_type
UNION ALL
SELECT 'delete', event_type, count(*),
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
FROM del GROUP BY event_type
ORDER BY change_type, event_type
"""


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


# ---------------------------------------------------------------------------
# dq_l_diversity
# ---------------------------------------------------------------------------

_L_DIVERSITY = 3


def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity per quasi-identifier class (same QI grid as
    ``dq_k_anonymity``): class size, the number of DISTINCT sensitive
    values (o_custkey — the customer identity — as the sensitive attribute), a below-l flag, and the
    dataset-wide diversity floor — catches the homogeneous classes a
    pure size-based k-anonymity audit certifies as safe.

    100 TB shape: one partial-agg'd groupBy to the class grid with an
    exact distinct (two-phase), one broadcast floor join back.
    """
    o = _t(spark, sf_dir, "orders")
    classes = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        F.month("o_orderdate").alias("order_month"),
    ).agg(
        F.count("*").alias("class_size"),
        F.countDistinct("o_custkey").alias("n_sensitive"),
    )
    floor = classes.agg(F.min("n_sensitive").alias("diversity_level"))
    return (
        classes.crossJoin(F.broadcast(floor))
        .select(
            "priority",
            "status",
            "order_month",
            "class_size",
            "n_sensitive",
            (F.col("n_sensitive") < _L_DIVERSITY).alias("below_l"),
            "diversity_level",
        )
        .orderBy("priority", "status", "order_month")
    )


DQ_L_DIVERSITY_SQL = f"""
WITH classes AS (
    SELECT o_orderpriority AS priority,
           o_orderstatus AS status,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           count(*) AS class_size,
           count(DISTINCT o_custkey) AS n_sensitive
    FROM orders
    GROUP BY 1, 2, 3
),
floor_ AS (SELECT min(n_sensitive) AS diversity_level FROM classes)
SELECT priority, status, order_month,
       CAST(class_size AS BIGINT) AS class_size,
       CAST(n_sensitive AS BIGINT) AS n_sensitive,
       n_sensitive < {_L_DIVERSITY} AS below_l,
       CAST(diversity_level AS BIGINT) AS diversity_level
FROM classes, floor_
ORDER BY priority, status, order_month
"""


ROUND35_QUERIES = {
    "evt_txlog_cdf_executed": evt_txlog_cdf_executed,
    "text_bpe_apply": text_bpe_apply,
    "dq_l_diversity": dq_l_diversity,
}

ROUND35_ORACLES = {
    "evt_txlog_cdf_executed": EVT_TXLOG_CDF_SQL,
    "text_bpe_apply": TEXT_BPE_APPLY_SQL,
    "dq_l_diversity": DQ_L_DIVERSITY_SQL,
}
