"""Round-17 query additions: bounded-memory exact heavy hitters and
the INTERSECT/EXCEPT set-operation family.

- ``agg_heavy_hitters_mg`` — exact corpus-token heavy hitters (count >=
  n/200) via a two-pass Misra-Gries scheme: pass 1 runs an MG(k')
  summary PER PARTITION (bounded k'-counter state no matter how many
  distinct tokens stream through — the reason this survives 100 TB
  where a raw groupBy over an unbounded vocabulary spills), whose
  summed counts underestimate true counts by at most n/k'; every token
  whose summed MG count clears threshold − n/k' is a GUARANTEED
  superset of the true heavy hitters.  Pass 2 exact-recounts only the
  candidate set (a broadcast semi-join) and applies the exact
  threshold.  The output is therefore EXACT and partitioning-
  independent — which is what lets an approximate-sketch pipeline
  carry a plain SQL oracle (HAVING count(*) >= threshold).
- ``u4_intersect_except`` — retained / churned / new user cohorts
  between the first and last week of the event stream via the
  INTERSECT / EXCEPT operators (completes the §2.7 set family beside
  the union queries).  Oracle-backed.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# agg_heavy_hitters_mg
# ---------------------------------------------------------------------------

_MG_COUNTERS = 1024  # k': per-partition counter budget
_HH_DIVISOR = 200  # heavy = count >= n_tokens / 200


def _mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Mergeable Misra-Gries (Agarwal/Cormode et al.): each Arrow batch
    collapses to exact counts (vectorized value_counts), merges into the
    running k'-counter summary, and on overflow every counter drops by
    the (k'+1)-th largest value (zeros pruned).  Merged error stays
    <= n_seen / (k'+1) — the classic MG bound — with none of the
    per-token Python loop.  Emits (token, mg_count, n_seen) once per
    partition."""
    import numpy as np

    counters: dict[str, int] = {}
    n_seen = 0
    for pdf in batches:
        vc = pdf["token"].value_counts()
        n_seen += int(vc.sum())
        for tok, c in vc.items():
            counters[tok] = counters.get(tok, 0) + int(c)
        if len(counters) > _MG_COUNTERS:
            vals = np.fromiter(counters.values(), dtype=np.int64)
            # (k'+1)-th largest value
            v = int(np.partition(vals, len(vals) - _MG_COUNTERS - 1)[
                len(vals) - _MG_COUNTERS - 1
            ])
            counters = {k: c - v for k, c in counters.items() if c > v}
    yield pd.DataFrame(
        {
            "token": list(counters.keys()),
            "mg_count": list(counters.values()),
            "n_seen": [n_seen] * len(counters),
        }
    )


def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tokens with corpus frequency >= n/200, found with bounded
    per-partition state (see module docstring for the guarantee)."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    mg_schema = T.StructType(
        [
            T.StructField("token", T.StringType()),
            T.StructField("mg_count", T.LongType()),
            T.StructField("n_seen", T.LongType()),
        ]
    )
    summaries = toks.mapInPandas(_mg_partition, schema=mg_schema)
    # one extra action for the exact token total (the same 1-scalar
    # count-gate precedent as embedding_near_dups); at 100 TB this is a
    # metadata-cheap count over the pruned 1-column scan
    n_total = toks.count()
    threshold = n_total // _HH_DIVISOR
    slack = n_total // _MG_COUNTERS
    cands = (
        summaries.groupBy("token")
        .agg(F.sum("mg_count").alias("mg_sum"))
        .filter(F.col("mg_sum") >= F.lit(max(threshold - slack, 1)))
        .select("token")
    )
    exact = (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= F.lit(threshold))
    )
    return exact.orderBy(F.desc("n_occurrences"), "token")


AGG_HEAVY_HITTERS_MG_SQL = f"""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
clean AS (SELECT token FROM toks WHERE token <> ''),
total AS (SELECT count(*) AS n FROM clean)
SELECT token, count(*) AS n_occurrences
FROM clean
GROUP BY token
HAVING count(*) >= (SELECT n // {_HH_DIVISOR} FROM total)
ORDER BY n_occurrences DESC, token
"""


# ---------------------------------------------------------------------------
# u4_intersect_except — cohort set algebra
# ---------------------------------------------------------------------------


def u4_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retained / churned / new user cohorts between the stream's first
    and last 7 days, via the native INTERSECT / EXCEPT operators.

    Week bounds derive from the global min/max day (two scalar aggs
    folded into the filters).  Output: (cohort, user_id) — the set
    results themselves, with a deterministic label column.
    """
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    day = F.to_date("ts")
    w1 = ev.filter(day < F.date_add(F.lit(lo), 7)).select("user_id").distinct()
    w2 = ev.filter(day > F.date_sub(F.lit(hi), 7)).select("user_id").distinct()
    retained = w1.intersect(w2).select(F.lit("retained").alias("cohort"), "user_id")
    churned = w1.exceptAll(w2).select(F.lit("churned").alias("cohort"), "user_id")
    new = w2.exceptAll(w1).select(F.lit("new").alias("cohort"), "user_id")
    return retained.unionByName(churned).unionByName(new).orderBy(
        "cohort", "user_id"
    )


U4_INTERSECT_EXCEPT_SQL = """
WITH bounds AS (
    SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
    FROM events
),
w1 AS (
    SELECT DISTINCT user_id FROM events, bounds
    WHERE CAST(ts AS DATE) < lo + INTERVAL 7 DAY
),
w2 AS (
    SELECT DISTINCT user_id FROM events, bounds
    WHERE CAST(ts AS DATE) > hi - INTERVAL 7 DAY
)
SELECT 'retained' AS cohort, user_id FROM (SELECT user_id FROM w1 INTERSECT SELECT user_id FROM w2)
UNION ALL
SELECT 'churned', user_id FROM (SELECT user_id FROM w1 EXCEPT SELECT user_id FROM w2)
UNION ALL
SELECT 'new', user_id FROM (SELECT user_id FROM w2 EXCEPT SELECT user_id FROM w1)
ORDER BY cohort, user_id
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND17_QUERIES = {
    "agg_heavy_hitters_mg": agg_heavy_hitters_mg,
    "u4_intersect_except": u4_intersect_except,
}

ROUND17_ORACLES = {
    "agg_heavy_hitters_mg": AGG_HEAVY_HITTERS_MG_SQL,
    "u4_intersect_except": U4_INTERSECT_EXCEPT_SQL,
}
