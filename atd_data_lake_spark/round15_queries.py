"""Round-15 query additions: window-frame completeness, behavioral
entropy and a compression-ratio quality signal (the round's Pareto
concentration query, ``olap_pareto_8020``, lives in ``tpch_queries``).

- ``w4_value_frames`` — the remaining window-function family members:
  ``nth_value``, ``first_value``/``last_value`` over explicit ROWS
  frames, and a RANGE-frame count over a µs time axis.  Positional
  functions run over a UNIQUE total order (ts, event_id) so ties cannot
  leak; the RANGE frame is used only for count, which is tie-order
  insensitive.  Oracle-backed.
- ``evt_user_entropy`` — Shannon entropy of each user's event-type mix
  (behavioral predictability): H = ln(T) − (Σ c·ln c)/T with the
  float-log terms rounded then DECIMAL-summed (the text_token_entropy
  discipline) so the aggregate is order-invariant and engine-exact.
  Oracle-backed.
- ``text_compression_ratio`` — zlib-level-6 compressibility per source
  (the classic boilerplate/repetition quality signal: low ratio =
  highly redundant text).  Deterministic for a fixed zlib, but not
  SQL-expressible — rows-only with stability + monotonicity tests in
  ``tests/test_round15.py``.  Arrow-batched; only (source, 2 ints) per
  doc ever shuffles.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# w4_value_frames — nth_value / first_value / last_value / RANGE count
# ---------------------------------------------------------------------------


def w4_value_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value-positional window sweep over (ts, event_id) order:
    previous-2nd value (nth_value over a trailing 3-row frame), session
    anchor (first_value), trailing 3-row last_value, and the count of
    events in the preceding 5 minutes (RANGE over epoch-µs — count is
    tie-insensitive, so the non-unique time axis is safe).

    One window partition (user) serves all four frames — a single
    exchange + sort in the plan.

    The window math runs on decimal(12,2) (exact), but the OUTPUT
    columns are cast to double on both sides: the driver hasher renders
    DuckDB DECIMAL via pandas float64 ("31.4"/NaN) unlike Spark's
    collected Decimal("31.40")/None, so DecimalType outputs hash-
    mismatch even when bit-identical (the r05 red row).  Values are
    exact 2-decimal quantities, so the double cast is lossless.
    """
    from pyspark.sql import Window
    from atd_data_lake_spark.functions.datetime_fns import as_instant

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(as_instant(ev, "ts"))
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").cast("decimal(12,2)").alias("v"),
        us.alias("_us"),
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, -1)
    )
    w_anchor = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("_us")
        .rangeBetween(-300_000_000, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        F.nth_value("v", 2).over(w_rows).cast("double").alias("nth2_prev3"),
        F.first("v").over(w_anchor).cast("double").alias("first_seen_value"),
        F.last("v").over(w_rows).cast("double").alias("last_of_prev3"),
        F.count("*").over(w_range).alias("n_5min"),
    ).orderBy("event_id")


W4_VALUE_FRAMES_SQL = """
SELECT event_id, user_id,
       CAST(nth_value(v, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
         AS DOUBLE) AS nth2_prev3,
       CAST(first_value(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         AS first_seen_value,
       CAST(last_value(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
         AS DOUBLE) AS last_of_prev3,
       count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
         AS n_5min
FROM (SELECT event_id, user_id, ts, CAST(value AS DECIMAL(12,2)) AS v
      FROM events)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# evt_user_entropy — behavioral-mix Shannon entropy per user
# ---------------------------------------------------------------------------


def evt_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type entropy (nats): H = ln(T) − (Σ c·ln c)/T.

    Counts are exact; each c·ln c rounds to 9 decimals and sums as
    DECIMAL (order-invariant), so the only engine-dependent float op is
    the per-row ln — identical libm input → identical output, and the
    round-9 guard absorbs any last-ulp drift.  Two aggs: (user, type)
    counts, then per-user entropy.
    """
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    term = F.round(F.col("c") * F.log(F.col("c")), 9).cast("decimal(28,9)")
    agg = counts.groupBy("user_id").agg(
        F.sum("c").alias("t"),
        F.count("*").alias("n_types"),
        F.sum(term).alias("_clnc"),
    )
    h = F.log(F.col("t").cast("double")) - F.col("_clnc").cast("double") / F.col(
        "t"
    )
    return agg.select(
        "user_id",
        F.col("t").alias("n_events"),
        "n_types",
        F.round(h, 6).alias("entropy_nats"),
    ).orderBy("user_id")


EVT_USER_ENTROPY_SQL = """
WITH counts AS (
    SELECT user_id, event_type, count(*) AS c
    FROM events GROUP BY 1, 2
),
agg AS (
    SELECT user_id, sum(c) AS t, count(*) AS n_types,
           sum(CAST(round(c * ln(c), 9) AS DECIMAL(28,9))) AS _clnc
    FROM counts GROUP BY 1
)
SELECT user_id, CAST(t AS BIGINT) AS n_events, n_types,
       round(ln(CAST(t AS DOUBLE)) - CAST(_clnc AS DOUBLE) / t, 6)
         AS entropy_nats
FROM agg
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# text_compression_ratio — zlib compressibility quality signal (rows-only)
# ---------------------------------------------------------------------------

_ZLIB_LEVEL = 6


def compression_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, raw_bytes, zlib_bytes) per document — Arrow-batched;
    the text column never survives past the map stage."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("raw_bytes", T.LongType()),
            T.StructField("zlib_bytes", T.LongType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": [len(b) for b in raw],
                    "zlib_bytes": [
                        len(zlib.compress(b, _ZLIB_LEVEL)) for b in raw
                    ],
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(op, schema=out_schema)


def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source zlib-compressibility summary: mean ratio, min/max,
    and the count of highly-redundant docs (ratio < 0.4 — near-dup
    boilerplate suspects).  Ratio = zlib_bytes / raw_bytes, rounded 6
    per doc before the decimal-sum mean so the aggregate is
    order-invariant."""
    d = _t(spark, sf_dir, "documents")
    prof = compression_profile(d).join(
        d.select("doc_id", "source"), "doc_id"
    )
    ratio = F.round(
        F.col("zlib_bytes") / F.greatest(F.col("raw_bytes"), F.lit(1)), 6
    )
    per_doc = prof.select(
        "source", ratio.alias("r").cast("decimal(12,6)").alias("r")
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(
            (F.sum("r") / F.count("*")).cast("double"), 6
        ).alias("mean_ratio"),
        F.min("r").cast("double").alias("min_ratio"),
        F.max("r").cast("double").alias("max_ratio"),
        F.sum(
            F.when(F.col("r") < F.lit(0.4).cast("decimal(12,6)"), 1).otherwise(0)
        ).alias("n_redundant"),
    )
    return agg.orderBy("source")


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND15_QUERIES = {
    "w4_value_frames": w4_value_frames,
    "evt_user_entropy": evt_user_entropy,
    # rows-only
    "text_compression_ratio": text_compression_ratio,
}

ROUND15_ORACLES = {
    "w4_value_frames": W4_VALUE_FRAMES_SQL,
    "evt_user_entropy": EVT_USER_ENTROPY_SQL,
}
