"""Probabilistic membership / frequency sketches with EXACTLY
reproducible hashing — Bloom filter and count-min sketch built from
md5 double-hashing, so a SQL oracle can replay the identical bit
positions (the round-41 DDSketch trick extended from deterministic
bucketing to deterministic hashing).

Why these exist beside the exact operators:

- ``curation.decontaminate`` broadcasts the benchmark's DISTINCT
  shingle-hash set — 8 bytes per shingle, unbounded in the reference
  set's size.  Fine for an eval suite (thousands of docs); wrong when
  the "held-out" side is itself web-scale (dedup against a 10-billion-
  shingle reference corpus).  ``bloom_bitmap``/``bloom_probe`` replace
  the set with a CONSTANT-size bitmap (m bits chosen up front), the
  standard trade: membership becomes one-sided (false positives only
  ⇒ over-flagging, the conservative direction for decontamination),
  and the broadcast is 32 KB at m = 2¹⁸ regardless of the reference's
  cardinality.
- ``agg_heavy_hitters_mg`` (round 12) keeps exact-within-ε TOP items;
  a count-min sketch is the mergeable FREQUENCY table: d·w bounded
  counters answer "estimated count of ANY key" with est ≥ exact and
  ≤ exact + εN at 1−δ (Cormode & Muthukrishnan '05), the storable
  per-shard artifact that rolls up by cell-wise addition (same
  mergeability contract as the HLL and DDSketch rows).

Hashing: h1/h2 are the first/second 15 hex chars of md5(key) (60-bit
values, exact in BIGINT in both Spark and DuckDB), positions
p_i = (h1 + i·h2) mod m — Kirsch-Mitzenmacher double hashing, the
standard simulation of k independent hashes.  Everything is built-in
JVM expressions (md5/conv/substring/shift/bit_or): no Python UDFs.

Reference framing: the reference engine has no sketch layer at all —
its dedup/catalog presence checks are exact joins sized for nightly
batches (``atd_data_lake/core/catalog.py``); these operators are the
100 TB generalization of that membership contract.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

__all__ = [
    "bloom_positions_sql",
    "bloom_bitmap",
    "bloom_probe",
    "bloom_shingle_probe_counts",
    "cms_positions_sql",
    "cms_counters",
    "cms_estimate",
    "sketch_bucket_col",
    "sketch_quantile_cols",
]

_H1 = "CAST(conv(substring(md5({key}), 1, 15), 16, 10) AS BIGINT)"
_H2 = "CAST(conv(substring(md5({key}), 17, 15), 16, 10) AS BIGINT)"


def _h12(key_sql: str, m: int) -> tuple[str, str]:
    return (
        f"({_H1.format(key=key_sql)} % {m})",
        f"({_H2.format(key=key_sql)} % {m})",
    )


def bloom_positions_sql(key_sql: str, m: int, k: int) -> str:
    """SQL array expression of the k bit positions for a string key,
    p_i = (h1 + i·h2) mod m."""
    h1, h2 = _h12(key_sql, m)
    parts = ", ".join(f"({h1} + {i} * {h2}) % {m}" for i in range(k))
    return f"array({parts})"


def _array_lit(values: list[int]) -> Column:
    # F.lit(list) builds the array one py4j call PER ELEMENT (~2.3 s for
    # 4096 longs, measured r9); a numpy array ships as one literal (~3x
    # faster warm).  Fallback ladder: list lit (pyspark >= 3.4), then
    # the per-element array() that every version supports.
    try:
        return F.lit(np.asarray(values, dtype=np.int64))
    except Exception:  # pragma: no cover — older lit()
        try:
            return F.lit(values)
        except Exception:
            return F.array(*[F.lit(v) for v in values])


def bloom_bitmap(keys: DataFrame, key_col: str, m: int, k: int) -> list[int]:
    """Build the m-bit Bloom bitmap over a key column, returned as a
    driver-side list of m/64 longs (the broadcastable constant).

    Distributed build: positions explode map-side and ``bit_or`` packs
    them straight into ≤ m/64 (word, bits) rows — setting a bit twice
    is a no-op, so NO distinct pass is needed and the single exchange
    carries at most m/64 rows per task after partial aggregation.  The
    ONLY collect is that bounded word frame (4096 rows at m = 2¹⁸ by
    construction), never the keys.
    """
    if m % 64 != 0:
        raise ValueError(f"m must be a multiple of 64: {m}")
    words = (
        keys.select(
            F.explode(F.expr(bloom_positions_sql(key_col, m, k))).alias("p")
        )
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()
    )
    bitmap = [0] * (m // 64)
    for r in words:
        bitmap[r["w"]] = r["bits"]
    return bitmap


def bloom_probe(
    df: DataFrame,
    bitmap: list[int],
    key_sql: str,
    m: int,
    k: int,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """``df`` plus a boolean ``out_col``: all k bit positions of the
    key are set in the LITERAL bitmap — one array literal shipped once
    with the task closure, no join, no shuffle, no per-row Python.

    The arithmetic-shift sign case is safe: for bit 63 the word is
    negative, ``shiftright`` sign-extends the HIGH bits, and ``& 1``
    reads bit 0 of the shifted value, which is the probed bit.
    """
    tmp = "_bloom_bits"
    tests = []
    for i in range(k):
        p = f"((_bh1 + {i} * _bh2) % {m})"
        tests.append(
            f"(shiftright(element_at({tmp}, CAST({p} / 64 AS INT) + 1), "
            f"CAST({p} % 64 AS INT)) & 1) = 1"
        )
    # md5 computed ONCE per row; h1/h2 parse substrings of that column
    return (
        df.withColumn(tmp, _array_lit(bitmap))
        .withColumn("_bmd5", F.expr(f"md5({key_sql})"))
        .withColumn(
            "_bh1",
            F.expr(
                f"CAST(conv(substring(_bmd5, 1, 15), 16, 10) AS BIGINT)"
                f" % {m}"
            ),
        )
        .withColumn(
            "_bh2",
            F.expr(
                f"CAST(conv(substring(_bmd5, 17, 15), 16, 10) AS BIGINT)"
                f" % {m}"
            ),
        )
        .withColumn(out_col, F.expr(" AND ".join(tests)))
        .drop(tmp, "_bmd5", "_bh1", "_bh2")
    )


def bloom_shingle_probe_counts(
    df: DataFrame,
    bitmap: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m: int = 1 << 18,
    k: int = 3,
) -> DataFrame:
    """FUSED shingle → Bloom-probe → per-doc count in ONE Arrow stage:
    (id, n_shingles, n_flagged) with one row per doc that has ≥ n
    tokens.  The r8 verdict's wave-fusion ask for the decontamination
    hot path: the unfused pipeline (``shingle_string_rows`` → persist →
    ``bloom_probe`` → groupBy(doc_id)) pays a cache materialization, an
    exploded row per shingle, and a full per-shingle shuffle back into
    doc groups — all to compute a per-doc counter the shingling stage
    already knows.  Here each doc is wholly inside one pandas batch, so
    the probe result aggregates in-batch and NOTHING is exploded or
    shuffled (callers add only their final presentation sort).

    Hash parity: identical to ``bloom_positions_sql`` —
    h1/h2 = int(md5(shingle)[1..15] / [17..31], 16) mod m (hex chars,
    1-indexed as in SQL ``substring``), p_i = (h1 + i·h2) mod m —
    ``hashlib.md5`` and the JVM/DuckDB ``md5`` agree byte-for-byte on
    UTF-8 input, so a SQL oracle replays the same bits.

    100 TB shape: the bitmap is a 32 KB closure constant (m = 2¹⁸); the
    corpus streams through map-side Arrow batches and emits one 24-byte
    row per DOC (not per shingle).  Python-side md5 costs ~2 µs/shingle
    — measured subordinate to the scan at sf0.1×10 (SCALE.md r9).
    """
    if m % 64 != 0:
        raise ValueError(f"m must be a multiple of 64: {m}")
    # non-negative Python ints: bit 63 arrives sign-extended from the JVM
    words = [w & 0xFFFFFFFFFFFFFFFF for w in bitmap]
    from atd_data_lake_spark.operators.dedup import _doc_shingles
    from atd_data_lake_spark.operators.scale import fan_out

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_shingles", T.LongType()),
            T.StructField("n_flagged", T.LongType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        from_bytes = int.from_bytes
        for pdf in batches:
            ids: list = []
            n_sh: list[int] = []
            n_fl: list[int] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sh = _doc_shingles(text, n)
                if not sh:
                    continue
                flagged = 0
                for s in sh:
                    # digest[:8] >> 4 == int(hexdigest[:15], 16); the
                    # byte path skips the hex round-trip (~2x faster)
                    dg = md5(s.encode("utf-8")).digest()
                    h1 = (from_bytes(dg[:8], "big") >> 4) % m
                    h2 = (from_bytes(dg[8:16], "big") >> 4) % m
                    for i in range(k):
                        p = (h1 + i * h2) % m
                        if not (words[p >> 6] >> (p & 63)) & 1:
                            break
                    else:
                        flagged += 1
                ids.append(did)
                n_sh.append(len(sh))
                n_fl.append(flagged)
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.array(ids),
                        "n_shingles": np.array(n_sh, dtype=np.int64),
                        "n_flagged": np.array(n_fl, dtype=np.int64),
                    }
                )

    return fan_out(df).select(id_col, text_col).mapInPandas(op, schema=out_schema)


def cms_positions_sql(key_sql: str, w: int, d: int) -> str:
    """SQL array of d struct(r, p) cells for a string key: row j probes
    p_j = (h1 + (j+1)·h2) mod w (offset by 1 so Bloom and CMS positions
    for the same key differ)."""
    h1, h2 = _h12(key_sql, w)
    parts = ", ".join(
        f"struct(CAST({j} AS INT) AS r, "
        f"CAST(({h1} + {j + 1} * {h2}) % {w} AS INT) AS p)"
        for j in range(d)
    )
    return f"array({parts})"


def cms_counters(keys: DataFrame, key_col: str, w: int, d: int) -> DataFrame:
    """The d×w count-min counter table as (r, p, cnt) rows — ONE
    map-side-combined aggregate over the stream (each input row emits d
    cells; partial aggregation collapses them to ≤ d·w rows per task
    before the shuffle), mergeable by cell-wise addition."""
    return (
        keys.select(F.explode(F.expr(cms_positions_sql(key_col, w, d))).alias("c"))
        .groupBy(F.col("c.r").alias("r"), F.col("c.p").alias("p"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_estimate(
    probes: DataFrame,
    counters: DataFrame,
    key_col: str,
    w: int,
    d: int,
) -> DataFrame:
    """Estimated count per probe key: min over the d counter cells the
    key hashes to.  The counter table (≤ d·w rows by construction) is
    broadcast; the probe side explodes ×d and never shuffles beyond
    the final per-key min-groupBy.

    LEFT join + coalesce-to-0: a probe key the build never touched has
    empty cells, and CMS's answer for it is 0 — an inner join would
    silently drop it (or, worse, min over only its COLLIDING cells and
    over-estimate).  Matters exactly when the probe side is a
    watchlist rather than the build's own key census (r8 review)."""
    cells = probes.select(
        key_col,
        F.explode(F.expr(cms_positions_sql(key_col, w, d))).alias("c"),
    ).select(key_col, F.col("c.r").alias("r"), F.col("c.p").alias("p"))
    return (
        cells.join(F.broadcast(counters), ["r", "p"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est_count")
        )
    )


# DDSketch (Masson et al., VLDB'19): log-gamma buckets with relative
# accuracy alpha.  The bucket function is deterministic, so the sketch
# CONTENTS are SQL-reproducible (the oracles replay ceil(ln(v)/ln gamma)).
_SK_ALPHA = 0.01
_SK_GAMMA = (1.0 + _SK_ALPHA) / (1.0 - _SK_ALPHA)  # exact double, both engines
_SK_QUANTILES = (("p50", 0.50), ("p95", 0.95), ("p99", 0.99))


def sketch_bucket_col(value: Column, gamma: float = _SK_GAMMA) -> Column:
    """DDSketch bucket id ceil(ln(v)/ln gamma) of a positive value."""
    return F.ceil(F.log(value) / F.lit(math.log(gamma))).cast("int")


def sketch_quantile_cols(
    quantiles: tuple[tuple[str, float], ...] = _SK_QUANTILES,
    gamma: float = _SK_GAMMA,
) -> list[Column]:
    """Quantile estimates off merged (bucket, cnt) rows grouped by the
    window key, given their ``cum`` (running count in bucket order) and
    ``total`` columns: for rank r_q = ceil(q·total), the estimate is
    2·γ^b/(γ+1) at the smallest bucket whose cumulative count reaches
    r_q.  Implemented as min-over-conditional so all quantiles come out
    of ONE cumulative pass."""
    cols = []
    for name, q in quantiles:
        b_q = F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(q) * F.col("total")), F.col("bucket")
            )
        )
        cols.append(
            F.round(
                2.0
                * F.pow(F.lit(gamma), b_q.cast("double"))
                / F.lit(gamma + 1.0),
                6,
            ).alias(name)
        )
    return cols
