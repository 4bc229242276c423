"""Round-13 query additions: time-series diagnostics, feature hashing,
exact higher moments, and two rows-only scale ops (perceptual-hash
media dedup, product quantization).  The round's graph topology queries
live in ``graph_queries`` and its column-uniqueness profile
(``dq_uniqueness``) in ``dq_queries``.

Oracle-backed (DuckDB value-hash):

- ``ts_autocorr`` — lag-1 / lag-7 autocorrelation of the daily event
  count per event type, as the Pearson correlation of (c_t, c_{t-k})
  pairs over integer sums: exact until the final divide (the
  evt_value_correlation discipline), so round(6) hash-matches.
- ``evt_hourly_seasonality`` — (day-of-week, hour) load profile with
  each cell's share of its day-of-week total: the ratio-to-parent
  rollup shape (Sunday=0, the reference's DOW convention).
- ``evt_burstiness`` — per-type Fano factor and Goh-Barabasi
  burstiness over fixed one-minute bins spanning the table's full time
  range (empty bins count): integer bin counts -> exact sums -> one
  final double expression.
- ``text_hashing_tf`` — 256-bucket feature-hashing histogram over the
  corpus vocabulary (bucket = first 8 md5 hex digits mod 256): total
  term frequency, distinct tokens (collision load) per bucket.  The
  portable-hash trick: md5 is identical on both engines where their
  native hash functions are not.
- ``stats_moments`` — per-returnflag skewness and excess kurtosis of
  l_extendedprice from exact decimal power sums (sum x..x^4): the
  higher-moment family, bit-stable because only the last expression
  leaves decimal.

Rows-only (no SQL oracle is possible; stability + property tests in
``tests/test_round13.py``):

- ``mm_image_phash`` — 64-bit average-hash over (stub-)decoded media
  bytes, then Hamming<=3 near-dup pairs via 4x16-bit band equi-join
  (pigeonhole: distance <=3 guarantees >=1 intact band), exact Hamming
  re-check on candidates only.  The image-dedup twin of the SimHash
  text path: no all-pairs comparison anywhere.
- ``emb_pq_codes`` — 8x8 product quantization of the embedding corpus
  with a deterministic bounded-sample k-means codebook per subspace;
  emits per-vector codes + round-6 reconstruction error.  The
  compressed-domain representation an ANN index stores at 100 TB.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atd_data_lake_spark.functions.money import D2
from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.sim_queries import VECTORS_CTE, load_model, pq_encode, pq_sql


# ---------------------------------------------------------------------------
# ts_autocorr — lagged Pearson autocorrelation of daily counts
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 7)


def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 / lag-7 autocorrelation of the per-type daily event count,
    as Pearson correlation over (c_t, c_{t-lag}) pairs.

    Counts are integers, so every sum in the correlation is exact; one
    final double expression, round(6).  The lag alignment is a window
    ``lag`` over (type, day) — one shuffle on event_type for series
    whose length is |days|, then a per-type agg.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("c"))

    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        F.col("c").alias("x"),
        *[F.lag("c", k).over(w).alias(f"y{k}") for k in _ACF_LAGS],
    )
    # stack the lag columns so BOTH series aggregate in one pass over
    # one shuffle (not a per-lag re-scan)
    stacked = (
        lagged.select(
            "event_type",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"),
                            F.col("x").cast("long").alias("x"),
                            F.col(f"y{k}").cast("long").alias("y"),
                        )
                        for k in _ACF_LAGS
                    ]
                )
            ).alias("p"),
        )
        .select("event_type", "p.lag", "p.x", "p.y")
        .filter(F.col("y").isNotNull())
    )
    agg = stacked.groupBy("event_type", "lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt((n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy))
    return agg.select(
        "event_type",
        "lag",
        n.cast("long").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    ).orderBy("event_type", "lag")


TS_AUTOCORR_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
    FROM events GROUP BY 1, 2
),
lagged AS (
    SELECT event_type, c AS x,
           lag(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS y1,
           lag(c, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7
    FROM daily
),
stacked AS (
    SELECT event_type, 1 AS lag, x, y1 AS y FROM lagged WHERE y1 IS NOT NULL
    UNION ALL
    SELECT event_type, 7, x, y7 FROM lagged WHERE y7 IS NOT NULL
),
agg AS (
    SELECT event_type, lag,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(x) AS DOUBLE) AS sx,
           CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(x * x) AS DOUBLE) AS sxx,
           CAST(sum(y * y) AS DOUBLE) AS syy,
           CAST(sum(x * y) AS DOUBLE) AS sxy
    FROM stacked GROUP BY 1, 2
)
SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf
FROM agg
ORDER BY event_type, lag
"""


# ---------------------------------------------------------------------------
# evt_hourly_seasonality — (dow, hour) load profile, ratio to parent
# ---------------------------------------------------------------------------


def evt_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day-of-week, hour) event counts plus each hour's share of its
    day-of-week total (Sunday = 0, the reference's DOW convention —
    functions/datetime_fns.py date_parts).

    One agg to the 7x24 grid, then a window sum over dow for the parent
    total — no second scan, no join.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    grid = ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hour"),
    ).agg(F.count("*").alias("n_events"))
    tot = F.sum("n_events").over(Window.partitionBy("dow"))
    return grid.select(
        "dow",
        "hour",
        "n_events",
        F.round(F.col("n_events") / tot, 6).alias("share_of_dow"),
    ).orderBy("dow", "hour")


EVT_HOURLY_SEASONALITY_SQL = """
WITH grid AS (
    SELECT dayofweek(ts) AS dow, hour(ts) AS hour, count(*) AS n_events
    FROM events GROUP BY 1, 2
)
SELECT dow, hour, n_events,
       round(n_events / CAST(sum(n_events) OVER (PARTITION BY dow) AS DOUBLE),
             6) AS share_of_dow
FROM grid
ORDER BY dow, hour
"""


# ---------------------------------------------------------------------------
# evt_burstiness — Fano factor + burstiness over fixed minute bins
# ---------------------------------------------------------------------------


def evt_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Fano factor (var/mean of the one-minute arrival count)
    and Goh-Barabasi burstiness (sigma-mu)/(sigma+mu), over the FIXED
    minute grid spanning the whole table (empty minutes count: their
    zero terms are handled arithmetically — sums over observed bins,
    divided by the global bin count — so no grid materializes).

    Integer sums per (type, minute), one 1-row global-span broadcast,
    one final double expression, round(6).
    """
    from atd_data_lake_spark.functions.datetime_fns import as_instant

    ev = _t(spark, sf_dir, "events")
    minute = F.floor(as_instant(ev, "ts").cast("double") / 60.0).cast("long")
    per_bin = ev.select(
        "event_type", minute.alias("m")
    ).groupBy("event_type", "m").agg(F.count("*").alias("c"))

    span = per_bin.agg(
        (F.max("m") - F.min("m") + 1).cast("double").alias("n_bins")
    )
    sums = per_bin.groupBy("event_type").agg(
        F.sum("c").cast("double").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("s2"),
        F.count("*").alias("n_nonempty"),
    )
    j = sums.crossJoin(F.broadcast(span))
    mean = F.col("s1") / F.col("n_bins")
    var = F.col("s2") / F.col("n_bins") - mean * mean
    sigma = F.sqrt(var)
    return j.select(
        "event_type",
        F.col("s1").cast("long").alias("n_events"),
        "n_nonempty",
        F.round(var / mean, 6).alias("fano"),
        F.round((sigma - mean) / (sigma + mean), 6).alias("burstiness"),
    ).orderBy("event_type")


EVT_BURSTINESS_SQL = """
WITH per_bin AS (
    SELECT event_type, CAST(floor(epoch(ts) / 60.0) AS BIGINT) AS m,
           count(*) AS c
    FROM events GROUP BY 1, 2
),
span AS (
    SELECT CAST(max(m) - min(m) + 1 AS DOUBLE) AS n_bins FROM per_bin
),
sums AS (
    SELECT event_type,
           CAST(sum(c) AS DOUBLE) AS s1,
           CAST(sum(c * c) AS DOUBLE) AS s2,
           count(*) AS n_nonempty
    FROM per_bin GROUP BY 1
)
SELECT event_type,
       CAST(s1 AS BIGINT) AS n_events,
       n_nonempty,
       round((s2 / n_bins - (s1 / n_bins) * (s1 / n_bins))
             / (s1 / n_bins), 6) AS fano,
       round((sqrt(s2 / n_bins - (s1 / n_bins) * (s1 / n_bins)) - s1 / n_bins)
             / (sqrt(s2 / n_bins - (s1 / n_bins) * (s1 / n_bins)) + s1 / n_bins),
             6) AS burstiness
FROM sums, span
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# text_hashing_tf — portable-hash feature bucketing (hashing trick)
# ---------------------------------------------------------------------------

_HTF_BUCKETS = 256


def text_hashing_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-bucket feature-hash histogram of the corpus: per bucket the
    total term frequency and the distinct-token collision load.

    Bucket = (first 8 md5 hex digits as uint) mod 256 — md5 because it
    is the hash both engines (and any other engine a vector pipeline
    might hand vectors to) compute identically; Spark's xxhash64 and
    DuckDB's hash() do not agree.  In the library form the per-doc
    sparse vector is (doc_id, bucket, tf); the registered projection
    aggregates to the bucket histogram so the result is small and
    stable at any scale.

    Plan: tokenize (split on ' ', the corpus tokenizer convention),
    JVM-side md5+conv — no Python stage — one agg.
    """
    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
        % _HTF_BUCKETS
    )
    return (
        toks.select(bucket.alias("bucket"), "token")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("tf_total"),
            F.countDistinct("token").alias("n_tokens"),
        )
        .orderBy("bucket")
    )


TEXT_HASHING_TF_SQL = f"""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % {_HTF_BUCKETS}
            AS BIGINT) AS bucket,
       count(*) AS tf_total,
       count(DISTINCT token) AS n_tokens
FROM toks
WHERE token <> ''
GROUP BY 1
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# stats_moments — exact-decimal skewness / kurtosis
# ---------------------------------------------------------------------------


def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag skewness and excess kurtosis of l_extendedprice.

    The a1/correlation discipline extended to 3rd/4th powers: prices
    are exact 2-decimal values, so Σx..Σx⁴ accumulate as decimals
    (x⁴ ≤ 10²⁰ with 8 fractional digits — decimal(38,8) holds ~10³⁰ of
    headroom, enough for ~10¹⁰ rows); central moments and the
    standardized ratios are one final double expression, round(6).
    Spark's built-in skewness/kurtosis are float-streamed and
    order-dependent — useless for cross-engine hashing.
    """
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast(D2)
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("s1"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("s2"),
        F.sum(
            ((x * x).cast("decimal(38,4)") * x).cast("decimal(38,6)")
        ).cast("double").alias("s3"),
        F.sum(
            (
                (x * x).cast("decimal(38,4)") * (x * x).cast("decimal(38,4)")
            ).cast("decimal(38,8)")
        ).cast("double").alias("s4"),
    )
    n = F.col("n")
    m = F.col("s1") / n
    r2 = F.col("s2") / n
    r3 = F.col("s3") / n
    r4 = F.col("s4") / n
    m2 = r2 - m * m
    m3 = r3 - F.lit(3.0) * m * r2 + F.lit(2.0) * m * m * m
    m4 = (
        r4
        - F.lit(4.0) * m * r3
        + F.lit(6.0) * m * m * r2
        - F.lit(3.0) * m * m * m * m
    )
    return agg.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        F.round(m, 6).alias("mean_price"),
        F.round(F.sqrt(m2), 6).alias("std_price"),
        F.round(m3 / F.pow(F.sqrt(m2), F.lit(3.0)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


STATS_MOMENTS_SQL = """
WITH agg AS (
    SELECT l_returnflag,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(x) AS DOUBLE) AS s1,
           CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS s2,
           CAST(sum(CAST(CAST(x * x AS DECIMAL(38,4)) * x AS DECIMAL(38,6)))
                AS DOUBLE) AS s3,
           CAST(sum(CAST(CAST(x * x AS DECIMAL(38,4))
                         * CAST(x * x AS DECIMAL(38,4)) AS DECIMAL(38,8)))
                AS DOUBLE) AS s4
    FROM (SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS x
          FROM lineitem)
    GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round(s1 / n, 6) AS mean_price,
       round(sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS std_price,
       round((s3 / n - 3.0 * (s1 / n) * (s2 / n)
              + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(sqrt(s2 / n - (s1 / n) * (s1 / n)), 3.0), 6) AS skewness,
       round((s4 / n - 4.0 * (s1 / n) * (s3 / n)
              + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / ((s2 / n - (s1 / n) * (s1 / n))
                * (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 6)
         AS excess_kurtosis
FROM agg
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# mm_image_phash — average-hash near-dup pairs (rows-only)
# ---------------------------------------------------------------------------

_PH_BANDS = 4  # 4 x 16-bit bands: Hamming <= 3 pigeonholes into >= 1 band
_PH_MAX_HAMMING = 3


def _ahash64(payload: bytes) -> int:
    """64-bit average hash of a (stub-)decoded 8x8 luma grid.

    The decode is the documented codec boundary (operators/multimodal.py
    fake_decode): 64 deterministic 'pixels' derive from the sha256
    stream of the payload (h1 = sha256(payload); h2 = sha256 of h1's
    hex rendering — the hex-chain form both engines can compute, since
    DuckDB's sha256 is VARCHAR-only); bit i = pixel_i > mean.  Swapping
    in a real decoder (PIL -> grayscale -> 8x8 resize) changes nothing
    downstream.
    """
    import hashlib

    if payload is None:
        return 0
    h1 = hashlib.sha256(payload).hexdigest()
    h2 = hashlib.sha256(h1.encode("ascii")).hexdigest()
    px = np.frombuffer(bytes.fromhex(h1 + h2), dtype=np.uint8).astype(np.float64)
    bits = px > px.mean()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    # two's-complement into int64 range
    return out - (1 << 64) if out >= (1 << 63) else out


def media_phash(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(media_id, phash) — Arrow-batched; payloads never shuffle (the
    hash column replaces them before any exchange)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("phash", T.LongType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "phash": [_ahash64(p) for p in pdf[payload_col]],
                }
            )

    return media.select(id_col, payload_col).mapInPandas(op, schema=out_schema)


def phash_near_dups(
    hashes: DataFrame,
    max_hamming: int = _PH_MAX_HAMMING,
    id_col: str = "media_id",
) -> DataFrame:
    """Hamming<=k pairs via banded equi-join: split the 64-bit hash into
    4 16-bit bands; d(a,b) <= 3 => at least one band matches exactly
    (pigeonhole), so candidates come from 4 equi-joins — never an
    all-pairs scan.  Exact popcount re-check on candidates only, JVM-side
    (bit_count on xor).  Output: (id_a, id_b, hamming), id_a < id_b.
    """
    bands = hashes.select(
        id_col,
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(_PH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "phash", "bk.band", "bk.key")
    l = bands.select(
        F.col("band"), F.col("key"), F.col(id_col).alias("id_a"), F.col("phash").alias("ha")
    )
    r = bands.select(
        F.col("band"), F.col("key"), F.col(id_col).alias("id_b"), F.col("phash").alias("hb")
    )
    cand = (
        l.join(r, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: documents as media payloads (doubled with a
    deterministic duplicate cohort: every doc_id % 50 == 0 gets a
    byte-identical twin at id+10_000_000, so real near-dup pairs exist),
    hash, banded near-dup join.  Output: (id_a, id_b, hamming).

    UPGRADED r7 from rows-only to a full driver value-hash oracle: the
    stub decode is a sha256 hex chain (``_ahash64``) both engines
    compute bit-identically — DuckDB re-derives every 64-bit hash from
    ``sha256(text) || sha256(sha256(text))`` and checks the pair set by
    exact all-pairs popcount (fine at oracle scale; the Spark side keeps
    the banded pigeonhole join that scales).
    """
    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    twins = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    hashes = media.unionByName(twins)
    return phash_near_dups(media_phash(hashes))


MM_IMAGE_PHASH_SQL = f"""
WITH media AS (
    SELECT doc_id AS media_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS media_id, text FROM documents
    WHERE doc_id % 50 = 0
),
hx AS (
    SELECT media_id, sha256(text) || sha256(sha256(text)) AS hex128
    FROM media
),
px AS (
    SELECT media_id, i, ('0x' || substr(hex128, 2*i + 1, 2))::BIGINT AS p
    FROM hx, (SELECT unnest(range(64)) AS i)
),
tot AS (SELECT media_id, sum(p) AS s FROM px GROUP BY media_id),
bits AS (
    SELECT px.media_id, i,
           CASE WHEN p * 64 > s THEN 1::HUGEINT ELSE 0::HUGEINT END AS b
    FROM px JOIN tot USING (media_id)
),
packed AS (
    SELECT media_id, sum(b * (1::HUGEINT << (63 - i))) AS u
    FROM bits GROUP BY media_id
),
ph AS (
    SELECT media_id,
           (CASE WHEN u >= 1::HUGEINT << 63
                 THEN u - (1::HUGEINT << 64) ELSE u END)::BIGINT AS phash
    FROM packed
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM ph a JOIN ph b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PH_MAX_HAMMING}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# emb_pq_codes — deterministic product quantization (rows-only)
# ---------------------------------------------------------------------------

_PQ_SUBSPACES = 8
_PQ_CODES = 16
_PQ_TRAIN_SAMPLE = 2048
_PQ_ITERS = 10


def _pq_codebooks(sample: np.ndarray, dim: int) -> np.ndarray:
    """Deterministic per-subspace k-means codebooks.

    shape (S, K, dim/S).  Init = the K points of the (vec_id-sorted)
    sample at evenly spaced ranks of the subvector's first-component
    order (stable argsort), then _PQ_ITERS Lloyd rounds in float64 with
    empty-cluster carry-over — every step order-deterministic, so the
    codebook (and hence every code) is reproducible across runs,
    partitionings, and hosts.
    """
    sub_d = dim // _PQ_SUBSPACES
    books = np.zeros((_PQ_SUBSPACES, _PQ_CODES, sub_d))
    for s in range(_PQ_SUBSPACES):
        X = sample[:, s * sub_d : (s + 1) * sub_d]
        order = np.argsort(X[:, 0], kind="stable")
        idx = order[
            np.linspace(0, len(X) - 1, _PQ_CODES).round().astype(int)
        ]
        C = X[idx].copy()
        for _ in range(_PQ_ITERS):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(_PQ_CODES):
                pts = X[assign == k]
                if len(pts):
                    C[k] = pts.mean(axis=0)
        books[s] = C
    return books


def emb_pq_codes_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector PQ codes (8 subspaces x 16 centroids) + round-6
    reconstruction MSE — the PRODUCTION trained path (Lloyd-iterated
    codebooks; exercised by the determinism/beats-baseline pytest gates;
    the registered ``emb_pq_codes`` query is the model-injected
    oracle-checked twin below).

    Codebooks train on a BOUNDED deterministic sample (first 2048
    vec_ids — one limit-collect, independent of corpus size) and ship to
    executors inside the mapInPandas closure; encoding is a full-corpus
    Arrow-batched pass with zero shuffle.  The 100 TB shape: train small
    on the driver, encode wide on executors — the same split every IVF
    / PQ index build uses.
    """
    e = _t(spark, sf_dir, "embeddings")
    sample_rows = (
        e.orderBy("vec_id").select("embedding").limit(_PQ_TRAIN_SAMPLE).collect()
    )
    sample = np.array([r[0] for r in sample_rows], dtype=np.float64)
    dim = sample.shape[1]
    books = _pq_codebooks(sample, dim)
    sub_d = dim // _PQ_SUBSPACES

    out_schema = T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [
            T.StructField(f"c{s}", T.IntegerType())
            for s in range(_PQ_SUBSPACES)
        ]
        + [T.StructField("recon_mse", T.DoubleType())]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = {"vec_id": pdf["vec_id"]}
            err = np.zeros(len(X))
            for s in range(_PQ_SUBSPACES):
                Xs = X[:, s * sub_d : (s + 1) * sub_d]
                d2 = ((Xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                code = d2.argmin(axis=1)
                out[f"c{s}"] = code.astype(np.int32)
                err += d2[np.arange(len(X)), code]
            out["recon_mse"] = np.round(err / dim, 6)
            yield pd.DataFrame(out)

    return e.select("vec_id", "embedding").mapInPandas(op, schema=out_schema)


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-injected PQ encoding — UPGRADED r7 from rows-only to a full
    driver value-hash oracle (the ``ivf_topk_model`` recipe): the
    codebook for subspace ``s`` is the ``s``-th 8-dim slice of the 16
    lowest-vec_id embeddings (code = id-order rank 0..15), and every
    nearest-code decision uses the 6-dp-half-up-rounded Euclidean
    distance with smallest-code tie-break — per-subspace assignment is
    the ``emb_kmeans_assign`` shape, fully SQL-reproducible.

    Output per vector: ``c0..c7`` (codes) and ``d0..d7`` (rounded
    distances) — per-subspace SCALARS, no cross-subspace float sum, so
    no summation-order hazard.  The trained production path
    (:func:`emb_pq_codes_trained`) keeps the recon-MSE output and its
    pytest gates.

    100 TB shape: the model is 16×64 doubles in the closure; encoding is
    one Arrow map pass, zero shuffle.
    """
    from atd_data_lake_spark.operators.similarity import drop_null_vectors

    e = drop_null_vectors(_t(spark, sf_dir, "embeddings"), "embedding")
    _, books = load_model(e, F.col("vec_id") < _PQ_CODES)  # 16×64

    out_schema = T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [
            T.StructField(f"c{s}", T.LongType())
            for s in range(_PQ_SUBSPACES)
        ]
        + [
            T.StructField(f"d{s}", T.DoubleType())
            for s in range(_PQ_SUBSPACES)
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes, dists = pq_encode(X, books, _PQ_SUBSPACES)
            out = {"vec_id": pdf["vec_id"]}
            for s in range(_PQ_SUBSPACES):
                out[f"c{s}"] = codes[:, s]
                out[f"d{s}"] = dists[:, s]
            yield pd.DataFrame(out)

    return e.select("vec_id", "embedding").mapInPandas(op, schema=out_schema)


def _emb_pq_codes_sql() -> str:
    sub_cols = ",\n       ".join(
        f"max(CASE WHEN s = {s} THEN code END) AS c{s}"
        for s in range(_PQ_SUBSPACES)
    )
    dist_cols = ",\n       ".join(
        f"max(CASE WHEN s = {s} THEN dist END) AS d{s}"
        for s in range(_PQ_SUBSPACES)
    )
    return f"""
WITH {VECTORS_CTE},
{pq_sql(_PQ_SUBSPACES, _PQ_CODES)}
SELECT vec_id,
       {sub_cols},
       {dist_cols}
FROM codes
GROUP BY vec_id
ORDER BY vec_id
"""


EMB_PQ_CODES_SQL = _emb_pq_codes_sql()


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND13_QUERIES = {
    "ts_autocorr": ts_autocorr,
    "evt_hourly_seasonality": evt_hourly_seasonality,
    "evt_burstiness": evt_burstiness,
    "text_hashing_tf": text_hashing_tf,
    "stats_moments": stats_moments,
    "mm_image_phash": mm_image_phash,
    "emb_pq_codes": emb_pq_codes,
}

ROUND13_ORACLES = {
    "ts_autocorr": TS_AUTOCORR_SQL,
    "evt_hourly_seasonality": EVT_HOURLY_SEASONALITY_SQL,
    "evt_burstiness": EVT_BURSTINESS_SQL,
    "text_hashing_tf": TEXT_HASHING_TF_SQL,
    "stats_moments": STATS_MOMENTS_SQL,
    # emb_pq_codes: UPGRADED r7 to a full oracle via the injected
    # 16-slice codebooks + rounded-distance assignment (was rows-only)
    "emb_pq_codes": EMB_PQ_CODES_SQL,
    # mm_image_phash: UPGRADED r7 to a full oracle — the sha256 hex-chain
    # stub decode is engine-portable, so DuckDB re-derives every hash
    "mm_image_phash": MM_IMAGE_PHASH_SQL,
}
