"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference extensions (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard — all expressed so the
expensive candidate generation is a hash-bucket equi-join (shuffle on the
bucket key), never an all-pairs cross join.  At 100 TB the all-pairs
comparison is infeasible; LSH banding bounds candidate pairs to
near-duplicates with high probability.

Execution-path note: shingling and per-shingle hashing run as
Arrow-batched ``mapInPandas`` stages, not column expressions.  Spark's
higher-order functions (``transform``/``aggregate`` over token arrays)
evaluate lambdas per element in the interpreter; the measured JVM
expression path for a 32-hash MinHash signature at sf0.1 was ~6× slower
than the numpy batch path (14.8 s vs 2.5 s).  String hashing uses
``pd.util.hash_array`` (C-vectorized siphash with a fixed key —
deterministic across runs and cluster layouts).

All derived hash seeds are fixed constants, so the operators are
reproducible across runs and partitionings.

Cache lifecycle: several operators persist small intermediate frames
(candidate pairs, pruned shingle postings) because Arrow ``mapInPandas``
stages get no AQE exchange reuse — without the persist the signature
stage would recompute per consumer.  The returned frames are lazy, so
the operator cannot know when it is safe to unpersist.  Callers that run
many queries in one session should either wrap each query in
``tracked_caches()`` (collect inside the block; exiting unpersists every
cache the block created) or call ``spark.catalog.clearCache()`` between
queries (what ``bench.py``, the sweep scripts, and ``plan_report`` do).
"""

from __future__ import annotations

import threading
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Cache-scope tracking lives in operators/scale.py (shared by every
# operator module that persists — r6 review: a dedup-private registry
# could not reclaim graph.py's adjacency caches); re-exported here
# because this is where callers first met it.
from atd_data_lake_spark.operators.scale import (  # noqa: F401
    fan_out,
    scoped_persist as _persist,
    tracked_caches,
)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group by content hash; keep the minimum id as canonical.

    One shuffle on md5(text).  Output: (content_hash, canonical_id, n_dups).
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# Tokenization / shingling helpers
# ---------------------------------------------------------------------------


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text (empty string → empty array).
    Column-expression form, for composition in cheap per-doc profiles."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> (column form)."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def _token_shingles(toks: list[str] | None, n: int) -> list[str] | None:
    """Distinct word n-gram shingles of a token list; None when it has
    < n tokens."""
    if not toks or len(toks) < n:
        return None
    return list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})


def _doc_shingles(text: str | None, n: int) -> list[str] | None:
    """Distinct word n-gram shingles; None when the doc has < n tokens
    or NULL/empty text (same semantics as ``word_shingles``'s empty
    array after explode) — a NULL row must degrade to "no shingles",
    never crash the Arrow worker."""
    return _token_shingles(text.split(), n) if text else None


def shingle_hash_arrays(
    ids, token_lists, n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """The distinct-shingle hash rows of one Arrow batch: for each
    (id, tokens) pair, its distinct word n-grams hashed by
    ``pd.util.hash_array`` in ONE vectorized call.  Returns (id per
    row, int64 hash per row, shingle count per doc), or None when no
    doc has n tokens.  The one hash loop behind ``shingle_hash_rows``
    and the curation pipeline's fused profile+shingle pass, so their
    hashes are bit-identical."""
    sh_ids: list = []
    all_sh: list[str] = []
    counts: list[int] = []
    for did, toks in zip(ids, token_lists):
        sh = _token_shingles(toks, n)
        if not sh:
            continue
        sh_ids.append(did)
        all_sh.extend(sh)
        counts.append(len(sh))
    if not all_sh:
        return None
    hashes = pd.util.hash_array(np.array(all_sh, dtype=object)).astype(np.int64)
    return (
        np.repeat(np.array(sh_ids), counts),
        hashes,
        np.array(counts, dtype=np.int64),
    )


def shingle_hash_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    with_size: bool = False,
) -> DataFrame:
    """(id, text) → exploded (_id, _hash) rows: one 64-bit hash per distinct
    word n-gram shingle.  Joining on the hash instead of the shingle string
    keeps the inverted-index shuffle narrow (8 bytes vs the n-gram text);
    64-bit collisions are negligible at any realistic corpus size.

    ``with_size=True`` adds the doc's shingle-set size ``_sz`` to every
    row.  The size is already known inside the pandas stage, so emitting
    it here costs 8 bytes/row of shuffle width but lets the Jaccard join
    read |A| and |B| off the joined rows — removing the separate size
    aggregation and the two pair-to-size re-join shuffles downstream."""
    fields = [
        T.StructField("_id", df.schema[id_col].dataType),
        T.StructField("_hash", T.LongType()),
    ]
    if with_size:
        fields.append(T.StructField("_sz", T.LongType()))
    out_schema = T.StructType(fields)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = shingle_hash_arrays(
                pdf[id_col], (t.split() if t else None for t in pdf[text_col]), n
            )
            if rows is None:
                continue
            ids, hashes, cnt = rows
            out = {"_id": ids, "_hash": hashes}
            if with_size:
                out["_sz"] = np.repeat(cnt, cnt)
            yield pd.DataFrame(out)

    return fan_out(df).select(id_col, text_col).mapInPandas(op, schema=out_schema)


def shingle_string_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    fan: bool = True,
) -> DataFrame:
    """(id, text) → exploded DISTINCT (_id, shingle STRING) rows, the
    Arrow-batched twin of ``shingle_hash_rows`` for operators that need
    the shingle TEXT itself (e.g. the Bloom decontam's SQL-replayable
    md5 positions, which must hash the same string both engines see).
    Same reason it exists: the JVM higher-order-function construction
    (transform + element_at + concat_ws per element) is interpreted and
    measured ~5× slower on bulk text (round-3 note, re-measured r8:
    10.2 s vs 2.1 s for 260k shingles at sf0.1).

    ``fan=False`` skips the ``fan_out`` repartition — for callers whose
    input slice is small and whose downstream is itself bounded (the
    Bloom bitmap build over a 5% bench slice: ≤ m/64 output rows), the
    repartition's extra AQE stage wave costs more than the parallelism
    buys.  At production scale the scan already yields ≥ cores
    partitions and ``fan_out`` is a no-op, so this flag only removes a
    dead local exchange."""
    out_schema = T.StructType(
        [
            T.StructField("_id", df.schema[id_col].dataType),
            T.StructField("shingle", T.StringType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            all_sh: list[str] = []
            counts: list[int] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sh = _doc_shingles(text, n)
                if not sh:
                    continue
                ids.append(did)
                all_sh.extend(sh)
                counts.append(len(sh))
            if not all_sh:
                continue
            yield pd.DataFrame(
                {
                    "_id": np.repeat(np.array(ids), counts),
                    "shingle": all_sh,
                }
            )

    src = fan_out(df) if fan else df
    return src.select(id_col, text_col).mapInPandas(op, schema=out_schema)


# ---------------------------------------------------------------------------
# Shared shingle frame (r9 — VERDICT r8 item 3)
# ---------------------------------------------------------------------------

# (session id, analyzed-plan semanticHash, id_col, text_col, n, with_size)
# → the persisted shingle frame.  Bounded in practice by the handful of
# distinct corpus frames a session dedups; entries are cheap (a lazy
# DataFrame handle), so no eviction.  Sessions build frames from
# several threads at once, so the lookup-and-insert holds
# _SHINGLE_LOCK: two callers of one frame get one persisted handle.
_SHINGLE_FRAMES: dict[tuple, DataFrame] = {}
_SHINGLE_LOCK = threading.Lock()


def shingle_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    with_size: bool = True,
) -> DataFrame:
    """Session-shared PERSISTED shingle-hash frame — the common
    subexpression of the dedup suite.  ``ngram_jaccard_pairs``,
    ``containment_pairs``, the MinHash verify path, and
    ``common_shingle_profile`` each used to re-derive the 64-bit
    shingle hashes from the corpus per call; a curation DAG that runs
    several of them paid the corpus scan + Arrow shingling once PER
    STAGE.  This memoizes on (session, analyzed-plan semanticHash,
    params): the first caller pays the scan and persists, every later
    caller in the same session reuses the cached frame — including
    ACROSS operators, as long as they shingle the same input with the
    same parameters.

    Cache discipline: a ``spark.catalog.clearCache()`` (the bench /
    sweep contract) merely un-materializes the frame — the next caller
    re-persists the SAME handle (checked via ``storageLevel``), so
    sharing degrades to cold-start, never to recompute-per-consumer.
    Inside a ``tracked_caches()`` scope the (re-)persist registers with
    the scope like any operator-internal cache.

    100 TB framing: this is plan-level common-subexpression reuse, the
    thing AQE's ReusedExchange cannot do for ``mapInPandas`` stages
    (round-5 note).  On a cluster the persist is a one-scan
    materialization of an (8 + 8 + 8)-byte-per-shingle frame that every
    downstream dedup/decontam stage shares.
    """
    spark = df.sparkSession
    try:
        plan_key = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # pragma: no cover — connect-style sessions
        # no stable plan identity available: do NOT memoize (an id(df)
        # key could be recycled by the allocator after df is collected
        # and silently serve another corpus's shingles — r9 review)
        return _persist(
            shingle_hash_rows(df, id_col, text_col, n, with_size=with_size)
        )
    key = (id(spark), plan_key, id_col, text_col, n, with_size)
    with _SHINGLE_LOCK:
        got = _SHINGLE_FRAMES.get(key)
        if got is not None:
            if got.storageLevel.useMemory or got.storageLevel.useDisk:
                return got
            return _persist(got)  # re-persist after a clearCache
        out = _persist(
            shingle_hash_rows(df, id_col, text_col, n, with_size=with_size)
        )
        _SHINGLE_FRAMES[key] = out
        return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature as columns _h0.._h{n-1} (long).

    One Arrow-batched pass: shingle → vectorized base hash → ``num_hashes``
    derived hashes (odd-multiplier mix over the base, wrapping uint64) →
    per-doc column mins via ``np.minimum.reduceat``.  No shuffle at all —
    signatures are computed where the docs live.  Docs with < shingle_n
    tokens produce no signature (cannot be near-dup candidates).
    """
    out_schema = T.StructType(
        [T.StructField("_id", df.schema[id_col].dataType)]
        + [T.StructField(f"_h{i}", T.LongType()) for i in range(num_hashes)]
    )
    mults = (
        np.arange(1, num_hashes + 1, dtype=np.uint64)
        * np.uint64(0x9E3779B97F4A7C15)
    ) | np.uint64(1)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            all_sh: list[str] = []
            offsets = [0]
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sh = _doc_shingles(text, shingle_n)
                if not sh:
                    continue
                ids.append(did)
                all_sh.extend(sh)
                offsets.append(offsets[-1] + len(sh))
            if not ids:
                continue
            base = pd.util.hash_array(np.array(all_sh, dtype=object))  # uint64
            m = base[:, None] * mults[None, :]  # wraps mod 2^64
            m ^= m >> np.uint64(31)
            mins = np.minimum.reduceat(m, np.array(offsets[:-1]), axis=0)
            out = pd.DataFrame(
                mins.astype(np.int64), columns=[f"_h{i}" for i in range(num_hashes)]
            )
            out.insert(0, "_id", ids)
            yield out

    return fan_out(df).select(id_col, text_col).mapInPandas(op, schema=out_schema)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH.

    signature (mapInPandas, zero-shuffle) → band bucket keys
    (xxhash64 of the band's signature columns, JVM-side) → bucket
    equi-join: docs sharing any band bucket become a candidate pair.
    The only shuffles are the bucket join and the final pair groupBy.

    Output: (id_a, id_b, n_shared_bands) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    # NO persist on the signature frame: since the r7 in-partition pair
    # expansion replaced the banded self-join, ``sig`` has exactly ONE
    # consumer (the band explode) — caching it was a corpus-sized
    # materialization with zero reuse (guide §5's multi-consumer rule;
    # the r9 noop decomposition measured the candidate stage, not the
    # verify, as this query's dominant cost)
    sig = minhash_signature_df(df, id_col, text_col, num_hashes, shingle_n)
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"_h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")
    # one exchange on (band, bucket) groups each bucket's member list;
    # pairs expand IN-PARTITION from the sorted array (the
    # repeated_span_pairs recipe, r7) — identical pair multiset to the
    # a._id < b._id self-join it replaced, without re-exchanging or
    # sort-merging the banded postings a second time.  The expansion is
    # SIZE-GATED (r7 review): a degenerate bucket (tens of thousands of
    # identical-signature docs) would build a C(n,2) struct array in one
    # row — oversized buckets fall back to a streamed, spillable
    # self-join over just those members, so semantics stay exact while
    # per-row memory stays bounded at C(cap, 2) structs
    cap = 512
    buckets = _persist(
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("_id").alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    small_pairs = (
        buckets.filter(F.size("_ids") <= cap)
        .select(F.array_sort("_ids").alias("_ids2"))
        .select(
            F.explode(
                F.expr(
                    "filter("
                    "  flatten(transform(_ids2, (x, i) ->"
                    "    transform(slice(_ids2, i + 2, size(_ids2)), y ->"
                    "      struct(x AS ia, y AS ib)))),"
                    "  p -> p.ia < p.ib)"
                )
            ).alias("_p")
        )
        .select(F.col("_p.ia").alias("ia"), F.col("_p.ib").alias("ib"))
    )
    big = buckets.filter(F.size("_ids") > cap).select(
        "band", "bucket", F.explode("_ids").alias("_id")
    )
    ba, bb = big.alias("a"), big.alias("b")
    big_pairs = ba.join(
        bb,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(F.col("a._id").alias("ia"), F.col("b._id").alias("ib"))
    return (
        small_pairs.unionByName(big_pairs)
        .groupBy(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def verify_pairs_jaccard(
    cands: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    dedupe_doc_ids: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for GIVEN candidate pairs — the verify stage
    every LSH dedup pipeline runs before acting on candidates.

    Candidate-driven, never corpus-quadratic: pairs join to the a-side
    shingle postings (one equi-join on id, |pairs|·|shingles/doc| rows),
    then to the b-side postings on (id, hash) to count the intersection;
    set sizes ride along so no separate size aggregation or re-join.
    Cost is linear in candidate volume — which LSH banding already made
    linear in corpus size — independent of how big the corpus is.

    The postings are broadcast-semi-pruned to candidate doc ids BEFORE
    the persist that feeds both joins: the Arrow shingling stage runs
    once and only candidate docs' postings are materialized — memory is
    candidate-bounded, not corpus-bounded.  (The id broadcast is ~8-16
    bytes per candidate doc; a corpus with 100M near-dup docs would be
    ~1.6 GB — within Spark's broadcast ceiling, and the pathological
    everything-is-a-dup corpus is the one case to pre-partition.)

    Output: (id_a, id_b, jaccard) for pairs with exact J ≥ threshold,
    rounded to 6 places — same contract as ``ngram_jaccard_pairs``.
    """
    # the candidate frame is the SMALL side (near-dup pairs) and feeds
    # three consumers (the id broadcast and both pair joins) — persist it
    # so the LSH candidate job (signature stage + banded self-join) runs
    # exactly once
    cands = _persist(cands.select("id_a", "id_b"))
    cand_ids = (
        cands.select(F.col("id_a").alias("_cid"))
        .unionByName(cands.select(F.col("id_b").alias("_cid")))
        .distinct()
    )
    # prune BEFORE the Arrow shingling stage: only candidate docs are
    # ever shingled, so the verify's Python cost is candidate-bounded
    # (the corpus scan itself is a cheap broadcast-semi filter)
    cand_docs = docs.join(
        F.broadcast(cand_ids), F.col(id_col) == F.col("_cid"), "left_semi"
    )
    if dedupe_doc_ids:
        # a doc id present twice in ``docs`` (e.g. a standing∪incoming
        # union during ingest replay) would duplicate its postings and
        # inflate every intersection count it touches — one candidate-
        # bounded dedup keeps jaccard exact.  When the caller marked
        # copies with a ``_prio`` column, the max-priority copy wins
        # DETERMINISTICALLY (the incremental path prefers the incoming
        # copy — a replayed doc whose text changed must be judged by
        # what was just ingested, not by whichever copy a task scanned
        # first); without ``_prio``, ids are unique by contract and
        # dropDuplicates is a no-op safety net.
        if "_prio" in cand_docs.columns:
            from pyspark.sql import Window

            w = Window.partitionBy(id_col).orderBy(F.desc("_prio"))
            cand_docs = (
                cand_docs.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_prio")
            )
        else:
            cand_docs = cand_docs.dropDuplicates([id_col])
    sh = shingle_hashes(
        cand_docs, id_col, text_col, shingle_n, with_size=True
    )
    a_side = (
        cands.select("id_a", "id_b")
        .join(sh.alias("a"), F.col("id_a") == F.col("a._id"))
        .select(
            "id_a",
            "id_b",
            F.col("a._hash").alias("_ha"),
            F.col("a._sz").alias("_sza"),
        )
    )
    inter = (
        a_side.join(
            sh.alias("b"),
            (F.col("id_b") == F.col("b._id"))
            & (F.col("_ha") == F.col("b._hash")),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("_inter"),
            F.min("_sza").alias("_min_sza"),
            F.min("b._sz").alias("_szb"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.col("_min_sza") + F.col("_szb") - F.col("_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 21,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH near-dup pairs VERIFIED by exact Jaccard — the full
    production dedup shape (candidates are an internal artifact; acting
    on them unverified deletes false positives).

    Recall: a pair with true Jaccard j survives banding with
    p = 1 − (1 − j^r)^bands, r = num_hashes // bands.  The defaults
    (r = 3, 21 bands) give miss probability (1 − 0.512)²¹ ≈ 3e-7 at
    j = 0.8 — and the hash family is deterministic (fixed multipliers
    over ``pd.util.hash_array``), so a given corpus either passes or
    misses reproducibly, never randomly.  r = 3 was measured the sweet
    spot at sf0.1: r = 2 (32 bands) admits 10× the candidates and 4×
    the banded-explode rows for recall the verify stage doesn't need,
    r = 4 (16 bands) saves little and weakens the miss bound to 2e-4.

    Output: (id_a, id_b, jaccard), id_a < id_b, exact J ≥ threshold —
    equals ``ngram_jaccard_pairs(df, threshold)`` whenever no true pair
    is banding-missed, which makes this operator SQL-oracle-checkable.
    """
    cands = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, bands, shingle_n
    )
    return verify_pairs_jaccard(
        cands, df, id_col, text_col, shingle_n, threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc as (_id, _sh long), one Arrow-batched pass.

    Per token: a 64-bit hash votes ±1 on each bit position; the sign of
    the vote sum sets the output bit.  Vectorized: unpack token hashes to
    a bit matrix, ``np.add.reduceat`` per doc."""
    out_schema = T.StructType(
        [
            T.StructField("_id", df.schema[id_col].dataType),
            T.StructField("_sh", T.LongType()),
        ]
    )
    bit_idx = np.arange(64, dtype=np.uint64)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            all_toks: list[str] = []
            offsets = [0]
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = text.split() if text else []  # NULL-safe
                if not toks:
                    continue
                ids.append(did)
                all_toks.extend(toks)
                offsets.append(offsets[-1] + len(toks))
            if not ids:
                continue
            h = pd.util.hash_array(np.array(all_toks, dtype=object))  # uint64
            bits = ((h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(
                np.int64
            )  # n_tok × 64 in {0,1}
            votes = np.add.reduceat(2 * bits - 1, np.array(offsets[:-1]), axis=0)
            out_bits = (votes > 0).astype(np.uint64)
            sh = (out_bits << bit_idx[None, :]).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame({"_id": ids, "_sh": sh.astype(np.int64)})

    return fan_out(df).select(id_col, text_col).mapInPandas(op, schema=out_schema)


def simhash_signature_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 48,
) -> DataFrame:
    """Engine-portable SimHash signature as (_id, _sh): token hashes are
    the 52-bit md5-prefix recipe (``conv(substr(md5(tok),1,13),16,10)``
    == DuckDB ``('0x'||substr(md5(tok),1,13))::UBIGINT``), votes are
    ``n_bits`` conditional integer sums in ONE groupBy(doc), and the
    signature packs the vote signs — every step reproducible in ANSI
    SQL, which upgrades the simhash registry query from rows-only to a
    full value-hash oracle (the r5 minhash / r6 ANN upgrade pattern).

    vs :func:`simhash_df` (the production default): same single
    zero-shuffle Arrow pass and the same vectorized vote math — only the
    token hash differs (md5 prefix instead of ``pd.util.hash_array``),
    cached per unique token within each batch so the Python md5 cost
    tracks the vocabulary, not the token stream.  (A first cut computed
    this as 48 conditional JVM aggregate sums over an exploded token
    frame — value-identical, but the 48-column codegen cost a flat ~8 s
    of compile time per run at ANY scale factor; the Arrow pass is
    ~10× cheaper end-to-end.)
    """
    import hashlib

    out_schema = T.StructType(
        [
            T.StructField("_id", df.schema[id_col].dataType),
            T.StructField("_sh", T.LongType()),
        ]
    )
    bit_idx = np.arange(n_bits, dtype=np.uint64)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}

        def md5_52(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:13], 16)
                cache[tok] = h
            return h

        for pdf in batches:
            ids: list = []
            all_h: list[int] = []
            offsets = [0]
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:  # string_split(NULL) unnests to 0 rows
                    continue
                # split(' ') (not split()): empty segments hash like the
                # engines' split-on-single-space semantics
                toks = text.split(" ")
                ids.append(did)
                all_h.extend(md5_52(t) for t in toks)
                offsets.append(offsets[-1] + len(toks))
            if not ids:
                continue
            h = np.array(all_h, dtype=np.uint64)
            bits = ((h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(
                np.int64
            )
            votes = np.add.reduceat(2 * bits - 1, np.array(offsets[:-1]), axis=0)
            out_bits = (votes > 0).astype(np.uint64)
            sh = (out_bits << bit_idx[None, :]).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame({"_id": ids, "_sh": sh.astype(np.int64)})

    return fan_out(df).select(id_col, text_col).mapInPandas(op, schema=out_schema)


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    block_bits: int = 16,
    signature: DataFrame | None = None,
    hash_bits: int | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Candidate generation blocks on 16-bit chunks of the simhash (pigeonhole:
    distance ≤ 3 ⇒ at least one of 4 chunks equal), so the join is an
    equi-join on (chunk_idx, chunk_value) — no cross join at scale.
    Output: (id_a, id_b, hamming).

    Raises ``ValueError`` when the pigeonhole guarantee does not hold:
    with ``n_blocks = hash_bits // block_bits`` blocks, a pair at Hamming
    distance ``d`` is only guaranteed to share a block when
    ``d < n_blocks`` — a larger ``max_hamming`` would silently miss
    qualifying pairs instead of failing.

    ``signature``: an externally computed (_id, _sh) frame (e.g. the
    portable :func:`simhash_signature_portable`, ``hash_bits=48``);
    default is the production :func:`simhash_df` 64-bit signature.
    ``hash_bits`` is REQUIRED alongside ``signature``: blocking a
    48-bit signature with the 64-bit default would make the top block
    a universal (blk, 0) bucket — every doc collides and the banded
    join degenerates quadratic while producing correct-looking output.
    """
    if signature is not None and hash_bits is None:
        raise ValueError(
            "pass hash_bits with an injected signature — blocking beyond "
            "the signature's width turns the top block into a universal "
            "bucket (quadratic candidate join)"
        )
    if hash_bits is None:
        hash_bits = 64
    n_blocks = hash_bits // block_bits
    if max_hamming >= n_blocks:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee for "
            f"block_bits={block_bits} ({n_blocks} blocks): need "
            f"max_hamming < {n_blocks}; use smaller blocks (more of them) "
            f"for larger distances"
        )
    # both join sides reuse the signature stage
    sh = _persist(
        signature if signature is not None else simhash_df(df, id_col, text_col)
    )
    mask = (1 << block_bits) - 1
    blocked = sh.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("_sh", i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("_id", "_sh", "b.blk", "b.val")
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, via inverted-index join)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram shingle *sets*.  Output:
    (id_a, id_b, jaccard) for pairs ≥ threshold, jaccard rounded to 6
    places.  No cross join on either path; results are identical on both.

    Two candidate-generation strategies:

    - **inverted index** (default for threshold < 0.3): postings
      self-join on the shingle hash; pair rows = Σ_s df(s)² — fine while
      no shingle is corpus-hot, quadratic when duplication is heavy.
    - **prefix filter** (PPJoin/AllPairs family — Chaudhuri et al.
      ICDE'06, Xiao et al. WWW'08 — opt-in): order shingles rarest-first
      (global doc-freq, hash tiebreak); a pair with J ≥ t MUST share a
      shingle inside each side's first |S| − ⌈t·|S|⌉ + 1 shingles, so
      only PREFIX postings self-join and hot shingles (at the order's
      tail) never generate pairs.  Surviving candidates are verified
      exactly via ``array_intersect`` on the full hash arrays.

    Why opt-in rather than default: prefix filtering pays off when the
    shingle frequency distribution is Zipf (natural text — most shingles
    rare, prefixes cheap) and t is high.  On the synthetic near-uniform
    vocabulary of the test corpus it measured SLOWER than the inverted
    index (386 s vs 100 s on the 10×-duplicated tools/scale_smoke.py
    corpus at t = 0.5): the "rarest" prefixes are still corpus-hot, the
    postings only shrink ~2×, and the verify step adds two array joins —
    a reminder that candidate-pruning strategies are distribution-bound,
    not free.  For duplication-heavy corpora the scale answer remains
    MinHash-LSH (`minhash_lsh_candidates`: 8 s on the same corpus); this
    path exists for Zipf-distributed exact-Jaccard workloads and is
    equivalence-tested against the inverted index.
    """
    if prefix_filter is None:
        prefix_filter = False
    sh = shingle_hashes(df, id_col, text_col, n, with_size=True)

    if not prefix_filter:
        # both self-join sides consume the Python stage: persist so the
        # shingling runs once.  Set sizes ride along as _sz, so |A| and
        # |B| come off the joined rows — no pair-to-size re-join.
        a, b = sh.alias("a"), sh.alias("b")
        # length filter (same family as the prefix filter, always on):
        # J(A,B) ≥ t ⇒ |A∩B| ≥ t·max(|A|,|B|) and |A∩B| ≤ min(|A|,|B|),
        # so min ≥ t·max — size-mismatched pairs are pruned INSIDE the
        # join, before any pair row exists.  ε guards binary-float t·sz
        # overshoot (pruning must only ever be under-eager).
        size_ok = (
            F.col("a._sz") >= F.lit(threshold) * F.col("b._sz") - F.lit(1e-9)
        ) & (F.col("b._sz") >= F.lit(threshold) * F.col("a._sz") - F.lit(1e-9))
        pairs = (
            a.join(
                b,
                (F.col("a._hash") == F.col("b._hash"))
                & (F.col("a._id") < F.col("b._id"))
                & size_ok,
            )
            .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .agg(
                F.count("*").alias("inter"),
                F.min("a._sz").alias("sz_a"),
                F.min("b._sz").alias("sz_b"),
            )
        )
        return (
            pairs.withColumn(
                "jaccard",
                F.round(
                    F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    from pyspark.sql import Window

    dfreq = sh.groupBy("_hash").agg(F.count("*").alias("_df"))
    ranked = sh.join(dfreq, "_hash").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("_hash").asc())
        ),
    )
    # prefix length |S| − ⌈t·|S|⌉ + 1.  The ε guards the ceil against
    # binary-float overshoot (0.1·10 → 1.0000…0002 would ceil to 2 and
    # ILLEGALLY shorten the prefix; a too-LONG prefix is merely slower,
    # a too-short one drops true pairs).
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz") - F.lit(1e-9)) + 1
    ).select("_id", "_hash")

    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a._hash") == F.col("b._hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )

    sets = sh.groupBy("_id").agg(
        F.collect_list("_hash").alias("_hs"), F.min("_sz").alias("_sz")
    )
    joined = (
        cands.join(
            sets.select(
                F.col("_id").alias("id_a"),
                F.col("_hs").alias("_hs_a"),
                F.col("_sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("_id").alias("id_b"),
                F.col("_hs").alias("_hs_b"),
                F.col("_sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("_hs_a", "_hs_b")))
    )
    return (
        joined.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Incremental MinHash LSH — continuous-ingest near-dup dedup
# ---------------------------------------------------------------------------


def incremental_minhash_candidates(
    standing: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    standing_sig: DataFrame | None = None,
    incoming_sig: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs for a CONTINUOUS-INGEST batch: every
    pair involves at least one ``incoming`` doc (standing↔incoming or
    incoming↔incoming); standing↔standing pairs are by construction
    excluded — that work was already done when those docs arrived.

    Why this is the at-scale shape: the standing corpus NEVER
    self-joins.  A full-corpus re-run grows as corpus², every batch;
    this op's join is |standing banded keys| ⋈ |incoming banded keys|,
    and the incoming side of a batch is small, so Spark broadcasts it —
    the standing side is a pruned scan + map, no shuffle of the corpus.
    Amortized over a day's batches, dedup cost is linear in ingest
    volume, not corpus size.

    ``standing_sig``: optionally pass the PRECOMPUTED signature frame
    for the standing corpus (columns ``_id, _h0.._h{n-1}``, as written
    by ``minhash_signature_df``) — the production pattern: signatures
    are computed once at ingest and stored columnar beside the docs, so
    the standing text is never re-shingled.  When None they are derived
    from ``standing``'s text (correct, but re-pays the Python stage).
    ``incoming_sig``: same contract for the batch side — callers whose
    standing and incoming frames are row-disjoint slices of ONE table
    (the registry query's shape) pass both sides as filters of a single
    persisted ``minhash_signature_df`` run, so the heavy text column is
    read and shingled once instead of once per side (r9 batch 9;
    signatures are computed row-wise, so a subset's signatures equal the
    subset of the full-frame signatures).

    Output: (id_a, id_b, n_shared_bands) where id_b is always an
    incoming doc; for incoming↔incoming pairs id_a < id_b.  Same
    banding geometry as ``minhash_lsh_candidates`` — restricted to
    pairs touching ``incoming``, results are identical (pytest-
    enforced equivalence).
    """
    rows_per_band = num_hashes // bands

    def _banded(sig: DataFrame) -> DataFrame:
        return sig.select(
            "_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[
                                    F.col(f"_h{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ]
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("_id", "bb.band", "bb.bucket")

    if standing_sig is None:
        standing_sig = minhash_signature_df(
            standing, id_col, text_col, num_hashes, shingle_n
        )
    inc_sig = (
        incoming_sig
        if incoming_sig is not None
        else minhash_signature_df(
            incoming, id_col, text_col, num_hashes, shingle_n
        )
    )

    std_banded = _banded(standing_sig).withColumn("_new", F.lit(False))
    inc_banded = _persist(_banded(inc_sig))
    left = std_banded.unionByName(inc_banded.withColumn("_new", F.lit(True)))
    right = inc_banded.select(
        F.col("_id").alias("_rid"),
        F.col("band").alias("_rband"),
        F.col("bucket").alias("_rbucket"),
    )
    # standing rows pair with any incoming bucket-mate; incoming rows
    # only pair forward (id_a < id_b) so each incoming pair counts once
    return (
        left.join(
            F.broadcast(right),
            (F.col("band") == F.col("_rband"))
            & (F.col("bucket") == F.col("_rbucket"))
            & (
                (~F.col("_new") & (F.col("_id") != F.col("_rid")))
                | (F.col("_new") & (F.col("_id") < F.col("_rid")))
            ),
        )
        .groupBy(F.col("_id").alias("id_a"), F.col("_rid").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def incremental_near_dup_new(
    standing: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    standing_sig: DataFrame | None = None,
) -> DataFrame:
    """The actionable continuous-ingest filter: the subset of
    ``incoming`` that is NOT a near-dup candidate of the standing
    corpus or of an earlier incoming doc — the rows safe to append.

    Anti-join of ``incoming`` against the candidate pairs' incoming
    side; "earlier" = smaller id, so the kept set is deterministic
    (the first member of each incoming near-dup group survives).
    """
    cands = incremental_minhash_candidates(
        standing,
        incoming,
        id_col,
        text_col,
        num_hashes,
        bands,
        shingle_n,
        standing_sig,
    )
    dup_ids = cands.select(F.col("id_b").alias("_dup_id")).distinct()
    return incoming.join(
        dup_ids, F.col(id_col) == F.col("_dup_id"), "left_anti"
    )


def incremental_minhash_near_dups(
    standing: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 21,
    shingle_n: int = 3,
    threshold: float = 0.8,
    standing_sig: DataFrame | None = None,
    incoming_sig: DataFrame | None = None,
) -> DataFrame:
    """Continuous-ingest near-dup pairs VERIFIED by exact Jaccard —
    ``incremental_minhash_candidates`` (standing side never self-joins)
    followed by the candidate-driven ``verify_pairs_jaccard`` stage.

    Same deterministic-recall geometry as ``minhash_near_dups`` (r = 3,
    21 bands ⇒ miss ≈ 3e-7 at J = 0.8), so the output equals the exact
    cross-group Jaccard pair set and is SQL-oracle-checkable.  The
    verify join reads shingles for BOTH sides from the union frame —
    candidate-bounded, so the standing corpus is still never shuffled
    wholesale.

    Output: (id_a, id_b, jaccard) with exact J ≥ threshold; id_b is
    always an incoming doc, id_a < id_b when both are incoming.
    """
    cands = incremental_minhash_candidates(
        standing,
        incoming,
        id_col,
        text_col,
        num_hashes,
        bands,
        shingle_n,
        standing_sig,
        incoming_sig,
    )
    docs = (
        standing.select(id_col, text_col)
        .withColumn("_prio", F.lit(0))
        .unionByName(
            incoming.select(id_col, text_col).withColumn("_prio", F.lit(1))
        )
    )
    # dedupe_doc_ids + _prio: an id re-ingested (present in BOTH frames)
    # must not double its postings in the union — jaccard stays exact —
    # and when the replayed text differs, the INCOMING copy wins
    # deterministically (prio 1 > 0): verify judges what was just
    # ingested, never an arbitrary scan-order copy.  The window dedup is
    # candidate-bounded (runs after the broadcast-semi prune).
    return verify_pairs_jaccard(
        cands, docs, id_col, text_col, shingle_n, threshold,
        dedupe_doc_ids=True,
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram set CONTAINMENT — the asymmetric cousin of
    ``ngram_jaccard_pairs``: c(A→B) = |S(A)∩S(B)| / |S(A)|.

    Why it exists beside Jaccard: training-data curation constantly hits
    the *wrapper* case — a short document quoted whole inside a much
    longer one (boilerplate + article, quoted post + thread).  Jaccard
    of that pair is tiny (the union is dominated by the long side) so a
    Jaccard dedup keeps both; containment of the short side is ~1.0 and
    catches it (Broder's original resemblance/containment distinction,
    SEQUENCES'97).

    Same inverted-index shape as Jaccard — one self-join on the 64-bit
    shingle hash, one pair groupBy, never a cross join — but WITHOUT the
    symmetric size filter (a tiny A contained in a huge B is exactly the
    pair we want, so size-mismatch pruning would be wrong).  One row per
    unordered pair carrying both directions; callers filter
    ``cont_a_in_b`` vs ``cont_b_in_a`` for the directional question.
    Pair survives when max(directions) ≥ threshold.
    """
    sh = shingle_hashes(df, id_col, text_col, n, with_size=True)
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._hash") == F.col("b._hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(
            F.count("*").alias("inter"),
            F.min("a._sz").alias("sz_a"),
            F.min("b._sz").alias("sz_b"),
        )
    )
    out = pairs.select(
        "id_a",
        "id_b",
        F.round(F.col("inter") / F.col("sz_a"), 6).alias("cont_a_in_b"),
        F.round(F.col("inter") / F.col("sz_b"), 6).alias("cont_b_in_a"),
    )
    return out.filter(
        F.greatest("cont_a_in_b", "cont_b_in_a") >= F.lit(threshold)
    )


def window_hash_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """(id, text) → ``(_id, _pos, _wh)`` rows: one 52-bit md5-prefix hash
    per sliding ``window``-token window, ``_pos`` 1-based.

    Arrow-batched (``mapInPandas``) replacement for the JVM
    ``transform(sequence(...), i -> concat_ws(slice(...)))`` +
    posexplode + md5 formulation: higher-order-function lambdas are
    interpreted PER ELEMENT, and the window build materializes every
    overlapping window string as an array cell before hashing — measured
    2.1 s of ``dedup_repeated_spans``'s 3.0 s at sf0.1 (the round-3
    shingle measurement, replayed: Arrow batches + ``hashlib.md5`` do
    the same work in ~0.3 s).  The hash value is engine-portable by
    construction — ``int(md5(utf8(window)).hexdigest()[:13], 16)`` ==
    DuckDB's ``('0x' || substr(md5(w), 1, 13))::UBIGINT`` == Spark's
    ``conv(substring(md5(w), 1, 13), 16, 10)`` — so oracle parity is
    unchanged.  Token semantics match ``split(text, ' ')`` exactly
    (consecutive delimiters yield empty tokens on both paths)."""
    out_schema = T.StructType(
        [
            T.StructField("_id", df.schema[id_col].dataType),
            T.StructField("_pos", T.IntegerType()),
            T.StructField("_wh", T.LongType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hashlib import md5

        for pdf in batches:
            ids: list = []
            poss: list[int] = []
            whs: list[int] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = text.split(" ")
                for i in range(len(toks) - (window - 1)):
                    w = " ".join(toks[i : i + window])
                    ids.append(did)
                    poss.append(i + 1)
                    whs.append(int(md5(w.encode("utf-8")).hexdigest()[:13], 16))
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    "_id": ids,
                    "_pos": np.array(poss, dtype=np.int32),
                    "_wh": np.array(whs, dtype=np.int64),
                }
            )

    return fan_out(df).select(id_col, text_col).mapInPandas(op, schema=out_schema)


def repeated_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_span: int = 12,
    max_df: int = 20,
) -> DataFrame:
    """Cross-document EXACT-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL'22): find maximal
    repeated token spans of ≥ ``min_span`` tokens shared between
    otherwise-distinct documents — the memorization-risk class that
    whole-document dedup (exact/MinHash/SimHash) cannot see.

    Suffix-array-free bucketed formulation: slide a ``window``-token
    window over every document, hash each window portably (52-bit md5
    prefix — identical value and identical collisions on any engine),
    invert on the window hash, pair co-occurrences, then merge
    consecutive matches per document pair into maximal runs with the
    gaps-and-islands recipe — two matched windows at positions
    ``(pa, pb)`` and ``(pa+1, pb+1)`` lie on the same diagonal
    ``pa − pb`` and fuse into one span.

    Output per maximal span: ``(doc_a, doc_b, start_a, start_b,
    span_tokens)`` with ``doc_a < doc_b`` and 1-based token starts.

    100 TB shape: exchanges carry ``(id, pos, 8-byte hash)`` rows, never
    window strings (the ``line_level_dedup`` discipline).  ONE exchange
    on the window hash groups each hash's posting list (bounded at
    ``max_df`` entries by the df cutoff — boilerplate windows shared by
    thousands of documents, the quadratic trap, drop out, the same
    hot-key cutoff ``text_containment`` documents); candidate pairs
    expand IN-PARTITION from the grouped array (≤ C(max_df, 2) per
    hash), replacing the df-agg + flag-join + self-join formulation
    that exchanged the postings three times (measured 4.6 → ~2 s at
    sf0.1).  The islands pass shuffles once on the (doc_a, doc_b) pair
    key: volume ∝ matched windows, i.e. ∝ true duplication, never
    corpus size.  A dropped-hot-window INSIDE a long span splits it in
    two deterministically on both engines, so the df cutoff changes
    granularity, not parity.
    """
    from pyspark.sql import Window as W

    occ = window_hash_rows(df, id_col, text_col, window)
    grouped = (
        occ.groupBy("_wh")
        .agg(F.collect_list(F.struct("_id", "_pos")).alias("_os"))
        .filter((F.size("_os") >= 2) & (F.size("_os") <= max_df))
    )
    # all unordered co-occurrence combos, lower doc id first (array_sort
    # orders by (_id, _pos), so combo x<y has x._id <= y._id; the strict
    # filter drops same-doc repeats) — identical pair set to the
    # a._id < b._id self-join this replaces
    pairs = (
        grouped.select(F.array_sort("_os").alias("_os2"))
        .select(
            F.explode(
                F.expr(
                    "filter("
                    "  flatten(transform(_os2, (x, i) ->"
                    "    transform(slice(_os2, i + 2, size(_os2)), y ->"
                    "      struct(x._id AS da, y._id AS db,"
                    "             x._pos AS pa, y._pos AS pb)))),"
                    "  p -> p.da < p.db)"
                )
            ).alias("_p")
        )
        .select(
            F.col("_p.da").alias("doc_a"),
            F.col("_p.db").alias("doc_b"),
            F.col("_p.pa").alias("_pa"),
            F.col("_p.pb").alias("_pb"),
        )
    )
    diag = (F.col("_pa") - F.col("_pb")).alias("_diag")
    w = W.partitionBy("doc_a", "doc_b", "_diag").orderBy("_pa")
    isl = pairs.select("doc_a", "doc_b", "_pa", "_pb", diag).withColumn(
        "_grp", F.col("_pa") - F.row_number().over(w)
    )
    return (
        isl.groupBy("doc_a", "doc_b", "_diag", "_grp")
        .agg(
            F.min("_pa").alias("start_a"),
            F.min("_pb").alias("start_b"),
            (F.max("_pa") - F.min("_pa") + window).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


def incremental_repeated_spans(
    standing: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_span: int = 12,
    max_df: int = 20,
) -> DataFrame:
    """Incremental twin of :func:`repeated_span_pairs`: maximal repeated
    token spans between an incoming batch and the corpus (and within the
    batch) — the STANDING side never self-joins, so per-batch cost
    tracks the batch, not the corpus (the
    ``incremental_minhash_candidates`` discipline).

    Semantics: exactly the full-corpus span set restricted to pairs with
    at least one NEW member.  The document-frequency cutoff stays GLOBAL
    (standing + new occurrences), so a batch arriving in one shot or in
    pieces sees the same boilerplate gate — window matches between a
    given pair are independent of every other document, which is what
    makes the restriction exact rather than approximate.

    100 TB shape: the standing side contributes only postings whose
    window hash the BATCH touches (a hash semi-join on the 8-byte key —
    at scale the standing postings table ``(id, pos, whash)`` is a
    maintained index bucketed by ``whash``, so the semi-join prunes to
    touched buckets without a scan); candidate pairs are bounded at
    ``max_df²`` per touched hash; the islands shuffle keys on pairs that
    all involve the batch.
    """
    from pyspark.sql import Window as W

    def occ(df: DataFrame, is_new: bool) -> DataFrame:
        # Arrow-batched window hashing (see window_hash_rows — the JVM
        # higher-order-function build it replaces was the measured
        # bottleneck of the batch twin)
        return window_hash_rows(df, id_col, text_col, window).withColumn(
            "_new", F.lit(is_new)
        )

    occ_new = _persist(occ(new, True))
    # standing postings pruned to hashes the batch touches BEFORE the df
    # count — the global df for an untouched hash is irrelevant (it can
    # produce no new pair), so the batch never pays for it.  No persist:
    # exactly one downstream consumer (the union), so a cache write
    # would be pure overhead (r7 review); occ_new's persist IS justified
    # (semi-join + union both read it)
    occ_std = occ(standing, False).join(
        occ_new.select("_wh").distinct(), "_wh", "left_semi"
    )
    both = occ_new.unionByName(occ_std)
    # one exchange on the hash; pairs expand in-partition from the
    # grouped posting list (the repeated_span_pairs rewrite), with the
    # new-member requirement applied inside the combo filter
    grouped = (
        both.groupBy("_wh")
        .agg(F.collect_list(F.struct("_id", "_pos", "_new")).alias("_os"))
        .filter((F.size("_os") >= 2) & (F.size("_os") <= max_df))
    )
    pairs = (
        grouped.select(F.array_sort("_os").alias("_os2"))
        .select(
            F.explode(
                F.expr(
                    "filter("
                    "  flatten(transform(_os2, (x, i) ->"
                    "    transform(slice(_os2, i + 2, size(_os2)), y ->"
                    "      struct(x._id AS da, y._id AS db,"
                    "             x._pos AS pa, y._pos AS pb,"
                    "             x._new OR y._new AS isnew)))),"
                    "  p -> p.da < p.db AND p.isnew)"
                )
            ).alias("_p")
        )
        .select(
            F.col("_p.da").alias("doc_a"),
            F.col("_p.db").alias("doc_b"),
            F.col("_p.pa").alias("_pa"),
            F.col("_p.pb").alias("_pb"),
        )
    )
    diag = (F.col("_pa") - F.col("_pb")).alias("_diag")
    w = W.partitionBy("doc_a", "doc_b", "_diag").orderBy("_pa")
    isl = pairs.select("doc_a", "doc_b", "_pa", "_pb", diag).withColumn(
        "_grp", F.col("_pa") - F.row_number().over(w)
    )
    return (
        isl.groupBy("doc_a", "doc_b", "_diag", "_grp")
        .agg(
            F.min("_pa").alias("start_a"),
            F.min("_pb").alias("start_b"),
            (F.max("_pa") - F.min("_pa") + window).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )
