"""Round-29 query additions — the registry UNFREEZE batch (the r3 freeze's
exit condition — a zero never-checked backlog — was met in r5).

- ``url_domain_extract`` — URL canonicalization: host / registrable
  domain (eTLD+1 with multi-part public suffixes) / path depth /
  tracking-parameter stripping.  The per-page half of the C4/RefinedWeb
  domain gate.
- ``url_domain_rollup`` — per-registrable-domain quality rollup + keep
  gate (doc count, host fan-out, language mix): the domain-level half.

The documents table has no URL column, so both the Spark queries and
their oracles synthesize one deterministically from ``(doc_id, source)``
— same literal expression on both sides; the operators under test are
the parse/extract/rollup stages, not the synthesis.

Both carry full DuckDB oracles (as do the round's other entries
here); the round's ``sim_ivf_upsert`` and ``sim_ann_ivf_recall`` live in
``sim_queries``, its ``dedup_url_canonical`` in ``dedup_queries``, which
reuses this module's synthetic-URL fixture (``_with_url``,
``_url_sql``, ``_URL_PARTS_SQL``); every computed column is aliased
identically on both sides, outputs are scalars only (no DECIMAL — the
driver-hasher contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.urls import MULTI_PART_SUFFIXES

_TLDS = (".com", ".co.uk", ".org", ".com.au", ".io")
_SUBS = ("www.", "cdn.static.", "blog.", "")
_SEGS = ("/", "/a", "/a/b", "/a/b/c")


def _with_url(d: DataFrame) -> DataFrame:
    """Deterministic synthetic URL from (doc_id, source) — mirrored
    byte-for-byte by :func:`_url_sql`."""
    pick = lambda opts, mod: F.element_at(  # noqa: E731
        F.array(*[F.lit(o) for o in opts]), (F.col("doc_id") % mod + 1).cast("int")
    )
    qs = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_medium=rss&page="),
                (F.col("doc_id") % 7).cast("string"),
            ),
        )
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("?ref="), F.col("source")))
        .otherwise(F.lit(""))
    )
    return d.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            pick(_SUBS, 4),
            F.col("source"),
            pick(_TLDS, 5),
            pick(_SEGS, 4),
            qs,
        ),
    )


def _url_sql() -> str:
    sub = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SUBS)
    )
    tld = " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_TLDS))
    seg = " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SEGS))
    return f"""
    SELECT *,
      'https://' ||
      CASE doc_id % 4 {sub} END ||
      source ||
      CASE doc_id % 5 {tld} END ||
      CASE doc_id % 4 {seg} END ||
      CASE doc_id % 3
        WHEN 0 THEN '?utm_source=feed&utm_medium=rss&page=' || (doc_id % 7)
        WHEN 1 THEN '?ref=' || source
        ELSE '' END AS url
    FROM documents
    """


_SUFFIX_IN = ", ".join(f"'{s}'" for s in MULTI_PART_SUFFIXES)

# host/path/query extraction + eTLD+1, shared by both oracles; mirrors
# operators/urls.url_parts + registrable_domain
_URL_PARTS_SQL = f"""
parts AS (
    SELECT *,
        lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)) AS host,
        regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        regexp_extract(url, '\\?([^#]*)', 1) AS query_string
    FROM u
),
dom AS (
    SELECT *,
        CASE WHEN len(labels) >= 3 AND last2 IN ({_SUFFIX_IN})
             THEN labels[-3] || '.' || last2
             WHEN len(labels) >= 2 THEN last2
             ELSE host END AS reg_domain
    FROM (
        SELECT *, string_split(host, '.') AS labels,
               labels[-2] || '.' || labels[-1] AS last2
        FROM parts
    )
)
"""


# ---------------------------------------------------------------------------
# url_domain_extract
# ---------------------------------------------------------------------------


def url_domain_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document URL canonicalization: host, registrable domain,
    path depth, tracking-param detection and stripping.

    Plan shape: every derived column is whole-stage-codegen string math
    over the one documents scan — zero shuffles, zero UDFs, column-
    pruned to (doc_id, source).  At 100 TB this is a pure map stage."""
    from atd_data_lake_spark.operators.urls import (
        path_depth,
        url_parts,
        with_query_params,
        with_registrable_domain,
    )

    d = _with_url(_t(spark, sf_dir, "documents").select("doc_id", "source"))
    out = with_query_params(
        with_registrable_domain(url_parts(d, "url"))
    )
    return out.select(
        "doc_id",
        "url",
        "host",
        "reg_domain",
        path_depth(F.col("path")).alias("path_depth"),
        "n_params",
        "has_tracking",
        "clean_query",
    )


URL_DOMAIN_EXTRACT_SQL = f"""
WITH u AS ({_url_sql()}),
{_URL_PARTS_SQL}
SELECT doc_id, url, host, reg_domain,
    CAST(len(list_filter(string_split(path[2:], '/'), s -> s <> '')) AS BIGINT)
        AS path_depth,
    CAST(len(list_filter(string_split(query_string, '&'), p -> p <> ''))
        AS BIGINT) AS n_params,
    len(list_filter(string_split(query_string, '&'),
        p -> p LIKE 'utm\\_%' ESCAPE '\\')) > 0 AS has_tracking,
    coalesce(array_to_string(list_filter(string_split(query_string, '&'),
        p -> p <> '' AND p NOT LIKE 'utm\\_%' ESCAPE '\\'), '&'), '')
        AS clean_query
FROM dom
"""


# ---------------------------------------------------------------------------
# url_domain_rollup
# ---------------------------------------------------------------------------


def url_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain quality rollup + C4-style keep gate.

    ONE shuffle: groupBy(reg_domain) with map-side partial aggregation;
    web-scale domain cardinality (millions) is far below page count, so
    the exchange carries rollup rows only."""
    from atd_data_lake_spark.operators.urls import (
        domain_quality_rollup,
        url_parts,
        with_registrable_domain,
    )

    d = _with_url(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "n_chars"
        )
    )
    out = domain_quality_rollup(
        with_registrable_domain(url_parts(d, "url"))
    )
    return out.select(
        "reg_domain", "n_docs", "n_hosts", "total_chars", "lang_frac", "keep"
    )


URL_DOMAIN_ROLLUP_SQL = f"""
WITH u AS ({_url_sql()}),
{_URL_PARTS_SQL}
SELECT reg_domain,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
    CAST(sum(n_chars) AS BIGINT) AS total_chars,
    round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) / count(*), 6)
        AS lang_frac,
    (count(*) >= 3 AND
     round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) / count(*), 6) >= 0.3)
        AS keep
FROM dom
GROUP BY reg_domain
"""


# ---------------------------------------------------------------------------
# url_domain_gate — the rollup's keep verdict applied back to documents
# ---------------------------------------------------------------------------


def url_domain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end C4-style domain gate: rollup the domains, broadcast the
    (domain → keep) verdicts back onto the page stream, and report the
    per-source kept/dropped split.

    100 TB shape: the verdict table is domain-cardinality (model-sized
    next to pages) and broadcasts; pages never shuffle for the gate —
    the only exchanges are the rollup's own and the final per-source
    aggregate."""
    from atd_data_lake_spark.operators.urls import (
        domain_quality_rollup,
        url_parts,
        with_registrable_domain,
    )

    d = _with_url(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "n_chars"
        )
    )
    pages = with_registrable_domain(url_parts(d, "url"))
    verdicts = domain_quality_rollup(pages).select("reg_domain", "keep")
    gated = pages.join(F.broadcast(verdicts), "reg_domain")
    return gated.groupBy("source").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
        F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )


URL_DOMAIN_GATE_SQL = f"""
WITH u AS ({_url_sql()}),
{_URL_PARTS_SQL},
verdicts AS (
    SELECT reg_domain,
           (count(*) >= 3 AND
            round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  / count(*), 6) >= 0.3) AS keep
    FROM dom GROUP BY reg_domain
)
SELECT d.source,
       CAST(sum(CASE WHEN v.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN NOT v.keep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       CAST(sum(CASE WHEN v.keep THEN d.n_chars ELSE 0 END) AS BIGINT)
           AS kept_chars
FROM dom d JOIN verdicts v ON v.reg_domain = d.reg_domain
GROUP BY d.source
"""


# ---------------------------------------------------------------------------
# text_line_dedup — corpus-level line dedup (RefinedWeb/CCNet pass)
# ---------------------------------------------------------------------------

_LINE_WORDS = 10
_LINE_MAX_DF = 2


def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-level dedup over 10-word chunk "lines":
    lines appearing in ≥2 distinct docs are boilerplate and are dropped
    from every doc; output is the per-doc kept/dropped split plus the
    md5 of the cleaned text (portable across engines).  See
    ``operators/text.line_level_dedup`` for the two-shuffle scale
    argument."""
    from atd_data_lake_spark.operators.text import line_level_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return line_level_dedup(
        d, words_per_line=_LINE_WORDS, max_df=_LINE_MAX_DF
    ).select("doc_id", "n_lines", "n_kept", "n_dropped", "clean_md5")


TEXT_LINE_DEDUP_SQL = f"""
WITH words AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
lines AS (
    SELECT doc_id,
           generate_subscripts(chunks, 1) - 1 AS pos,
           unnest(chunks) AS line
    FROM (
        SELECT doc_id,
            list_transform(
                generate_series(0,
                    CAST(ceil(len(ws) / {float(_LINE_WORDS)!r}) AS INT) - 1),
                i -> array_to_string(
                    ws[(i*{_LINE_WORDS}+1):(i*{_LINE_WORDS}+{_LINE_WORDS})],
                    ' ')) AS chunks
        FROM words)
),
freq AS (
    SELECT line FROM lines GROUP BY line
    HAVING count(DISTINCT doc_id) >= {_LINE_MAX_DF}
),
flagged AS (
    SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS is_freq
    FROM lines l LEFT JOIN freq f ON f.line = l.line
)
SELECT doc_id,
    CAST(count(*) AS BIGINT) AS n_lines,
    CAST(sum(CASE WHEN NOT is_freq THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
    CAST(sum(CASE WHEN is_freq THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
    md5(coalesce(string_agg(CASE WHEN NOT is_freq THEN line END,
                            ' ' ORDER BY pos), '')) AS clean_md5
FROM flagged
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND29_QUERIES = {
    "url_domain_extract": url_domain_extract,
    "url_domain_rollup": url_domain_rollup,
    "url_domain_gate": url_domain_gate,
    "text_line_dedup": text_line_dedup,
}

ROUND29_ORACLES = {
    "url_domain_extract": URL_DOMAIN_EXTRACT_SQL,
    "url_domain_rollup": URL_DOMAIN_ROLLUP_SQL,
    "url_domain_gate": URL_DOMAIN_GATE_SQL,
    "text_line_dedup": TEXT_LINE_DEDUP_SQL,
}
