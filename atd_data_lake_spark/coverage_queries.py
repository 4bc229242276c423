"""Coverage family: the remaining SURVEY §2 operators as oracle-gated
queries over the driver tables.  Each query names the operator ID it
covers and the reference file:line it derives from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.functions.geo import haversine_feet
from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# Projection / filter family
# ---------------------------------------------------------------------------


def p1_rename_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — column rename map (TS_RENAME/GS_RENAME,
    unitdata_knack_common.py:13-27): bulk withColumnsRenamed."""
    c = _t(spark, sf_dir, "customer")
    return c.withColumnsRenamed(
        {"c_name": "customer_name", "c_acctbal": "account_balance"}
    ).select("c_custkey", "customer_name", "account_balance")


P1_SQL = """
SELECT c_custkey, c_name AS customer_name, c_acctbal AS account_balance
FROM customer
"""


def p2_select_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — fixed output column order (unitdata_knack_common.py:92-99)."""
    s = _t(spark, sf_dir, "supplier")
    return s.select("s_name", "s_nationkey", "s_suppkey")


P2_SQL = "SELECT s_name, s_nationkey, s_suppkey FROM supplier"


def p3_null_safe_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — cInt/cFlt/tStr null-safe coercions
    (unitdata_knack_common.py:129-154): 'nan'/''/None → NULL, trim, cast.
    Exercised over noisy strings derived from events."""
    e = _t(spark, sf_dir, "events")
    noisy = e.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(" nan "))
        .when(F.col("event_id") % 11 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("  "), F.col("value").cast("string"), F.lit(" ")))
        .alias("raw"),
    )
    t = F.trim(F.col("raw"))
    clean = F.when((t == "") | (F.lower(t) == "nan"), F.lit(None)).otherwise(t)
    # NULL-free output (missingness as a flag) so the driver's sorted-row
    # compare never orders None against values
    return noisy.select(
        "event_id",
        clean.isNull().alias("is_missing"),
        F.coalesce(clean, F.lit("")).alias("t_str"),
        F.coalesce(clean.cast("double"), F.lit(0.0)).alias("c_flt"),
        F.coalesce(clean.cast("double").cast("int"), F.lit(0)).alias("c_int"),
    )


P3_SQL = """
WITH noisy AS (
    SELECT event_id,
           CASE WHEN event_id % 7 = 0 THEN ' nan '
                WHEN event_id % 11 = 0 THEN ''
                ELSE '  ' || CAST(value AS VARCHAR) || ' ' END AS raw
    FROM events
),
c AS (
    SELECT event_id,
           CASE WHEN trim(raw) = '' OR lower(trim(raw)) = 'nan' THEN NULL
                ELSE trim(raw) END AS v
    FROM noisy
)
SELECT event_id,
       v IS NULL AS is_missing,
       coalesce(v, '') AS t_str,
       coalesce(CAST(v AS DOUBLE), 0.0) AS c_flt,
       coalesce(CAST(trunc(CAST(v AS DOUBLE)) AS INT), 0) AS c_int
FROM c
"""


def p6_same_day_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — same-day exclusion (support/last_update.py:155-206: don't
    process today's partial data); 'today' pinned for determinism."""
    e = _t(spark, sf_dir, "events")
    today = F.lit("2024-01-30").cast("timestamp")
    return (
        e.filter(F.col("ts") < F.date_trunc("DAY", today))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )


P6_SQL = """
SELECT CAST(ts AS DATE) AS day, count(*) AS n
FROM events WHERE ts < date_trunc('day', TIMESTAMP '2024-01-30')
GROUP BY 1
"""


def p7_file_kind_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — file-kind guards (skip unit_data.json / site.json,
    bt_json_standard.py:54-56): NOT IN filter."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(~F.col("event_type").isin("error", "view"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


P7_SQL = """
SELECT event_type, count(*) AS n
FROM events WHERE event_type NOT IN ('error', 'view')
GROUP BY 1
"""


def p8_day_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — day-window record filter (gs_ready.py:330-339): keep rows with
    d ≤ ts < d+1 for a target day."""
    e = _t(spark, sf_dir, "events")
    d = F.lit("2024-01-15").cast("timestamp")
    return e.filter((F.col("ts") >= d) & (F.col("ts") < F.date_add(d, 1))).select(
        "event_id", "ts", "event_type"
    )


P8_SQL = """
SELECT event_id, ts, event_type FROM events
WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
"""


def p5_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — LIKE filters on id_base/id_ext (support/catalog.py:87-90
    query(base=, ext=) builds SQL LIKE patterns): prefix + suffix LIKE
    over string keys, pushed to the scan as StringStartsWith/EndsWith."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(
        F.col("source").like("src1%") & F.col("lang").like("%n")
    ).select("doc_id", "source", "lang")


P5_SQL = """
SELECT doc_id, source, lang FROM documents
WHERE source LIKE 'src1%' AND lang LIKE '%n'
"""


def p9_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — regex device filter (--name_filter, gs_support.py:83):
    rlike on entity names."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").rlike("Customer#0+1[0-9]{2}$")).select(
        "c_custkey", "c_name"
    )


P9_SQL = r"""
SELECT c_custkey, c_name FROM customer
WHERE regexp_matches(c_name, 'Customer#0+1[0-9]{2}$')
"""


def p10_validity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 — status/validity filters (device_status != REMOVED,
    location not null; gs_support.py:74, gs_ready.py:224-231)."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(
        (F.col("c_mktsegment") != "FURNITURE") & F.col("c_acctbal").isNotNull()
        & (F.col("c_acctbal") > 0)
    ).select("c_custkey", "c_mktsegment", "c_acctbal")


P10_SQL = """
SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
WHERE c_mktsegment <> 'FURNITURE' AND c_acctbal IS NOT NULL AND c_acctbal > 0
"""


def p11_dup_key_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — duplicate-IP dedup, first wins (gs_support.py:69-79).  The
    reference's 'first' is scan order; the engine pins it to min entity id
    (deterministic under parallelism, like A5's rank)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    return (
        c.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("c_nationkey", "c_custkey", "c_name")
    )


P11_SQL = """
SELECT c_nationkey, c_custkey, c_name FROM (
    SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
    FROM customer
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Join / aggregation / set / sort leftovers
# ---------------------------------------------------------------------------


def j5_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — unit-data location LEFT JOIN (unitdata_knack_common.py:87-90):
    entities keep their row when the lookup misses."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    return (
        c.join(counts, c.c_custkey == counts.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


J5_SQL = """
SELECT c_custkey, coalesce(n_orders, 0) AS n_orders
FROM customer LEFT JOIN (
    SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1
) ON c_custkey = o_custkey
"""


def a4_collect_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — job-level collect range: min start / max end over processed
    items (support/perfmet.py:40-50)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.min("ts").alias("collection_start"),
        F.max("ts").alias("collection_end"),
        F.count("*").alias("records"),
    )


A4_SQL = """
SELECT event_type, min(ts) AS collection_start, max(ts) AS collection_end,
       count(*) AS records
FROM events GROUP BY 1
"""


def a8_distinct_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — distinct-set collection (data.device_id.unique(),
    bt_ready.py:110)."""
    e = _t(spark, sf_dir, "events")
    return e.select("user_id").distinct()


A8_SQL = "SELECT DISTINCT user_id FROM events"


def a9_item_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — processed-item count (etl_app.py:269-285)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(F.count("*").alias("item_count"))


A9_SQL = "SELECT count(*) AS item_count FROM lineitem"


def o3_top1_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — SELECT TOP 1 ... ORDER BY ts DESC ≡ max(ts)
    (wt_mssql_db.py:46-60)."""
    e = _t(spark, sf_dir, "events")
    return e.agg(F.max("ts").alias("latest_ts"))


O3_SQL = "SELECT max(ts) AS latest_ts FROM events"


def o5_fuzzy_top1_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — fuzzy top-1 via max_by (gs_ready.py:343-353 _findFuzzyWinner):
    per user, the event with the highest value (ties broken by min
    event_id through the orderable struct)."""
    e = _t(spark, sf_dir, "events")
    # orderable scalar: 2-dp value in cents (exact) scaled, minus event_id
    # as deterministic tie-break (min id wins among equal values)
    score = F.round(F.col("value") * 100, 0).cast("long") * 10_000_000 - F.col(
        "event_id"
    )
    return e.groupBy("user_id").agg(
        F.max_by(F.col("event_id"), score).alias("best_event_id"),
        F.max("value").alias("best_value"),
    )


O5_SQL = """
SELECT user_id,
       arg_max(event_id, CAST(round(value * 100, 0) AS BIGINT) * 10000000 - event_id)
           AS best_event_id,
       max(value) AS best_value
FROM events GROUP BY 1
"""


def u2_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — union of origin+dest id sets (bt_ready.py:124-125)."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id")
    b = e.filter(F.col("event_type") == "click").select("user_id")
    return a.union(b).distinct()


U2_SQL = """
SELECT DISTINCT user_id FROM (
    SELECT user_id FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT user_id FROM events WHERE event_type = 'click'
)
"""


def u3_multi_pattern_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 — multi-pattern date-set union (last_upd_fs.py:41-51): dates
    present under any of several file patterns."""
    e = _t(spark, sf_dir, "events")
    days = None
    for kind in ["error", "purchase", "view"]:
        d = e.filter(F.col("event_type") == kind).select(
            F.to_date("ts").alias("day")
        )
        days = d if days is None else days.union(d)
    return days.distinct().orderBy("day")


U3_SQL = """
SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
WHERE event_type IN ('error', 'purchase', 'view')
"""


def s_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 math — haversine feet (util/gps_h.py:9-24), rounded to 1 ft
    (libm sin/cos agree to far below that)."""
    n = _t(spark, sf_dir, "nation")
    lat1 = F.lit(30.0) + F.col("n_nationkey") * 0.01
    lon1 = F.lit(-97.7) - F.col("n_nationkey") * 0.01
    out = n.select(
        "n_nationkey",
        F.round(haversine_feet(lat1, lon1, F.lit(30.2672), F.lit(-97.7431)), 1).alias(
            "dist_ft"
        ),
    )
    return out


S_HAVERSINE_SQL = """
SELECT n_nationkey,
       round(20902230.0 * 2 * atan2(
           sqrt(pow(sin(radians(30.2672 - (30.0 + n_nationkey * 0.01)) / 2), 2)
                + cos(radians(30.0 + n_nationkey * 0.01)) * cos(radians(30.2672))
                  * pow(sin(radians(-97.7431 - (-97.7 - n_nationkey * 0.01)) / 2), 2)),
           sqrt(1 - (pow(sin(radians(30.2672 - (30.0 + n_nationkey * 0.01)) / 2), 2)
                + cos(radians(30.0 + n_nationkey * 0.01)) * cos(radians(30.2672))
                  * pow(sin(radians(-97.7431 - (-97.7 - n_nationkey * 0.01)) / 2), 2)))
       ), 1) AS dist_ft
FROM nation
"""


COVERAGE_QUERIES = {
    "p1_rename_map": p1_rename_map,
    "p2_select_reorder": p2_select_reorder,
    "p3_null_safe_coercion": p3_null_safe_coercion,
    "p6_same_day_exclusion": p6_same_day_exclusion,
    "p7_file_kind_guard": p7_file_kind_guard,
    "p8_day_window": p8_day_window,
    "p5_like_filter": p5_like_filter,
    "p9_regex_filter": p9_regex_filter,
    "p10_validity_filter": p10_validity_filter,
    "p11_dup_key_dedup": p11_dup_key_dedup,
    "j5_left_join": j5_left_join,
    "a4_collect_range": a4_collect_range,
    "a8_distinct_set": a8_distinct_set,
    "a9_item_count": a9_item_count,
    "o3_top1_latest": o3_top1_latest,
    "o5_fuzzy_top1_max_by": o5_fuzzy_top1_max_by,
    "u2_union_distinct": u2_union_distinct,
    "u3_multi_pattern_union": u3_multi_pattern_union,
    "s_haversine": s_haversine,
}

COVERAGE_ORACLES = {
    "p1_rename_map": P1_SQL,
    "p2_select_reorder": P2_SQL,
    "p3_null_safe_coercion": P3_SQL,
    "p6_same_day_exclusion": P6_SQL,
    "p7_file_kind_guard": P7_SQL,
    "p8_day_window": P8_SQL,
    "p5_like_filter": P5_SQL,
    "p9_regex_filter": P9_SQL,
    "p10_validity_filter": P10_SQL,
    "p11_dup_key_dedup": P11_SQL,
    "j5_left_join": J5_SQL,
    "a4_collect_range": A4_SQL,
    "a8_distinct_set": A8_SQL,
    "a9_item_count": A9_SQL,
    "o3_top1_latest": O3_SQL,
    "o5_fuzzy_top1_max_by": O5_SQL,
    "u2_union_distinct": U2_SQL,
    "u3_multi_pattern_union": U3_SQL,
    "s_haversine": S_HAVERSINE_SQL,
}


# ---------------------------------------------------------------------------
# Beyond-reference OLAP aggregates (SURVEY §2.4 notes the reference has no
# grouping sets / cube / rollup / approx-distinct; a 100 TB engine does)
# ---------------------------------------------------------------------------


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grouping-id — subtotal
    rows computed in one pass (map-side partial agg per grouping set)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "gid",
        )
    )


AGG_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       count(*) AS n,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((l_returnflag), (l_linestatus), ()) —
    the irregular grouping shape neither ROLLUP nor CUBE expresses
    (Dataset.groupingSets, Spark 4): three grouping sets, one shuffle,
    map-side partial agg per set."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count("*").alias("n"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "gid",
        )
    )


AGG_GROUPING_SETS_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       count(*) AS n,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week): all 4 grouping sets in one
    shuffle."""
    e = _t(spark, sf_dir, "events")
    base = e.select("event_type", (F.dayofweek("ts") - 1).cast("long").alias("dow"))
    return (
        base.cube("event_type", "dow")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dow").cast("string"), F.lit("ALL")).alias("dow"),
            "n",
        )
    )


AGG_CUBE_SQL = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(dow AS VARCHAR), 'ALL') AS dow,
       count(*) AS n
FROM (SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow FROM events)
GROUP BY CUBE (event_type, dow)
"""


def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of an integer-valued measure per
    group (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` on identical
    operand multisets; integer inputs keep the interpolation exact)."""
    e = _t(spark, sf_dir, "events")
    v = F.floor("value").cast("long")
    return (
        e.select("event_type", v.alias("v"))
        .groupBy("event_type")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.95)").alias("p95"),
        )
    )


AGG_PCTL_SQL = """
SELECT event_type,
       quantile_cont(CAST(floor(value) AS BIGINT), 0.5) AS p50,
       quantile_cont(CAST(floor(value) AS BIGINT), 0.95) AS p95
FROM events GROUP BY 1
"""


def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + approximate distinct users per event type.  The approx
    (HLL) column is the 100 TB path — constant memory per group; rows-only
    semantics for it would be ideal, so the oracle checks the EXACT column
    and the Spark side asserts the HLL estimate's 5% envelope internally."""
    e = _t(spark, sf_dir, "events")
    out = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", 0.02).alias("_n_approx"),
    )
    # keep the oracle surface exact; the approx column is validated
    # relative to exact, then dropped (it is engine-specific by nature)
    checked = out.withColumn(
        "approx_ok",
        (F.col("_n_approx") >= F.col("n_exact") * 0.9)
        & (F.col("_n_approx") <= F.col("n_exact") * 1.1),
    )
    return checked.select("event_type", "n_exact", "approx_ok")


AGG_DISTINCT_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS approx_ok
FROM events GROUP BY 1
"""


COVERAGE_QUERIES.update(
    {
        "agg_rollup": agg_rollup,
        "agg_grouping_sets": agg_grouping_sets,
        "agg_cube": agg_cube,
        "agg_exact_percentiles": agg_exact_percentiles,
        "agg_distinct_counts": agg_distinct_counts,
    }
)

COVERAGE_ORACLES.update(
    {
        "agg_rollup": AGG_ROLLUP_SQL,
        "agg_grouping_sets": AGG_GROUPING_SETS_SQL,
        "agg_cube": AGG_CUBE_SQL,
        "agg_exact_percentiles": AGG_PCTL_SQL,
        "agg_distinct_counts": AGG_DISTINCT_SQL,
    }
)
