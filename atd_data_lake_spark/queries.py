"""The engine's query surface — one entry per operator family from
SURVEY.md §2, re-expressed over the driver's TPC-H-ish tables, each with
a DuckDB-runnable oracle SQL string (see __spark_entry__.py).

Parity rules (every query obeys all of them):
- session timezone pinned to UTC (DuckDB timestamps are UTC-naive);
- every computed column aliased identically in Spark and SQL;
- doubles rounded identically on both sides (sums 2dp, ratios/avgs 6dp);
- computed integral columns cast to BIGINT on both sides (Spark window
  ranks are int, DuckDB's are bigint).

Each query's docstring names the SURVEY.md §2 operator(s) it covers and
the reference file:line it derives from.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.functions.datetime_fns import floor_15min_epoch, timebin_15min
from atd_data_lake_spark.functions.money import (
    D2,
    REVENUE_SQL,
    avg_hu,
    avg_hu_sql,
    cents_sum,
    dsum,
    revenue,
)
from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.asof import asof_join
from atd_data_lake_spark.operators.fuzzy import levenshtein_ratio
from atd_data_lake_spark.operators.text import (
    BPE_PRETOKEN_RE,
    STOPWORDS,
    profile_documents,
)
from atd_data_lake_spark.operators.windows import (
    daily_cumulative,
    first_seen_rank,
    latest_per_group,
)


# ---------------------------------------------------------------------------
# Aggregation family
# ---------------------------------------------------------------------------


def a1_tumbling_window_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — the reference's flagship 15-min tumbling aggregation
    (gs_ready_agg.py:69-92: volume=size, avg, sample-std→0 fill, round 3).
    Window start emitted as epoch seconds for engine-neutral comparison."""
    e = _t(spark, sf_dir, "events")
    v2 = F.col("value").cast(D2)
    grouped = (
        e.groupBy(floor_15min_epoch("ts").alias("win_start"), "event_type")
        .agg(
            F.count("*").alias("volume"),
            cents_sum("value").alias("_cents"),
            F.sum(v2).cast("double").alias("_sx"),
            F.sum(v2 * v2).cast("double").alias("_sxx"),
        )
    )
    n = F.col("volume").cast("double")
    var = (F.col("_sxx") - F.col("_sx") * F.col("_sx") / n) / (n - 1)
    std = F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(0.0)
    return grouped.select(
        "win_start",
        "event_type",
        "volume",
        avg_hu("_cents", "volume", 3).alias("value_avg"),
        F.round(std, 3).alias("value_std"),
    )


# sample stddev derived from exact decimal sums so both engines compute the
# identical double (Spark stddev_samp ≡ this formula; the reference's pandas
# std is also sample stddev, gs_ready_agg.py:80-83)
A1_SQL = f"""
SELECT win_start, event_type, volume,
       {avg_hu_sql("cents", "volume", 3)} AS value_avg,
       round(CASE WHEN n > 1 THEN sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0))
                  ELSE 0.0 END, 3) AS value_std
FROM (
    SELECT CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS win_start, event_type,
           count(*) AS volume,
           CAST(count(*) AS DOUBLE) AS n,
           sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sxx
    FROM events GROUP BY 1, 2
)
"""


def a2_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — per-day record counts (wt_mssql_db.py:62-74)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))


A2_SQL = "SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1"


def a3_sensor_daily_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — per-sensor daily obs: count, min ts, max ts, value sum
    (bt_json_standard.py:146-157, wt_json_standard.py:111-121)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_obs"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.round(dsum("value"), 2).alias("value_sum"),
    )


A3_SQL = """
SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_obs,
       min(ts) AS ts_min, max(ts) AS ts_max,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS value_sum
FROM events GROUP BY 1, 2
"""


def a5_first_seen_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — daily-reset first-seen counter (bt_extract_soc.py:73-91),
    deterministic dense_rank variant (SURVEY.md §7.4)."""
    e = _t(spark, sf_dir, "events")
    ranked = first_seen_rank(e, entity_col="user_id", ts_col="ts")
    return (
        ranked.select(
            F.to_date("ts").alias("day"),
            "user_id",
            F.col("seen_rank").cast("long").alias("seen_rank"),
        )
        .distinct()
    )


A5_SQL = """
SELECT day, user_id,
       dense_rank() OVER (PARTITION BY day ORDER BY first_ts, user_id) AS seen_rank
FROM (
    SELECT CAST(ts AS DATE) AS day, user_id, min(ts) AS first_ts
    FROM events GROUP BY 1, 2
)
"""


def a6_trailing_7day_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — 7-day trailing mean of per-sensor daily totals
    (util/perfmet_knack.py:114-158, SAMPLE_DAYS=7)."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(dsum("value"), 6).alias("daily_value")
    )
    epoch_day = F.datediff(F.col("day"), F.lit("1970-01-01"))
    w = Window.partitionBy("user_id").orderBy(epoch_day).rangeBetween(-6, 0)
    # exact decimal window sum / window count → identical doubles on both
    # engines regardless of DuckDB's segment-tree vs Spark's streaming frame
    expected = F.round(
        F.sum(F.col("daily_value").cast("decimal(18,6)")).over(w).cast("double")
        / F.count("*").over(w),
        6,
    )
    return daily.select("user_id", "day", "daily_value", expected.alias("expected"))


A6_SQL = """
SELECT user_id, day, daily_value,
       round(CAST(sum(CAST(daily_value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / count(*) OVER w, 6) AS expected
FROM (
    SELECT user_id, CAST(ts AS DATE) AS day,
           round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 6) AS daily_value
    FROM events GROUP BY 1, 2
)
WINDOW w AS (PARTITION BY user_id ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
"""


def a7_latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — latest row per group (perfmet_knack.py:141-142)."""
    e = _t(spark, sf_dir, "events")
    return latest_per_group(
        e, group_cols=["user_id"], order_col="ts", tiebreak=["event_id"]
    ).select("user_id", F.col("event_id").alias("last_event_id"), F.col("event_type").alias("last_event_type"))


A7_SQL = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
FROM (
    SELECT user_id, event_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


def w1_daily_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — running per-day total (the WT dailyCumulative column,
    docs/datasrc_wt.md:15-21), as a rows-unbounded-preceding window."""
    e = _t(spark, sf_dir, "events").withColumn("_v", F.col("value").cast(D2))
    out = daily_cumulative(
        e, entity_col="user_id", ts_col="ts", value_col="_v", tiebreak=["event_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.round(F.col("daily_cumulative").cast("double"), 6).alias("daily_cumulative"),
    )


W1_SQL = """
SELECT event_id, user_id,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (
           PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS daily_cumulative
FROM events
"""


def o2_latest_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3 — latest-item-per-key selection (catalog orderBy desc LIMIT 1,
    support/catalog.py:245-263; SELECT TOP 1 wt_mssql_db.py:46-60)."""
    e = _t(spark, sf_dir, "events")
    return latest_per_group(
        e, group_cols=["event_type"], order_col="ts", tiebreak=["event_id"]
    ).select("event_type", F.col("ts").alias("ts_max"), F.col("event_id").alias("last_event_id"))


O2_SQL = """
SELECT event_type, ts AS ts_max, event_id AS last_event_id
FROM (
    SELECT event_type, ts, event_id,
           row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


def o1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-family — top-k per group: 5 highest-value orders per market
    segment (publish-ordering analog of bt_ready.py:108-122)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rank")
    )


O1_SQL = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rank
FROM (
    SELECT c_mktsegment, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
    FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Join family
# ---------------------------------------------------------------------------


def j1_incremental_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the incremental anti-join engine loop (support/last_update.py:79-121):
    source items not yet covered by the target — here, orders with no
    lineitem yet."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return o.join(l, o.o_orderkey == l.l_orderkey, "left_anti").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )


J1_SQL = """
SELECT o_orderkey, o_orderstatus, o_orderdate
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


def j2_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J4 — fact-to-dimension broadcast enrichment (bt_ready.py:104-108,
    wt_ready.py:99-103): lineitem enriched with supplier nation, revenue
    per nation."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(revenue().alias("revenue"), F.count("*").alias("n_items"))
    )


J2_SQL = f"""
SELECT n_name, {REVENUE_SQL} AS revenue, count(*) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def j3_double_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — double enrichment (origin+destination joins, bt_ready.py:112-118):
    lineitem joined to both part and supplier dimensions."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("p_brand", "n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(dsum("l_quantity"), 2).alias("sum_qty"),
        )
    )


J3_SQL = """
SELECT p_brand, n_name, count(*) AS n_items,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
GROUP BY p_brand, n_name
"""


def j7_semi_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — semi-join pruning (bt_ready.py:110-111: keep only devices
    referenced by data): customers with ≥1 1996 order, counted per segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


J7_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01')
GROUP BY c_mktsegment
"""


def j8_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — backward as-of join (support/catalog.py:123-188 getForPrevDate):
    each event matched to the user's latest order dated ≤ the event."""
    # pre-project: asof_join carries every left column through its
    # aggregation, so the scan reads exactly what is selected here
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    out = asof_join(
        e, o, on=["user_id"], left_ts="ts", right_ts="o_orderdate", direction="backward"
    )
    return out.select(
        "event_id",
        F.col("o_orderdate").cast("timestamp").alias("last_order_date"),
    )


J8_SQL = """
SELECT e.event_id, max(o.o_orderdate) AS last_order_date
FROM events e LEFT JOIN orders o
  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
GROUP BY e.event_id
"""


def j9_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — forward as-of join (support/unitdata.py:40-63: closest *future*
    snapshot): for each error event, the user's next purchase event."""
    e = _t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    out = asof_join(
        errors,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="purchase_ts",
        direction="forward",
    )
    return out.select("event_id", F.col("purchase_ts").alias("next_purchase_ts"))


J9_SQL = """
SELECT e.event_id, min(p.ts) AS next_purchase_ts
FROM events e LEFT JOIN events p
  ON p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts >= e.ts
WHERE e.event_type = 'error'
GROUP BY e.event_id
"""


def j10_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — fuzzy entity-resolution join (gs_ready.py:134-215): each
    supplier resolved to its best-matching customer name within the same
    nation by similarity ratio (SQL-expressible levenshtein variant; the
    difflib-exact variant is exercised in tests)."""
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    scored = (
        s.join(F.broadcast(c), s.s_nationkey == c.c_nationkey)
        .withColumn(
            "ratio", F.round(levenshtein_ratio(F.col("s_name"), F.col("c_name")), 6)
        )
    )
    # top-1 via max_by on an orderable (ratio desc, custkey asc) struct:
    # map-side partial aggregation — a window rank would force the whole
    # scored set through one sort (measured 5x slower on a 1-split scan)
    best = F.max_by(
        F.col("c_custkey"), F.struct(F.col("ratio"), -F.col("c_custkey"))
    )
    return scored.groupBy("s_suppkey").agg(
        best.alias("matched_custkey"), F.max("ratio").alias("ratio")
    )


J10_SQL = """
SELECT s_suppkey, c_custkey AS matched_custkey, ratio
FROM (
    SELECT s_suppkey, c_custkey, ratio,
           row_number() OVER (PARTITION BY s_suppkey
                              ORDER BY ratio DESC, c_custkey ASC) AS rn
    FROM (
        SELECT s_suppkey, c_custkey,
               round(CASE WHEN greatest(length(s_name), length(c_name)) = 0 THEN 1.0
                     ELSE 1.0 - levenshtein(s_name, c_name)
                           / CAST(greatest(length(s_name), length(c_name)) AS DOUBLE)
                     END, 6) AS ratio
        FROM supplier JOIN customer ON s_nationkey = c_nationkey
    )
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Filter / projection / scalar family
# ---------------------------------------------------------------------------


def p4_pushdown_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — date-range predicate pushed to the parquet scan
    (catalog_postgrest.py:56-68; verified via .explain PushedFilters)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.round(dsum("l_extendedprice"), 2).alias("sum_price"),
            F.count("*").alias("n"),
        )
    )


P4_SQL = """
SELECT l_returnflag,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


def p12_case_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 — chained when()/otherwise() normalization
    (gs_agg_extract_soc.py:78-104: Southbound→SOUTHBOUND, S→THRU...)."""
    e = _t(spark, sf_dir, "events")
    category = (
        F.when(F.col("event_type") == "purchase", "CONVERSION")
        .when(F.col("event_type") == "signup", "CONVERSION")
        .when(F.col("event_type") == "click", "ENGAGEMENT")
        .when(F.col("event_type") == "view", "ENGAGEMENT")
        .otherwise("OTHER")
    )
    return e.groupBy(category.alias("category")).agg(
        F.count("*").alias("n"), F.round(dsum("value"), 2).alias("value_sum")
    )


P12_SQL = """
SELECT CASE WHEN event_type = 'purchase' THEN 'CONVERSION'
            WHEN event_type = 'signup' THEN 'CONVERSION'
            WHEN event_type = 'click' THEN 'ENGAGEMENT'
            WHEN event_type = 'view' THEN 'ENGAGEMENT'
            ELSE 'OTHER' END AS category,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS value_sum
FROM events GROUP BY 1
"""


def p13_derived_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 — derived threshold flag (heavy_vehicle = length ≥ 17,
    gs_ready_agg.py:70): high_value = value ≥ 100."""
    e = _t(spark, sf_dir, "events")
    flag = F.when(F.col("value") >= 100, 1).otherwise(0).cast("long")
    grouped = e.groupBy(flag.alias("high_value")).agg(
        F.count("*").alias("n"), cents_sum("value").alias("_cents")
    )
    return grouped.select(
        "high_value", "n", avg_hu("_cents", "n", 6).alias("value_avg")
    )


P13_SQL = f"""
SELECT high_value, n, {avg_hu_sql("cents", "n", 6)} AS value_avg
FROM (
    SELECT CAST(CASE WHEN value >= 100 THEN 1 ELSE 0 END AS BIGINT) AS high_value,
           count(*) AS n,
           sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
    FROM events GROUP BY 1
)
"""


def p14_split_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14 — direction extraction via split (wt_extract_soc.py:62-63:
    detName.split('_')[0]): first word of p_name."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy(
        F.split(F.col("p_name"), " ").getItem(0).alias("name_head")
    ).agg(F.count("*").alias("n"))


P14_SQL = """
SELECT split_part(p_name, ' ', 1) AS name_head, count(*) AS n
FROM part GROUP BY 1
"""


def p15_guid_redash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15 — GUID re-dashing (gs_ready.py:232-233: insert dashes into a
    32-hex id): md5(p_name||p_brand) dashed 8-4-4-4-12."""
    p = _t(spark, sf_dir, "part")
    h = F.md5(F.concat_ws("|", F.col("p_name"), F.col("p_brand"), F.col("p_partkey").cast("string")))
    guid = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    return p.select("p_partkey", guid.alias("zone_guid"))


P15_SQL = """
SELECT p_partkey,
       concat_ws('-', substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
                 substring(h, 17, 4), substring(h, 21, 12)) AS zone_guid
FROM (SELECT p_partkey,
             md5(concat_ws('|', p_name, p_brand, CAST(p_partkey AS VARCHAR))) AS h
      FROM part)
"""


def u1_cross_day_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 + P8 — cross-day completion: union day D with auxiliary D±1
    slices, then filter to the day window (gs_ready.py:236-267,
    fillDayRecords :330-339)."""
    e = _t(spark, sf_dir, "events")
    day = "2024-01-02"
    d_prev = e.filter(F.to_date("ts") == F.date_sub(F.lit(day).cast("date"), 1))
    d_cur = e.filter(F.to_date("ts") == F.lit(day).cast("date"))
    d_next = e.filter(F.to_date("ts") == F.date_add(F.lit(day).cast("date"), 1))
    unioned = d_prev.unionByName(d_cur).unionByName(d_next)
    return unioned.filter(
        (F.col("ts") >= F.lit(f"{day} 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp"))
    ).select("event_id", "ts", "event_type")


U1_SQL = """
SELECT event_id, ts, event_type FROM events
WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
"""


def s_scalar_record_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 hash — MD5 record_id over concatenated fields
    (bt_extract_soc.py:132-135; exact-parity md5(concat(...)))."""
    o = _t(spark, sf_dir, "orders")
    rid = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_custkey").cast("string"),
        )
    )
    return o.select("o_orderkey", rid.alias("record_id"))


S_RECORD_ID_SQL = """
SELECT o_orderkey,
       md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                     CAST(o_custkey AS VARCHAR))) AS record_id
FROM orders
"""


def s_scalar_timebin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 timebin — "%02d:%02d" % (h, round(m/15)*15), the reference's
    rounding quirk that can emit "HH:60" (wt_extract_soc.py:79)."""
    e = _t(spark, sf_dir, "events")
    return e.select("event_id", timebin_15min("ts").alias("timebin"))


S_TIMEBIN_SQL = """
SELECT event_id,
       lpad(CAST(CAST(hour(ts) AS INT) AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(CAST(round(minute(ts) / 15.0, 0) * 15 AS INT) AS VARCHAR), 2, '0')
           AS timebin
FROM events
"""


def s_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 date parts + reference day-of-week (Sunday=0,
    wt_extract_soc.py:73-79)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.year("ts").cast("long").alias("year"),
        F.month("ts").cast("long").alias("month"),
        F.dayofmonth("ts").cast("long").alias("day"),
        F.hour("ts").cast("long").alias("hour"),
        F.minute("ts").cast("long").alias("minute"),
        (F.dayofweek("ts") - 1).cast("long").alias("day_of_week"),
    )


S_DATE_PARTS_SQL = """
SELECT event_id, CAST(year(ts) AS BIGINT) AS year, CAST(month(ts) AS BIGINT) AS month,
       CAST(day(ts) AS BIGINT) AS day, CAST(hour(ts) AS BIGINT) AS hour,
       CAST(minute(ts) AS BIGINT) AS minute,
       CAST(dayofweek(ts) AS BIGINT) AS day_of_week
FROM events
"""


# ---------------------------------------------------------------------------
# Training-data pipeline: text / similarity (dedup: dedup_queries.py)
# ---------------------------------------------------------------------------


def text_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts, punctuation ratio, heuristic language
    ID, quality score, fingerprint (operators/text.profile_documents)."""
    d = _t(spark, sf_dir, "documents")
    # profile_documents passes through its input columns; project first so
    # the scan reads only what the profile needs
    out = profile_documents(d.select("doc_id", "text"), text_col="text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_subtokens").cast("long").alias("n_subtokens"),
        "punct_ratio",
        "lang_pred",
        "quality",
        "fingerprint",
    )


def _text_profile_sql() -> str:
    """Generate the oracle from the same STOPWORDS the Spark side uses."""
    hit_exprs = {}
    for lang, words in STOPWORDS.items():
        terms = []
        for w in words:
            needle = f" {w} "
            terms.append(
                f"CAST((length(' ' || lower(text) || ' ') - "
                f"length(replace(' ' || lower(text) || ' ', '{needle}', ''))) "
                f"/ {len(needle)} AS BIGINT)"
            )
        hit_exprs[lang] = "(" + " + ".join(terms) + ")"
    all_hits = " + ".join(hit_exprs.values())
    best = "greatest(" + ", ".join(hit_exprs.values()) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN {best} > 0 AND {hit_exprs[lang]} = {best} THEN '{lang}'"
        for lang in STOPWORDS
    ) + " ELSE 'und' END"
    n_tokens = (
        "CASE WHEN trim(text) = '' THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
    )
    n_subtokens = (
        "CASE WHEN trim(text) = '' THEN 0 ELSE ("
        "SELECT CAST(sum(ceil(length(tok) / 4.0)) AS BIGINT) "
        "FROM UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS s(tok)) END"
    )
    punct = (
        "CASE WHEN length(text) = 0 THEN 0.0 "
        "ELSE round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) "
        "/ CAST(length(text) AS DOUBLE), 6) END"
    )
    quality = (
        f"round(0.4 * (least({n_tokens}, 100) / 100.0) "
        f"+ 0.3 * (1.0 - {punct}) "
        f"+ 0.3 * (CASE WHEN ({all_hits}) > 0 THEN 1.0 ELSE 0.0 END), 6)"
    )
    fingerprint = (
        "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"
    )
    return f"""
SELECT doc_id,
       CAST({n_tokens} AS BIGINT) AS n_tokens,
       {n_subtokens} AS n_subtokens,
       {punct} AS punct_ratio,
       {lang_case} AS lang_pred,
       {quality} AS quality,
       {fingerprint} AS fingerprint
FROM documents
"""


def corpus_curation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation composite: profile → quality +
    language gate → near-identical dedup on the normalized fingerprint
    (canonical = min doc_id).  The whole chain is one map stage plus ONE
    shuffle (the fingerprint groupBy) — the shape a 100 TB corpus-prep
    job runs nightly."""
    d = _t(spark, sf_dir, "documents")
    prof = profile_documents(d.select("doc_id", "text"), text_col="text")
    kept = prof.filter((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en"))
    return kept.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("n_dups"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        F.min_by("quality", "doc_id").alias("quality"),
    )


def _corpus_curation_sql() -> str:
    return f"""
SELECT fingerprint,
       min(doc_id) AS canonical_id,
       count(*) AS n_dups,
       min_by(n_tokens, doc_id) AS n_tokens,
       min_by(quality, doc_id) AS quality
FROM ({_text_profile_sql()})
WHERE quality >= 0.5 AND lang_pred = 'en'
GROUP BY fingerprint
"""


def text_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals
    (operators/text.repetition_profile): top-bigram occurrence fraction +
    duplicate-token fraction per document."""
    from atd_data_lake_spark.operators.text import repetition_profile

    d = _t(spark, sf_dir, "documents")
    return repetition_profile(d, text_col="text", id_col="doc_id")


TEXT_REPETITION_SQL = """
WITH t AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
    FROM documents
),
tok AS (
    SELECT doc_id,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_distinct
    FROM t
),
b AS (
    SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
    FROM t, UNNEST(range(1, len(toks))) AS u(i)
    WHERE len(toks) >= 2
),
c AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2),
agg AS (SELECT doc_id, max(n) AS mx, sum(n) AS tot FROM c GROUP BY 1)
SELECT tok.doc_id,
       coalesce(round(agg.mx / CAST(agg.tot AS DOUBLE), 6), 0.0) AS top_bigram_frac,
       CASE WHEN tok.n_tok = 0 THEN 0.0
            ELSE round(1.0 - tok.n_distinct / CAST(tok.n_tok AS DOUBLE), 6) END
           AS dup_token_frac
FROM tok LEFT JOIN agg ON tok.doc_id = agg.doc_id
"""


def text_bpe_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: GPT-2-style pre-tokenizer regex, counted
    JVM-side (operators/text.bpe_pretoken_count).  chars_per_token is the
    compression-ratio proxy used for quality filtering."""
    from atd_data_lake_spark.operators.text import bpe_pretoken_count

    d = _t(spark, sf_dir, "documents")
    n = bpe_pretoken_count(F.col("text"))
    return d.select(
        "doc_id",
        n.alias("n_pretokens"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(F.round(F.length("text") / n.cast("double"), 6))
        .alias("chars_per_token"),
    )


def _text_bpe_tokens_sql() -> str:
    pat = BPE_PRETOKEN_RE.replace("'", "''")
    n = f"len(regexp_extract_all(text, '{pat}'))"
    return f"""
SELECT doc_id,
       CAST({n} AS BIGINT) AS n_pretokens,
       CASE WHEN {n} = 0 THEN 0.0
            ELSE round(length(text) / CAST({n} AS DOUBLE), 6) END AS chars_per_token
FROM documents
"""


def text_langid_ngram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (operators/text.langid_trigram_documents):
    argmax of per-language profile-trigram hits, 'und' when no profile
    trigram occurs."""
    from atd_data_lake_spark.operators.text import langid_trigram_documents

    d = _t(spark, sf_dir, "documents")
    return langid_trigram_documents(d, text_col="text", id_col="doc_id")


def _text_langid_ngram_sql() -> str:
    """Oracle generated from the same TRIGRAM_PROFILES the Spark side
    uses; replace() arithmetic = the same non-overlapping scan."""
    from atd_data_lake_spark.operators.text import TRIGRAM_PROFILES

    hit_exprs = {}
    for lang, grams in TRIGRAM_PROFILES.items():
        terms = [
            f"CAST((length(' ' || lower(text) || ' ') - "
            f"length(replace(' ' || lower(text) || ' ', '{g}', ''))) "
            f"/ {len(g)} AS BIGINT)"
            for g in grams
        ]
        hit_exprs[lang] = "(" + " + ".join(terms) + ")"
    best = "greatest(" + ", ".join(hit_exprs.values()) + ")"
    lang_case = (
        "CASE "
        + " ".join(
            f"WHEN {best} > 0 AND {hit_exprs[lang]} = {best} THEN '{lang}'"
            for lang in TRIGRAM_PROFILES
        )
        + " ELSE 'und' END"
    )
    return f"""
SELECT doc_id,
       {lang_case} AS lang_trigram,
       CAST(CASE WHEN {best} > 0 THEN {best} ELSE 0 END AS BIGINT) AS tri_score
FROM documents
"""


def text_winnow_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprinting (operators/text.winnow_fingerprints):
    Rabin-Karp k-gram hashes + winnowing window minima."""
    from atd_data_lake_spark.operators.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, text_col="text", id_col="doc_id")


def _text_winnow_sql() -> str:
    """Same normalization / fold / window semantics in DuckDB: list_reduce
    is the sequential Rabin-Karp fold, a ROWS window min is the winnow."""
    from atd_data_lake_spark.operators.text import RK_BASE, RK_K, RK_MOD, RK_W

    return f"""
WITH n AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
    FROM documents
),
g AS (
    SELECT doc_id, i,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(range(0, {RK_K}),
                                           j -> CAST(unicode(substr(s, i + j, 1)) AS BIGINT))),
               (a, b) -> (a * {RK_BASE} + b) % {RK_MOD}) AS h
    FROM n, UNNEST(range(1, length(s) - {RK_K} + 2)) AS u(i)
),
w AS (
    SELECT doc_id, i, h,
           min(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND {RK_W - 1} FOLLOWING) AS wm,
           count(*) OVER (PARTITION BY doc_id) AS ng
    FROM g
)
SELECT n.doc_id,
       CAST(coalesce(max(w.ng), 0) AS BIGINT) AS n_grams,
       CAST(coalesce(min(w.h), -1) AS BIGINT) AS rk_min,
       CAST(count(DISTINCT CASE WHEN w.i - 1 <= greatest(w.ng - {RK_W}, 0)
                                THEN w.wm END) AS BIGINT) AS n_fingerprints
FROM n LEFT JOIN w ON n.doc_id = w.doc_id
GROUP BY n.doc_id
"""


def mm_media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents → binary payload column → Arrow-batched
    mapInPandas feature extraction (stub decode).

    The registered projection is all-scalar (media_id, n_bytes, f0..f15):
    the external driver canonicalizes rows by sorting raw tuples and cannot
    sort an array column.  The library operator (``extract_features``)
    keeps its array<double> output for composition with the similarity /
    clustering operators."""
    from atd_data_lake_spark.operators.multimodal import extract_features_wide

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text").alias("media_type"),
            F.lit("utf8").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length("text").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return extract_features_wide(media)


def _mm_media_sql() -> str:
    """Oracle for the sha256-derived fake_decode features: byte pairs of the
    digest as little-endian uint16 / 65535 — pure integer arithmetic from
    DuckDB's hex digest string, then one IEEE division, so the doubles are
    bit-identical to numpy's ``frombuffer(...).astype(float64)/65535``."""

    def hexd(pos: int) -> str:  # value of hex digit at 1-indexed pos of s
        return f"(strpos('0123456789abcdef', substr(s, {pos}, 1)) - 1)"

    feats = []
    for i in range(16):
        p = 4 * i + 1  # digest byte 2i at hex chars p..p+1, byte 2i+1 at p+2..p+3
        b0 = f"({hexd(p)} * 16 + {hexd(p + 1)})"
        b1 = f"({hexd(p + 2)} * 16 + {hexd(p + 3)})"
        feats.append(f"CAST({b0} + 256 * {b1} AS DOUBLE) / 65535.0 AS f{i}")
    cols = ",\n       ".join(feats)
    return f"""
WITH base AS (
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           lower(sha256(text)) AS s
    FROM documents
)
SELECT media_id, n_bytes,
       {cols}
FROM base
"""


def mm_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video path: per-media frame-timestamp explosion
    (``frame_sample_plan`` — the row-explosion/partitioning half of frame
    sampling; the per-frame decode is the stubbed codec boundary).
    Duration is synthesized deterministically from doc_id so the oracle
    can recompute the plan in SQL."""
    from atd_data_lake_spark.operators.multimodal import frame_sample_plan

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit("mp4").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("doc_id") % 30 + 1) * 1000).cast("long").alias("duration_ms"),
            F.lit(0).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_ms=1000)


MM_FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id, i * 1000 AS frame_ms
FROM documents, UNNEST(range(doc_id % 30 + 1)) AS t(i)
"""


def mm_audio_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path: sliding analysis-window explosion
    (``audio_window_plan`` — 1 s windows, 500 ms hop; the per-window
    decode/FFT is the stubbed codec boundary).  Clip duration is
    synthesized deterministically from doc_id (1–23 s) so the oracle can
    recompute the window layout in SQL."""
    from atd_data_lake_spark.operators.multimodal import audio_window_plan

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.lit("audio").alias("media_type"),
            F.lit("wav").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("doc_id") % 45 + 2) * 500).cast("long").alias("duration_ms"),
            F.lit(0).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return audio_window_plan(media, window_ms=1000, hop_ms=500)


MM_AUDIO_WINDOWS_SQL = """
SELECT doc_id AS media_id,
       k AS win_id,
       k * 500 AS start_ms,
       k * 500 + 1000 AS end_ms
FROM documents,
     UNNEST(range(greatest((doc_id % 45 + 2) * 500 - 1000, 0) // 500 + 1)) AS t(k)
"""


def sessionize_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 custom stateful operator, driver-gated: the gaps-and-islands
    batch twin of the ``applyInPandasWithState`` sessionizer (identical
    sessions on a static input — asserted against the stateful operator
    in tests/test_stateful_streaming.py)."""
    from atd_data_lake_spark.streaming.stateful import sessionize_batch

    e = _t(spark, sf_dir, "events")
    src = e.select(F.col("user_id").cast("string").alias("sensor"), "ts")
    return sessionize_batch(src, gap_seconds=1800)


SESSIONIZE_BATCH_SQL = """
WITH lagged AS (
    SELECT CAST(user_id AS VARCHAR) AS sensor, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT sensor, ts,
           sum(new_sess) OVER (PARTITION BY sensor ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM lagged
)
SELECT sensor, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_readings
FROM sess
GROUP BY 1, 2
"""


def text_tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference keyword extraction: per-doc top-3 terms by the
    integer-exact TF-IDF-shaped score (operators/text.py
    ``tfidf_top_terms`` — all-JVM tokenize/explode/agg/window)."""
    from atd_data_lake_spark.operators.text import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=3)


def _text_tfidf_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    return f"""
WITH toks AS (
    SELECT doc_id, t.term
    FROM documents,
         UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(term)
    WHERE length(t.term) >= 3 AND t.term NOT IN ({stop})
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1
),
scored AS (
    SELECT doc_id, term, tf, df, (tf * 1000000) // df AS score
    FROM tf JOIN dfreq USING (term)
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term ASC) AS rank
    FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score AS BIGINT) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Dataset-curation queries (operators/curation.py)
# ---------------------------------------------------------------------------

# the engine-portable hex→int math of curation.hash_u16, as SQL text
# (identical semantics: first 4 md5 hex digits via ascii arithmetic)
def _bucket_sql(key_expr: str, salt: str) -> str:
    h = f"md5('{salt}' || CAST({key_expr} AS VARCHAR))"
    digits = []
    for i in (1, 2, 3, 4):
        c = f"substr({h}, {i}, 1)"
        digits.append(
            f"(ascii({c}) - (CASE WHEN {c} <= '9' THEN 48 ELSE 87 END))"
        )
    d1, d2, d3, d4 = digits
    return f"((({d1} * 16 + {d2}) * 16 + {d3}) * 16 + {d4})"


def cur_split_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5 bucket
    (operators/curation.split_dataset) — zero-shuffle, engine-portable,
    stable across re-runs and cluster sizes."""
    from atd_data_lake_spark.operators.curation import split_dataset

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return split_dataset(d, key_col="doc_id", salt="v1")


def _cur_split_sql() -> str:
    b = _bucket_sql("doc_id", "v1")
    return f"""
SELECT doc_id, CAST({b} AS BIGINT) AS bucket,
       CASE WHEN {b} < 52429 THEN 'train'
            WHEN {b} < 58982 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def cur_stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling for corpus mixing
    (operators/curation.stratified_sample): keep 25% of en, 100% of de,
    50% of es, 75% of zh, 10% of everything else — membership is a pure
    function of (doc_id, salt)."""
    from atd_data_lake_spark.operators.curation import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        d,
        strata_col="lang",
        fractions={"en": 0.25, "de": 1.0, "es": 0.5, "zh": 0.75},
        key_col="doc_id",
        default_fraction=0.1,
        salt="v1",
    )


def _cur_sample_sql() -> str:
    b = _bucket_sql("doc_id", "v1")
    return f"""
SELECT doc_id, lang FROM documents
WHERE {b} < (CASE lang WHEN 'en' THEN 16384 WHEN 'de' THEN 65536
                       WHEN 'es' THEN 32768 WHEN 'zh' THEN 49152
                       ELSE 6554 END)
"""


def cur_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.decontaminate):
    per-doc 3-gram overlap against the held-out eval set doc_id % 20 = 0;
    the benchmark shingle set is broadcast, the corpus never shuffles."""
    from atd_data_lake_spark.operators.curation import decontaminate

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(d, bench, n=3)


CUR_DECONTAMINATE_SQL = """
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
),
g AS (
    SELECT DISTINCT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
    FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
),
bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 20 = 0),
sz AS (SELECT doc_id, count(*) AS n_shingles FROM g GROUP BY 1),
hits AS (
    SELECT g.doc_id, count(*) AS n_overlap
    FROM g JOIN bench USING (shingle) GROUP BY 1
)
SELECT sz.doc_id AS doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(n_overlap, 0) / CAST(n_shingles AS DOUBLE), 6)
           AS contam_ratio,
       round(coalesce(n_overlap, 0) / CAST(n_shingles AS DOUBLE), 6) > 0.0
           AS is_contaminated
FROM sz LEFT JOIN hits ON sz.doc_id = hits.doc_id
"""


def cur_chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking for context-length packing
    (operators/curation.chunk_documents): 64-token chunks, stride 48 —
    shuffle-free sequence/explode/slice."""
    from atd_data_lake_spark.operators.curation import chunk_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, chunk_tokens=64, stride=48)


CUR_CHUNK_SQL = """
WITH t AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
    FROM documents
),
c AS (
    SELECT doc_id, i AS chunk_id,
           list_slice(toks, i * 48 + 1, i * 48 + 64) AS piece
    FROM t, UNNEST(range(0,
        1 + CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS BIGINT)
    )) AS u(i)
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(piece) AS BIGINT) AS n_chunk_tokens,
       array_to_string(piece, ' ') AS chunk_text
FROM c
"""


def cur_pack_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing (operators/curation.pack_chunks):
    chunk the corpus, then assign each chunk to the 512-token context
    window its first token falls in, packed per source shard so the
    running sum parallelizes across shards."""
    from atd_data_lake_spark.operators.curation import (
        chunk_documents,
        pack_chunks,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    chunks = chunk_documents(
        d, chunk_tokens=64, stride=48, keep_cols=("source",)
    ).drop("chunk_text")
    return pack_chunks(chunks, context_tokens=512, shard_col="source")


CUR_PACK_SQL = """
WITH t AS (
    SELECT doc_id, source,
           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
    FROM documents
),
c AS (
    SELECT doc_id, source, i AS chunk_id,
           len(list_slice(toks, i * 48 + 1, i * 48 + 64)) AS n_chunk_tokens
    FROM t, UNNEST(range(0,
        1 + CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS BIGINT)
    )) AS u(i)
),
p AS (
    SELECT source, doc_id, chunk_id, n_chunk_tokens,
           sum(n_chunk_tokens) OVER (
               PARTITION BY source ORDER BY doc_id, chunk_id
               ROWS UNBOUNDED PRECEDING
           ) - n_chunk_tokens AS cum_before
    FROM c
)
SELECT source, doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens,
       CAST(cum_before AS BIGINT) AS cum_before,
       CAST(floor(cum_before / 512) AS BIGINT) AS pack_id
FROM p
"""


def cur_cap_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota (operators/curation.cap_per_source): keep at
    most 10 docs per source, selected by deterministic hash order — the
    per-domain cap a crawl-curation pipeline applies."""
    from atd_data_lake_spark.operators.curation import cap_per_source

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_source(d, max_per_source=10, salt="v1")


def _cur_cap_sql() -> str:
    b = _bucket_sql("doc_id", "v1")
    return f"""
WITH r AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY {b} ASC, doc_id ASC) AS rk
    FROM documents
)
SELECT doc_id, source FROM r WHERE rk <= 10
"""


def cur_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile quality gate (operators/curation.quality_gate_percentile):
    drop the shortest 10% of docs per language — rank-based, so no
    global threshold scan and deterministic under ties."""
    from atd_data_lake_spark.operators.curation import (
        quality_gate_percentile,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return quality_gate_percentile(
        d, metric_col="n_chars", group_col="lang", min_percentile=0.1
    )


CUR_QUALITY_GATE_SQL = """
WITH r AS (
    SELECT doc_id, lang, n_chars,
           percent_rank() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS pr
    FROM documents
)
SELECT doc_id, lang, n_chars FROM r WHERE pr >= 0.1
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "a1_tumbling_window_15min": a1_tumbling_window_15min,
    "a2_daily_counts": a2_daily_counts,
    "a3_sensor_daily_obs": a3_sensor_daily_obs,
    "a5_first_seen_rank": a5_first_seen_rank,
    "a6_trailing_7day_avg": a6_trailing_7day_avg,
    "a7_latest_per_group": a7_latest_per_group,
    "w1_daily_cumulative": w1_daily_cumulative,
    "o1_topk_per_group": o1_topk_per_group,
    "o2_latest_top1": o2_latest_top1,
    "j1_incremental_antijoin": j1_incremental_antijoin,
    "j2_enrich_broadcast": j2_enrich_broadcast,
    "j3_double_enrich": j3_double_enrich,
    "j7_semi_join_pruning": j7_semi_join_pruning,
    "j8_asof_backward": j8_asof_backward,
    "j9_asof_forward": j9_asof_forward,
    "j10_fuzzy_match": j10_fuzzy_match,
    "p4_pushdown_range": p4_pushdown_range,
    "p12_case_normalize": p12_case_normalize,
    "p13_derived_flag": p13_derived_flag,
    "p14_split_extract": p14_split_extract,
    "p15_guid_redash": p15_guid_redash,
    "u1_cross_day_union": u1_cross_day_union,
    "s_scalar_record_id": s_scalar_record_id,
    "s_scalar_timebin": s_scalar_timebin,
    "s_date_parts": s_date_parts,
    "text_profile": text_profile_q,
    "text_bpe_tokens": text_bpe_tokens_q,
    "corpus_curation": corpus_curation_q,
    "text_repetition": text_repetition_q,
    "text_langid_ngram": text_langid_ngram_q,
    "text_winnow_fingerprint": text_winnow_fingerprint_q,
    "mm_media_features": mm_media_features_q,
    "mm_frame_sample": mm_frame_sample_q,
    "mm_audio_windows": mm_audio_windows_q,
    "sessionize_batch": sessionize_batch_q,
    "text_tfidf_top_terms": text_tfidf_top_terms_q,
    "cur_split_assign": cur_split_assign_q,
    "cur_stratified_sample": cur_stratified_sample_q,
    "cur_decontaminate": cur_decontaminate_q,
    "cur_chunk_documents": cur_chunk_documents_q,
    "cur_pack_chunks": cur_pack_chunks_q,
    "cur_cap_per_source": cur_cap_per_source_q,
    "cur_quality_gate": cur_quality_gate_q,
    # model-injected ANN, oracle-backed since r6
}

from atd_data_lake_spark.coverage_queries import (  # noqa: E402
    COVERAGE_ORACLES,
    COVERAGE_QUERIES,
)
from atd_data_lake_spark.pipeline_queries import (  # noqa: E402
    PIPELINE_ORACLES,
    PIPELINE_QUERIES,
)

QUERIES.update(PIPELINE_QUERIES)
QUERIES.update(COVERAGE_QUERIES)

ORACLES: dict[str, str] = {
    "a1_tumbling_window_15min": A1_SQL,
    "a2_daily_counts": A2_SQL,
    "a3_sensor_daily_obs": A3_SQL,
    "a5_first_seen_rank": A5_SQL,
    "a6_trailing_7day_avg": A6_SQL,
    "a7_latest_per_group": A7_SQL,
    "w1_daily_cumulative": W1_SQL,
    "o1_topk_per_group": O1_SQL,
    "o2_latest_top1": O2_SQL,
    "j1_incremental_antijoin": J1_SQL,
    "j2_enrich_broadcast": J2_SQL,
    "j3_double_enrich": J3_SQL,
    "j7_semi_join_pruning": J7_SQL,
    "j8_asof_backward": J8_SQL,
    "j9_asof_forward": J9_SQL,
    "j10_fuzzy_match": J10_SQL,
    "p4_pushdown_range": P4_SQL,
    "p12_case_normalize": P12_SQL,
    "p13_derived_flag": P13_SQL,
    "p14_split_extract": P14_SQL,
    "p15_guid_redash": P15_SQL,
    "u1_cross_day_union": U1_SQL,
    "s_scalar_record_id": S_RECORD_ID_SQL,
    "s_scalar_timebin": S_TIMEBIN_SQL,
    "s_date_parts": S_DATE_PARTS_SQL,
    "text_profile": _text_profile_sql(),
    "text_bpe_tokens": _text_bpe_tokens_sql(),
    "corpus_curation": _corpus_curation_sql(),
    "text_repetition": TEXT_REPETITION_SQL,
    "text_langid_ngram": _text_langid_ngram_sql(),
    "text_winnow_fingerprint": _text_winnow_sql(),
    "mm_media_features": _mm_media_sql(),
    "mm_frame_sample": MM_FRAME_SAMPLE_SQL,
    "mm_audio_windows": MM_AUDIO_WINDOWS_SQL,
    "sessionize_batch": SESSIONIZE_BATCH_SQL,
    "text_tfidf_top_terms": _text_tfidf_sql(),
    "cur_split_assign": _cur_split_sql(),
    "cur_stratified_sample": _cur_sample_sql(),
    "cur_decontaminate": CUR_DECONTAMINATE_SQL,
    "cur_chunk_documents": CUR_CHUNK_SQL,
    "cur_pack_chunks": CUR_PACK_SQL,
    "cur_cap_per_source": _cur_cap_sql(),
    "cur_quality_gate": CUR_QUALITY_GATE_SQL,
}

ORACLES.update(PIPELINE_ORACLES)
ORACLES.update(COVERAGE_ORACLES)

from atd_data_lake_spark.analytics_queries import (  # noqa: E402
    ANALYTICS_ORACLES,
    ANALYTICS_QUERIES,
    _keep_best_sql,
    _pii_sql,
)

QUERIES.update(ANALYTICS_QUERIES)
ORACLES.update(ANALYTICS_ORACLES)
ORACLES["text_pii_scrub"] = _pii_sql()
ORACLES["cur_keep_best_per_cluster"] = _keep_best_sql()

from atd_data_lake_spark.round3_queries import (  # noqa: E402
    ROUND3_ORACLES,
    ROUND3_QUERIES,
)

QUERIES.update(ROUND3_QUERIES)
ORACLES.update(ROUND3_ORACLES)

from atd_data_lake_spark.round3_queries import _geo_radius_sql  # noqa: E402

ORACLES["geo_radius_join"] = _geo_radius_sql()

from atd_data_lake_spark.round4_queries import (  # noqa: E402
    ROUND4_ORACLES,
    ROUND4_QUERIES,
)

QUERIES.update(ROUND4_QUERIES)
ORACLES.update(ROUND4_ORACLES)

from atd_data_lake_spark.round5_queries import (  # noqa: E402
    ROUND5_ORACLES,
    ROUND5_QUERIES,
)

QUERIES.update(ROUND5_QUERIES)
ORACLES.update(ROUND5_ORACLES)

from atd_data_lake_spark.round5_queries import _mixture_sql  # noqa: E402

ORACLES["cur_mixture_resample"] = _mixture_sql()

from atd_data_lake_spark.round6_queries import (  # noqa: E402
    ROUND6_ORACLES,
    ROUND6_QUERIES,
)

QUERIES.update(ROUND6_QUERIES)
ORACLES.update(ROUND6_ORACLES)

from atd_data_lake_spark.dq_queries import (  # noqa: E402
    DQ_ORACLES,
    DQ_QUERIES,
)

QUERIES.update(DQ_QUERIES)
ORACLES.update(DQ_ORACLES)

from atd_data_lake_spark.tpch_queries import (  # noqa: E402
    TPCH_ORACLES,
    TPCH_QUERIES,
)

QUERIES.update(TPCH_QUERIES)
ORACLES.update(TPCH_ORACLES)

from atd_data_lake_spark.graph_queries import (  # noqa: E402
    GRAPH_ORACLES,
    GRAPH_QUERIES,
)

QUERIES.update(GRAPH_QUERIES)
ORACLES.update(GRAPH_ORACLES)

from atd_data_lake_spark.dedup_queries import (  # noqa: E402
    DEDUP_ORACLES,
    DEDUP_QUERIES,
    jaccard_pairs_sql,
)

QUERIES.update(DEDUP_QUERIES)
ORACLES.update(DEDUP_ORACLES)

from atd_data_lake_spark.basket_queries import (  # noqa: E402
    BASKET_ORACLES,
    BASKET_QUERIES,
)

QUERIES.update(BASKET_QUERIES)
ORACLES.update(BASKET_ORACLES)

from atd_data_lake_spark.sim_queries import (  # noqa: E402
    SIM_ORACLES,
    SIM_QUERIES,
)

QUERIES.update(SIM_QUERIES)
ORACLES.update(SIM_ORACLES)

from atd_data_lake_spark.executed_queries import (  # noqa: E402
    EXECUTED_ORACLES,
    EXECUTED_QUERIES,
)

QUERIES.update(EXECUTED_QUERIES)
ORACLES.update(EXECUTED_ORACLES)

from atd_data_lake_spark.round8_queries import (  # noqa: E402
    ROUND8_ORACLES,
    ROUND8_QUERIES,
    make_leakage_split_sql,
)

QUERIES.update(ROUND8_QUERIES)
ORACLES.update(ROUND8_ORACLES)
# threshold 0.5 — MUST match cur_leakage_safe_split's Spark-side pairs
ORACLES["cur_leakage_safe_split"] = make_leakage_split_sql(
    jaccard_pairs_sql(0.5), _bucket_sql("group_key", "v1")
)

from atd_data_lake_spark.round10_queries import (  # noqa: E402
    ROUND10_ORACLES,
    ROUND10_QUERIES,
)

QUERIES.update(ROUND10_QUERIES)
ORACLES.update(ROUND10_ORACLES)

from atd_data_lake_spark.round11_queries import (  # noqa: E402
    ROUND11_QUERIES,
)

QUERIES.update(ROUND11_QUERIES)

from atd_data_lake_spark.round12_queries import (  # noqa: E402
    ROUND12_ORACLES,
    ROUND12_QUERIES,
)

QUERIES.update(ROUND12_QUERIES)
ORACLES.update(ROUND12_ORACLES)

from atd_data_lake_spark.round13_queries import (  # noqa: E402
    ROUND13_ORACLES,
    ROUND13_QUERIES,
)

QUERIES.update(ROUND13_QUERIES)
ORACLES.update(ROUND13_ORACLES)

from atd_data_lake_spark.round14_queries import (  # noqa: E402
    ROUND14_ORACLES,
    ROUND14_QUERIES,
)

QUERIES.update(ROUND14_QUERIES)
ORACLES.update(ROUND14_ORACLES)

from atd_data_lake_spark.round15_queries import (  # noqa: E402
    ROUND15_ORACLES,
    ROUND15_QUERIES,
)

QUERIES.update(ROUND15_QUERIES)
ORACLES.update(ROUND15_ORACLES)

from atd_data_lake_spark.round16_queries import (  # noqa: E402
    ROUND16_ORACLES,
    ROUND16_QUERIES,
)

QUERIES.update(ROUND16_QUERIES)
ORACLES.update(ROUND16_ORACLES)

from atd_data_lake_spark.round17_queries import (  # noqa: E402
    ROUND17_ORACLES,
    ROUND17_QUERIES,
)

QUERIES.update(ROUND17_QUERIES)
ORACLES.update(ROUND17_ORACLES)

from atd_data_lake_spark.round19_queries import (  # noqa: E402
    ROUND19_ORACLES,
    ROUND19_QUERIES,
)

QUERIES.update(ROUND19_QUERIES)
ORACLES.update(ROUND19_ORACLES)

from atd_data_lake_spark.round20_queries import (  # noqa: E402
    ROUND20_ORACLES,
    ROUND20_QUERIES,
)

QUERIES.update(ROUND20_QUERIES)
ORACLES.update(ROUND20_ORACLES)

from atd_data_lake_spark.round21_queries import (  # noqa: E402
    ROUND21_ORACLES,
    ROUND21_QUERIES,
)

QUERIES.update(ROUND21_QUERIES)
ORACLES.update(ROUND21_ORACLES)

from atd_data_lake_spark.round23_queries import (  # noqa: E402
    ROUND23_ORACLES,
    ROUND23_QUERIES,
)

QUERIES.update(ROUND23_QUERIES)
ORACLES.update(ROUND23_ORACLES)

from atd_data_lake_spark.round24_queries import (  # noqa: E402
    ROUND24_ORACLES,
    ROUND24_QUERIES,
)

QUERIES.update(ROUND24_QUERIES)
ORACLES.update(ROUND24_ORACLES)

from atd_data_lake_spark.round26_queries import (  # noqa: E402
    ROUND26_ORACLES,
    ROUND26_QUERIES,
)

QUERIES.update(ROUND26_QUERIES)
ORACLES.update(ROUND26_ORACLES)

from atd_data_lake_spark.round27_queries import (  # noqa: E402
    ROUND27_ORACLES,
    ROUND27_QUERIES,
)

QUERIES.update(ROUND27_QUERIES)
ORACLES.update(ROUND27_ORACLES)

from atd_data_lake_spark.round28_queries import (  # noqa: E402
    ROUND28_ORACLES,
    ROUND28_QUERIES,
)

QUERIES.update(ROUND28_QUERIES)
ORACLES.update(ROUND28_ORACLES)

from atd_data_lake_spark.round29_queries import (  # noqa: E402
    ROUND29_ORACLES,
    ROUND29_QUERIES,
)

QUERIES.update(ROUND29_QUERIES)
ORACLES.update(ROUND29_ORACLES)

from atd_data_lake_spark.round30_queries import (  # noqa: E402
    ROUND30_ORACLES,
    ROUND30_QUERIES,
)

QUERIES.update(ROUND30_QUERIES)
ORACLES.update(ROUND30_ORACLES)

from atd_data_lake_spark.round32_queries import (  # noqa: E402
    ROUND32_ORACLES,
    ROUND32_QUERIES,
)

QUERIES.update(ROUND32_QUERIES)
ORACLES.update(ROUND32_ORACLES)

from atd_data_lake_spark.round33_queries import (  # noqa: E402
    ROUND33_ORACLES,
    ROUND33_QUERIES,
)

QUERIES.update(ROUND33_QUERIES)
ORACLES.update(ROUND33_ORACLES)

from atd_data_lake_spark.round35_queries import (  # noqa: E402
    ROUND35_ORACLES,
    ROUND35_QUERIES,
)

QUERIES.update(ROUND35_QUERIES)
ORACLES.update(ROUND35_ORACLES)

from atd_data_lake_spark.round36_queries import (  # noqa: E402
    ROUND36_ORACLES,
    ROUND36_QUERIES,
)

QUERIES.update(ROUND36_QUERIES)
ORACLES.update(ROUND36_ORACLES)

from atd_data_lake_spark.round38_queries import (  # noqa: E402
    ROUND38_ORACLES,
    ROUND38_QUERIES,
)

QUERIES.update(ROUND38_QUERIES)
ORACLES.update(ROUND38_ORACLES)

from atd_data_lake_spark.round40_queries import (  # noqa: E402
    ROUND40_ORACLES,
    ROUND40_QUERIES,
)

QUERIES.update(ROUND40_QUERIES)
ORACLES.update(ROUND40_ORACLES)

from atd_data_lake_spark.round41_queries import (  # noqa: E402
    ROUND41_ORACLES,
    ROUND41_QUERIES,
)

QUERIES.update(ROUND41_QUERIES)
ORACLES.update(ROUND41_ORACLES)

from atd_data_lake_spark.round42_queries import (  # noqa: E402
    ROUND42_ORACLES,
    ROUND42_QUERIES,
)

QUERIES.update(ROUND42_QUERIES)
ORACLES.update(ROUND42_ORACLES)

from atd_data_lake_spark.round43_queries import (  # noqa: E402
    ROUND43_ORACLES,
    ROUND43_QUERIES,
)

QUERIES.update(ROUND43_QUERIES)
ORACLES.update(ROUND43_ORACLES)

from atd_data_lake_spark.round46_queries import (  # noqa: E402
    ROUND46_QUERIES,
    round46_oracles,
)

QUERIES.update(ROUND46_QUERIES)
# deferred builder: the composite oracle reuses this module's
# _text_profile_sql/_bucket_sql, which exist by this point of the import
ORACLES.update(round46_oracles())

# ---------------------------------------------------------------------------
# Driver sweep ordering: the external correctness driver checks the registry
# in dict order and caps its sweep at ~50 rows per round.  The ordering is
# GENERATED from the union of the driver's own CORRECTNESS_r*.json records
# (latest-red first, then never-checked, then green stalest-first) by
# tools/gen_driver_priority.py — rerun it at round close after adding or
# changing queries, instead of hand-editing a list that goes stale
# (it did, two rounds running: VERDICT r4/r5).
# ---------------------------------------------------------------------------

try:
    from atd_data_lake_spark._driver_priority import (  # noqa: E402
        DRIVER_PRIORITY as _DRIVER_PRIORITY,
    )
except ImportError:  # first generation bootstraps from registry order
    _DRIVER_PRIORITY = []


def _driver_order(d: dict) -> dict:
    head = {k: d[k] for k in _DRIVER_PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


QUERIES = _driver_order(QUERIES)
ORACLES = _driver_order(ORACLES)
