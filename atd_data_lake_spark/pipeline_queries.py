"""Driver-gated correctness entries for the bt/wt pipeline chains.

The pipelines consume sensor-shaped inputs (FIXTURES.md schemas); the
driver provides TPC-H-ish tables.  Bridge: derive deterministic
sensor-shaped DataFrames FROM the driver tables (events → readings,
nation → device dimension) with identical expressions on the Spark and
DuckDB sides, then run the REAL pipeline code over them.  Every
pipeline stage therefore gets a value-hash oracle check at sf0.01, not
just a fixture unit test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.pipelines import bt, wt


# ---------------------------------------------------------------------------
# Derivations (Spark side + the exactly-equivalent DuckDB CTE)
# ---------------------------------------------------------------------------


def _wt_kits_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → KITS-CSV-shaped rows (FIXTURES.md §4)."""
    e = _t(spark, sf_dir, "events")
    int_id = (F.col("user_id") % 10 + 1).cast("int")
    return e.select(
        (F.col("event_id") % 40).cast("int").alias("detID"),
        int_id.alias("intID"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("curDateTime"),
        F.concat(F.lit("INT_"), int_id.cast("string")).alias("intName"),
        F.concat(
            F.element_at(
                F.array(F.lit("NB"), F.lit("SB"), F.lit("EB"), F.lit("WB")),
                (F.col("event_id") % 4 + 1).cast("int"),
            ),
            F.lit("_in"),
        ).alias("detName"),
        F.floor("value").cast("int").alias("volume"),
        (F.col("event_id") % 100).cast("int").alias("occupancy"),
        (F.col("user_id") % 60).cast("int").alias("speed"),
        F.lit("Working").alias("status"),
        F.lit(100).cast("int").alias("uploadSuccess"),
        F.lit(1).cast("int").alias("detCountComparison"),
        F.lit(0).cast("int").alias("dailyCumulative"),
    )


_WT_KITS_SQL = """
    SELECT CAST(event_id % 40 AS INT) AS detID,
           CAST(user_id % 10 + 1 AS INT) AS intID,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS curDateTime,
           'INT_' || CAST(user_id % 10 + 1 AS INT) AS intName,
           (['NB','SB','EB','WB'])[CAST(event_id % 4 + 1 AS INT)] || '_in' AS detName,
           CAST(floor(value) AS INT) AS volume,
           CAST(event_id % 100 AS INT) AS occupancy,
           CAST(user_id % 60 AS INT) AS speed,
           'Working' AS status, CAST(100 AS INT) AS uploadSuccess,
           CAST(1 AS INT) AS detCountComparison, CAST(0 AS INT) AS dailyCumulative
    FROM events
"""


def _wt_devices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → radar device dimension (kits_id 1..25; FIXTURES.md §8)."""
    n = _t(spark, sf_dir, "nation")
    key = (F.col("n_nationkey") + 1).cast("int")
    return n.select(
        key.alias("kits_id"),
        F.lit("RADAR").alias("device_type"),
        F.concat(F.lit("radar_"), F.col("n_name")).alias("device_name"),
        F.concat(F.lit("172.16.0."), key.cast("string")).alias("device_ip"),
        F.format_string("%.4f", F.lit(30.0) + F.col("n_nationkey") * 0.01).alias("lat"),
        F.format_string("%.4f", F.lit(-97.7) - F.col("n_nationkey") * 0.01).alias(
            "lon"
        ),
    )


_WT_DEVICES_SQL = """
    SELECT CAST(n_nationkey + 1 AS INT) AS kits_id,
           'RADAR' AS device_type,
           'radar_' || n_name AS device_name,
           '172.16.0.' || CAST(n_nationkey + 1 AS INT) AS device_ip,
           printf('%.4f', 30.0 + n_nationkey * 0.01) AS lat,
           printf('%.4f', -97.7 - n_nationkey * 0.01) AS lon
    FROM nation
"""


def _bt_iaf_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → IAF-CSV-shaped rows (FIXTURES.md §1); raw times in the
    reference's %m/%d/%Y %I:%M:%S %p format."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.date_format("ts", "MM/dd/yyyy hh:mm:ss a").alias("host_timestamp"),
        F.concat(F.lit("166.0.0."), (F.col("user_id") % 200).cast("string")).alias(
            "ip_address"
        ),
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 10 SECONDS"), "MM/dd/yyyy hh:mm:ss a"
        ).alias("field_timestamp"),
        F.concat(F.lit("reader_"), (F.col("user_id") % 20).cast("string")).alias(
            "reader_id"
        ),
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 16).alias("dev_addr"),
    )


_BT_IAF_SQL = """
    SELECT strftime(ts, '%m/%d/%Y %I:%M:%S %p') AS host_timestamp,
           '166.0.0.' || CAST(user_id % 200 AS VARCHAR) AS ip_address,
           strftime(ts + INTERVAL 10 SECOND, '%m/%d/%Y %I:%M:%S %p') AS field_timestamp,
           'reader_' || CAST(user_id % 20 AS VARCHAR) AS reader_id,
           substring(md5(CAST(user_id AS VARCHAR)), 1, 16) AS dev_addr
    FROM events
"""


def _bt_itmf_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ITMF-CSV-shaped rows (FIXTURES.md §2)."""
    e = _t(spark, sf_dir, "events")
    tt = F.floor(F.col("value") * 10).cast("int")
    return e.select(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 16).alias("dev_addr"),
        F.concat(F.lit("reader_"), (F.col("user_id") % 20).cast("string")).alias(
            "origin_reader_id"
        ),
        F.concat(F.lit("reader_"), ((F.col("user_id") + 7) % 20).cast("string")).alias(
            "dest_reader_id"
        ),
        F.date_format("ts", "MM/dd/yyyy hh:mm:ss a").alias("start_time"),
        F.date_format(
            F.col("ts") + F.make_interval(secs=tt.cast("double")),
            "MM/dd/yyyy hh:mm:ss a",
        ).alias("end_time"),
        tt.alias("travel_time_secs"),
        (F.col("user_id") % 60).cast("int").alias("speed"),
        F.when(F.col("value") > 5, "valid").otherwise("invalid").alias(
            "match_validity"
        ),
        (F.col("event_id") % 200).cast("int").alias("filter_id"),
    )


_BT_ITMF_SQL = """
    SELECT substring(md5(CAST(user_id AS VARCHAR)), 1, 16) AS dev_addr,
           'reader_' || CAST(user_id % 20 AS VARCHAR) AS origin_reader_id,
           'reader_' || CAST((user_id + 7) % 20 AS VARCHAR) AS dest_reader_id,
           strftime(ts, '%m/%d/%Y %I:%M:%S %p') AS start_time,
           strftime(ts + to_seconds(CAST(floor(value * 10) AS BIGINT)),
                    '%m/%d/%Y %I:%M:%S %p') AS end_time,
           CAST(floor(value * 10) AS INT) AS travel_time_secs,
           CAST(user_id % 60 AS INT) AS speed,
           CASE WHEN value > 5 THEN 'valid' ELSE 'invalid' END AS match_validity,
           CAST(event_id % 200 AS INT) AS filter_id
    FROM events
"""


def _bt_devices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → bluetooth reader dimension (device_name reader_0..24)."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        F.lit("BLUETOOTH").alias("device_type"),
        F.concat(F.lit("reader_"), F.col("n_nationkey").cast("string")).alias(
            "device_name"
        ),
        F.concat(F.lit("172.16.1."), F.col("n_nationkey").cast("string")).alias(
            "device_ip"
        ),
        F.format_string("%.4f", F.lit(30.2) + F.col("n_nationkey") * 0.01).alias(
            "lat"
        ),
        F.format_string("%.4f", F.lit(-97.8) - F.col("n_nationkey") * 0.01).alias(
            "lon"
        ),
    )


_BT_DEVICES_SQL = """
    SELECT 'BLUETOOTH' AS device_type,
           'reader_' || CAST(n_nationkey AS VARCHAR) AS device_name,
           '172.16.1.' || CAST(n_nationkey AS VARCHAR) AS device_ip,
           printf('%.4f', 30.2 + n_nationkey * 0.01) AS lat,
           printf('%.4f', -97.8 - n_nationkey * 0.01) AS lon
    FROM nation
"""

_BT_DEVICE_ID_SQL = "md5(device_type || device_ip || lat || lon)"
_WT_DEVICE_ID_SQL = "md5(device_type || device_name || device_ip || lat || lon)"


# ---------------------------------------------------------------------------
# WT chain (S3 scan shape → standardize → ready → publish)
# ---------------------------------------------------------------------------


def pipe_wt_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wt_json_standard.py:92-121 over KITS-shaped rows: timestamp parse +
    int coercions (SURVEY §2 S3, P3)."""
    return wt.standardize(_wt_kits_raw(spark, sf_dir))


PIPE_WT_STANDARDIZE_SQL = f"""
WITH raw AS ({_WT_KITS_SQL})
SELECT detID, intID, strptime(curDateTime, '%Y-%m-%d %H:%M:%S') AS curDateTime,
       intName, detName, volume, occupancy, speed, status, uploadSuccess,
       detCountComparison, dailyCumulative
FROM raw
"""


def pipe_wt_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wt_ready.py:86-112: md5 device_id + J4 broadcast equi-join
    intID == kits_id, ordered (curDateTime, detID)."""
    std = wt.standardize(_wt_kits_raw(spark, sf_dir))
    return wt.ready(std, _wt_devices(spark, sf_dir))


PIPE_WT_READY_SQL = f"""
WITH raw AS ({_WT_KITS_SQL}), dev AS ({_WT_DEVICES_SQL})
SELECT raw.detID, raw.intID,
       strptime(raw.curDateTime, '%Y-%m-%d %H:%M:%S') AS curDateTime,
       raw.intName, raw.detName, raw.volume, raw.occupancy, raw.speed,
       raw.status, raw.uploadSuccess, raw.detCountComparison,
       raw.dailyCumulative, {_WT_DEVICE_ID_SQL} AS device_id
FROM raw JOIN dev ON raw.intID = dev.kits_id
"""


def pipe_wt_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wt_extract_soc.py:59-88: Socrata shape — date parts, Sunday=0
    day_of_week, round-not-floor timebin, direction split, md5 row_id."""
    std = wt.standardize(_wt_kits_raw(spark, sf_dir))
    return wt.publish(wt.ready(std, _wt_devices(spark, sf_dir)))


PIPE_WT_PUBLISH_SQL = f"""
WITH raw AS ({_WT_KITS_SQL}), dev AS ({_WT_DEVICES_SQL}),
ready AS (
    SELECT raw.*, strptime(raw.curDateTime, '%Y-%m-%d %H:%M:%S') AS ts
    FROM raw JOIN dev ON raw.intID = dev.kits_id
),
pub AS (
    SELECT detID AS detid, intID AS int_id,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') AS curdatetime,
           intName AS intname, detName AS detname, volume, occupancy, speed,
           CAST(month(ts) AS INT) AS month, CAST(day(ts) AS INT) AS day,
           CAST(year(ts) AS INT) AS year, CAST(hour(ts) AS INT) AS hour,
           CAST(minute(ts) AS INT) AS minute,
           CAST(dayofweek(ts) AS INT) AS day_of_week,
           printf('%02d:%02d', hour(ts),
                  CAST(round(minute(ts) / 15.0, 0) AS INT) * 15) AS timebin,
           str_split(detName, '_')[1] AS direction
    FROM ready
)
SELECT *, md5(intname || curdatetime || detid) AS row_id FROM pub
"""


# ---------------------------------------------------------------------------
# BT chain (S2 scan shape → standardize → ready → publish)
# ---------------------------------------------------------------------------


def pipe_bt_ready_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bt_json_standard.py:106-164 + bt_ready.py:102-108 over IAF-shaped
    rows: 12-hour time parse, md5 device_id, J2 broadcast join."""
    std = bt.standardize_iaf(_bt_iaf_raw(spark, sf_dir))
    return bt.ready_unmatched(std, _bt_devices(spark, sf_dir))


PIPE_BT_READY_UNMATCHED_SQL = f"""
WITH raw AS ({_BT_IAF_SQL}), dev AS ({_BT_DEVICES_SQL})
SELECT strptime(raw.host_timestamp, '%m/%d/%Y %I:%M:%S %p') AS host_timestamp,
       raw.ip_address,
       strptime(raw.field_timestamp, '%m/%d/%Y %I:%M:%S %p') AS field_timestamp,
       raw.reader_id, raw.dev_addr, {_BT_DEVICE_ID_SQL} AS device_id
FROM raw JOIN dev ON raw.reader_id = dev.device_name
"""


def pipe_bt_publish_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bt_extract_soc.py:126-135: daily-reset first-seen device counter
    (deterministic dense_rank variant), reader-name lookup (J12),
    Socrata times, record_id md5."""
    std = bt.standardize_iaf(_bt_iaf_raw(spark, sf_dir))
    ready = bt.ready_unmatched(std, _bt_devices(spark, sf_dir))
    return bt.publish_unmatched(ready, bt.bt_device_id(_bt_devices(spark, sf_dir)))


PIPE_BT_PUBLISH_UNMATCHED_SQL = f"""
WITH raw AS ({_BT_IAF_SQL}), dev AS ({_BT_DEVICES_SQL}),
ready AS (
    SELECT strptime(raw.host_timestamp, '%m/%d/%Y %I:%M:%S %p') AS host_timestamp,
           strptime(raw.field_timestamp, '%m/%d/%Y %I:%M:%S %p') AS field_timestamp,
           raw.reader_id, raw.dev_addr, dev.device_name
    FROM raw JOIN dev ON raw.reader_id = dev.device_name
),
seen AS (
    SELECT *,
           min(host_timestamp) OVER (
               PARTITION BY CAST(host_timestamp AS DATE), dev_addr
           ) AS first_ts
    FROM ready
),
counted AS (
    SELECT *,
           dense_rank() OVER (
               PARTITION BY CAST(host_timestamp AS DATE)
               ORDER BY first_ts, dev_addr
           ) AS device_address
    FROM seen
),
pub AS (
    SELECT strftime(host_timestamp, '%Y-%m-%dT%H:%M:%S') AS host_read_time,
           strftime(field_timestamp, '%Y-%m-%dT%H:%M:%S') AS field_device_read_time,
           device_name AS reader_identifier,
           CAST(device_address AS BIGINT) AS device_address
    FROM counted
)
SELECT *, md5(host_read_time || reader_identifier || device_address) AS record_id
FROM pub
"""


def pipe_bt_ready_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bt_ready.py:112-122: ITMF double enrichment — origin and dest reader
    ids resolve through two aliased broadcast joins (J3)."""
    std = bt.standardize_itmf(_bt_itmf_raw(spark, sf_dir))
    return bt.ready_matched(std, _bt_devices(spark, sf_dir))


PIPE_BT_READY_MATCHED_SQL = f"""
WITH raw AS ({_BT_ITMF_SQL}), dev AS ({_BT_DEVICES_SQL})
SELECT raw.dev_addr, raw.origin_reader_id, raw.dest_reader_id,
       strptime(raw.start_time, '%m/%d/%Y %I:%M:%S %p') AS start_time,
       strptime(raw.end_time, '%m/%d/%Y %I:%M:%S %p') AS end_time,
       raw.travel_time_secs, raw.speed, raw.match_validity, raw.filter_id,
       md5(o.device_type || o.device_ip || o.lat || o.lon) AS origin_device_id,
       md5(d.device_type || d.device_ip || d.lat || d.lon) AS dest_device_id
FROM raw JOIN dev o ON raw.origin_reader_id = o.device_name
         JOIN dev d ON raw.dest_reader_id = d.device_name
"""


def pipe_bt_publish_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bt_extract_soc.py:113-124: ITMF publish — daily counter, device
    names, full weekday name, record_id over five hash fields."""
    std = bt.standardize_itmf(_bt_itmf_raw(spark, sf_dir))
    ready = bt.ready_matched(std, _bt_devices(spark, sf_dir))
    return bt.publish_matched(ready, bt.bt_device_id(_bt_devices(spark, sf_dir)))


PIPE_BT_PUBLISH_MATCHED_SQL = f"""
WITH raw AS ({_BT_ITMF_SQL}), dev AS ({_BT_DEVICES_SQL}),
ready AS (
    SELECT raw.dev_addr,
           strptime(raw.start_time, '%m/%d/%Y %I:%M:%S %p') AS start_ts,
           strptime(raw.end_time, '%m/%d/%Y %I:%M:%S %p') AS end_ts,
           raw.travel_time_secs, raw.speed, raw.match_validity, raw.filter_id,
           o.device_name AS origin_reader_identifier,
           d.device_name AS destination_reader_identifier
    FROM raw JOIN dev o ON raw.origin_reader_id = o.device_name
             JOIN dev d ON raw.dest_reader_id = d.device_name
),
seen AS (
    SELECT *,
           min(start_ts) OVER (
               PARTITION BY CAST(start_ts AS DATE), dev_addr
           ) AS first_ts
    FROM ready
),
counted AS (
    SELECT *,
           dense_rank() OVER (
               PARTITION BY CAST(start_ts AS DATE)
               ORDER BY first_ts, dev_addr
           ) AS device_address
    FROM seen
),
pub AS (
    SELECT CAST(device_address AS BIGINT) AS device_address,
           origin_reader_identifier, destination_reader_identifier,
           travel_time_secs AS travel_time_seconds,
           speed AS speed_miles_per_hour, match_validity,
           filter_id AS filter_identifier,
           strftime(start_ts, '%Y-%m-%dT%H:%M:%S') AS start_time,
           strftime(end_ts, '%Y-%m-%dT%H:%M:%S') AS end_time,
           dayname(start_ts) AS day_of_week
    FROM counted
)
SELECT *, md5(start_time || end_time || origin_reader_identifier
              || destination_reader_identifier || device_address) AS record_id
FROM pub
"""


# ---------------------------------------------------------------------------
# GS chain
# ---------------------------------------------------------------------------


def _gs_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → v8-count-shaped rows with integer-valued measures (exact
    double sums ⇒ cross-engine avg parity)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("ts").alias("timestamp_adj"),
        F.concat(F.lit("z"), (F.col("user_id") % 8).cast("string")).alias("zone"),
        F.element_at(
            F.array(F.lit("S"), F.lit("L"), F.lit("R"), F.lit("U")),
            (F.col("event_id") % 4 + 1).cast("int"),
        ).alias("turn"),
        F.floor(F.col("value") * 3).cast("double").alias("vehicle_length"),
        F.floor(F.col("value") * 5).cast("double").alias("speed"),
        F.floor(F.col("value")).cast("double").alias("seconds_in_zone"),
    )


_GS_COUNTS_SQL = """
    SELECT ts AS timestamp_adj,
           'z' || CAST(user_id % 8 AS VARCHAR) AS zone,
           (['S','L','R','U'])[CAST(event_id % 4 + 1 AS INT)] AS turn,
           CAST(floor(value * 3) AS DOUBLE) AS vehicle_length,
           CAST(floor(value * 5) AS DOUBLE) AS speed,
           CAST(floor(value) AS DOUBLE) AS seconds_in_zone
    FROM events
"""


def _gs_movements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 zones cycling through the five reference approaches."""
    approaches = ["Northbound", "Southbound", "Eastbound", "Westbound", "Unassigned"]
    rows = [(f"z{i}", approaches[i % 5], "Straight") for i in range(8)]
    return spark.createDataFrame(
        rows, "zone string, zone_approach string, turn_type string"
    )


_GS_MOVEMENTS_SQL = """
    SELECT 'z' || CAST(i AS VARCHAR) AS zone,
           (['Northbound','Southbound','Eastbound','Westbound','Unassigned'])
               [CAST(i % 5 + 1 AS INT)] AS zone_approach,
           'Straight' AS turn_type
    FROM UNNEST(range(8)) AS t(i)
"""


def pipe_gs_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gs_ready_agg.py:69-92 (A1) over the REAL gs.agg_interval operator:
    heavy-vehicle split, movements join, 15-min tumbling window, full
    projection including both sample-stddev columns (exact decimal-sum
    construction in ``gs._exact_std`` ⇒ cross-engine hash parity)."""
    from atd_data_lake_spark.pipelines import gs

    out = gs.agg_interval(_gs_counts(spark, sf_dir), _gs_movements(spark, sf_dir))
    return out.select(
        "timestamp",
        "zone_approach",
        "turn",
        F.col("heavy_vehicle").cast("int").alias("heavy_vehicle"),
        "volume",
        "speed_avg",
        "speed_std",
        "seconds_in_zone_avg",
        "seconds_in_zone_std",
    )


def _gs_std_sql(col: str) -> str:
    """DuckDB twin of gs._exact_std: sample stddev from exact
    DECIMAL(12,2) sums, rounded 3, stddev-of-one → 0."""
    d = f"CAST({col} AS DECIMAL(12,2))"
    return (
        f"round(CASE WHEN count(*) > 1 THEN sqrt(greatest("
        f"(CAST(sum({d} * {d}) AS DOUBLE)"
        f" - CAST(sum({d}) AS DOUBLE) * CAST(sum({d}) AS DOUBLE)"
        f" / CAST(count(*) AS DOUBLE))"
        f" / (CAST(count(*) AS DOUBLE) - 1), 0.0)) ELSE 0.0 END, 3)"
    )


PIPE_GS_AGG_SQL = f"""
WITH counts AS ({_GS_COUNTS_SQL}), moves AS ({_GS_MOVEMENTS_SQL})
SELECT make_timestamp(CAST(floor(epoch(timestamp_adj) / 900) AS BIGINT) * 900 * 1000000) AS timestamp,
       zone_approach, turn,
       CASE WHEN vehicle_length < 17 THEN 0 ELSE 1 END AS heavy_vehicle,
       count(*) AS volume,
       round(avg(speed), 3) AS speed_avg,
       {_gs_std_sql("speed")} AS speed_std,
       round(avg(seconds_in_zone), 3) AS seconds_in_zone_avg,
       {_gs_std_sql("seconds_in_zone")} AS seconds_in_zone_std
FROM counts JOIN moves USING (zone)
GROUP BY 1, 2, 3, 4
"""


def pipe_gs_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gs_agg_extract_soc.py:78-135 (P12 + record_id) over the REAL
    gs.publish_agg: approach/turn normalization (unknowns skipped,
    UNASSIGNED kept), boolean heavy_vehicle hashed as Python "True"/
    "False", date parts, md5 record_id."""
    from atd_data_lake_spark.pipelines import gs

    agg = gs.agg_interval(_gs_counts(spark, sf_dir), _gs_movements(spark, sf_dir))
    device = spark.createDataFrame(
        [(72, " LAMAR BLVD", " MANCHACA RD")],
        "atd_device_id int, primary_st string, cross_st string",
    )
    out = gs.publish_agg(agg, device)
    return out.select(
        "atd_device_id",
        "read_date",
        "intersection_name",
        "direction",
        "movement",
        "heavy_vehicle",
        "volume",
        "month",
        "day",
        "year",
        "hour",
        "minute",
        "day_of_week",
        "bin_duration",
        "record_id",
    )


PIPE_GS_PUBLISH_SQL = f"""
WITH counts AS ({_GS_COUNTS_SQL}), moves AS ({_GS_MOVEMENTS_SQL}),
agg AS (
    SELECT make_timestamp(CAST(floor(epoch(timestamp_adj) / 900) AS BIGINT) * 900 * 1000000) AS ts,
           zone_approach, turn,
           CASE WHEN vehicle_length < 17 THEN 0 ELSE 1 END AS hv,
           count(*) AS volume
    FROM counts JOIN moves USING (zone)
    GROUP BY 1, 2, 3, 4
),
pub AS (
    SELECT 72 AS atd_device_id,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') AS read_date,
           'LAMAR BLVD / MANCHACA RD' AS intersection_name,
           CASE zone_approach
               WHEN 'Southbound' THEN 'SOUTHBOUND' WHEN 'Northbound' THEN 'NORTHBOUND'
               WHEN 'Eastbound' THEN 'EASTBOUND' WHEN 'Westbound' THEN 'WESTBOUND'
               WHEN 'Unassigned' THEN 'UNASSIGNED' END AS direction,
           CASE turn WHEN 'S' THEN 'THRU' WHEN 'L' THEN 'LEFT TURN'
                     WHEN 'R' THEN 'RIGHT TURN' WHEN 'U' THEN 'U-TURN'
                     ELSE turn END AS movement,
           hv <> 0 AS heavy_vehicle,
           volume,
           CAST(month(ts) AS INT) AS month, CAST(day(ts) AS INT) AS day,
           CAST(year(ts) AS INT) AS year, CAST(hour(ts) AS INT) AS hour,
           CAST(minute(ts) AS INT) AS minute,
           CAST(dayofweek(ts) AS INT) AS day_of_week,
           900 AS bin_duration
    FROM agg
    WHERE zone_approach IN
          ('Southbound','Northbound','Eastbound','Westbound','Unassigned')
)
SELECT *, md5(intersection_name || read_date
              || CASE WHEN heavy_vehicle THEN 'True' ELSE 'False' END
              || direction || movement) AS record_id
FROM pub
"""


def pipe_gs_clock_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gs_json_standard.py:219-260: the v8 clock-drift arithmetic over the
    REAL gs operators — site timeDelta from two differently-formatted
    device timestamps, HHMMSS.f expansion, utc_offset back-out."""
    from atd_data_lake_spark.pipelines import gs

    e = _t(spark, sf_dir, "events")
    derived = e.select(
        "event_id",
        F.lit("2024-01-15").cast("timestamp").alias("collection_date"),
        (
            F.hour("ts") * 10000
            + F.minute("ts") * 100
            + F.second("ts")
            + (F.col("event_id") % 10) / 10.0
        ).cast("double").alias("timestamp"),
        F.lit(-300).cast("int").alias("utc_offset"),
    ).withColumn(
        "time_delta_sec",
        gs.site_time_delta_seconds(
            F.lit("06/03/2019 07:34:06 AM"),
            F.lit("6/3/2019 2:32:13 AM"),
            F.lit("(UTC-05:00) Central Time (US & Canada)"),
        ),
    )
    out = gs.standardize_v8(derived)
    return out.select("event_id", "time_delta_sec", "timestamp_adj")


PIPE_GS_CLOCK_DRIFT_SQL = """
SELECT event_id,
       CAST(113 AS BIGINT) AS time_delta_sec,
       make_timestamp(
           (CAST(epoch(TIMESTAMP '2024-01-15') AS BIGINT)
            + hour(ts) * 3600 + minute(ts) * 60
            + CAST(floor(date_part('second', ts)) AS BIGINT)
            + 300 * 60 + 113) * 1000000
           + (event_id % 10) * 100000
       ) AS timestamp_adj
FROM events
"""


def a1_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream≡batch: the SAME transform that runs under
    ``readStream`` (``streaming.windowed.tumbling_agg_stream`` — watermark
    + windowed agg + exact-decimal stddev) applied to a batch frame, so
    the driver oracle externally checks the streaming aggregation logic.
    On a batch input ``withWatermark`` is a no-op and the windowed agg is
    the complete (final) result — the fixture for the stream≡batch pytest
    (tests/test_streaming.py), now driver-gated."""
    from atd_data_lake_spark.streaming.windowed import tumbling_agg_stream

    counts = _gs_counts(spark, sf_dir)
    out = tumbling_agg_stream(
        counts,
        ts_col="timestamp_adj",
        keys=["zone", "turn"],
        interval_sec=900,
    )
    return out.select(
        "timestamp",
        "zone",
        "turn",
        "volume",
        "speed_avg",
        "speed_std",
        "seconds_in_zone_avg",
        "seconds_in_zone_std",
    )


A1_STREAMING_PARITY_SQL = f"""
WITH counts AS ({_GS_COUNTS_SQL})
SELECT make_timestamp(CAST(floor(epoch(timestamp_adj) / 900) AS BIGINT) * 900 * 1000000) AS timestamp,
       zone, turn,
       count(*) AS volume,
       round(avg(speed), 3) AS speed_avg,
       {_gs_std_sql("speed")} AS speed_std,
       round(avg(seconds_in_zone), 3) AS seconds_in_zone_avg,
       {_gs_std_sql("seconds_in_zone")} AS seconds_in_zone_std
FROM counts
GROUP BY 1, 2, 3
"""


PIPELINE_QUERIES = {
    "a1_streaming_parity": a1_streaming_parity,
    "pipe_wt_standardize": pipe_wt_standardize,
    "pipe_wt_ready": pipe_wt_ready,
    "pipe_wt_publish": pipe_wt_publish,
    "pipe_bt_ready_unmatched": pipe_bt_ready_unmatched,
    "pipe_bt_publish_unmatched": pipe_bt_publish_unmatched,
    "pipe_bt_ready_matched": pipe_bt_ready_matched,
    "pipe_bt_publish_matched": pipe_bt_publish_matched,
    "pipe_gs_agg": pipe_gs_agg,
    "pipe_gs_publish": pipe_gs_publish,
    "pipe_gs_clock_drift": pipe_gs_clock_drift,
}

PIPELINE_ORACLES = {
    "a1_streaming_parity": A1_STREAMING_PARITY_SQL,
    "pipe_wt_standardize": PIPE_WT_STANDARDIZE_SQL,
    "pipe_wt_ready": PIPE_WT_READY_SQL,
    "pipe_wt_publish": PIPE_WT_PUBLISH_SQL,
    "pipe_bt_ready_unmatched": PIPE_BT_READY_UNMATCHED_SQL,
    "pipe_bt_publish_unmatched": PIPE_BT_PUBLISH_UNMATCHED_SQL,
    "pipe_bt_ready_matched": PIPE_BT_READY_MATCHED_SQL,
    "pipe_bt_publish_matched": PIPE_BT_PUBLISH_MATCHED_SQL,
    "pipe_gs_agg": PIPE_GS_AGG_SQL,
    "pipe_gs_publish": PIPE_GS_PUBLISH_SQL,
    "pipe_gs_clock_drift": PIPE_GS_CLOCK_DRIFT_SQL,
}
