"""GRIDSMART (gs) pipeline: per-zone counts → standardized (clock-drift
corrected) → ready (site/device joined, day-completed) → 15-min agg →
published.

Re-expresses gs_json_standard.py → gs_ready.py → gs_ready_agg.py →
gs_agg_extract_soc.py.  The hardest reference chain (SURVEY §7.2 step 4):

- clock-drift correction: per-site ``timeDelta = HostTimeUTC −
  deviceTime`` applied to every count timestamp
  (gs_json_standard.py:219-267);
- ``day_covered``: a file logged under day D may hold D±1 data after
  correction (:226-247) — the engine reads a 3-day partition window and
  filters, replacing the reference's per-day buffering
  (gs_ready.py:236-267);
- site ZoneMasks explode → movements dimension (gs_ready_agg.py:60-66);
- A1: 15-min tumbling aggregation with sample-stddev and the
  UTC-grouping DST workaround (gs_ready_agg.py:69-92);
- P12 publish normalization + record_id (gs_agg_extract_soc.py:78-135).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from atd_data_lake_spark.functions.datetime_fns import day_of_week_ref
from atd_data_lake_spark.functions.ids import md5_concat
from atd_data_lake_spark.functions.money import D2

GS_TIME_FMT = "M/d/yyyy h:mm:ss a"  # gs_json_standard.py:179-191 _getTime


# ---------------------------------------------------------------------------
# standardize: clock-drift correction (gs_json_standard.py:179-267)
# ---------------------------------------------------------------------------


def site_time_delta_seconds(
    host_time_utc: Column, device_time: Column, tz_id: Column
) -> Column:
    """``timeDelta = HostTimeUTC − deviceTime`` in seconds
    (gs_json_standard.py:219-223).

    ``device_time`` is device-local wall clock; ``tz_id`` carries the
    offset as its first token, e.g. ``"(UTC-05:00) Central..."`` — the
    reference parses that token's ±HH:MM (:185-188).  device-UTC =
    wall − offset."""
    sign_hh = F.regexp_extract(tz_id, r"([+-]\d{2}):?(\d{2})", 1)  # e.g. "-05"
    mm = F.regexp_extract(tz_id, r"([+-]\d{2}):?(\d{2})", 2)  # e.g. "30"
    off_min = (
        F.when(sign_hh == "", F.lit(0))
        .otherwise(
            sign_hh.cast("int") * 60
            + F.when(F.startswith(sign_hh, F.lit("-")), -mm.cast("int")).otherwise(
                mm.cast("int")
            )
        )
        .cast("long")
    )
    host = F.to_timestamp(host_time_utc, GS_TIME_FMT)
    dev_wall = F.to_timestamp(device_time, GS_TIME_FMT)
    dev_utc = F.timestamp_seconds(F.unix_timestamp(dev_wall) - off_min * 60)
    return F.unix_timestamp(host) - F.unix_timestamp(dev_utc)


def v8_timestamp_adj(
    collection_date: Column,
    hhmmss_f: Column,
    utc_offset_min: Column,
    time_delta_sec: Column,
) -> Column:
    """v8 corrected timestamp (gs_json_standard.py:249-260), as UTC.

    Raw ``timestamp`` is HHMMSS.f within the collection day; the fraction
    keeps ONE decimal (reference: ``round((t % 1) * 10) * 100000`` µs).
    ts = (day + hhmmss.f) − utc_offset_minutes (+ timeDelta); the
    reference then renders in the local tz — the engine keeps UTC
    timestamps and converts at the edge (SURVEY §7.4 tz note)."""
    whole = F.floor(hhmmss_f).cast("long")
    hours = (whole / 10000).cast("long")
    minutes = ((whole % 10000) / 100).cast("long")
    seconds = (whole % 100).cast("long")
    tenths = F.round((hhmmss_f % 1) * 10, 0).cast("long")
    base = F.unix_timestamp(F.date_trunc("DAY", collection_date))
    epoch = (
        base
        + hours * 3600
        + minutes * 60
        + seconds
        - utc_offset_min.cast("long") * 60
        + time_delta_sec
    )
    return F.timestamp_micros(epoch * 1_000_000 + tenths * 100_000)


def v4_timestamp_adj(ts_str: Column, time_delta_sec: Column) -> Column:
    """v4 corrected timestamp (gs_json_standard.py:264-267): parse
    ``%Y%m%dT%H%M%S[.f]`` then add timeDelta."""
    parsed = F.coalesce(
        F.try_to_timestamp(ts_str, F.lit("yyyyMMdd'T'HHmmss.SSSSSS")),
        F.try_to_timestamp(ts_str, F.lit("yyyyMMdd'T'HHmmss")),
    )
    return F.timestamp_micros(F.unix_micros(parsed) + time_delta_sec * 1_000_000)


def standardize_v8(
    counts: DataFrame,
    collection_date_col: str = "collection_date",
    time_delta_col: str = "time_delta_sec",
) -> DataFrame:
    """Attach ``timestamp_adj`` to v8 rows (count_version dispatch is the
    read-time schema branch, gs_json_standard.py:125-131 / S6)."""
    return counts.withColumn(
        "timestamp_adj",
        v8_timestamp_adj(
            F.col(collection_date_col),
            F.col("timestamp"),
            F.col("utc_offset"),
            F.col(time_delta_col),
        ),
    )


def day_covered(
    collection_date: Column, utc_offset_min: Column, time_delta_sec: Column
) -> Column:
    """−1/0/+1 flag: where day-D midnight lands after correction
    (gs_json_standard.py:226-247).  U1's 3-day read makes this advisory
    in the engine, but it is preserved for parity and pruning."""
    midnight_adj = (
        F.unix_timestamp(F.date_trunc("DAY", collection_date))
        - utc_offset_min.cast("long") * 60
        + time_delta_sec
    )
    day_start = F.unix_timestamp(F.date_trunc("DAY", collection_date))
    return (
        F.when(midnight_adj < day_start, -1)
        .when(midnight_adj == day_start, 0)
        .otherwise(1)
    )


# ---------------------------------------------------------------------------
# ready: zones dimension + day completion (gs_ready.py:222-339)
# ---------------------------------------------------------------------------


def zones_from_site(site: DataFrame) -> DataFrame:
    """Explode the nested site document into a flat movements dimension
    (gs_ready_agg.py:60-66; site shape docs/datasrc_gs.md:72-148):
    CameraDevices[].Fisheye.CameraMasks.ZoneMasks[].Vehicle →
    (zone, zone_approach, turn_type)."""
    cams = site.select(
        "*", F.explode("site.CameraDevices").alias("_cam")
    ).drop("site")
    zones = cams.select(
        "*", F.explode("_cam.Fisheye.CameraMasks.ZoneMasks").alias("_zm")
    ).drop("_cam")
    return (
        zones.filter(F.col("_zm.Vehicle").isNotNull())
        .select(
            "*",
            F.col("_zm.Vehicle.Id").alias("zone"),
            F.col("_zm.Vehicle.ApproachType").alias("zone_approach"),
            F.col("_zm.Vehicle.TurnType").alias("turn_type"),
        )
        .drop("_zm")
    )


def redash_guid(guid: Column) -> Column:
    """P15: 32-hex zone id → dashed GUID (gs_ready.py:232-233)."""
    return F.concat_ws(
        "-",
        F.substring(guid, 1, 8),
        F.substring(guid, 9, 4),
        F.substring(guid, 13, 4),
        F.substring(guid, 17, 4),
        F.substring(guid, 21, 12),
    )


def day_window_filter(df: DataFrame, date_col: str, ts_col: str = "timestamp_adj") -> DataFrame:
    """P8: keep rows with date ≤ ts < date+1d (gs_ready.py:330-339
    fillDayRecords)."""
    d = F.date_trunc("DAY", F.col(date_col))
    return df.filter((F.col(ts_col) >= d) & (F.col(ts_col) < F.date_add(d, 1)))


def cross_day_complete(
    day_d: DataFrame, aux_days: DataFrame, date_col: str, ts_col: str = "timestamp_adj"
) -> DataFrame:
    """U1: union day D with D±1 spill candidates, then P8-filter to the
    day window (gs_ready.py:236-267).  In partitioned-table terms: read
    partitions D−1..D+1, filter on corrected time — no per-day buffering."""
    return day_window_filter(day_d.unionByName(aux_days), date_col, ts_col)


# ---------------------------------------------------------------------------
# A1: the flagship 15-min tumbling aggregation (gs_ready_agg.py:69-92)
# ---------------------------------------------------------------------------


def heavy_vehicle_flag(vehicle_length: Column) -> Column:
    """P13: np.where(vehicle_length < 17, 0, 1) — NULL length lands in the
    heavy branch exactly like NaN does in numpy (gs_ready_agg.py:70)."""
    return F.when(vehicle_length < 17, 0).otherwise(1)


def _exact_std(col: str) -> F.Column:
    """Sample stddev from exact decimal(12,2) sums: Σx and Σx² accumulate
    in decimal (order-independent, exact for 2-dp inputs), the variance
    formula then runs on identical doubles on any engine/partitioning —
    bit-identical results where incremental-moment ``stddev_samp`` has
    summation-order float noise.  stddev-of-one → 0 (pandas semantics)."""
    d = F.col(col).cast(D2)
    n = F.count("*").cast("double")
    sx = F.sum(d).cast("double")
    sxx = F.sum(d * d).cast("double")
    var = (sxx - sx * sx / n) / (n - 1)
    return F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(0.0)


def agg_interval(
    counts: DataFrame,
    movements: DataFrame,
    interval_sec: int = 900,
    ts_col: str = "timestamp_adj",
) -> DataFrame:
    """Tumbling-window aggregation per (window, zone_approach, turn,
    heavy_vehicle): volume, mean/sample-stddev of speed and
    seconds_in_zone, round(3), stddev-of-one → 0.

    The reference aggregates in UTC to dodge a pandas DST grouper bug and
    converts back after (gs_ready_agg.py:71-73,90-92); Spark's
    ``window()`` on UTC timestamps has the same semantics natively.
    pandas ``std`` is sample stddev; it is computed via ``_exact_std``
    (exact decimal sums — GS measures are 2-dp CSV values) so the result
    is deterministic across partitionings and engines."""
    j = counts.withColumn("heavy_vehicle", heavy_vehicle_flag(F.col("vehicle_length"))).join(
        F.broadcast(movements), "zone"
    )
    grouped = (
        j.groupBy(
            F.window(F.col(ts_col), f"{interval_sec} seconds").alias("_w"),
            "zone_approach",
            "turn",
            "heavy_vehicle",
        )
        .agg(
            F.count("*").alias("volume"),
            F.round(F.avg("speed"), 3).alias("speed_avg"),
            F.round(_exact_std("speed"), 3).alias("speed_std"),
            F.round(F.avg("seconds_in_zone"), 3).alias("seconds_in_zone_avg"),
            F.round(_exact_std("seconds_in_zone"), 3).alias("seconds_in_zone_std"),
        )
    )
    return grouped.select(
        F.col("_w.start").alias("timestamp"),
        "zone_approach",
        "turn",
        "heavy_vehicle",
        "volume",
        "speed_avg",
        "speed_std",
        "seconds_in_zone_avg",
        "seconds_in_zone_std",
    )


# ---------------------------------------------------------------------------
# publish (gs_agg_extract_soc.py:78-135)
# ---------------------------------------------------------------------------

SOCRATA_TIME_FMT = "yyyy-MM-dd'T'HH:mm:ss"

_APPROACH_MAP = {
    "Southbound": "SOUTHBOUND",
    "Northbound": "NORTHBOUND",
    "Eastbound": "EASTBOUND",
    "Westbound": "WESTBOUND",
    "Unassigned": "UNASSIGNED",
}

_TURN_MAP = {"S": "THRU", "L": "LEFT TURN", "R": "RIGHT TURN", "U": "U-TURN"}


def normalize_approach(approach: Column, keep_unassigned: bool = True) -> Column:
    """P12 part 1: canonical uppercase approaches; unknown → NULL (caller
    filters, reproducing the reference's skip) ; UNASSIGNED kept unless
    the ``-u`` flag dropped it (gs_agg_extract_soc.py:78-92)."""
    expr = F.lit(None).cast("string")
    for k, v in reversed(_APPROACH_MAP.items()):
        if k == "Unassigned" and not keep_unassigned:
            continue
        expr = F.when(approach == k, v).otherwise(expr)
    return expr


def normalize_turn(turn: Column) -> Column:
    """P12 part 2: S→THRU, L→LEFT TURN, R→RIGHT TURN, U→U-TURN; unknown
    codes pass through (the reference only warns,
    gs_agg_extract_soc.py:94-104)."""
    expr = turn
    for k, v in reversed(_TURN_MAP.items()):
        expr = F.when(turn == k, v).otherwise(expr)
    return expr


def publish_agg(
    agg: DataFrame,
    device: DataFrame,
    interval_sec: int = 900,
    keep_unassigned: bool = True,
) -> DataFrame:
    """Socrata publish shape (gs_agg_extract_soc.py:106-135): normalized
    approach/turn, intersection_name = "primary / cross" (trimmed),
    boolean heavy_vehicle, date parts, record_id = md5 over
    (intersection_name, read_date, heavy_vehicle, direction, movement) —
    heavy_vehicle hashes as Python's "True"/"False" for reference parity.

    ``device``: 1-row (atd_device_id, primary_st, cross_st) broadcast."""
    ts = F.col("timestamp")
    out = (
        agg.crossJoin(F.broadcast(device))
        .withColumn(
            "direction", normalize_approach(F.col("zone_approach"), keep_unassigned)
        )
        .filter(F.col("direction").isNotNull())
        .select(
            "atd_device_id",
            F.date_format(ts, SOCRATA_TIME_FMT).alias("read_date"),
            F.concat_ws(
                " / ", F.trim(F.col("primary_st")), F.trim(F.col("cross_st"))
            ).alias("intersection_name"),
            "direction",
            normalize_turn(F.col("turn")).alias("movement"),
            (F.col("heavy_vehicle") != 0).alias("heavy_vehicle"),
            "volume",
            F.col("speed_avg").alias("speed_average"),
            F.col("speed_std").alias("speed_stddev"),
            F.col("seconds_in_zone_avg").alias("seconds_in_zone_average"),
            F.col("seconds_in_zone_std").alias("seconds_in_zone_stddev"),
            F.month(ts).alias("month"),
            F.dayofmonth(ts).alias("day"),
            F.year(ts).alias("year"),
            F.hour(ts).alias("hour"),
            F.minute(ts).alias("minute"),
            day_of_week_ref(ts).alias("day_of_week"),
            F.lit(interval_sec).alias("bin_duration"),
        )
    )
    hv_str = F.when(F.col("heavy_vehicle"), "True").otherwise("False")
    return out.withColumn(
        "record_id",
        md5_concat(
            F.col("intersection_name"),
            F.col("read_date"),
            hv_str,
            F.col("direction"),
            F.col("movement"),
        ),
    )


# ---------------------------------------------------------------------------
# ready composition (gs_ready.py:106-317)
# ---------------------------------------------------------------------------


def configured_zones(site: DataFrame) -> DataFrame:
    """The zones that actually produce counts (gs_ready.py:222-233):
    cameras must be IsConfigured, zones must be IncludeInData; emits the
    dashed GUID that names each zone's counts file."""
    cams = site.select("*", F.explode("site.CameraDevices").alias("_cam")).drop(
        "site"
    )
    cams = cams.filter(F.col("_cam.Fisheye.IsConfigured"))
    zones = cams.select(
        "*", F.explode("_cam.Fisheye.CameraMasks.ZoneMasks").alias("_zm")
    ).drop("_cam")
    return (
        zones.filter(
            F.col("_zm.Vehicle").isNotNull() & F.col("_zm.Vehicle.IncludeInData")
        )
        .select(
            "*",
            F.col("_zm.Vehicle.Id").alias("zone"),
            redash_guid(F.col("_zm.Vehicle.Id")).alias("zone_guid_dashed"),
            F.col("_zm.Vehicle.ApproachType").alias("zone_approach"),
            F.col("_zm.Vehicle.TurnType").alias("turn_type"),
        )
        .drop("_zm")
    )


def ready_counts(
    std_counts: DataFrame,
    site: DataFrame,
    date_col: str = "collection_date",
    ts_col: str = "timestamp_adj",
) -> DataFrame:
    """The gs_ready consolidation: keep counts only for configured +
    included zones (semi-join against the exploded site), complete each
    day from the neighbouring partitions' spill (the caller passes a
    3-day read as ``std_counts``), order by corrected time
    (gs_ready.py:236-287).

    One broadcast semi-join + one day-window filter; the reference's
    per-day buffering and per-zone file fetches disappear."""
    zones = configured_zones(site).select("zone").distinct()
    kept = std_counts.join(F.broadcast(zones), "zone", "left_semi")
    return day_window_filter(kept, date_col, ts_col).orderBy(ts_col)
