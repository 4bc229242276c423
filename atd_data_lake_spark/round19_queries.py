"""Round-19 query additions: privacy auditing, attribution, and a
fraud/DQ digit-distribution check.

- ``dq_k_anonymity`` — k-anonymity audit over a quasi-identifier tuple
  (the privacy gate a dataset passes before release): equivalence-class
  sizes over (o_orderpriority, o_orderstatus, order month), the
  anonymity level (min class size), and how many rows sit in classes
  below k=5.  One agg to the class table, one to the report row —
  class count is bounded by the QI domain, not the data.
- ``evt_attribution_first_touch`` — first-touch attribution: every
  purchase event attributes to the event type that OPENED the user's
  trailing 7-day window (min-by over (ts, event_id) among in-window
  predecessors).  The self-band-join shape of every marketing
  attribution pipeline; bounded by events-per-user-per-week, never
  |events|².
- ``dq_benford`` — Benford's-law first-digit profile of o_totalprice
  with the chi-square statistic against the log10(1+1/d) expectation:
  the classic fabricated-numbers screen.  Counts are exact; expected
  shares are engine-identical closed forms; one final double chi²,
  round(6).

All three carry DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t


# ---------------------------------------------------------------------------
# dq_k_anonymity
# ---------------------------------------------------------------------------

_K_ANON = 5


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity report per quasi-identifier class: class size and a
    below-k flag, plus (window-free, via a second tiny agg joined back)
    the dataset-level anonymity floor on every row for easy filtering.

    Output: one row per equivalence class (priority, status, month,
    class_size, below_k, anonymity_level).
    """
    o = _t(spark, sf_dir, "orders")
    classes = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        F.month("o_orderdate").alias("order_month"),
    ).agg(F.count("*").alias("class_size"))
    floor = classes.agg(F.min("class_size").alias("anonymity_level"))
    return (
        classes.crossJoin(F.broadcast(floor))
        .select(
            "priority",
            "status",
            "order_month",
            "class_size",
            (F.col("class_size") < _K_ANON).alias("below_k"),
            "anonymity_level",
        )
        .orderBy("priority", "status", "order_month")
    )


DQ_K_ANONYMITY_SQL = f"""
WITH classes AS (
    SELECT o_orderpriority AS priority, o_orderstatus AS status,
           month(o_orderdate) AS order_month, count(*) AS class_size
    FROM orders GROUP BY 1, 2, 3
),
floor_ AS (SELECT min(class_size) AS anonymity_level FROM classes)
SELECT priority, status, order_month, class_size,
       class_size < {_K_ANON} AS below_k,
       anonymity_level
FROM classes, floor_
ORDER BY priority, status, order_month
"""


# ---------------------------------------------------------------------------
# evt_attribution_first_touch
# ---------------------------------------------------------------------------

_ATTR_WINDOW_DAYS = 7


def evt_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase event: the event type that opened the user's
    trailing 7-day window (the first-touch channel), NULL when the
    purchase itself opens the window.

    Exact µs arithmetic on the instant axis; the predecessor set is a
    per-user band self-join bounded by a user's weekly activity, and
    min_by over (ts, event_id) makes the touch deterministic under
    timestamp ties.  Summary projection: (first_touch, n_purchases,
    n_users) — class-bounded output.
    """
    from atd_data_lake_spark.functions.datetime_fns import as_instant

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(as_instant(ev, "ts"))
    base = ev.select(
        "user_id", "event_id", "event_type", us.alias("us")
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("us").alias("p_us"),
    )
    window_us = _ATTR_WINDOW_DAYS * 86_400_000_000
    touches = purchases.join(base, "user_id").filter(
        (F.col("us") >= F.col("p_us") - window_us) & (F.col("us") < F.col("p_us"))
    )
    first = touches.groupBy("user_id", "p_id").agg(
        F.expr("min_by(event_type, struct(us, event_id))").alias("first_touch")
    )
    attributed = purchases.join(first, ["user_id", "p_id"], "left")
    return (
        attributed.groupBy(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch")
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("first_touch")
    )


EVT_ATTRIBUTION_SQL = f"""
WITH base AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us
    FROM events
),
purchases AS (
    SELECT user_id, event_id AS p_id, us AS p_us
    FROM base WHERE event_type = 'purchase'
),
touches AS (
    SELECT p.user_id, p.p_id,
           (min({{'us': b.us, 'eid': b.event_id, 'et': b.event_type}})).et
             AS first_touch
    FROM purchases p
    JOIN base b ON b.user_id = p.user_id
       AND b.us >= p.p_us - {_ATTR_WINDOW_DAYS} * 86400000000
       AND b.us < p.p_us
    GROUP BY 1, 2
)
SELECT coalesce(t.first_touch, 'none') AS first_touch,
       count(*) AS n_purchases,
       count(DISTINCT p.user_id) AS n_users
FROM purchases p
LEFT JOIN touches t ON t.user_id = p.user_id AND t.p_id = p.p_id
GROUP BY 1
ORDER BY first_touch
"""


# ---------------------------------------------------------------------------
# dq_benford
# ---------------------------------------------------------------------------


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of o_totalprice vs Benford's law, with
    per-digit observed/expected shares and the total chi² statistic.

    First digit = substring of the decimal rendering of the integer
    cents mantissa — no float log tricks, so both engines read the
    same digit.  Chi² = Σ (obs − exp)²/exp over the 9 digits, where
    exp_d = n·log10(1+1/d) — closed-form doubles, identical IEEE, one
    round(6).
    """
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(14,2)").cast("string"), 1, 1
    ).cast("int")
    counts = o.select(digit.alias("d")).groupBy("d").agg(
        F.count("*").alias("n_obs")
    )
    total = counts.agg(F.sum("n_obs").alias("n_total"))
    j = counts.crossJoin(F.broadcast(total))
    exp_share = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    per = j.select(
        "d",
        "n_obs",
        F.round(F.col("n_obs") / F.col("n_total"), 6).alias("obs_share"),
        F.round(exp_share, 6).alias("benford_share"),
        (
            F.pow(F.col("n_obs") - exp_share * F.col("n_total"), F.lit(2.0))
            / (exp_share * F.col("n_total"))
        ).alias("_chi"),
    )
    return per.select(
        "d",
        "n_obs",
        "obs_share",
        "benford_share",
        F.round(F.col("_chi"), 6).alias("chi2_term"),
    ).orderBy("d")


DQ_BENFORD_SQL = """
WITH counts AS (
    SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR),
                       1, 1) AS INTEGER) AS d,
           count(*) AS n_obs
    FROM orders GROUP BY 1
),
total AS (SELECT sum(n_obs) AS n_total FROM counts)
SELECT d, n_obs,
       round(n_obs / CAST(n_total AS DOUBLE), 6) AS obs_share,
       round(log10(1.0 + 1.0 / d), 6) AS benford_share,
       round(pow(n_obs - log10(1.0 + 1.0 / d) * n_total, 2.0)
             / (log10(1.0 + 1.0 / d) * n_total), 6) AS chi2_term
FROM counts, total
ORDER BY d
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

ROUND19_QUERIES = {
    "dq_k_anonymity": dq_k_anonymity,
    "evt_attribution_first_touch": evt_attribution_first_touch,
    "dq_benford": dq_benford,
}

ROUND19_ORACLES = {
    "dq_k_anonymity": DQ_K_ANONYMITY_SQL,
    "evt_attribution_first_touch": EVT_ATTRIBUTION_SQL,
    "dq_benford": DQ_BENFORD_SQL,
}
