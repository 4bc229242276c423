"""TPC-H and OLAP registry queries: the 22 TPC-H shapes (``q1``…``q22``)
and the four ``olap_*`` reporting queries, each with its DuckDB oracle.

q1 is the engine's version of the reference's flagship ready-layer
aggregation (gs_ready_agg.py:69-92).  The testdata has no ``partsupp``
table and ``lineitem`` lacks commitdate/receiptdate/shipmode, so the
partsupp-dependent and late-delivery queries are ADAPTED — each
docstring states the exact substitution (derived partsupp = DISTINCT
(l_partkey, l_suppkey); "late" = shipped > 60 days after order date;
"mode" = l_linestatus).  The plan shape — correlated-min join-back,
EXISTS/NOT-EXISTS rewrites, scalar-subquery broadcast, count-distinct
over a derived relation — is the point, and is preserved faithfully.

Every money value goes through :mod:`functions.money` (decimal sums,
cast to double, then round), so each oracle comparison is
engine-independent; time goes through integer epoch microseconds, and a
ratio is a single IEEE division of exact integers/decimals.  q9 alone
rounds its decimal sum BEFORE the cast: at a half-cent tie Spark's and
DuckDB's round(double) disagree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.functions.money import (
    D2,
    NET_PRICE_SQL,
    REVENUE_SQL,
    avg_hu,
    avg_hu_sql,
    cents_sum,
    dsum,
    net_price,
    net_price_sql,
    revenue,
)
from atd_data_lake_spark.io.reader import read_table_utc as _t
from atd_data_lake_spark.operators.scale import scoped_persist


def _in_range(col: str, lo: str, hi: str) -> F.Column:
    """Half-open timestamp band ``lo <= col < hi`` (pushes to the scan)."""
    return (F.col(col) >= F.lit(lo).cast("timestamp")) & (
        F.col(col) < F.lit(hi).cast("timestamp")
    )


def _nation_named(t: DataFrame, key: str, n: DataFrame, name: str) -> DataFrame:
    """``(key, name)``: each supplier or customer row of ``t`` with its
    nation's name, the nation side ``n`` broadcast (inner, so a filtered
    ``n`` filters ``t``)."""
    p = key[0]  # s_suppkey → s_nationkey / sn_key; c_custkey → c_…/cn_key
    return t.join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias(f"{p}n_key"), F.col("n_name").alias(name)
            )
        ),
        F.col(f"{p}_nationkey") == F.col(f"{p}n_key"),
    ).select(key, name)


# ---------------------------------------------------------------------------
# TPC-H shapes q1…q22
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary.  Covers A1-family
    multi-aggregate groupBy (gs_ready_agg.py:69-92 is the reference's
    flagship aggregation) + P4 date predicate pushdown."""
    l = _t(spark, sf_dir, "lineitem")
    one_plus_tax = F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(3,2)")
    grouped = (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(dsum("l_quantity"), 2).alias("sum_qty"),
            F.round(dsum("l_extendedprice"), 2).alias("sum_base_price"),
            revenue().alias("sum_disc_price"),
            F.round(F.sum(net_price() * one_plus_tax).cast("double"), 2).alias(
                "sum_charge"
            ),
            cents_sum("l_quantity").alias("_qty_cents"),
            cents_sum("l_extendedprice").alias("_price_cents"),
            cents_sum("l_discount").alias("_disc_cents"),
            F.count("*").alias("count_order"),
        )
    )
    return grouped.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        avg_hu("_qty_cents", "count_order", 6).alias("avg_qty"),
        avg_hu("_price_cents", "count_order", 6).alias("avg_price"),
        avg_hu("_disc_cents", "count_order", 6).alias("avg_disc"),
        "count_order",
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge,
       {avg_hu_sql("qty_cents", "count_order", 6)} AS avg_qty,
       {avg_hu_sql("price_cents", "count_order", 6)} AS avg_price,
       {avg_hu_sql("disc_cents", "count_order", 6)} AS avg_disc,
       count_order
FROM (
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_base_price,
           {REVENUE_SQL} AS sum_disc_price,
           round(CAST(sum({NET_PRICE_SQL}
                         * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE), 2)
               AS sum_charge,
           sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS qty_cents,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS price_cents,
           sum(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)) AS disc_cents,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
)
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    achieving the minimum supply cost.

    Adaptation (no partsupp table): cost(part, supplier) :=
    MIN(l_extendedprice / l_quantity) over that supplier's lineitems —
    a per-row IEEE division then MIN, both order-independent, so the
    min-equality join-back is engine-exact.

    Plan shape (the point): the correlated scalar subquery
    ``cost = (SELECT min(cost) ...)`` becomes a groupBy-min + equi-join
    back on (partkey, min_cost) — no per-row subquery execution.  All
    dimension joins broadcast; the only fact shuffle is the
    (partkey, suppkey) aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") == 5) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eur.select("s_suppkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_cost"))
    )
    min_cost = cost.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("ps_cost").alias("min_cost")
    )
    best = cost.join(
        F.broadcast(min_cost),
        (F.col("l_partkey") == F.col("mk")) & (F.col("ps_cost") == F.col("min_cost")),
    ).select(F.col("l_partkey").alias("p_partkey"), "l_suppkey", "ps_cost")
    return (
        best.join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.round(F.col("ps_cost"), 4).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cost AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS ps_cost
  FROM lineitem
  JOIN (SELECT p_partkey FROM part WHERE p_size = 5 AND p_type = 'STANDARD') p
    ON l_partkey = p_partkey
  JOIN eur ON l_suppkey = eur.s_suppkey
  GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, c.l_partkey AS p_partkey,
       round(c.ps_cost, 4) AS supply_cost
FROM cost c
JOIN (SELECT l_partkey, min(ps_cost) AS min_cost FROM cost GROUP BY l_partkey) m
  ON c.l_partkey = m.l_partkey AND c.ps_cost = m.min_cost
JOIN eur ON c.l_suppkey = eur.s_suppkey
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue for one market
    segment.  Plan: the segment-filtered customer set broadcasts into
    orders BEFORE the lineitem shuffle; top-k is a single ordered limit
    (no global sort materialization — Spark's TakeOrderedAndProject)."""
    cut = F.lit("1998-06-01").cast("timestamp")
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    j = l.join(
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")).select(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority, {REVENUE_SQL} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders-per-priority where EXISTS a late lineitem.

    Adaptation (no commit/receipt dates): "late" := l_shipdate more
    than 60 days after o_orderdate.  The EXISTS becomes a LEFT SEMI
    join with a mixed-side predicate — Spark evaluates the band
    condition inside the hash join on l_orderkey, never a subquery per
    row, and dedups order keys without a distinct."""
    o = _t(spark, sf_dir, "orders").filter(
        _in_range("o_orderdate", "1996-07-01", "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: per-nation revenue where the ordering customer and the
    supplying supplier share the nation, region ASIA, order year 1996.

    Plan shape: region⋈nation collapses to a ≤|nations| broadcast that
    keys BOTH the supplier and customer sides; the only real shuffle is
    lineitem⋈orders on orderkey (the two fact tables).  The
    same-nation predicate is evaluated post-join on two broadcast-borne
    int columns — never a second fact shuffle.  At 100 TB customer
    outgrows the broadcast threshold and AQE falls back to a shuffle
    join on o_custkey; every other edge is unchanged."""
    r = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_nationkey").alias("s_nkey"), "n_name")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"))),
            F.col("c_nationkey") == F.col("cn_key"),
            "left_semi",
        )
        .select("c_custkey", "c_nationkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(_in_range("o_orderdate", "1996-01-01", "1997-01-01"))
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_nationkey") == F.col("s_nkey"))
    )
    return (
        j.groupBy("n_name")
        .agg(revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = f"""
SELECT n_name, {REVENUE_SQL} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: scan-only filtered aggregate — every predicate
    pushes to the parquet scan, zero joins, one-row result.  The query
    whose whole cost IS the scan; at 100 TB the plan must show
    PushedFilters on shipdate/discount/quantity and a 3-column
    ReadSchema."""
    l = _t(spark, sf_dir, "lineitem").filter(
        _in_range("l_shipdate", "1997-01-01", "1998-01-01")
        & (F.col("l_discount").between(0.03, 0.05))
        & (F.col("l_quantity") < 24)
    )
    ep = F.col("l_extendedprice").cast(D2)
    disc = F.col("l_discount").cast("decimal(3,2)")
    return l.agg(
        F.round(F.sum(ep * disc).cast("double"), 2).alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


Q6_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue shipped between NATION_5 and NATION_10 (both
    directions), by supplier nation / customer nation / ship year.

    Plan shape: both nation filters broadcast into supplier and
    customer BEFORE the fact joins, so lineitem only shuffles rows
    whose supplier is one of the two nations — the cross-pair filter
    ((n1,n2) or (n2,n1)) is applied post-join on two tiny dimension
    columns."""
    pair = ("NATION_5", "NATION_10")
    li = _t(spark, sf_dir, "lineitem").filter(
        _in_range("l_shipdate", "1996-01-01", "1998-01-01")
    )
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    s = _nation_named(_t(spark, sf_dir, "supplier"), "s_suppkey", n, "supp_nation")
    c = _nation_named(_t(spark, sf_dir, "customer"), "c_custkey", n, "cust_nation")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(revenue().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year, {REVENUE_SQL} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_5', 'NATION_10')
    AND n2.n_name IN ('NATION_5', 'NATION_10')
    AND n1.n_name <> n2.n_name
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
) GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of ASIA-region revenue for one part
    type, per order year.  The share is a single IEEE division of two
    exact decimal sums (conditional numerator via CASE inside the same
    aggregate — one pass, no self-join)."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    o = _t(spark, sf_dir, "orders").filter(
        _in_range("o_orderdate", "1996-01-01", "1998-01-01")
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_region = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = _nation_named(
        _t(spark, sf_dir, "supplier"), "s_suppkey", n, "supp_nation"
    )
    vol = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_region, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    nat = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", net_price()).otherwise(
            F.lit(0).cast(D2)
        )
    )
    tot = F.sum(net_price())
    return (
        vol.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            F.round((nat.cast("double") / tot.cast("double")), 6).alias("mkt_share"),
            revenue().alias("total_volume"),
        )
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(
         CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                  THEN {NET_PRICE_SQL}
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(sum({NET_PRICE_SQL}) AS DOUBLE),
         6) AS mkt_share,
       {REVENUE_SQL} AS total_volume
FROM lineitem
JOIN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY') p ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN (SELECT s_suppkey, n_name AS supp_nation
      FROM supplier JOIN nation ON s_nationkey = n_nationkey) sn
  ON l_suppkey = sn.s_suppkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA')
GROUP BY 1
ORDER BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over
    parts matching a name pattern.

    Adaptation (no partsupp.ps_supplycost): unit cost := 60% of
    p_retailprice, kept in decimals so the profit sum is exact:
    profit = extprice*(1-disc) - 0.60*retail*qty.  The exact sum is
    rounded to cents as a DECIMAL (HALF_UP in both engines) and only
    then cast: a half-cent profit like 1274494.775 is just below the tie
    as a double, where Spark's round(double) gives .78 and DuckDB's .77."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sn = _nation_named(
        _t(spark, sf_dir, "supplier"), "s_suppkey", _t(spark, sf_dir, "nation"), "nation"
    )
    cost = (
        F.lit(0.60).cast("decimal(4,2)")
        * F.col("p_retailprice").cast(D2)
        * F.col("l_quantity").cast(D2)
    )
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        j.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(net_price() - cost), 2).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(round(sum(
         {NET_PRICE_SQL}
         - CAST(0.60 AS DECIMAL(4,2)) * CAST(p_retailprice AS DECIMAL(12,2))
           * CAST(l_quantity AS DECIMAL(12,2))
       ), 2) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    one quarter.  Plan: the date filter prunes orders at the scan; the
    returnflag filter prunes lineitem at the scan; nation broadcasts;
    customer joins AFTER the fact-side aggregate input is filtered, so
    AQE can pick broadcast vs shuffle by the surviving size."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(_in_range("o_orderdate", "1997-01-01", "1997-04-01"))
        .select("o_orderkey", "o_custkey")
    )
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    j = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name, {REVENUE_SQL} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value from one nation's suppliers,
    HAVING value > 0.1% of that nation's total.

    Adaptation (no partsupp.availqty/supplycost): value(part) :=
    SUM(l_quantity) shipped by NATION_7 suppliers — exact decimal sum.

    Plan shape: the global scalar (the HAVING threshold) is computed
    once from the SAME per-part aggregate and broadcast back as a
    1-row cross join — two passes over the tiny agg, one over the
    fact."""
    li = _t(spark, sf_dir, "lineitem")
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        li.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(D2)).alias("value"))
    )
    total = per_part.agg(
        (F.sum("value") * F.lit(0.001).cast("decimal(6,3)")).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", F.round(F.col("value").cast("double"), 2).alias("value"))
        .orderBy(F.desc("value"), "l_partkey")
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS value
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7')
  GROUP BY l_partkey
)
SELECT l_partkey, round(CAST(value AS DOUBLE), 2) AS value
FROM per_part
WHERE value > (SELECT sum(value) * CAST(0.001 AS DECIMAL(6,3)) FROM per_part)
ORDER BY value DESC, l_partkey
"""


def q12_ship_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per "mode", high- vs low-priority line counts.

    Adaptation (no l_shipmode/commit/receipt dates): the mode column is
    l_linestatus and the date band is a 1996 ship year.  The CASE-sum
    pair inside one aggregate is the shape under test."""
    li = _t(spark, sf_dir, "lineitem").filter(
        _in_range("l_shipdate", "1996-01-01", "1997-01-01")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


Q12_SQL = """
SELECT l_linestatus AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
ORDER BY ship_class
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    INCLUDING zero-order customers — the left-join + double-aggregate
    pattern.  First agg keys on custkey (orders side pre-aggregated
    before the customer join so the join carries one row per customer,
    not one per order), second agg on the count itself."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("c_count"))
    )
    dist = c.join(per_cust, "c_custkey", "left").select(
        F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count")
    )
    return (
        dist.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS c_count
  FROM orders GROUP BY o_custkey
)
SELECT coalesce(c_count, 0) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM customer LEFT JOIN per_cust USING (c_custkey)
GROUP BY coalesce(c_count, 0)
ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one ship month —
    conditional aggregate over a broadcast dimension join.  The ratio is
    built from exact integer cents with HALF_UP division (money.avg_hu
    notes: round(double) diverges between engines on ties)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        _in_range("l_shipdate", "1997-03-01", "1997-04-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    # ep·(1-disc) is decimal(16,4): scale by 10⁴ for an EXACT integer —
    # scaling by 100 would leave fractional cents, which Spark's long
    # cast truncates but DuckDB's rounds (observed divergence)
    units = (net_price() * 10000).cast("long")
    agg = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", units).otherwise(F.lit(0))).alias(
                "_promo_u"
            ),
            F.sum(units).alias("_total_u"),
        )
    )
    # promo share in percent at 6 dp + revenues at 2 dp: all integer
    # HALF_UP arithmetic (positive operands), engine-neutral
    share = F.expr(
        "CAST((CAST(_promo_u AS DECIMAL(38,0)) * 200000000 + _total_u)"
        " div (2 * _total_u) AS DOUBLE) / 1000000.0"
    )
    return agg.select(
        share.alias("promo_pct"),
        (F.expr("(_promo_u + 50) div 100").cast("double") / 100.0).alias(
            "promo_revenue"
        ),
        (F.expr("(_total_u + 50) div 100").cast("double") / 100.0).alias(
            "total_revenue"
        ),
    )


Q14_SQL = f"""
WITH agg AS (
    SELECT sum(CASE WHEN p_type = 'PROMO' THEN CAST({NET_PRICE_SQL} * 10000 AS BIGINT)
                    ELSE 0 END) AS promo_u,
           sum(CAST({NET_PRICE_SQL} * 10000 AS BIGINT)) AS total_u
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
)
SELECT ((CAST(promo_u AS HUGEINT) * 200000000 + total_u) // (2 * total_u)) / 1000000.0 AS promo_pct,
       ((promo_u + 50) // 100) / 100.0 AS promo_revenue,
       ((total_u + 50) // 100) / 100.0 AS total_revenue
FROM agg
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with MAX quarterly revenue — the
    agg-then-rejoin-on-max pattern (a scalar subquery).  The revenue
    aggregate computes once and feeds both the max and the final join
    (self-referencing plan); ties all surface, as in the spec."""
    # both the max and the final join consume this aggregate; persist
    # so the lineitem scan+agg runs once, not once per consumer
    rev = scoped_persist(
        _t(spark, sf_dir, "lineitem")
        .filter(_in_range("l_shipdate", "1997-01-01", "1997-04-01"))
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(revenue().alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("m"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("m"))
        .join(s, "s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey AS s_suppkey, {REVENUE_SQL} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier USING (s_suppkey)
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    for qualifying parts, excluding "complaint" suppliers.

    Adaptation: partsupp := DISTINCT (l_partkey, l_suppkey) derived
    from lineitem; complaint suppliers := s_name ending in '7' (the
    NOT IN anti-join is the shape, the predicate is arbitrary)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7"))
        .select("s_suppkey")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    ps = li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    return (
        ps.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue that would be lost by dropping small
    orders — lineitems with quantity below 20% of their part's average.

    The correlated AVG subquery becomes a per-part aggregate joined
    back (broadcast: one row per filtered part).  The threshold is a
    single IEEE division of an exact decimal sum by a count, identical
    in both engines.  Brand/size stand in for brand/container."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#4") & (F.col("p_size") == 1))
        .select("p_partkey")
    )
    lp = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    avg_q = lp.groupBy(F.col("l_partkey").alias("ak")).agg(
        (
            F.sum(F.col("l_quantity").cast(D2)).cast("double")
            / F.count("*").cast("double")
        ).alias("avg_qty")
    )
    small = lp.join(F.broadcast(avg_q), F.col("l_partkey") == F.col("ak")).filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return small.agg(
        F.round(
            (F.sum(F.col("l_extendedprice").cast(D2)) / F.lit(7).cast("decimal(3,0)"))
            .cast("double"),
            2,
        ).alias("avg_yearly")
    )


Q17_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                  / CAST(7 AS DECIMAL(3,0)) AS DOUBLE), 2) AS avg_yearly
FROM lineitem
JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4' AND p_size = 1) p
  ON l_partkey = p_partkey
WHERE l_quantity < 0.2 * (
  SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)
  FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
)
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    joined back to the customer.  Plan: the HAVING aggregate runs FIRST
    (one lineitem shuffle producing a tiny key set), then the survivors
    broadcast into orders/customer — the detail tables are never
    re-shuffled on a fat key."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_quantity").cast(D2)).cast("double"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice").cast(D2).cast("double"), 2).alias(
                "o_totalprice"
            ),
            "total_qty",
        )
    )


Q18_SQL = """
SELECT c_name, o_orderkey, o_orderdate,
       round(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 2) AS o_totalprice,
       total_qty
FROM orders
JOIN (
    SELECT l_orderkey,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING total_qty > 300
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape on available columns: revenue under an
    OR-of-ANDs predicate spanning both join sides.  The plan question
    Q19 exists to ask: does the optimizer push the join-independent
    parts of each disjunct below the join (brand/size prune the part
    scan, quantity prunes the lineitem scan) instead of evaluating the
    whole disjunction post-join?  Catalyst's constraint propagation
    extracts `(brand1 AND size≤10) OR (brand2 AND size≤20)` onto the
    part scan and `qty BETWEEN 1 AND 30` onto lineitem."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = l.join(p, F.col("l_partkey") == F.col("p_partkey"))
    d1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size") <= 10)
        & F.col("l_quantity").between(1, 20)
    )
    d2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size") <= 20)
        & F.col("l_quantity").between(10, 30)
    )
    return j.filter(d1 | d2).agg(
        revenue().alias("revenue"), F.count("*").alias("n_lineitems")
    )


Q19_SQL = f"""
SELECT {REVENUE_SQL} AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 30)
"""


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: NATION_3 suppliers holding "excess" stock of
    cold* parts — the nested IN-chain (supplier ← partsupp ← part +
    quantity threshold) as two stacked semi-joins.

    Adaptation (no partsupp.availqty): excess := the supplier shipped
    MORE of that part in 1997 than 50% of their all-years total for it
    (both exact decimal sums from one aggregate pass)."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("cold%"))
        .select("p_partkey")
    )
    per = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.when(
                    _in_range("l_shipdate", "1997-01-01", "1998-01-01"),
                    F.col("l_quantity").cast(D2),
                ).otherwise(F.lit(0).cast(D2))
            ).alias("qty_1997"),
            F.sum(F.col("l_quantity").cast(D2)).alias("qty_total"),
        )
        .filter(
            F.col("qty_1997").cast("double")
            > 0.5 * F.col("qty_total").cast("double")
        )
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(per, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
    GROUP BY l_partkey, l_suppkey
    HAVING CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                          AND l_shipdate <  TIMESTAMP '1998-01-01'
                     THEN CAST(l_quantity AS DECIMAL(12,2))
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         > 0.5 * CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
  )
ORDER BY s_name
"""


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    finished multi-supplier order.

    Adaptation: late := shipped > 60 days after order date.  The
    classic EXISTS / NOT-EXISTS pair collapses into ONE aggregation per
    order (distinct suppliers, distinct late suppliers) — a single
    fact shuffle instead of two correlated self-joins; the oracle
    keeps the textbook EXISTS form to prove the rewrite equivalent."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem").join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = li.groupBy(F.col("l_orderkey").alias("qok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
    )
    qualifying = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    ).select("qok")
    # the oracle's EXISTS form counts each late LINEITEM of the sole
    # late supplier, so rejoin the late lines rather than the orders
    late_lines = li.filter(late).select(
        F.col("l_orderkey").alias("lok"), F.col("l_suppkey").alias("culprit")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        late_lines.join(qualifying, F.col("lok") == F.col("qok"))
        .groupBy("culprit")
        .agg(F.count("*").cast("long").alias("numwait"))
        .join(F.broadcast(s), F.col("culprit") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers with no orders, grouped by
    nation band.  The scalar AVG (positive balances in the band)
    broadcasts back as a 1-row cross join; the "no orders" predicate
    is a LEFT ANTI join against orders.

    Adaptation: the phone-prefix country code becomes c_nationkey
    (same grouping role); balances go through exact decimal sums."""
    band = [1, 4, 7, 10, 13, 16, 19]
    c = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(*band))
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast(D2)).cast("double")
            / F.count("*").cast("double")
        ).alias("avg_bal")
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (
        no_orders.groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast(D2)).cast("double"), 2).alias(
                "totacctbal"
            ),
        )
        .orderBy("cntrycode")
    )


Q22_SQL = """
SELECT c_nationkey AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS totacctbal
FROM customer
WHERE c_nationkey IN (1, 4, 7, 10, 13, 16, 19)
  AND c_acctbal > (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
    FROM customer
    WHERE c_acctbal > 0 AND c_nationkey IN (1, 4, 7, 10, 13, 16, 19))
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY cntrycode
"""


# ---------------------------------------------------------------------------
# olap_star_join — the TPC-H Q5 star with explicit broadcasts
# ---------------------------------------------------------------------------


def olap_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped star join: revenue by nation for one region/year
    with the local-supplier condition (c_nationkey = s_nationkey).

    Plan shape (the point of this query): region/nation are explicit
    broadcasts, the region filter prunes customers BEFORE any fact-table
    shuffle, and the two fact joins (orders⋈customer-set, lineitem⋈orders)
    are the only key shuffles — AQE upgrades them to broadcasts when the
    pruned side is small.  The date filter pushes to the orders scan."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        _in_range("o_orderdate", "1996-01-01", "1997-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    n_r = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")).select(
        "n_nationkey", "n_name"
    )
    c2 = c.join(F.broadcast(n_r), F.col("c_nationkey") == F.col("n_nationkey")).select(
        "c_custkey", "c_nationkey", "n_name"
    )
    o2 = o.join(c2, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "c_nationkey", "n_name"
    )
    j = l.join(o2, F.col("l_orderkey") == F.col("o_orderkey")).join(
        s,
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    return j.groupBy("n_name").agg(revenue().alias("revenue")).orderBy(F.desc("revenue"))


OLAP_STAR_JOIN_SQL = f"""
SELECT n_name, {REVENUE_SQL} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# olap_revenue_gini / olap_pareto_8020 — revenue concentration per nation
# ---------------------------------------------------------------------------


def _customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_name, o_custkey, rev): each ordering customer's exact-decimal
    revenue with its nation — the per-customer frame both concentration
    queries rank within a nation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_cust = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(net_price()).cast("decimal(38,4)").alias("rev"))
    )
    return per_cust.join(
        F.broadcast(
            c.select("c_custkey", "c_nationkey").join(
                F.broadcast(n.select("n_nationkey", "n_name")),
                c.c_nationkey == n.n_nationkey,
            )
        ),
        per_cust.o_custkey == F.col("c_custkey"),
    ).select("n_name", "o_custkey", "rev")


#: the oracle twin of :func:`_customer_revenue`: the ``per_cust`` CTE and
#: the FROM clause that gives each of its rows a nation
_PER_CUST_CTE = f"""
per_cust AS (
    SELECT o.o_custkey,
           CAST(sum({net_price_sql("l")}) AS DECIMAL(38,4)) AS rev
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
)"""
_PER_CUST_NATION_FROM = """
    FROM per_cust p
    JOIN customer c ON c.c_custkey = p.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey"""


def olap_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue within each nation.

    Revenue = exact-decimal sum of extendedprice*(1-discount) per
    customer (the q1 cents discipline).  Within a nation, customers
    rank by (revenue, custkey); G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)
    with Σ i·x_i accumulated in decimal — one final double expression,
    round(6).  Equal revenues make the rank weighting permutation-
    invariant, so the tiebreak never leaks into the value.
    """
    w = Window.partitionBy("n_name").orderBy("rev", "o_custkey")
    ranked = _customer_revenue(spark, sf_dir).withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("n_name").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("rev").cast("double").alias("sx"),
        F.sum(F.col("rev") * F.col("i")).cast("double").alias("six"),
    )
    gini = (F.lit(2.0) * F.col("six") - (F.col("n") + 1.0) * F.col("sx")) / (
        F.col("n") * F.col("sx")
    )
    return agg.select(
        "n_name",
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("sx"), 2).alias("total_revenue"),
        F.round(gini, 6).alias("gini"),
    ).orderBy("n_name")


OLAP_REVENUE_GINI_SQL = f"""
WITH {_PER_CUST_CTE},
ranked AS (
    SELECT n.n_name, p.rev,
           row_number() OVER (PARTITION BY n.n_name
                              ORDER BY p.rev, p.o_custkey) AS i
    {_PER_CUST_NATION_FROM}
),
agg AS (
    SELECT n_name,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(rev) AS DOUBLE) AS sx,
           CAST(sum(rev * i) AS DOUBLE) AS six
    FROM ranked GROUP BY 1
)
SELECT n_name,
       CAST(n AS BIGINT) AS n_customers,
       round(sx, 2) AS total_revenue,
       round((2.0 * six - (n + 1.0) * sx) / (n * sx), 6) AS gini
FROM agg
ORDER BY n_name
"""


def olap_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: the number of top customers whose cumulative revenue
    first reaches 80% of the national total, and that count's share of
    the customer base.

    Descending cumulative DECIMAL revenue per nation; the threshold
    test is cum·10 ≥ total·8 in decimal — exact, no float boundary.
    min(rank | test) via conditional min.  Shares round(6) at the end.
    """
    w = Window.partitionBy("n_name").orderBy(F.desc("rev"), "o_custkey")
    ranked = _customer_revenue(spark, sf_dir).select(
        "n_name",
        "rev",
        F.row_number().over(w).alias("i"),
        F.sum("rev")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("rev").over(Window.partitionBy("n_name")).alias("total"),
    )
    hit = (F.col("cum") * 10 >= F.col("total") * 8).cast("boolean")
    agg = ranked.groupBy("n_name").agg(
        F.count("*").alias("n_customers"),
        F.min(F.when(hit, F.col("i"))).alias("top_for_80pct"),
    )
    return agg.select(
        "n_name",
        "n_customers",
        "top_for_80pct",
        F.round(F.col("top_for_80pct") / F.col("n_customers"), 6).alias(
            "share_of_customers"
        ),
    ).orderBy("n_name")


OLAP_PARETO_8020_SQL = f"""
WITH {_PER_CUST_CTE},
ranked AS (
    SELECT n.n_name, p.rev,
           row_number() OVER (PARTITION BY n.n_name
                              ORDER BY p.rev DESC, p.o_custkey) AS i,
           sum(p.rev) OVER (PARTITION BY n.n_name
                            ORDER BY p.rev DESC, p.o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
           sum(p.rev) OVER (PARTITION BY n.n_name) AS total
    {_PER_CUST_NATION_FROM}
),
agg AS (
    SELECT n_name, count(*) AS n_customers,
           min(CASE WHEN cum * 10 >= total * 8 THEN i END) AS top_for_80pct
    FROM ranked GROUP BY 1
)
SELECT n_name, n_customers, top_for_80pct,
       round(top_for_80pct / CAST(n_customers AS DOUBLE), 6)
         AS share_of_customers
FROM agg
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# olap_yoy_growth
# ---------------------------------------------------------------------------


def olap_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: exact-decimal annual
    revenue, lag window over year, growth = cur/prev − 1 (round 6,
    NULL for each nation's first year)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    annual = (
        li.join(
            o.select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("yr")),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "yr")
        .agg(F.sum(net_price()).cast("decimal(38,4)").alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    out = annual.select(
        "n_name",
        "yr",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(
            (F.col("rev").cast("double") / F.lag("rev").over(w).cast("double"))
            - 1.0,
            6,
        ).alias("yoy_growth"),
    )
    return out.orderBy("n_name", "yr")


OLAP_YOY_GROWTH_SQL = f"""
WITH annual AS (
    SELECT n.n_name, year(o.o_orderdate) AS yr,
           CAST(sum({net_price_sql("l")}) AS DECIMAL(38,4)) AS rev
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
)
SELECT n_name, yr,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       round(CAST(rev AS DOUBLE)
             / CAST(lag(rev) OVER (PARTITION BY n_name ORDER BY yr)
                    AS DOUBLE) - 1.0, 6) AS yoy_growth
FROM annual
ORDER BY n_name, yr
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

TPCH_QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q11_important_stock": q11_important_stock,
    "q12_ship_priority_class": q12_ship_priority_class,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q14_promo_effect": q14_promo_effect,
    "q15_top_supplier": q15_top_supplier,
    "q16_parts_supplier": q16_parts_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_disjunctive_pricing": q19_disjunctive_pricing,
    "q20_potential_promotion": q20_potential_promotion,
    "q21_suppliers_kept_waiting": q21_suppliers_kept_waiting,
    "q22_sales_opportunity": q22_sales_opportunity,
    "olap_star_join": olap_star_join,
    "olap_revenue_gini": olap_revenue_gini,
    "olap_pareto_8020": olap_pareto_8020,
    "olap_yoy_growth": olap_yoy_growth,
}

TPCH_ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q4_order_priority": Q4_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q10_returned_items": Q10_SQL,
    "q11_important_stock": Q11_SQL,
    "q12_ship_priority_class": Q12_SQL,
    "q13_order_count_distribution": Q13_SQL,
    "q14_promo_effect": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q16_parts_supplier": Q16_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q18_large_volume_customers": Q18_SQL,
    "q19_disjunctive_pricing": Q19_SQL,
    "q20_potential_promotion": Q20_SQL,
    "q21_suppliers_kept_waiting": Q21_SQL,
    "q22_sales_opportunity": Q22_SQL,
    "olap_star_join": OLAP_STAR_JOIN_SQL,
    "olap_revenue_gini": OLAP_REVENUE_GINI_SQL,
    "olap_pareto_8020": OLAP_PARETO_8020_SQL,
    "olap_yoy_growth": OLAP_YOY_GROWTH_SQL,
}
