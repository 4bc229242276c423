"""Round-4 query additions: the full TPC-H shape set + data-quality ops.

Two families, each a distinct PLAN SHAPE the engine must get right at
100 TB:

1. **Remaining TPC-H classics** (q2/q4/q7/q8/q9/q11/q12/q16/q17/q20/
   q21/q22) — with q1/q3/q5(olap_star_join)/q6/q10/q13/q14/q15/q18/q19
   already registered, this completes all 22 canonical shapes.  The
   testdata has no ``partsupp`` table and ``lineitem`` lacks
   commitdate/receiptdate/shipmode, so the partsupp-dependent and
   late-delivery queries are ADAPTED — each docstring states the exact
   substitution (derived partsupp = DISTINCT (l_partkey, l_suppkey);
   "late" = shipped > 60 days after order date; "mode" = l_linestatus).
   The plan shape — correlated-min join-back, EXISTS/NOT-EXISTS
   rewrites, scalar-subquery broadcast, count-distinct over a derived
   relation — is the point, and is preserved faithfully.

2. **Data-engineering ops** a 100 TB lake needs daily:
   - ``dq_profile`` — one-pass multi-column profile (nulls, exact
     distincts, min/max) unpivoted to (column, metric) rows;
   - ``dq_referential_orphans`` — FK integrity sweep via broadcast
     anti-joins, one scan per fact table;
   - ``mb_copurchase_lift`` — market-basket pair mining: the
     per-basket self-join whose output is bounded by (items/basket)²,
     never |lineitem|²;
   - ``w3_percent_rank_cume`` — the remaining rank-family window
     functions (percent_rank / cume_dist / ntile);
   - ``evt_gap_stats`` — inter-event gap distribution per user (lag +
     exact interpolated median on integer microseconds);
   - ``text_top_bigrams`` — adjacent-pair heavy hitters entirely in
     JVM higher-order functions (no Python, one skew-absorbing agg).

Exactness discipline follows queries.py: money via decimal sums, time
via integer epoch microseconds, single floating divisions (not float
SUMs) where a ratio is inherently fractional — both engines compute
the same IEEE double from the same exact integers/decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table_utc as _t

D2 = "decimal(12,2)"


def _revenue() -> F.Column:
    ep = F.col("l_extendedprice").cast(D2)
    one_minus_disc = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast(
        "decimal(3,2)"
    )
    return F.round(F.sum(ep * one_minus_disc).cast("double"), 2)


_REVENUE_SQL = (
    "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE), 2)"
)


# ---------------------------------------------------------------------------
# q2 — min-cost supplier (correlated-min join-back)
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# q4 — order priority checking (EXISTS semi-join)
# ---------------------------------------------------------------------------


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders-per-priority where EXISTS a late lineitem.

    Adaptation (no commit/receipt dates): "late" := l_shipdate more
    than 60 days after o_orderdate.  The EXISTS becomes a LEFT SEMI
    join with a mixed-side predicate — Spark evaluates the band
    condition inside the hash join on l_orderkey, never a subquery per
    row, and dedups order keys without a distinct."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
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


# ---------------------------------------------------------------------------
# q7 — volume shipping between two nations
# ---------------------------------------------------------------------------


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
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
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
        .agg(_revenue().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year, {_REVENUE_SQL} AS revenue
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


# ---------------------------------------------------------------------------
# q8 — national market share
# ---------------------------------------------------------------------------


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
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_region = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    vol = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_region, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    ep = F.col("l_extendedprice").cast(D2)
    omd = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    amt = ep * omd
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_3", amt).otherwise(F.lit(0).cast(D2)))
    tot = F.sum(amt)
    return (
        vol.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            F.round((nat.cast("double") / tot.cast("double")), 6).alias("mkt_share"),
            F.round(tot.cast("double"), 2).alias("total_volume"),
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(
         CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE),
         6) AS mkt_share,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE), 2)
         AS total_volume
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


# ---------------------------------------------------------------------------
# q9 — product type profit
# ---------------------------------------------------------------------------


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over
    parts matching a name pattern.

    Adaptation (no partsupp.ps_supplycost): unit cost := 60% of
    p_retailprice, kept in decimals so the profit sum is exact:
    profit = extprice*(1-disc) - 0.60*retail*qty."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sn = _t(spark, sf_dir, "supplier").join(
        F.broadcast(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "nation")
    ep = F.col("l_extendedprice").cast(D2)
    omd = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
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
        .agg(F.round(F.sum(ep * omd - cost).cast("double"), 2).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
         - CAST(0.60 AS DECIMAL(4,2)) * CAST(p_retailprice AS DECIMAL(12,2))
           * CAST(l_quantity AS DECIMAL(12,2))
       ) AS DOUBLE), 2) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# q11 — important stock (scalar-subquery broadcast)
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# q12 — shipping-mode priority classes
# ---------------------------------------------------------------------------


def q12_ship_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per "mode", high- vs low-priority line counts.

    Adaptation (no l_shipmode/commit/receipt dates): the mode column is
    l_linestatus and the date band is a 1996 ship year.  The CASE-sum
    pair inside one aggregate is the shape under test."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
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


# ---------------------------------------------------------------------------
# q16 — parts/supplier relationship count
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# q17 — small-quantity-order revenue (correlated AVG)
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# q20 — potential part promotion (nested semi-joins)
# ---------------------------------------------------------------------------


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
                    (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                    & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")),
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


# ---------------------------------------------------------------------------
# q21 — suppliers who kept orders waiting
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# q22 — global sales opportunity (anti-join + scalar avg)
# ---------------------------------------------------------------------------


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
# dq_profile — one-pass multi-column data profile
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate"]


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile sweep over lineitem: null count, EXACT distinct
    count, min and max (stringified) for each audited column — the
    daily data-quality report a lake runs per table.

    Plan: one 1-COLUMN aggregate per audited column, unioned.  The
    tempting alternative — a single agg with N countDistinct calls —
    makes Catalyst Expand every row N+1 times (one replica per
    distinct-aggregate grouping), which measured 8× SLOWER at sf0.1
    (19.3 s vs 2.5 s).  Per-column branches each scan ONLY their column
    (parquet is columnar: total I/O equals one full-width scan), each
    runs an independent 2-phase agg, and they execute concurrently —
    this is the shape that survives a 100 TB table."""
    li = _t(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            li.select(c).agg(
                F.lit(c).alias("column_name"),
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(F.col(c).cast("string")).alias("min_value"),
                F.max(F.col(c).cast("string")).alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


DQ_PROFILE_SQL = """
WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
SELECT column_name, n.n_rows AS n_rows, m.n_nulls, m.n_distinct,
       m.min_value, m.max_value
FROM (
  SELECT 'l_quantity' AS column_name,
         CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
         min(CAST(l_quantity AS VARCHAR)) AS min_value,
         max(CAST(l_quantity AS VARCHAR)) AS max_value
  FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice',
         CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT l_extendedprice) AS BIGINT),
         min(CAST(l_extendedprice AS VARCHAR)), max(CAST(l_extendedprice AS VARCHAR))
  FROM lineitem
  UNION ALL
  SELECT 'l_discount',
         CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT l_discount) AS BIGINT),
         min(CAST(l_discount AS VARCHAR)), max(CAST(l_discount AS VARCHAR))
  FROM lineitem
  UNION ALL
  SELECT 'l_returnflag',
         CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT l_returnflag) AS BIGINT),
         min(l_returnflag), max(l_returnflag)
  FROM lineitem
  UNION ALL
  SELECT 'l_shipdate',
         CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT l_shipdate) AS BIGINT),
         min(CAST(l_shipdate AS VARCHAR)), max(CAST(l_shipdate AS VARCHAR))
  FROM lineitem
) m, n
ORDER BY column_name
"""


# ---------------------------------------------------------------------------
# dq_referential_orphans — FK integrity sweep
# ---------------------------------------------------------------------------


def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned-FK row counts for every
    fact→dimension edge in the schema, one row per relation.

    Plan: each check is a LEFT ANTI join; dimension key sets broadcast
    (they are the small side by construction), so each fact table is
    scanned once with only its FK column read."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    checks = [
        ("lineitem.l_orderkey -> orders", li.select(F.col("l_orderkey").alias("fk")),
         o.select(F.col("o_orderkey").alias("pk"))),
        ("lineitem.l_partkey -> part", li.select(F.col("l_partkey").alias("fk")),
         _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("pk"))),
        ("lineitem.l_suppkey -> supplier", li.select(F.col("l_suppkey").alias("fk")),
         _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("pk"))),
        ("orders.o_custkey -> customer", o.select(F.col("o_custkey").alias("fk")),
         _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("pk"))),
    ]
    spark_parts = []
    for name, fact, dim in checks:
        orphans = fact.join(F.broadcast(dim), F.col("fk") == F.col("pk"), "left_anti")
        spark_parts.append(
            orphans.agg(
                F.lit(name).alias("relation"),
                F.count("*").cast("long").alias("n_orphans"),
            )
        )
    out = spark_parts[0]
    for part_df in spark_parts[1:]:
        out = out.unionByName(part_df)
    return out.orderBy("relation")


DQ_ORPHANS_SQL = """
SELECT relation, n_orphans FROM (
  SELECT 'lineitem.l_orderkey -> orders' AS relation,
         CAST(count(*) AS BIGINT) AS n_orphans
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
  UNION ALL
  SELECT 'lineitem.l_partkey -> part',
         CAST(count(*) AS BIGINT)
  FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
  UNION ALL
  SELECT 'lineitem.l_suppkey -> supplier',
         CAST(count(*) AS BIGINT)
  FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
  UNION ALL
  SELECT 'orders.o_custkey -> customer',
         CAST(count(*) AS BIGINT)
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
)
ORDER BY relation
"""


# ---------------------------------------------------------------------------
# mb_copurchase_lift — market-basket pair mining
# ---------------------------------------------------------------------------


def basket_count_slices(
    spark: SparkSession, sf_dir: str, symmetric: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared market-basket counting source: ``(pair_counts(a, b,
    n), per_part(a, n), n_orders(n))`` — three DIRECT aggregates over
    ONE shared basket subtree.

    One basket collect_set shuffle, shared by all three slices through
    AQE exchange reuse (the executed plans show ONE physical
    ``Exchange hashpartitioning(l_orderkey)`` plus ReusedExchange per
    consumer).  Pairs generate IN-ROW as posexplode(parts) ×
    slice(parts, i+2, …) (generator + slice stay in whole-stage codegen
    — measured 1.6× faster than the equivalent nested ``transform``
    lambdas, which are interpreted per element), so candidate volume is
    Σ(basket size choose 2), bounded by the ~4-line TPC-H basket, never
    |lineitem|².

    r10 rewrite of the r9 3-way-union-with-sentinels shape: the union
    promised "one groupBy serves all three consumers", but the EXECUTED
    plans (plans/r10/mb_*_executed.txt) show Catalyst pushing each
    consumer's group-key filter into the union below the aggregate, so
    the three slice exchanges were never reused — each consumer
    re-evaluated ALL THREE branches (9 reduce-side basket aggregates
    and 4 fully-discarded pair generations per query) just to keep rows
    it then filtered out.  Computing each disjoint slice directly does
    strictly less work per consumer while the shared basket exchange
    still materializes once (guide §2.4 — the reuse comes from the
    identical SCAN+groupBy subtree, not from the union).  ``per_part``
    feeds two broadcast margin joins whose BroadcastExchanges the
    runtime does NOT deduplicate (executed plans show two separate
    BroadcastQueryStages) — it stays UN-persisted anyway, because a
    cache builds from its own plan in a separate sub-execution that
    cannot reuse the main query's basket exchange (see the inline
    comment below); two reduce-side slice rebuilds beat one extra
    corpus-sized shuffle.

    ``symmetric=True`` (the ``mb_item_cf_topk`` form) emits BOTH
    directions of every pair occurrence from the SAME generate chain
    (explode of a 2-struct array — the r9 shape re-ran the whole
    pair generation once per direction through a union) and
    pre-partitions the stream on ``a`` so the pair aggregate's
    hashpartitioning(a) also serves the per-item rank window downstream
    with no further exchange.

    Shared by ``mb_copurchase_lift``, ``mb_item_cf_topk`` (round 38) and
    ``mb_affinity_npmi`` (round 46) — one definition of the pair
    generator (r9 review finding: three copies risked silent
    divergence)."""
    baskets = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    ordered = baskets.select(
        "parts", F.posexplode("parts").alias("_i", "_a")
    ).select(
        "_a",
        F.explode(F.expr("slice(parts, _i + 2, size(parts))")).alias("_b"),
    )
    if symmetric:
        pair_stream = ordered.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("_a").cast("long").alias("a"),
                        F.col("_b").cast("long").alias("b"),
                    ),
                    F.struct(
                        F.col("_b").cast("long").alias("a"),
                        F.col("_a").cast("long").alias("b"),
                    ),
                )
            ).alias("_p")
        ).select("_p.a", "_p.b")
        # hashpartitioning(a) satisfies the groupBy(a, b) clustering AND
        # a downstream partitionBy(a) window — one exchange for both
        pair_stream = pair_stream.repartition("a")
    else:
        pair_stream = ordered.select(
            F.col("_a").cast("long").alias("a"),
            F.col("_b").cast("long").alias("b"),
        )
    pair_counts = pair_stream.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("n")
    )
    # NO persist on per_part: a cache builds from its OWN plan in a
    # separate sub-execution, which re-runs the lineitem scan + basket
    # exchange instead of reusing the main query's (verified in the
    # executed plan: the InMemoryRelation build carried its own basket
    # Exchange).  Un-persisted, each margin broadcast re-derives the
    # slice through a ReusedExchange of the one basket shuffle — a
    # reduce-side explode+agg per consumer, vs a full extra corpus
    # shuffle at 100 TB for the cache.
    per_part = (
        baskets.select(F.explode("parts").alias("_a"))
        .groupBy(F.col("_a").cast("long").alias("a"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    n_orders = baskets.agg(F.count("*").cast("long").alias("n"))
    return pair_counts, per_part, n_orders


def mb_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-purchased part pairs with support counts and lift.

    Plan: NO self-join — baskets collapse to a sorted part-id array in
    ONE shuffle (collect_set), then pairs are generated IN-ROW as
    posexplode(parts) × slice(parts, i+2, …) — generator + slice stay
    in whole-stage codegen (measured 1.6× faster at sf0.1 than the
    equivalent nested ``transform`` lambdas, which are interpreted
    per-element) — so candidate volume is Σ(basket size choose 2),
    bounded by the ~4-line TPC-H basket, never |lineitem|².

    NO corpus-sized persist: the three slices derive from ONE baskets
    groupBy and AQE's exchange reuse materializes that lineitem shuffle
    once (verified in the EXECUTED plan: one
    ``Exchange hashpartitioning(l_orderkey)`` plus ReusedExchange
    wrappers) — shuffle-file re-reads give the persist's reuse for
    free, on disk, without pinning a multi-TB intermediate in executor
    memory at 100 TB.  The r9→r10 slice rewrite is documented on
    ``basket_count_slices`` (each consumer now computes only ITS slice
    instead of re-evaluating all three union branches; the catalog-sized
    per-part margin frame is double-broadcast and deliberately NOT
    persisted, so this query holds no cache).
    Lift is one IEEE division of exact bigint counts (identical both
    engines): lift = n_pair · n_orders / (n_a · n_b)."""
    pair_counts, per_part_n, n_orders_1 = basket_count_slices(spark, sf_dir)
    n_orders = n_orders_1.select(F.col("n").alias("n_orders"))
    per_part = per_part_n.select(
        F.col("a").alias("pk"), F.col("n").alias("n_part")
    )
    pairs = pair_counts.select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("n").alias("n_pair"),
    )
    return (
        pairs.join(
            F.broadcast(per_part.select(F.col("pk"), F.col("n_part").alias("n_a"))),
            F.col("part_a") == F.col("pk"),
        )
        .drop("pk")
        .join(
            F.broadcast(per_part.select(F.col("pk"), F.col("n_part").alias("n_b"))),
            F.col("part_b") == F.col("pk"),
        )
        .drop("pk")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_pair") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), "part_a", "part_b")
        .limit(50)
    )


MB_COPURCHASE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
per_part AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part FROM li GROUP BY 1),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_pair, pa.n_part AS n_a, pb.n_part AS n_b,
       round(CAST(n_pair * n.n_orders AS DOUBLE)
             / CAST(pa.n_part * pb.n_part AS DOUBLE), 6) AS lift
FROM pairs
JOIN per_part pa ON part_a = pa.l_partkey
JOIN per_part pb ON part_b = pb.l_partkey, n
ORDER BY n_pair DESC, part_a, part_b
LIMIT 50
"""


# ---------------------------------------------------------------------------
# w3 — rank-family windows: percent_rank / cume_dist / ntile
# ---------------------------------------------------------------------------


def w3_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family window functions over customers,
    partitioned by market segment: percent_rank, cume_dist, ntile(10).

    The window order includes the unique key (c_custkey) so ranks are
    total-order deterministic; the fractional ranks are integer-ratio
    IEEE doubles — identical in both engines."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 9).alias("cume"),
            F.ntile(10).over(w).cast("long").alias("decile"),
        )
        .filter(F.col("decile").isin(1, 10))
        .orderBy("c_mktsegment", "c_custkey")
    )


W3_SQL = """
SELECT * FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         round(percent_rank() OVER w, 9) AS pct_rank,
         round(cume_dist() OVER w, 9) AS cume,
         CAST(ntile(10) OVER w AS BIGINT) AS decile
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
)
WHERE decile IN (1, 10)
ORDER BY c_mktsegment, c_custkey
"""


# ---------------------------------------------------------------------------
# evt_gap_stats — inter-event gap distribution per user
# ---------------------------------------------------------------------------


def evt_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics: count, min/max (whole
    seconds), mean (3 dp) and exact interpolated median of the gaps.

    All gap arithmetic is integer epoch-microseconds (lag over the
    per-user window); the median is Spark's exact percentile() on
    bigints — the same (a+b)/2 interpolation DuckDB's quantile_cont
    uses, so the doubles match bit-for-bit."""
    from atd_data_lake_spark.functions.datetime_fns import as_instant

    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(as_instant(e, "ts"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        e.select("user_id", us.alias("ts_us"), "event_id")
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            (F.min("gap_us") / F.lit(1000000)).cast("long").alias("min_gap_s"),
            (F.max("gap_us") / F.lit(1000000)).cast("long").alias("max_gap_s"),
            F.round(F.sum("gap_us") / F.count("*") / 1e6, 3).alias("mean_gap_s"),
            F.round(F.expr("percentile(gap_us, 0.5)") / 1e6, 3).alias("median_gap_s"),
        )
        .filter(F.col("n_gaps") >= 5)
        .orderBy("user_id")
    )


EVT_GAP_STATS_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_us) // 1000000 AS BIGINT) AS min_gap_s,
       CAST(max(gap_us) // 1000000 AS BIGINT) AS max_gap_s,
       round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1e6, 3) AS mean_gap_s,
       round(quantile_cont(gap_us, 0.5) / 1e6, 3) AS median_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id
HAVING count(*) >= 5
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# text_top_bigrams — adjacent-pair heavy hitters, zero Python
# ---------------------------------------------------------------------------


def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 corpus bigrams (adjacent token pairs) with collection and
    document frequency — entirely in JVM higher-order functions
    (split → transform over an index sequence → explode), no Python
    stage.  The stopword-skew shape: partial aggregation absorbs the
    hot bigrams map-side before the single shuffle."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1),"
        " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
    )
    return (
        d.select(F.col("doc_id"), toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(40)
    )


TEXT_TOP_BIGRAMS_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
b AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
)
SELECT bigram,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM b
GROUP BY bigram
ORDER BY n_occurrences DESC, bigram
LIMIT 40
"""


# ---------------------------------------------------------------------------
# cur_deterministic_shuffle — reproducible global training order
# ---------------------------------------------------------------------------


def cur_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded pseudo-random global ordering of the corpus
    (operators/ordering.py deterministic_shuffle): md5(key:seed) sort
    key, rank composed from 256 hash-range buckets + broadcast offsets
    — one data shuffle, no single-partition window, identical result
    under any partitioning (invariance-suite-enforced).  The oracle is
    the textbook single-window form the operator refuses to run."""
    from atd_data_lake_spark.operators.ordering import deterministic_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return deterministic_shuffle(d, key_col="doc_id", seed=42).select(
        "doc_id", "source", "shuffle_rank"
    )


CUR_DETERMINISTIC_SHUFFLE_SQL = """
SELECT doc_id, source,
       CAST(row_number() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')) AS BIGINT)
         AS shuffle_rank
FROM documents
"""


ROUND4_QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q4_order_priority": q4_order_priority,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_important_stock": q11_important_stock,
    "q12_ship_priority_class": q12_ship_priority_class,
    "q16_parts_supplier": q16_parts_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q20_potential_promotion": q20_potential_promotion,
    "q21_suppliers_kept_waiting": q21_suppliers_kept_waiting,
    "q22_sales_opportunity": q22_sales_opportunity,
    "dq_profile": dq_profile,
    "dq_referential_orphans": dq_referential_orphans,
    "mb_copurchase_lift": mb_copurchase_lift,
    "w3_percent_rank_cume": w3_percent_rank_cume,
    "evt_gap_stats": evt_gap_stats,
    "text_top_bigrams": text_top_bigrams,
    "cur_deterministic_shuffle": cur_deterministic_shuffle,
}

ROUND4_ORACLES = {
    "q2_min_cost_supplier": Q2_SQL,
    "q4_order_priority": Q4_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q11_important_stock": Q11_SQL,
    "q12_ship_priority_class": Q12_SQL,
    "q16_parts_supplier": Q16_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q20_potential_promotion": Q20_SQL,
    "q21_suppliers_kept_waiting": Q21_SQL,
    "q22_sales_opportunity": Q22_SQL,
    "dq_profile": DQ_PROFILE_SQL,
    "dq_referential_orphans": DQ_ORPHANS_SQL,
    "mb_copurchase_lift": MB_COPURCHASE_SQL,
    "w3_percent_rank_cume": W3_SQL,
    "evt_gap_stats": EVT_GAP_STATS_SQL,
    "text_top_bigrams": TEXT_TOP_BIGRAMS_SQL,
    "cur_deterministic_shuffle": CUR_DETERMINISTIC_SHUFFLE_SQL,
}
