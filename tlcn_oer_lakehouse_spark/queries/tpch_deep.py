"""Deep TPC-H-shape coverage — the remaining canonical query classes the
engine must serve at 100 TB, adapted to the driver's synthetic star schema
(no partsupp / shipmode / comment columns; see TESTDATA.md):

- Q7  nation-pair volume shipping (two nation role-joins, year bucketing)
- Q8  market share (conditional ratio inside a yearly group)
- Q9  product profit (expression-derived cost, multi-dim group)
- Q11 important stock (scalar-subquery fraction threshold on an agg)
- Q12 shipment priority split (dual conditional counts per group)
- Q13 customer order-count distribution (LEFT join with ON-clause filter,
      two-level aggregation — the outer-join agg class)
- Q15 top supplier (agg view + scalar MAX equality)
- Q16 supplier variety count (count-distinct with NOT-IN exclusion)
- Q20 heavy shippers (nested semi-join reduction)
- Q21 waiting suppliers (EXISTS + NOT EXISTS correlated self-joins)
- Q22 idle customers (scalar AVG gate + anti-join existence)

With q1/q3/q5/q6/q10 (`tpch.py`), q4/q14/q18 (`tpch_ext.py`) and the
Q2/Q17/Q19 shapes (`subqueries.py`), all 22 canonical TPC-H query
classes are represented, each adapted to the synthetic star schema.

Scale notes: every dim side (nation/supplier/part/customer at TPC-H
ratios) broadcasts — the only shuffles are lineitem-keyed aggregates.
Q11/Q15/Q22 compute their scalar gates as 1-row broadcast joins, not
driver collects. Q13's distribution agg is two cheap shuffles on already
tiny intermediates. Decimal-exact sums per the determinism contract in
``queries/base.py``.

Reference parity: the reference's relational layer (SURVEY §2.3-2.4)
never exceeds equi-join + grouped agg; these add the subquery/ratio/
distribution classes its gold analytics would need at scale
(gold_analytics.py:494-607 coverage ratios are the Q8/Q13 shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load

_REV_DEC = "decimal(28,6)"


def _rev() -> F.Column:
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        _REV_DEC
    )


def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """Q7 shape: shipping volume between NATION_1 and NATION_2 in either
    direction, by supplier nation / customer nation / ship year."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load(spark, sf, "orders")
    supp = load(spark, sf, "supplier")
    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """Q8 shape: NATION_3 suppliers' share of STANDARD-part revenue sold to
    EUROPE customers, per order year.  Conditional ratio over a grouped
    decimal-exact sum; all dims broadcast."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    part = load(spark, sf, "part").filter(F.col("p_type") == "STANDARD")
    supp = load(spark, sf, "supplier")
    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    n_s = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n_c = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    zero = F.lit(0).cast(_REV_DEC)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", _rev()).otherwise(zero)
                ).cast("double")
                / F.sum(_rev()).cast("double"),
                9,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT year(o_orderdate) AS o_year,
       round(
         CAST(CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                       THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))
                       ELSE CAST(0 AS DECIMAL(28,6)) END) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE),
         9) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region   ON n2.n_regionkey = r_regionkey
WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
GROUP BY year(o_orderdate)
ORDER BY o_year
"""


def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """Q9 shape: profit per supplier nation per year for widget parts.
    partsupp is absent from the synthetic schema, so unit cost is derived
    as 60% of p_retailprice — same expression class (revenue minus
    cost*quantity), same join/agg topology."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").filter(F.col("p_name").contains("widget"))
    supp = load(spark, sf, "supplier")
    orders = load(spark, sf, "orders")
    nation = load(spark, sf, "nation")
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.6) * F.col("l_quantity")
    ).cast(_REV_DEC)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     - p_retailprice * 0.6 * l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Q11 shape: parts whose total shipped value exceeds 0.2% of the
    global shipped value.  The scalar gate is a 1-row aggregate broadcast
    back over the per-part aggregate — one lineitem shuffle total, no
    driver collect."""
    li = load(spark, sf, "lineitem")
    value = (F.col("l_extendedprice") * F.col("l_quantity")).cast(_REV_DEC)
    per_part = li.groupBy("l_partkey").agg(F.sum(value).alias("val_dec"))
    total = per_part.agg(
        (F.sum("val_dec") * F.lit(0.002).cast("decimal(10,6)")).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("val_dec") > F.col("threshold"))
        .select("l_partkey", F.col("val_dec").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


Q11_SQL = """
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6))) AS val_dec
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(val_dec AS DOUBLE) AS part_value
FROM pv
WHERE val_dec > (SELECT SUM(val_dec) * CAST(0.002 AS DECIMAL(10,6)) FROM pv)
ORDER BY part_value DESC, l_partkey ASC
"""


def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Q13 shape: distribution of per-customer order counts — LEFT join
    with an ON-clause predicate (urgent orders excluded *in the join*, so
    customers with only urgent orders still count as 0), then a second
    aggregation over the counts."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """Q15 shape: supplier(s) with the maximum 1996-Q1 revenue.  The MAX
    is computed on the exact decimal aggregate and equality-matched on
    decimal (double round-trips would risk ties breaking differently)."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    # rev persisted (one row per supplier): the MAX aggregate and the
    # equality match both read it — uncached, the lineitem scan + agg
    # ran twice (r11)
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev()).alias("rev_dec"))
        .persist()
    )
    top = rev.agg(F.max("rev_dec").alias("max_rev"))
    supp = load(spark, sf, "supplier")
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON supplier_no = s_suppkey
WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
ORDER BY s_suppkey
"""


def q16_supplier_variety(spark: SparkSession, sf: str) -> DataFrame:
    """Q16 shape: how many distinct suppliers ship each (brand, type,
    size) combination, excluding one brand and two types.  lineitem
    supplies the part↔supplier relation (no partsupp in this schema)."""
    li = load(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT IN ('PROMO', 'ECONOMY')
  AND p_size IN (1, 9, 17, 25, 33, 41, 49)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


def q20_heavy_shippers(spark: SparkSession, sf: str) -> DataFrame:
    """Q20 shape: suppliers who shipped >300 units of any single bolt
    part during 1996 — nested reduction (part filter → grouped HAVING →
    semi-join), no fact duplication."""
    part = load(spark, sf, "part").filter(F.col("p_name").contains("bolt"))
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_suppkey")
        .distinct()
    )
    supp = load(spark, sf, "supplier")
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
)
ORDER BY s_suppkey
"""


def q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Q22 shape: customers with above-average (positive) balances and no
    orders at all, totalled per market segment.  Scalar AVG gate as a
    1-row broadcast; NOT EXISTS as a left-anti join (J4)."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").select("o_custkey")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(bal).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


Q22_SQL = """
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
        SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0
      )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q12_ship_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Q12 shape: late-shipment priority split.  The synthetic schema has
    no l_shipmode/l_receiptdate, so the mode group is ``l_returnflag``
    and lateness is ship-lag > 90 days; the operator shape — fact-fact
    equi-join, lateness predicate, dual conditional counts per group —
    is Q12's exactly.  Only shuffle is the l_orderkey join (AQE-planned);
    the group-by input is already tiny."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
  AND datediff('day', o_orderdate, l_shipdate) > 90
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q21_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Q21 shape: suppliers who were the SOLE late shipper in a
    multi-supplier finished order — EXISTS (another supplier in the
    order) + NOT EXISTS (another LATE supplier), the canonical
    double-correlated-subquery class, as one semi + one anti self-join.
    Lateness = ship-lag > 365 days (no l_receiptdate in the synthetic
    schema).

    Scale notes: all three self-join legs share the l_orderkey shuffle
    key, so at 100 TB they co-partition into one exchange; supplier
    broadcasts.  ``base`` is persisted — it feeds three legs."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load(spark, sf, "supplier")
    base = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_suppkey").alias("sk"),
            (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 365).alias("late"),
        )
        .persist()
    )
    l1 = base.filter(F.col("late")).select("ok", "sk")
    others = base.select(F.col("ok").alias("ok2"), F.col("sk").alias("sk2"))
    late_others = base.filter(F.col("late")).select(
        F.col("ok").alias("ok3"), F.col("sk").alias("sk3")
    )
    waiting = (
        l1.join(
            others, (l1.ok == others.ok2) & (l1.sk != others.sk2), "left_semi"
        ).join(
            late_others,
            (F.col("ok") == F.col("ok3")) & (F.col("sk") != F.col("sk3")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supp), waiting.sk == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


Q21_SQL = """
WITH base AS (
  SELECT l_orderkey AS ok, l_suppkey AS sk,
         datediff('day', o_orderdate, l_shipdate) > 365 AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, COUNT(*) AS numwait
FROM base l1 JOIN supplier ON l1.sk = s_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM base l2 WHERE l2.ok = l1.ok AND l2.sk <> l1.sk)
  AND NOT EXISTS (SELECT 1 FROM base l3 WHERE l3.ok = l1.ok AND l3.sk <> l1.sk AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


SPECS = [
    QuerySpec("q7_volume_shipping", q7_volume_shipping, Q7_SQL,
              ref="TPC-H Q7 shape; dual nation role-joins",
              doc="nation-pair shipping volume by year", tags=("tpch",)),
    QuerySpec("q8_market_share", q8_market_share, Q8_SQL,
              ref="TPC-H Q8 shape; cf. gold_analytics.py:557-567 ratio pattern",
              doc="NATION_3 market share in EUROPE per year", tags=("tpch", "bench")),
    QuerySpec("q9_product_profit", q9_product_profit, Q9_SQL,
              ref="TPC-H Q9 shape; derived cost (no partsupp)",
              doc="profit per supplier nation per year", tags=("tpch",)),
    QuerySpec("q11_important_parts", q11_important_parts, Q11_SQL,
              ref="TPC-H Q11 shape; scalar-subquery threshold",
              doc="parts above 0.2% of global shipped value", tags=("tpch",)),
    QuerySpec("q12_ship_priority", q12_ship_priority, Q12_SQL,
              ref="TPC-H Q12 shape; dual conditional counts (returnflag mode)",
              doc="late-shipment priority split per return flag", tags=("tpch",)),
    QuerySpec("q13_customer_distribution", q13_customer_distribution, Q13_SQL,
              ref="TPC-H Q13 shape; outer-join agg distribution",
              doc="customers per order count", tags=("tpch", "bench")),
    QuerySpec("q15_top_supplier", q15_top_supplier, Q15_SQL,
              ref="TPC-H Q15 shape; scalar MAX equality on decimal",
              doc="top revenue supplier 1996-Q1", tags=("tpch",)),
    QuerySpec("q16_supplier_variety", q16_supplier_variety, Q16_SQL,
              ref="TPC-H Q16 shape; count-distinct with NOT-IN exclusion",
              doc="distinct suppliers per brand/type/size", tags=("tpch",)),
    QuerySpec("q20_heavy_shippers", q20_heavy_shippers, Q20_SQL,
              ref="TPC-H Q20 shape; nested semi-join reduction",
              doc="suppliers shipping >300 units of a bolt part", tags=("tpch",)),
    QuerySpec("q21_waiting_suppliers", q21_waiting_suppliers, Q21_SQL,
              ref="TPC-H Q21 shape; EXISTS + NOT EXISTS self-joins",
              doc="sole-late-shipper suppliers in multi-supplier orders",
              tags=("tpch",)),
    QuerySpec("q22_idle_customers", q22_idle_customers, Q22_SQL,
              ref="TPC-H Q22 shape; scalar AVG gate + anti-join",
              doc="rich customers with no orders, by segment", tags=("tpch",)),
]
