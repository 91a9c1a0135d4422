"""TPC-H-flavored relational suite over the synthetic star schema.

The reference implements no relational operators at all (SURVEY §2.11) —
this module is the "relational completion" of the build plan (SURVEY
§7.3.4): the classic TPC-H query shapes adapted to the driver's trimmed
schema (no partsupp table, no l_commitdate/l_receiptdate/l_shipmode, no
c_phone), exercising every join strategy, correlated-subquery rewrite,
and aggregation pattern a warehouse engine needs.

Q1/Q3/Q5 live in relational.py; this file adds Q2-flavor, Q4, Q6, Q7,
Q8, Q9, Q10, Q13, Q14, Q15, Q17, Q18, Q19 and Q22 equivalents.

Scale discipline (what makes these 100 TB plans, not just correct ones):
- dimensions (region/nation/supplier/part at any SF, filtered customer)
  are broadcast — the only shuffles left are the fact-fact
  orders⋈lineitem joins, which hash on the join key and coalesce via AQE;
- correlated subqueries (Q2/Q15/Q17/Q22 shapes) are rewritten as
  aggregate-then-join — the aggregate side is tiny and broadcast, so no
  per-row subquery execution anywhere;
- EXISTS (Q4) is a left-semi join, never a count-then-filter;
- all double sums go through dsum/davg (decimal-exact, order-independent
  → reproducible at any parallelism, hash-identical to the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import davg, dsum
from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

_DEC = "DECIMAL(38,6)"

def _disc_price():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_SQL_DISC_PRICE = "l_extendedprice * (1 - l_discount)"


def _t(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# Q2 flavor — min-cost part per type (correlated scalar subquery rewrite)
# ---------------------------------------------------------------------------


def q2_min_cost_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts priced at the minimum retail price of their type (the Q2
    correlated-min shape without partsupp). Rewrite: aggregate per type,
    broadcast the tiny per-type table, equi-join back — no per-row
    subquery, one scan of part."""
    part = load_table(spark, sf_dir, "part")
    mins = part.groupBy(F.col("p_type").alias("mt")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        part.join(
            F.broadcast(mins),
            (part.p_type == mins.mt) & (part.p_retailprice == mins.min_price),
        )
        .select("p_partkey", "p_name", "p_type", "p_retailprice")
    )


ORACLE_Q2 = """
SELECT p_partkey, p_name, p_type, p_retailprice
FROM part
WHERE p_retailprice = (
  SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_type = part.p_type)
"""


# ---------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS → left-semi join)
# ---------------------------------------------------------------------------


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders (in a quarter) having at least one lineitem shipped more
    than 60 days after the order date, counted by priority. The EXISTS
    is a left-semi join on orderkey with the correlated date predicate
    in the join condition — lineitem never expands the orders side."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _t("1996-01-01"))
        & (F.col("o_orderdate") < _t("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change (pure filter + agg; full pushdown)
# ---------------------------------------------------------------------------


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical scan-filter-agg: every predicate and both referenced
    columns push down to the parquet reader (check PushedFilters /
    ReadSchema in .explain)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _t("1996-01-01"))
            & (F.col("l_shipdate") < _t("1997-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


ORACLE_Q6 = f"""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS {_DEC})) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume between NATION_1 and NATION_2 by ship year.
    nation joins twice under different roles (supplier side / customer
    side) — both broadcast."""
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(_disc_price(), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(sum(CAST({_SQL_DISC_PRICE} AS {_DEC})) AS DOUBLE) AS revenue
FROM supplier, lineitem, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Q8 — national market share
# ---------------------------------------------------------------------------


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3 suppliers' share of ECONOMY-part revenue sold into the
    AMERICA region, per order year. The share is a ratio of two
    decimal-exact sums computed in one aggregate pass (conditional sum,
    no second scan)."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nation = load_table(spark, sf_dir, "nation")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    vol = _disc_price()
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((dsum(nation_vol) / dsum(vol)).alias("mkt_share"))
        .orderBy("o_year")
    )


ORACLE_Q8 = f"""
SELECT year(o_orderdate) AS o_year,
       CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_3' THEN {_SQL_DISC_PRICE}
                          ELSE 0.0 END AS {_DEC})) AS DOUBLE)
         / CAST(sum(CAST({_SQL_DISC_PRICE} AS {_DEC})) AS DOUBLE) AS mkt_share
FROM lineitem, part, orders, supplier, customer, nation n1, nation n2, region
WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
  AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
  AND s_nationkey = n2.n_nationkey AND p_type = 'ECONOMY'
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Q9 — product type profit (adapted: no partsupp supply cost)
# ---------------------------------------------------------------------------


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on 'red' parts by supplier nation and order year (profit =
    discounted price; the reference schema has no ps_supplycost to
    subtract). part is pre-filtered then broadcast, so the LIKE never
    touches the fact-join side."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(dsum(_disc_price(), "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


ORACLE_Q9 = f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(sum(CAST({_SQL_DISC_PRICE} AS {_DEC})) AS DOUBLE) AS sum_profit
FROM lineitem, part, supplier, nation, orders
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey AND l_orderkey = o_orderkey
  AND p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# Q10 — returned item reporting (top 20 by lost revenue)
# ---------------------------------------------------------------------------


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who returned the most revenue in 1997Q1. Deterministic
    top-20: ties broken on c_custkey."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _t("1997-01-01"))
        & (F.col("o_orderdate") < _t("1997-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_Q10 = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(sum(CAST({_SQL_DISC_PRICE} AS {_DEC})) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join + double aggregation)
# ---------------------------------------------------------------------------


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of customers by number of non-URGENT orders, including
    zero-order customers (the left outer join is the point: inner would
    silently drop them)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Q14 — promotion effect (conditional-sum ratio)
# ---------------------------------------------------------------------------


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent of March-1997 revenue from PROMO parts: one pass, two
    conditional decimal sums, identical expression shape to the oracle
    so the double division is bit-exact."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _t("1997-03-01"))
        & (F.col("l_shipdate") < _t("1997-04-01"))
    )
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(((F.lit(100.0) * dsum(promo)) / dsum(_disc_price())).alias("promo_revenue"))
    )


ORACLE_Q14 = f"""
SELECT (100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO' THEN {_SQL_DISC_PRICE}
                                   ELSE 0.0 END AS {_DEC})) AS DOUBLE))
         / CAST(sum(CAST({_SQL_DISC_PRICE} AS {_DEC})) AS DOUBLE) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


# ---------------------------------------------------------------------------
# Q15 — top supplier (argmax via aggregate-then-join, no window over all rows)
# ---------------------------------------------------------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum 1997H1 revenue. The max is a 1-row
    aggregate broadcast against the per-supplier revenue table — the
    standard argmax rewrite of Q15's correlated subquery."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _t("1997-01-01"))
        & (F.col("l_shipdate") < _t("1997-07-01"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_disc_price(), "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "s_acctbal", "total_revenue")
    )


ORACLE_Q15 = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST({_SQL_DISC_PRICE} AS {_DEC})) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, s_acctbal, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (per-key avg as broadcast join)
# ---------------------------------------------------------------------------


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue that would disappear without small orders: lineitems
    of Brand#7 parts with quantity under 20% of that part's average.
    The correlated avg subquery becomes an aggregate keyed by partkey,
    equi-joined back. No broadcast HINT on it: the per-part table grows
    with SF (a forced broadcast would OOM the driver at warehouse
    scale), while at test SF AQE's runtime re-plan broadcasts it anyway
    once the aggregate's actual size is known."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#7")
    li = load_table(spark, sf_dir, "lineitem")
    li_part = li.join(part, li.l_partkey == part.p_partkey)
    avg_qty = li_part.groupBy(F.col("l_partkey").alias("ak")).agg(
        davg("l_quantity", "aq")
    )
    return (
        li_part.join(avg_qty, li_part.l_partkey == F.col("ak"))
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_weekly"))
    )


ORACLE_Q17 = f"""
SELECT CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / 7.0 AS avg_weekly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#7'
  AND l_quantity < 0.2 * (
    SELECT CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE) / count(l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
"""


# ---------------------------------------------------------------------------
# Q18 — large volume customers (HAVING on a fact-side aggregate)
# ---------------------------------------------------------------------------


def q18_large_volume_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 250 (top ~1%), with customer
    identity. The HAVING filter runs on the orderkey aggregate *before*
    the joins, so only qualifying orderkeys reach the join."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


ORACLE_Q18 = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM customer, orders,
     (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250) big
WHERE o_orderkey = big.l_orderkey AND c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (disjunctive multi-attribute predicate)
# ---------------------------------------------------------------------------


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs across both join sides — the planner must evaluate the
    residual disjunction post-join while still pushing the partkey
    equi-join and the per-side prunable conjuncts down."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(dsum(_disc_price(), "revenue"))
    )


ORACLE_Q19 = f"""
SELECT CAST(sum(CAST({_SQL_DISC_PRICE} AS {_DEC})) AS DOUBLE) AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1  AND 11)
    OR (p_brand = 'Brand#7'  AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))
"""


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (anti join + global-scalar threshold)
# ---------------------------------------------------------------------------


def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Well-funded customers (balance above the positive-balance average)
    who never ordered, grouped by nation. The global avg is a 1-row
    broadcast; "never ordered" is a left-anti join on orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(davg("c_acctbal", "ab"))
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("numcust"), dsum("c_acctbal", "totacctbal"))
        .orderBy("n_name")
    )


ORACLE_Q22 = f"""
SELECT n_name,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS {_DEC})) AS DOUBLE) AS totacctbal
FROM customer, nation
WHERE c_nationkey = n_nationkey
  AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS {_DEC})) AS DOUBLE)
                          / count(c_acctbal)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# Q11 — important stock identification (global-total scalar subquery)
# ---------------------------------------------------------------------------


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value (from NATION_4 suppliers) exceeds a
    fraction of the total shipped value — the Q11 shape with lineitem
    standing in for partsupp (the trimmed schema has no partsupp table).
    The global total is a 1-row aggregate broadcast into the HAVING
    filter; the per-part aggregate shuffles once on l_partkey."""
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    scoped = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    per_part = scoped.groupBy("l_partkey").agg(dsum("l_extendedprice", "part_value"))
    total = scoped.agg((dsum("l_extendedprice") * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


ORACLE_Q11 = f"""
SELECT l_partkey,
       CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) AS part_value
FROM lineitem, supplier, nation
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
GROUP BY l_partkey
HAVING CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) >
       (SELECT CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) * 0.001
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_4')
ORDER BY part_value DESC, l_partkey
"""


# ---------------------------------------------------------------------------
# Q12 — shipping-priority classes (conditional counting)
# ---------------------------------------------------------------------------


def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High- vs low-priority order lines per return flag for lineitems
    shipped in 1996 — the Q12 conditional-count shape with l_returnflag
    standing in for the absent l_shipmode. One fact-fact join hashed on
    orderkey, one aggregate pass computing both counts."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _t("1996-01-01"))
        & (F.col("l_shipdate") < _t("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_Q12 = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q16 — parts/supplier relationship (NOT IN → anti join, count distinct)
# ---------------------------------------------------------------------------


def q16_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier count per (brand, type, size) bucket for selected
    sizes, excluding one brand and excluding suppliers in deficit
    (s_acctbal < 0) — the Q16 shape with lineitem as the part↔supplier
    link. The NOT IN subquery is a left-anti join against a tiny
    broadcast side; countDistinct shuffles once on the group key."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0)
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part, lineitem
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#13'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested aggregate → share filter)
# ---------------------------------------------------------------------------


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in NATION_5 that shipped more than half of some part's
    total 1996 volume — the Q20 nested-subquery shape with shipped
    quantity standing in for partsupp availability. Both aggregates
    reuse the same filtered scan and hash on the same partkey, so AQE
    can plan the join back without a second full shuffle; qualification
    is a semi join into supplier."""
    li96 = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _t("1996-01-01"))
        & (F.col("l_shipdate") < _t("1997-01-01"))
    )
    per_sp = li96.groupBy("l_suppkey", "l_partkey").agg(dsum("l_quantity", "supp_qty"))
    per_part = li96.groupBy(F.col("l_partkey").alias("pk")).agg(
        (dsum("l_quantity") * F.lit(0.5)).alias("half_qty")
    )
    dominant = (
        per_sp.join(per_part, per_sp.l_partkey == per_part.pk)
        .filter(F.col("supp_qty") > F.col("half_qty"))
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


ORACLE_Q20 = f"""
SELECT s_suppkey, s_name
FROM supplier, nation
WHERE s_nationkey = n_nationkey AND n_name = 'NATION_5'
  AND s_suppkey IN (
    SELECT l_suppkey FROM (
      SELECT l_suppkey, l_partkey,
             CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS supp_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey) sp
    JOIN (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE) * 0.5 AS half_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_partkey) pp
    ON sp.l_partkey = pp.pk
    WHERE sp.supp_qty > pp.half_qty)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS rewrite)
# ---------------------------------------------------------------------------


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late lineitems (shipped > 60 days after the order date, order
    status 'F') whose supplier was the *only* late supplier on a
    multi-supplier order, counted per supplier — the Q21 double
    EXISTS/NOT EXISTS shape with shipdate-vs-orderdate lateness standing
    in for the absent commit/receipt dates.

    Rewrite (r11 optimization round — guide §1.2 "fix the distributed
    algorithm", §2.3 "aggregate before you shuffle", §2.4): ONE pass over
    lineitem⋈orders. The old form computed that join twice (once for the
    per-order distinct-counting aggregate, once for the late-lines side)
    and re-shuffled the full late-line set through a LeftSemi join on
    orderkey. Instead, aggregate to (orderkey, suppkey) granularity
    first — per-supplier late-line counts, partial-aggregated map-side —
    then per order: supplier count, late-supplier count, and (via
    conditional max over what is a singleton set when nlate = 1) the
    lone late supplier and its late-line count. Qualifying orders
    (nsupp > 1, nlate = 1) then roll up per supplier on K-row
    aggregates; the fact table is scanned and shuffled exactly once, no
    distinct Expand, no semi-join. Equivalence: numwait = count of late
    lines of the single late supplier over qualifying orders = the sum
    of that supplier's per-order late-line counts."""
    orders_f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_os = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.when(is_late, 1)).alias("n_late")
    )
    late_supp = F.when(F.col("n_late") > 0, F.col("l_suppkey"))
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("nsupp"),
        F.count(late_supp).alias("nlate"),
        F.max(late_supp).alias("late_supp"),
        F.max(F.when(F.col("n_late") > 0, F.col("n_late"))).alias("late_lines"),
    )
    waiting = per_order.filter((F.col("nsupp") > 1) & (F.col("nlate") == 1))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        waiting.groupBy(F.col("late_supp").alias("lsk"))
        .agg(F.sum("late_lines").alias("nw"))
        .join(supp, F.col("lsk") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("nw").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


ORACLE_Q21 = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


TPCH_QUERIES: list[QuerySpec] = [
    QuerySpec("q2_min_cost_part", q2_min_cost_part, ORACLE_Q2),
    QuerySpec("q4_order_priority", q4_order_priority, ORACLE_Q4),
    QuerySpec("q6_forecast_revenue", q6_forecast_revenue, ORACLE_Q6, bench=True),
    QuerySpec("q7_volume_shipping", q7_volume_shipping, ORACLE_Q7),
    QuerySpec("q8_market_share", q8_market_share, ORACLE_Q8),
    QuerySpec("q9_product_profit", q9_product_profit, ORACLE_Q9, bench=True),
    QuerySpec("q10_returned_items", q10_returned_items, ORACLE_Q10),
    QuerySpec("q13_order_distribution", q13_order_distribution, ORACLE_Q13),
    QuerySpec("q14_promo_revenue", q14_promo_revenue, ORACLE_Q14),
    QuerySpec("q15_top_supplier", q15_top_supplier, ORACLE_Q15),
    QuerySpec("q17_small_qty_revenue", q17_small_qty_revenue, ORACLE_Q17),
    QuerySpec("q18_large_volume_cust", q18_large_volume_cust, ORACLE_Q18, bench=True),
    QuerySpec("q19_discounted_revenue", q19_discounted_revenue, ORACLE_Q19),
    QuerySpec("q22_sales_opportunity", q22_sales_opportunity, ORACLE_Q22),
    QuerySpec("q11_important_parts", q11_important_parts, ORACLE_Q11),
    QuerySpec("q12_priority_classes", q12_priority_classes, ORACLE_Q12),
    QuerySpec("q16_parts_suppliers", q16_parts_suppliers, ORACLE_Q16),
    QuerySpec("q20_dominant_suppliers", q20_dominant_suppliers, ORACLE_Q20),
    QuerySpec("q21_suppliers_kept_waiting", q21_suppliers_kept_waiting, ORACLE_Q21, bench=True),
]
