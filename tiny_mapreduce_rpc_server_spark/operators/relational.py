"""Relational surface: aggregations, joins, windows, set ops, scalar funcs.

The reference implements none of these (SURVEY §2.11 — verified absent:
joins, windows, set ops, distinct, top-k, scalar functions, SQL). Its only
expressible dataflows are group-by-key + sum/count with per-partition
sorted output (§2.6). This module exposes those reference semantics first
(word/line count, sum-by-key, sorted groups) and then the full relational
completion that Spark SQL gives for free.

Scale discipline:
- aggregates go through partial/final hash aggregation (map-side combine —
  what the reference's dead-code combiner ``MapReduceUtil.cpp:48-65``
  wanted);
- joins let Catalyst/AQE pick broadcast vs sort-merge; small dims
  (region/nation/supplier) are explicitly broadcast;
- double sums use ``dsum``/``davg`` (decimal-exact, order-independent —
  see functions/__init__.py) so results are reproducible at any
  parallelism AND hash-match the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import davg, dsum, ntz_epoch_us
from tiny_mapreduce_rpc_server_spark.operators.mapreduce import word_count
from tiny_mapreduce_rpc_server_spark.sources import load_table, spread
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

# Decimal cast used for oracle-exact double sums (keep in sync with
# functions._SUM_DECIMAL; DuckDB spelling below).
_DEC = "DECIMAL(38,6)"


# ---------------------------------------------------------------------------
# Reference semantics (SURVEY §2.6): word/line count, sum-by-key, sorted group
# ---------------------------------------------------------------------------


def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship job (default map ``(line,1)`` + sum-by-key,
    ``Mapper.h:264-273``) generalized to word granularity over documents."""
    docs = load_table(spark, sf_dir, "documents")
    return word_count(docs, "text")


ORACLE_WORDCOUNT = """
SELECT word, count(*) AS cnt
FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
"""


def q_sum_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sum-by-key — the reference's default reduce (MapReduceUtil.cpp:114-135),
    applied for real (it is deprecated dead code in the reference)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        dsum("value", "total_value"), F.count("*").alias("n_events")
    )


ORACLE_SUM_BY_KEY = f"""
SELECT event_type,
       CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS total_value,
       count(*) AS n_events
FROM events GROUP BY event_type
"""


def q_sorted_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-count with globally sorted output — the reference's structural
    guarantee (sort/spill/merge cascade, SURVEY §2.6.2). Range-partitioned
    sort in Spark ≡ repartitionAndSortWithinPartitions + ordered partitions."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("key"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("key")
    )


ORACLE_SORTED_GROUP = """
SELECT l_returnflag AS key, count(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Aggregation surface
# ---------------------------------------------------------------------------


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        davg("l_quantity", "avg_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


ORACLE_AGG_STATS = f"""
SELECT l_returnflag,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE) / count(l_quantity) AS avg_qty,
       count(DISTINCT l_partkey) AS n_parts,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select("c_mktsegment", "c_nationkey").distinct()


ORACLE_DISTINCT = "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity", "sum_qty")
    )


ORACLE_ROLLUP = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), dsum("o_totalprice", "sum_price")
    )


ORACLE_CUBE = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
    )
    return piv.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_finished"),
    )


ORACLE_PIVOT = f"""
SELECT l_returnflag,
       CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS {_DEC}) END) AS DOUBLE) AS qty_open,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS {_DEC}) END) AS DOUBLE) AS qty_finished
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# TPC-H-flavored queries over the star schema
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 adapted to the synthetic schema: the canonical multi-agg
    scan. Filter + pruned columns push down to the parquet scan.

    The scan goes through ``spread`` (r11 optimization round): the sf*
    lineitem is one parquet file -> 3 input splits, so the eight
    decimal aggregates ran on 3 of the session's cores; the round-robin
    fan-out buys full-width partial aggregation (alternating A/B at
    sf0.1: 1.84 -> 1.44 s median of 5) and is a structural no-op at
    real scale where the scan has >= parallelism splits. The join-heavy
    TPC-H queries (q9 measured 1.11 -> 1.92 s) deliberately do NOT
    spread — an extra exchange ahead of AQE's broadcast planning costs
    more than the scan width buys."""
    li = spread(load_table(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE)                          AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE)                     AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS {_DEC})) AS DOUBLE)  AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS {_DEC})) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE) / count(l_quantity)      AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / count(l_extendedprice) AS avg_price,
       CAST(sum(CAST(l_discount AS {_DEC})) AS DOUBLE) / count(l_discount)      AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: 3-way join + agg + top-10. customer carries no broadcast
    HINT — it grows with SF, so the size-based planner must stay free to
    shuffle it at warehouse scale; at test SF its parquet footprint is
    far under the auto-broadcast threshold and the planner broadcasts it
    unhinted. orders⋈lineitem shuffles on the join key (AQE coalesces).
    Ties broken by l_orderkey for determinism."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_Q3 = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS {_DEC})) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 flavor: 6-way join through the whole star schema.
    region/nation/supplier are tiny at every SF → broadcast; the big
    orders⋈lineitem join shuffles on orderkey."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


ORACLE_Q5 = f"""
SELECT n_name, r_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS {_DEC})) AS DOUBLE) AS revenue
FROM lineitem, orders, supplier, customer, nation, region
WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND o_custkey = c_custkey AND c_nationkey = s_nationkey
  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY n_name, r_name
"""


def q_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim⋈dim join: nation decorated with region name."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")


ORACLE_JOIN_DIMS = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers that placed at least one urgent order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


ORACLE_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: customers with no error events... no — no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_acctbal")


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + null-aware agg: per-customer order counts incl. 0."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), "total_spend"),
        )
    )


ORACLE_OUTER_JOIN = f"""
SELECT c_custkey, count(o_orderkey) AS n_orders,
       CAST(sum(CAST(coalesce(o_totalprice, 0.0) AS {_DEC})) AS DOUBLE) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


# ---------------------------------------------------------------------------
# Top-k / windows
# ---------------------------------------------------------------------------


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 — TakeOrderedAndProject, no full sort at scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


ORACLE_TOPK = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per market segment (window row_number)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "rnk", "c_custkey", "c_acctbal")
    )


ORACLE_TOPK_PER_GROUP = """
SELECT c_mktsegment, rnk, c_custkey, c_acctbal FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer) t
WHERE rnk <= 3
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + lag per customer over order history. The cumulative
    double sum is evaluated in frame order in both engines → exact match."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.row_number().over(w).alias("order_seq"),
    )


ORACLE_WINDOW_RUNNING = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(sum(CAST(o_totalprice AS {_DEC}))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend,
       lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS prev_price,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
"""


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


def _nation_keys(
    spark: SparkSession, sf_dir: str, supplier_where: Column | None = None
) -> tuple[DataFrame, DataFrame]:
    """The set-op inputs: the customer and the supplier nation keys, each
    as one ``nationkey`` column; suppliers first filtered by
    ``supplier_where`` when given."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    if supplier_where is not None:
        supp = supp.filter(supplier_where)
    return cust, supp.select(F.col("s_nationkey").alias("nationkey"))


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + re-aggregation (multiset made deterministic by counting)."""
    cust, supp = _nation_keys(spark, sf_dir)
    return cust.unionAll(supp).groupBy("nationkey").agg(F.count("*").alias("n"))


ORACLE_SET_UNION = """
SELECT nationkey, count(*) AS n FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier) t
GROUP BY nationkey
"""


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations that have both customers and suppliers."""
    cust, supp = _nation_keys(spark, sf_dir)
    return cust.intersect(supp)


ORACLE_SET_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but no well-capitalized supplier (EXCEPT)."""
    cust, supp = _nation_keys(spark, sf_dir, F.col("s_acctbal") > 5000)
    return cust.subtract(supp)  # EXCEPT (set semantics, like the SQL oracle)


ORACLE_SET_EXCEPT = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
"""


def q_string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list/collect_set surface, made deterministic: collection
    order under parallelism is arbitrary, so the collected set is sorted
    before concatenation — the only way a gather aggregate can be
    reproducible on a cluster."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("names_csv"),
        F.size(F.collect_set("n_name")).alias("n_distinct"),
    )


ORACLE_STRING_AGG_SORTED = """
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS names_csv,
       count(DISTINCT n_name) AS n_distinct
FROM nation GROUP BY n_regionkey
"""


def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics intersect: keeps duplicate multiplicity (min of the
    two sides' counts per value)."""
    cust, supp = _nation_keys(spark, sf_dir)
    return cust.intersectAll(supp)


ORACLE_SET_INTERSECT_ALL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT ALL
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics except: per-value multiplicity = count(left) - count(right)."""
    cust, supp = _nation_keys(spark, sf_dir)
    return cust.exceptAll(supp)


ORACLE_SET_EXCEPT_ALL = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT ALL
SELECT s_nationkey AS nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# Scalar function library passthrough (string / date / math / JSON)
# ---------------------------------------------------------------------------


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
    )


ORACLE_STRING_FUNCS = """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       lower(p_type) AS type_lower,
       length(p_name) AS name_len,
       substring(p_type, 1, 5) AS type_prefix,
       concat_ws('|', p_brand, p_type) AS brand_type,
       trim(p_name) AS name_trim,
       reverse(p_brand) AS brand_rev
FROM part
"""


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dom"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            "o_totalprice",
        )
        .groupBy("yr", "mo", "dom", "month_start")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "sum_price"))
    )


ORACLE_DATE_FUNCS = f"""
SELECT EXTRACT(year FROM o_orderdate)::INT AS yr,
       EXTRACT(month FROM o_orderdate)::INT AS mo,
       EXTRACT(day FROM o_orderdate)::INT AS dom,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS sum_price
FROM orders GROUP BY 1, 2, 3, 4
"""


def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: interval add (month arithmetic clamps to month
    end in both engines), last_day, day-of-week. Spark's dayofweek is
    1=Sunday vs DuckDB's 0=Sunday — normalized to 0-based here."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_add(d, 30).alias("plus_30d"),
        F.add_months(d, 1).alias("plus_1mo"),
        F.last_day(d).alias("month_end"),
        (F.dayofweek(d) - 1).alias("dow"),
    )


ORACLE_DATE_ARITHMETIC = """
-- plus_30d is DATE + 30 (integer days), NOT "+ INTERVAL 30 DAY": DuckDB
-- interval equality says INTERVAL 1 MONTH = INTERVAL 30 DAY, and common-
-- subexpression elimination then merges the two additions into one,
-- silently returning the +30d value for both columns.
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) + 30 AS plus_30d,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_1mo,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       dayofweek(CAST(o_orderdate AS DATE)) AS dow
FROM orders
"""


def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics end-to-end: nulls are introduced with nullif, then
    flow through coalesce/nvl2-style defaults and aggregates (count(col)
    skips nulls, count(*) does not) — the SQL null contract the
    reference never had to define (its values were raw strings)."""
    orders = load_table(spark, sf_dir, "orders")
    maybe = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        orders.select(
            "o_orderpriority",
            maybe.alias("status_or_null"),
            F.coalesce(maybe, F.lit("OPEN")).alias("status_defaulted"),
            F.when(maybe.isNull(), 0).otherwise(1).alias("has_status"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("status_or_null").alias("n_nonnull"),
            F.sum("has_status").alias("sum_flag"),
            F.min("status_defaulted").alias("min_defaulted"),
        )
    )


ORACLE_NULL_HANDLING = """
SELECT o_orderpriority,
       count(*) AS n_rows,
       count(nullif(o_orderstatus, 'O')) AS n_nonnull,
       CAST(sum(CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 0 ELSE 1 END)
         AS BIGINT) AS sum_flag,
       min(coalesce(nullif(o_orderstatus, 'O'), 'OPEN')) AS min_defaulted
FROM orders GROUP BY o_orderpriority
"""


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_quantity").cast("bigint").alias("qty_floor"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.pmod(F.col("l_partkey"), F.lit(7)).alias("pk_mod7"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


ORACLE_MATH_FUNCS = """
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS disc_dev,
       CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       l_partkey % 7 AS pk_mod7,
       greatest(l_discount, l_tax) AS max_rate,
       least(l_discount, l_tax) AS min_rate
FROM lineitem
"""


def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props + re-aggregation."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count("k").alias("n_k"),
        )
    )


ORACLE_JSON_FUNCS = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
       count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_k
FROM events GROUP BY event_type
"""


def q_json_tolerant_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record-tolerant JSON ingestion: a tenth of the payloads
    are truncated (simulating the malformed records every real feed
    contains); extraction must NULL them out and keep going, and the
    report separates parse failures from parsed rows — the PERMISSIVE
    ingestion contract.

    Exactness note: Spark's get_json_object returns NULL on malformed
    input, while DuckDB ERRORS — the oracle guards with json_valid(),
    and the two engines were probed to agree on what counts as
    malformed for truncation-corrupted payloads.
    """
    events = load_table(spark, sf_dir, "events")
    mangled = F.when(
        F.col("event_id") % 10 == 0,
        F.expr("substring(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    k = F.get_json_object(mangled, "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("k").alias("n_parsed"),
            (F.count("*") - F.count("k")).alias("n_corrupt"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


ORACLE_JSON_TOLERANT_PARSE = """
WITH m AS (
  SELECT event_type,
         CASE WHEN event_id % 10 = 0
              THEN substr(props, 1, length(props) - 2)
              ELSE props END AS js
  FROM events),
p AS (
  SELECT event_type,
         CASE WHEN json_valid(js)
              THEN CAST(json_extract_string(js, '$.k') AS INT) END AS k
  FROM m)
SELECT event_type,
       count(*) AS n_rows,
       count(k) AS n_parsed,
       count(*) - count(k) AS n_corrupt,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM p GROUP BY event_type
ORDER BY event_type
"""


def q_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar ops + bit_and/bit_or/bit_xor aggregates (hex output
    lower-cased for engine-neutral comparison)."""
    supp = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    d = supp.select(
        "s_nationkey",
        (k.bitwiseAND(F.lit(255))).alias("low_byte"),
        (k.bitwiseOR(F.lit(16))).alias("with_flag"),
        (k.bitwiseXOR(F.col("s_nationkey"))).alias("xored"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 1).alias("shr1"),
        F.lower(F.hex(k)).alias("key_hex"),
    )
    return d.groupBy("s_nationkey").agg(
        F.bit_and("low_byte").alias("and_low"),
        F.bit_or("low_byte").alias("or_low"),
        F.bit_xor("xored").alias("xor_all"),
        F.max("shl2").alias("max_shl2"),
        F.min("shr1").alias("min_shr1"),
        F.max("key_hex").alias("max_hex"),
        F.max("with_flag").alias("max_flagged"),
    )


ORACLE_BITWISE_FUNCS = """
WITH d AS (
  SELECT s_nationkey,
         s_suppkey & 255 AS low_byte,
         s_suppkey | 16 AS with_flag,
         xor(s_suppkey, s_nationkey) AS xored,
         s_suppkey << 2 AS shl2,
         s_suppkey >> 1 AS shr1,
         lower(to_hex(s_suppkey)) AS key_hex
  FROM supplier)
SELECT s_nationkey,
       bit_and(low_byte) AS and_low,
       bit_or(low_byte) AS or_low,
       bit_xor(xored) AS xor_all,
       max(shl2) AS max_shl2,
       min(shr1) AS min_shr1,
       max(key_hex) AS max_hex,
       max(with_flag) AS max_flagged
FROM d GROUP BY s_nationkey
"""


def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface: extract / replace-all / match-test. Patterns stay in
    the dialect-portable subset (character classes, anchors, groups) that
    Java regex and DuckDB's RE2 interpret identically; Spark's
    regexp_replace is replace-all by default, DuckDB needs the 'g' flag."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike(r"r.d").alias("has_rxd"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
    )


ORACLE_REGEX_FUNCS = """
SELECT p_partkey,
       regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       regexp_matches(p_name, 'r.d') AS has_rxd,
       regexp_extract(p_name, '([a-z]+)$', 1) AS last_word
FROM part
"""


def q_json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-full JSON parsing (from_json -> typed struct), as opposed to
    the path-extraction in json_funcs: the parse happens once per row and
    every field access afterwards is a cheap struct getter — the right
    shape when several fields are consumed."""
    events = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    k = F.col("p.k")
    return (
        events.select("event_type", parsed.alias("p"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.sum((k % 2).cast("long")).alias("n_odd"),
        )
    )


ORACLE_JSON_STRUCT_PARSE = """
WITH p AS (SELECT event_type,
                  CAST(json_extract_string(props, '$.k') AS INT) AS k
           FROM events)
SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k, CAST(sum(k % 2) AS BIGINT) AS n_odd
FROM p GROUP BY event_type
"""


def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bucketing (CASE WHEN) + conditional aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 1000, "small")
        .when(F.col("o_totalprice") < 10000, "medium")
        .otherwise("large")
    )
    return (
        orders.select(bucket.alias("price_bucket"), "o_orderstatus")
        .groupBy("price_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "n_finished"
            ),
        )
    )


ORACLE_CASE_WHEN = """
SELECT CASE WHEN o_totalprice < 1000 THEN 'small'
            WHEN o_totalprice < 10000 THEN 'medium'
            ELSE 'large' END AS price_bucket,
       count(*) AS n,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_finished
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Events: sessionization + tumbling windows (batch flavor)
# ---------------------------------------------------------------------------


def q_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window rollup over the event stream (batch form;
    the streaming form lives in streaming/)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
        )
        .agg(F.count("*").alias("n"), dsum("value", "sum_value"))
    )


ORACLE_TUMBLING_HOUR = f"""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): session count and
    size per user via lag + cumulative sum — the batch equivalent of
    streaming session windows."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # testdata parquet stores naive timestamps (TIMESTAMP_NTZ in Spark 4);
    # tz-free epoch micros (matches DuckDB epoch_us on any machine, not
    # just under a UTC session — see functions.ntz_diff_us)
    ts_us = ntz_epoch_us("ts")
    gapped = events.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            (ts_us - F.lag(ts_us, 1).over(w)) > 1800 * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = gapped.select(
        "user_id",
        "event_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator in batch (30-min gap),
    pinned against an independently derived lag/cumsum oracle — proving
    the built-in's merge semantics (an event extends a session iff its
    ts is strictly before the current session end = last ts + gap)
    rather than restating them. One shuffle on user_id."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window(F.col("ts"), "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# new session iff the gap is >= 30 min: Spark merges an event into the
# session only when ts < session end (strict), so an exactly-30-min gap
# starts a new session
ORACLE_SESSION_WINDOW_NATIVE = """
WITH gapped AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM gapped)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


ORACLE_SESSIONIZE = """
WITH gapped AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM gapped),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sessions GROUP BY 1, 2)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
FROM per_session GROUP BY user_id
"""


RELATIONAL_QUERIES: list[QuerySpec] = [
    QuerySpec("wordcount", q_wordcount, ORACLE_WORDCOUNT, bench=True),
    QuerySpec("sum_by_key", q_sum_by_key, ORACLE_SUM_BY_KEY),
    QuerySpec("sorted_group", q_sorted_group, ORACLE_SORTED_GROUP),
    QuerySpec("agg_stats", q_agg_stats, ORACLE_AGG_STATS),
    QuerySpec("distinct", q_distinct, ORACLE_DISTINCT),
    QuerySpec("rollup", q_rollup, ORACLE_ROLLUP),
    QuerySpec("cube", q_cube, ORACLE_CUBE),
    QuerySpec("pivot", q_pivot, ORACLE_PIVOT),
    QuerySpec("q1_pricing_summary", q1_pricing_summary, ORACLE_Q1, bench=True),
    QuerySpec("q3_shipping_priority", q3_shipping_priority, ORACLE_Q3, bench=True),
    QuerySpec("q5_local_supplier", q5_local_supplier, ORACLE_Q5, bench=True),
    QuerySpec("join_dims", q_join_dims, ORACLE_JOIN_DIMS),
    QuerySpec("semi_join", q_semi_join, ORACLE_SEMI_JOIN),
    QuerySpec("anti_join", q_anti_join, ORACLE_ANTI_JOIN),
    QuerySpec("outer_join", q_outer_join, ORACLE_OUTER_JOIN, bench=True),
    QuerySpec("topk", q_topk, ORACLE_TOPK),
    QuerySpec("topk_per_group", q_topk_per_group, ORACLE_TOPK_PER_GROUP),
    QuerySpec("window_running", q_window_running, ORACLE_WINDOW_RUNNING, bench=True),
    QuerySpec("set_union", q_set_union, ORACLE_SET_UNION),
    QuerySpec("set_intersect", q_set_intersect, ORACLE_SET_INTERSECT),
    QuerySpec("set_except", q_set_except, ORACLE_SET_EXCEPT),
    QuerySpec("string_agg_sorted", q_string_agg_sorted, ORACLE_STRING_AGG_SORTED),
    QuerySpec("set_intersect_all", q_set_intersect_all, ORACLE_SET_INTERSECT_ALL),
    QuerySpec("set_except_all", q_set_except_all, ORACLE_SET_EXCEPT_ALL),
    QuerySpec("string_funcs", q_string_funcs, ORACLE_STRING_FUNCS),
    QuerySpec("date_funcs", q_date_funcs, ORACLE_DATE_FUNCS),
    QuerySpec("date_arithmetic", q_date_arithmetic, ORACLE_DATE_ARITHMETIC),
    QuerySpec("null_handling", q_null_handling, ORACLE_NULL_HANDLING),
    QuerySpec("math_funcs", q_math_funcs, ORACLE_MATH_FUNCS),
    QuerySpec("json_funcs", q_json_funcs, ORACLE_JSON_FUNCS),
    QuerySpec("json_tolerant_parse", q_json_tolerant_parse, ORACLE_JSON_TOLERANT_PARSE),
    QuerySpec("json_struct_parse", q_json_struct_parse, ORACLE_JSON_STRUCT_PARSE),
    QuerySpec("regex_funcs", q_regex_funcs, ORACLE_REGEX_FUNCS),
    QuerySpec("bitwise_funcs", q_bitwise_funcs, ORACLE_BITWISE_FUNCS),
    QuerySpec("case_when", q_case_when, ORACLE_CASE_WHEN),
    QuerySpec("tumbling_hour", q_tumbling_hour, ORACLE_TUMBLING_HOUR, bench=True),
    QuerySpec("sessionize", q_sessionize, ORACLE_SESSIONIZE, bench=True),
    QuerySpec("session_window_native", q_session_window_native, ORACLE_SESSION_WINDOW_NATIVE),
]
