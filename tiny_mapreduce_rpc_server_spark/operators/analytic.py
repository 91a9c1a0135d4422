"""Analytic surface: array / higher-order / map functions, navigation
windows (lag/lead/ntile), and grouping sets.

Reference parity: the reference engine has NO window functions, arrays,
maps, or multi-level aggregation (SURVEY.md §2.11 — verified absent);
its only aggregate is the fixed sum-merge in ``Reducer.cpp``. These are
capability-gap fills [EXT in BASELINE.json] expressed entirely with
built-in Catalyst expressions — no Python UDFs — so every one of them
stays inside WholeStageCodegen and scales with ordinary shuffles.

Scale notes:
- Higher-order array functions (``filter``/``exists``/``forall``/
  ``transform``) evaluate per-row JVM-side: no shuffle at all, embarrassingly
  parallel at any scale.
- ``lag``/``lead``/``row_number``/``ntile`` are PARTITIONED windows
  (``PARTITION BY o_custkey``): one hash shuffle on the partition key, then
  a per-partition sort. A GLOBAL window (no partition key) would funnel
  100 TB through one task — never do that; for global quantile bucketing at
  scale use ``approx_percentile`` (see stats.py) instead of ntile().
- GROUPING SETS computes all groupings in one pass over one shuffle
  (Catalyst's Expand operator), not one job per grouping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tiny_mapreduce_rpc_server_spark.functions import davg, dsum, ntz_epoch_us
from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

_DEC = "DECIMAL(38,6)"


# ---------------------------------------------------------------------------
# Array functions (embeddings.embedding: array<float>)
# ---------------------------------------------------------------------------


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_elem"),
        F.array_max("embedding").alias("elem_max"),
        F.array_min("embedding").alias("elem_min"),
    )


ORACLE_ARRAY_FUNCS = """
SELECT vec_id,
       len(embedding) AS dim,
       embedding[1] AS first_elem,
       list_max(embedding) AS elem_max,
       list_min(embedding) AS elem_min
FROM embeddings
"""


def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter / exists / forall / transform lambdas — per-row, shuffle-free."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.exists("embedding", lambda x: F.abs(x) > F.lit(2.0)).alias("any_big"),
        F.forall("embedding", lambda x: F.abs(x) < F.lit(10.0)).alias("all_small"),
        F.size(
            F.filter("embedding", lambda x: (x > -0.5) & (x < 0.5))
        ).alias("n_near_zero"),
    )


ORACLE_HIGHER_ORDER_FUNCS = """
SELECT vec_id,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       list_aggregate(list_transform(embedding, x -> abs(x) > 2.0), 'bool_or')
           AS any_big,
       list_aggregate(list_transform(embedding, x -> abs(x) < 10.0), 'bool_and')
           AS all_small,
       len(list_filter(embedding, x -> x > -0.5 AND x < 0.5)) AS n_near_zero
FROM embeddings
"""


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + element access; oracle is the unwrapped expression."""
    part = load_table(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return part.select(
        "p_partkey",
        F.element_at(m, "brand").alias("brand"),
        F.element_at(m, "type").alias("ptype"),
        F.size(m).alias("n_keys"),
        F.concat_ws(",", F.sort_array(F.map_keys(m))).alias("keys_csv"),
    )


ORACLE_MAP_FUNCS = """
SELECT p_partkey,
       p_brand AS brand,
       p_type AS ptype,
       2 AS n_keys,
       'brand,type' AS keys_csv
FROM part
"""


# ---------------------------------------------------------------------------
# Navigation windows: lag / lead / row_number / ntile (partitioned!)
# ---------------------------------------------------------------------------


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order history navigation. PARTITION BY o_custkey keeps
    the window distributed (one shuffle + per-partition sort)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("days_since_prev"),
    )


ORACLE_WINDOW_LAG_LEAD = """
SELECT o_custkey,
       o_orderkey,
       row_number() OVER w AS order_seq,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       date_diff('day',
                 lag(CAST(o_orderdate AS DATE)) OVER w,
                 CAST(o_orderdate AS DATE)) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing WITHIN each customer (partitioned ntile), then a
    per-bucket rollup. The deterministic tiebreak (orderkey) makes the
    bucket assignment engine-independent."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(F.ntile(4).over(w).alias("spend_quartile"), "o_totalprice")
        .groupBy("spend_quartile")
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice", "sum_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


ORACLE_NTILE_BUCKETS = f"""
SELECT spend_quartile, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS sum_price,
       max(o_totalprice) AS max_price
FROM (
  SELECT ntile(4) OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice, o_orderkey) AS spend_quartile,
         o_totalprice
  FROM orders
)
GROUP BY spend_quartile
"""


# ---------------------------------------------------------------------------
# GROUPING SETS — all groupings in one Expand pass, one shuffle
# ---------------------------------------------------------------------------


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("gs_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS sum_price
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


ORACLE_GROUPING_SETS = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# ---------------------------------------------------------------------------
# Rank-family windows + unpivot (melt)
# ---------------------------------------------------------------------------


def q_window_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / cume_dist per nation over supplier
    account balances. Partitioned on s_nationkey — distributed window."""
    supplier = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return supplier.select(
        "s_nationkey",
        "s_suppkey",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


ORACLE_WINDOW_RANK_STATS = """
SELECT s_nationkey, s_suppkey,
       rank() OVER w AS bal_rank,
       dense_rank() OVER w AS bal_dense_rank,
       percent_rank() OVER w AS bal_pct_rank,
       cume_dist() OVER w AS bal_cume_dist
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
"""


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt: per-row, shuffle-free (Expand), then one hash agg."""
    part = load_table(spark, sf_dir, "part")
    long = part.unpivot(
        "p_partkey",
        [F.col("p_size").cast("double").alias("size"),
         F.col("p_retailprice").alias("retailprice")],
        "measure",
        "value",
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        dsum("value", "sum_value"),
        F.max("value").alias("max_value"),
    )


ORACLE_UNPIVOT = f"""
SELECT measure, count(*) AS n,
       CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value,
       max(value) AS max_value
FROM (
  SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
  UNION ALL
  SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS value FROM part
)
GROUP BY measure
"""


def q_window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit ROWS frame
    (unbounded-to-current), per customer in deterministic order."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first_value("o_totalprice").over(w).alias("first_price"),
        F.last_value("o_totalprice").over(w).alias("running_last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


ORACLE_WINDOW_VALUE_FUNCS = """
SELECT o_custkey, o_orderkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER w AS running_last_price,
       nth_value(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_and / bool_or / max_by-min_by aggregates. The
    arg-max key is o_orderkey (unique), so max_by is deterministic —
    arg-max on a non-unique key is engine-dependent and never used."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.max_by("o_totalprice", "o_orderkey").alias("latest_key_price"),
        F.min_by("o_totalprice", "o_orderkey").alias("earliest_key_price"),
    )


ORACLE_CONDITIONAL_AGGS = """
SELECT o_orderpriority,
       CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_large,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_orderstatus = 'F') AS any_finished,
       max_by(o_totalprice, o_orderkey) AS latest_key_price,
       min_by(o_totalprice, o_orderkey) AS earliest_key_price
FROM orders GROUP BY o_orderpriority
"""


def q_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (union/intersect/except) on two overlapping
    slices of each embedding. Result arrays have engine-dependent element
    ORDER, so the checked outputs are the (deterministic) cardinalities."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = F.slice("embedding", 1, 40)
    b = F.slice("embedding", 25, 40)
    return emb.select(
        "vec_id",
        F.size(F.array_union(a, b)).alias("n_union"),
        F.size(F.array_intersect(a, b)).alias("n_intersect"),
        F.size(F.array_except(a, b)).alias("n_except"),
        F.array_contains(b, F.element_at("embedding", 30)).alias("b_has_e30"),
    )


ORACLE_ARRAY_SET_OPS = """
WITH e AS (SELECT vec_id,
                  embedding[1:40] AS a,
                  embedding[25:64] AS b,
                  embedding[30] AS e30
           FROM embeddings)
SELECT vec_id,
       len(list_distinct(a || b)) AS n_union,
       len(list_filter(list_distinct(a), x -> list_contains(b, x)))
         AS n_intersect,
       len(list_filter(list_distinct(a), x -> NOT list_contains(b, x)))
         AS n_except,
       list_contains(b, e30) AS b_has_e30
FROM e
"""


# ---------------------------------------------------------------------------
# Product-analytics shapes over the events table (funnel, cohort retention)
# ---------------------------------------------------------------------------


def _funnel_stages(events: DataFrame):
    """The funnel's stage tables, defined ONCE: (first view, first
    qualifying click within 24 h, first qualifying purchase within
    72 h) per user — shared by the funnel counts and the
    time-to-convert percentiles so the two queries cannot drift."""
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 72 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return v, c, p


# the same stage definitions as DuckDB CTE text, shared by both oracles
_SQL_FUNNEL_CTES = """v AS (SELECT user_id, min(ts) AS v_ts FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
        AND e.ts <= v.v_ts + INTERVAL 24 HOUR GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        AND e.ts <= c.c_ts + INTERVAL 72 HOUR GROUP BY e.user_id)"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel with per-step time caps: first 'view',
    then a 'click' within 24 h of it, then a 'purchase' within 72 h of
    that click (strict event-time order). Each stage is a
    groupBy(user_id) min-timestamp plus a filter-join against the
    previous stage — after the first shuffle all joins are
    co-partitioned on user_id, and the stage tables only shrink, so AQE
    broadcasts them. Hour-unit intervals sidestep DuckDB's
    MONTH==30-DAY interval-equality CSE trap (see verify notes)."""
    events = load_table(spark, sf_dir, "events")
    v, c, p = _funnel_stages(events)

    def _stage(df: DataFrame, stage: int, step: str) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(step).alias("step"),
            "n_users",
        )

    return (
        _stage(v, 1, "view")
        .unionByName(_stage(c, 2, "view>click"))
        .unionByName(_stage(p, 3, "view>click>purchase"))
    )


ORACLE_EVENT_FUNNEL = f"""
WITH {_SQL_FUNNEL_CTES}
SELECT CAST(1 AS INTEGER) AS stage, 'view' AS step,
       (SELECT count(*) FROM v) AS n_users
UNION ALL
SELECT CAST(2 AS INTEGER), 'view>click', (SELECT count(*) FROM c)
UNION ALL
SELECT CAST(3 AS INTEGER), 'view>click>purchase', (SELECT count(*) FROM p)
"""


def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion LATENCY percentiles per funnel transition — the other
    half of the funnel report: not just how many users advance, but how
    long each step takes (p25/p50/p75). Shares the stage tables with
    ``q_event_funnel`` via ``_funnel_stages`` (one definition, two
    reports). Latencies are exact integer microsecond diffs; the
    percentiles are the same type-7 interpolation the oracle's
    quantile_cont uses, and the micros→seconds conversion is one double
    division on identical operands."""
    events = load_table(spark, sf_dir, "events")
    v, c, p = _funnel_stages(events)
    # tz-free epoch micros (matches DuckDB epoch_us on any machine)
    def _us(col):
        return ntz_epoch_us(col)

    vc = c.join(v, "user_id").select((_us("c_ts") - _us("v_ts")).alias("lat"))
    cp = p.join(c, "user_id").select((_us("p_ts") - _us("c_ts")).alias("lat"))

    def _stats(df: DataFrame, transition: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_users"),
            (F.expr("percentile(lat, 0.25)") / 1e6).alias("p25_sec"),
            (F.expr("percentile(lat, 0.5)") / 1e6).alias("p50_sec"),
            (F.expr("percentile(lat, 0.75)") / 1e6).alias("p75_sec"),
        ).select(F.lit(transition).alias("transition"), "*")

    return _stats(vc, "view>click").unionByName(_stats(cp, "click>purchase"))


ORACLE_FUNNEL_TIME_TO_CONVERT = f"""
WITH {_SQL_FUNNEL_CTES},
vc AS (SELECT epoch_us(c.c_ts) - epoch_us(v.v_ts) AS lat
       FROM c JOIN v USING (user_id)),
cp AS (SELECT epoch_us(p.p_ts) - epoch_us(c.c_ts) AS lat
       FROM p JOIN c USING (user_id))
SELECT 'view>click' AS transition, count(*) AS n_users,
       quantile_cont(lat, 0.25) / 1e6 AS p25_sec,
       quantile_cont(lat, 0.5) / 1e6 AS p50_sec,
       quantile_cont(lat, 0.75) / 1e6 AS p75_sec
FROM vc
UNION ALL
SELECT 'click>purchase', count(*),
       quantile_cont(lat, 0.25) / 1e6,
       quantile_cont(lat, 0.5) / 1e6,
       quantile_cont(lat, 0.75) / 1e6
FROM cp
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    day, counted distinct on each day-offset of later activity. Two
    shuffles (first-day agg, cohort-cell distinct count), both keyed and
    partial-aggregated; the firsts table joins back co-partitioned on
    user_id."""
    events = load_table(spark, sf_dir, "events")
    d = events.select("user_id", F.to_date("ts").alias("day"))
    firsts = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        d.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_RETENTION_COHORTS = """
WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
SELECT f.cohort_day,
       CAST(d.day - f.cohort_day AS BIGINT) AS day_offset,
       count(DISTINCT d.user_id) AS n_users
FROM d JOIN f USING (user_id)
GROUP BY 1, 2
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event-type
    sequence (the event-stream analog of the bigram LM): lag() within
    the per-user event-time order, then one partial-aggregated count per
    (prev, next) pair, with the per-prev transition probability as an
    exact bigint/bigint division. One shuffle on user_id for the window,
    one tiny agg on the 5x5 transition space."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(wp)).alias("p"),
    )


ORACLE_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
c AS (SELECT prev_type, next_type, count(*) AS n FROM seq
      WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, n,
       n / sum(n) OVER (PARTITION BY prev_type) AS p
FROM c
"""


_COOCCUR_MIN_SUPPORT = 2
_COOCCUR_TOP = 20


def q_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift: the top part pairs that
    appear together in the same order more often than independence
    predicts — the classic association-rule pass (and, in an LLM corpus,
    the same shape as co-citation / co-occurrence graph building).

    Shape: distinct (order, part) → per-part order frequency attached as
    a WINDOW count over the item table (one shuffle by part key, no
    join) → self equi-join ON the order key (co-partitioned, quadratic
    only within a basket whose size is bounded by order width) → one
    hash-agg that carries n1/n2 through with ``first()`` (n_ord is
    functionally dependent on the part key). The pair table — by far the
    largest intermediate, |pairs| >> |items| — is therefore aggregated
    exactly once and NEVER re-shuffled; the round-5 plan joined it twice
    against the frequency table, which at the sf1* replica cost 5.4 s
    vs DuckDB's 1.0 s. Lift stays an integer ratio
    (pair_orders * n_orders) / (n_p1 * n_p2) until one final double
    division, so it is bit-identical in any engine.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # the distinct item set feeds both self-join sides and the 1-row
    # total; the identical windowed subplan on both join sides becomes a
    # ReusedExchange, so no cache is needed (round-5's .cache() forced
    # an InMemoryRelation that broke whole-stage codegen across the
    # self-join and pinned ~n_items rows in executor memory for no win)
    items = li.select("l_orderkey", "l_partkey").distinct()
    # 1-row total as a broadcast cross join — no driver-side action at
    # plan-build time
    tot = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    witem = items.withColumn(
        "n_ord", F.count("*").over(Window.partitionBy("l_partkey"))
    )
    # shuffle_hash: both sides are identical and SF-growing, so neither
    # can broadcast; the default SMJ would EXTERNAL-SORT both 6M+-row
    # sides by order key, while a shuffled hash join builds one
    # hash map per partition whose size is bounded by the shuffle
    # partition size AQE targets (~64 MB of (long,long,long) rows)
    # regardless of total SF — measured 3.6 s -> 2.6 s at the sf1*
    # replica, and the per-partition memory bound is what survives
    # 100 TB (basket keys are near-uniform; AQE skew splitting still
    # applies to the shuffle feeding the join)
    a, b = witem.alias("a"), witem.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(
            F.count("*").alias("pair_orders"),
            F.first(F.col("a.n_ord")).alias("n1"),
            F.first(F.col("b.n_ord")).alias("n2"),
        )
        .where(F.col("pair_orders") >= _COOCCUR_MIN_SUPPORT)
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            "p1",
            "p2",
            "pair_orders",
            (
                (F.col("pair_orders") * F.col("n_orders")).cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_orders"), "p1", "p2")
        .limit(_COOCCUR_TOP)
    )


ORACLE_ITEM_COOCCURRENCE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (
  SELECT l_partkey, count(*)::BIGINT AS n_ord FROM items GROUP BY l_partkey),
tot AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM items),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*)::BIGINT AS pair_orders
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_COOCCUR_MIN_SUPPORT})
SELECT p1, p2, pair_orders,
       (pair_orders * n_orders)::DOUBLE / (f1.n_ord * f2.n_ord)::DOUBLE AS lift
FROM pairs, tot
JOIN freq f1 ON p1 = f1.l_partkey
JOIN freq f2 ON p2 = f2.l_partkey
ORDER BY pair_orders DESC, p1, p2
LIMIT {_COOCCUR_TOP}
"""


# behavioral sequences are truncated to this many leading events: the
# collect is bounded per user, and the output row stays small
_SEQ_HEAD = 30


def q_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type sequences in TIME order — the event2seq
    assembly that turns a log table into behavioral-LM training rows
    (string_agg_sorted sorts by value; this sorts by when it happened).
    Determinism under parallelism comes from sorting the collected
    structs by (ts, event_id) before projecting the types, the only way
    a gather aggregate is reproducible on a cluster; the head is capped
    at _SEQ_HEAD events so a hot user cannot blow up the output row
    (real pipelines window the log first — the cap is that contract).

    One shuffle on user_id with a bounded per-user collect; everything
    after the groupBy is per-row array code (no further exchange)."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda x: x["event_type"],
        ).alias("types"),
    )
    return seq.select(
        "user_id",
        "n_events",
        F.concat_ws(">", F.slice("types", 1, _SEQ_HEAD)).alias("seq_head"),
        F.element_at("types", 1).alias("first_type"),
        F.element_at("types", -1).alias("last_type"),
    )


ORACLE_USER_EVENT_SEQUENCES = f"""
WITH l AS (
  SELECT user_id, count(*) AS n_events,
         list(event_type ORDER BY ts, event_id) AS types
  FROM events GROUP BY user_id)
SELECT user_id, n_events,
       array_to_string(types[1:{_SEQ_HEAD}], '>') AS seq_head,
       types[1] AS first_type,
       types[-1] AS last_type
FROM l
"""


def q_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SESSION feature extraction — the row a behavioral model
    trains on: for every 30-min-gap session (identical rule to
    q_sessionize: lag + cumulative sum), its event count, distinct
    types, exact microsecond duration, and a purchase-conversion flag.
    q_sessionize rolls sessions up per user; this emits the session
    feature table itself.

    One shuffle on user_id shared by the lag window, the cumulative
    sum, and the session aggregate (all partition on user_id); duration
    is a bigint microsecond difference, exact in both engines."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # tz-free epoch micros (matches DuckDB epoch_us on any machine —
    # see functions.ntz_diff_us for why unix_micros AND timestampdiff
    # both fail under a non-UTC session)
    ts_us = ntz_epoch_us("ts")
    gapped = events.select(
        "user_id",
        "event_id",
        "event_type",
        ts_us.alias("tus"),
        F.when(
            (ts_us - F.lag(ts_us, 1).over(w)) > 1800 * 1_000_000, 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w2 = Window.partitionBy("user_id").orderBy("tus", "event_id")
    sess = gapped.select(
        "user_id",
        "event_type",
        "tus",
        F.sum("new_session")
        .over(w2.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        (F.max("tus") - F.min("tus")).alias("duration_us"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )


ORACLE_SESSION_FEATURES = """
WITH gapped AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id, event_type, tus,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM gapped)
SELECT user_id, session_id, count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       max(tus) - min(tus) AS duration_us,
       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
FROM sess GROUP BY user_id, session_id
"""


ANALYTIC_QUERIES = [
    QuerySpec(
        "session_features",
        q_session_features,
        ORACLE_SESSION_FEATURES,
    ),
    QuerySpec(
        "user_event_sequences",
        q_user_event_sequences,
        ORACLE_USER_EVENT_SEQUENCES,
    ),
    QuerySpec(
        "item_cooccurrence",
        q_item_cooccurrence,
        ORACLE_ITEM_COOCCURRENCE,
    ),
    QuerySpec(
        "array_set_ops",
        q_array_set_ops,
        ORACLE_ARRAY_SET_OPS,
    ),
    QuerySpec(
        "conditional_aggs",
        q_conditional_aggs,
        ORACLE_CONDITIONAL_AGGS,
    ),
    QuerySpec(
        "window_value_funcs",
        q_window_value_funcs,
        ORACLE_WINDOW_VALUE_FUNCS,
    ),
    QuerySpec(
        "window_rank_stats",
        q_window_rank_stats,
        ORACLE_WINDOW_RANK_STATS,
    ),
    QuerySpec("unpivot", q_unpivot, ORACLE_UNPIVOT),
    QuerySpec("array_funcs", q_array_funcs, ORACLE_ARRAY_FUNCS),
    QuerySpec(
        "higher_order_funcs",
        q_higher_order_funcs,
        ORACLE_HIGHER_ORDER_FUNCS,
    ),
    QuerySpec("map_funcs", q_map_funcs, ORACLE_MAP_FUNCS),
    QuerySpec(
        "window_lag_lead",
        q_window_lag_lead,
        ORACLE_WINDOW_LAG_LEAD,
    ),
    QuerySpec(
        "ntile_buckets", q_ntile_buckets, ORACLE_NTILE_BUCKETS
    ),
    QuerySpec(
        "grouping_sets",
        q_grouping_sets,
        ORACLE_GROUPING_SETS,
    ),
    QuerySpec(
        "event_funnel",
        q_event_funnel,
        ORACLE_EVENT_FUNNEL,
    ),
    QuerySpec(
        "funnel_time_to_convert",
        q_funnel_time_to_convert,
        ORACLE_FUNNEL_TIME_TO_CONVERT,
    ),
    QuerySpec(
        "retention_cohorts",
        q_retention_cohorts,
        ORACLE_RETENTION_COHORTS,
    ),
    QuerySpec(
        "event_transitions",
        q_event_transitions,
        ORACLE_EVENT_TRANSITIONS,
    ),
]


MOTIF_TOP_K = 20


def q_event_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavioral motifs: the most frequent 3-event type
    sequences over consecutive per-user events — the pattern-mining
    pass that surfaces dominant user journeys (view>click>purchase vs
    error>error>error) before anyone trains on the sequences.

    One user_id window shuffle builds the trigrams (two lags), one hash
    aggregate counts them; the global top-k is an orderBy+limit
    (TakeOrdered — never a single-partition sort of the full motif
    table). Ties break on the motif string, so the cut is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        "user_id",
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    ).filter(F.col("t1").isNotNull())
    return (
        tri.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("motif"), "user_id"
        )
        .groupBy("motif")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("motif"))
        .limit(MOTIF_TOP_K)
    )


ORACLE_EVENT_MOTIFS = f"""
WITH tri AS (
  SELECT user_id,
         lag(event_type, 2) OVER w AS t1,
         lag(event_type, 1) OVER w AS t2,
         event_type AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT t1 || '>' || t2 || '>' || t3 AS motif,
       count(*) AS n_occurrences,
       count(DISTINCT user_id) AS n_users
FROM tri WHERE t1 IS NOT NULL
GROUP BY 1
ORDER BY n_occurrences DESC, motif ASC
LIMIT {MOTIF_TOP_K}
"""

ANALYTIC_QUERIES.append(
    QuerySpec(
        "event_motifs",
        q_event_motifs,
        ORACLE_EVENT_MOTIFS,
    )
)


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic activity taxonomy:
    per-customer Recency (days since last order, against the table's own
    horizon), Frequency (order count) and Monetary (decimal-exact spend)
    are quartile-bucketed at their exact 25/50/75 percentiles and rolled
    up per (r,f,m) segment with size and mean spend. The segment table
    is what retention/value-weighted sampling strategies key on.

    Shape: one shuffle builds the per-customer table; the 9 percentile
    edges are ONE 1-row aggregate over it, broadcast back (the
    equidepth_histogram pattern — exact here, approx_percentile at
    100 TB, same plan); bucket assignment is an integer sum of
    comparisons, so ties land identically in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        dsum("o_totalprice", "monetary"),
    )
    horizon = per_cust.agg(F.max("last_order").alias("h"))
    rfm = per_cust.crossJoin(F.broadcast(horizon)).select(
        F.datediff(F.to_date("h"), F.to_date("last_order")).alias("recency_d"),
        "frequency",
        "monetary",
    )
    edges = rfm.agg(
        *[
            F.expr(f"percentile({m}, {q})").alias(f"{m}_e{i}")
            for m in ("recency_d", "frequency", "monetary")
            for i, q in enumerate((0.25, 0.5, 0.75), 1)
        ]
    )
    j = rfm.crossJoin(F.broadcast(edges))

    def bucket(m: str):
        return sum(
            (F.col(m) > F.col(f"{m}_e{i}")).cast("int") for i in (1, 2, 3)
        )

    return (
        j.groupBy(
            bucket("recency_d").alias("r_bucket"),
            bucket("frequency").alias("f_bucket"),
            bucket("monetary").alias("m_bucket"),
        )
        .agg(
            F.count("*").alias("n_customers"),
            davg("monetary", "mean_monetary"),
        )
    )


def _oracle_rfm() -> str:
    edge_cols = ",\n         ".join(
        f"quantile_cont({m}, {q}) AS {m}_e{i}"
        for m in ("recency_d", "frequency", "monetary")
        for i, q in enumerate((0.25, 0.5, 0.75), 1)
    )

    def bucket(m: str) -> str:
        return " + ".join(
            f"CASE WHEN {m} > {m}_e{i} THEN 1 ELSE 0 END" for i in (1, 2, 3)
        )

    return f"""
WITH per_cust AS (
  SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey),
rfm AS (
  SELECT date_diff('day',
                   CAST(last_order AS DATE),
                   (SELECT CAST(max(last_order) AS DATE) FROM per_cust))
           AS recency_d,
         frequency, monetary
  FROM per_cust),
edges AS (SELECT {edge_cols} FROM rfm)
SELECT ({bucket('recency_d')})::INT AS r_bucket,
       ({bucket('frequency')})::INT AS f_bucket,
       ({bucket('monetary')})::INT AS m_bucket,
       count(*) AS n_customers,
       CAST(sum(CAST(monetary AS DECIMAL(38,6))) AS DOUBLE) / count(monetary)
         AS mean_monetary
FROM rfm, edges
GROUP BY 1, 2, 3
"""


ANALYTIC_QUERIES.append(
    QuerySpec(
        "rfm_segmentation",
        q_rfm_segmentation,
        _oracle_rfm(),
    )
)


def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity seasonality: per (event_type, day-of-week), total volume
    and the PEAK hour of day with its count — the baseline matrix that
    anomaly detectors and capacity schedulers compare against (a spike
    is only a spike relative to its own weekday/hour norm).

    Calendar decode is per-row integer arithmetic; the profile aggregate
    collapses to at most types x 7 x 24 cells map-side, so the window
    that picks each cell-group's peak runs over a driver-small table —
    never the corpus. Ties break on the earlier hour, deterministically."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type", "dow").orderBy(
        F.desc("n"), F.asc("hod")
    )
    return (
        cells.withColumn("rnk", F.row_number().over(w))
        .groupBy("event_type", "dow")
        .agg(
            F.sum("n").alias("n_events"),
            F.max(F.when(F.col("rnk") == 1, F.col("hod"))).alias("peak_hour"),
            F.max(F.when(F.col("rnk") == 1, F.col("n"))).alias("peak_n"),
        )
    )


# dayofweek: Spark = 1(Sun)..7(Sat); DuckDB dayofweek = 0(Sun)..6 -> +1
ORACLE_SEASONALITY = """
WITH cells AS (
  SELECT event_type,
         dayofweek(ts) + 1 AS dow,
         CAST(hour(ts) AS INT) AS hod,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, dow
                               ORDER BY n DESC, hod ASC) AS rnk
  FROM cells)
SELECT event_type, dow,
       CAST(sum(n) AS BIGINT) AS n_events,
       max(CASE WHEN rnk = 1 THEN hod END) AS peak_hour,
       max(CASE WHEN rnk = 1 THEN n END) AS peak_n
FROM ranked GROUP BY 1, 2
"""

ANALYTIC_QUERIES.append(
    QuerySpec(
        "seasonality_profile",
        q_seasonality_profile,
        ORACLE_SEASONALITY,
    )
)


PARETO_NUM, PARETO_DEN = 4, 5  # the 80% revenue line


def q_pareto_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: how many top customers produce 80% of
    revenue — the concentration number behind retention priorities and
    skew expectations (a heavy-tailed customer base also predicts
    join-key skew; see join_skew_diagnosis). One row: customer count,
    the smallest top-N reaching the 80% line, and that group's exact
    revenue share.

    Shape: the corpus-sized work is one per-customer decimal aggregate;
    the ranking/running-sum window runs over the CUSTOMER table (orders
    of magnitude smaller — the same small-table window exception as
    temporal_split's day spine). The crossing test is integer-free of
    floats: cum*DEN >= total*NUM on decimal sums; the reported share
    divides two decimal-exact sums whose unscaled values sit far below
    2^53, where both engines' double casts are exact."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev")
    )
    tot = per_cust.agg(
        F.sum("rev").alias("total"), F.count("*").alias("n_customers")
    )
    w = Window.orderBy(F.desc("rev"), F.asc("o_custkey"))
    ranked = per_cust.select(
        "rev",
        F.row_number().over(w).alias("rnk"),
        F.sum("rev").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    ).crossJoin(F.broadcast(tot))
    crossing = ranked.filter(
        F.col("cum") * PARETO_DEN >= F.col("total") * PARETO_NUM
    ).agg(F.min("rnk").alias("n_top_80"))
    at = ranked.join(
        F.broadcast(crossing), F.col("rnk") == F.col("n_top_80")
    )
    return at.select(
        "n_customers",
        "n_top_80",
        (F.col("cum").cast("double") / F.col("total").cast("double")).alias(
            "top_share"
        ),
    )


ORACLE_PARETO = f"""
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
  FROM orders GROUP BY o_custkey),
tot AS (SELECT sum(rev) AS total, count(*) AS n_customers FROM per_cust),
ranked AS (
  SELECT rev,
         row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS rnk,
         sum(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM per_cust),
crossing AS (
  SELECT min(rnk) AS n_top_80 FROM ranked, tot
  WHERE cum * {PARETO_DEN} >= total * {PARETO_NUM})
SELECT t.n_customers, c.n_top_80,
       CAST(r.cum AS DOUBLE) / CAST(t.total AS DOUBLE) AS top_share
FROM ranked r, tot t, crossing c
WHERE r.rnk = c.n_top_80
"""

ANALYTIC_QUERIES.append(
    QuerySpec(
        "pareto_report",
        q_pareto_report,
        ORACLE_PARETO,
    )
)
