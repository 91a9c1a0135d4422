"""[EXT] Materialized-view maintenance: incremental aggregate merge.

No reference counterpart (SURVEY §2.11). At 100 TB you do not recompute
a corpus-wide aggregate because one day of data arrived — you maintain
it incrementally: keep the materialized partial state, aggregate only
the delta, and MERGE the two with the aggregate's combine algebra
(count+count, sum+sum; avg/stddev via their moment sums). This is the
batch form of what Structured Streaming's stateful aggregation does
per-microbatch, and the core of every lakehouse MV feature.

The merge is a full-outer join on the group keys with coalesce-to-zero —
the partial tables are aggregate-sized (small relative to facts), so at
scale this join is cheap and can be co-partitioned/bucketed on the group
keys to avoid any wide shuffle of the big state table.

Correctness pin: merged(base ⊎ delta) must equal a full recompute over
base ∪ delta — which is exactly what the oracle computes, so the oracle
checks the maintenance algebra itself, not just the arithmetic.

Sums stay DECIMAL through both phases (exact associativity — double
sums are order-dependent and would make base+delta differ from the
recompute in the last ulp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

_DEC = "decimal(38,6)"
# deterministic base/delta split: every 10th event is "newly arrived"
_DELTA_MOD = 10


def q_mv_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a per-(user, day) event aggregate incrementally: the
    standing view covers events with event_id % 10 != 0; the delta batch
    is the remaining tenth; output is the merged view."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.to_date(F.col("ts")).alias("day"),
        F.col("value").cast(_DEC).alias("v"),
    )

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "day").agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        )

    base = agg(ev.filter(F.col("event_id") % _DELTA_MOD != 0))
    delta = agg(ev.filter(F.col("event_id") % _DELTA_MOD == 0))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(
        d,
        (F.col("b.user_id") == F.col("d.user_id"))
        & (F.col("b.day") == F.col("d.day")),
        "full",
    )
    zero = F.lit(0).cast(_DEC)
    return merged.select(
        F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
        F.coalesce(F.col("b.day"), F.col("d.day")).alias("day"),
        (
            F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("b.s"), zero) + F.coalesce(F.col("d.s"), zero)
        )
        .cast("double")
        .alias("sum_value"),
    )


# The oracle recomputes from scratch — passing means the incremental
# merge algebra reproduces the full aggregate exactly.
ORACLE_MV_INCREMENTAL_AGG = f"""
SELECT user_id,
       CAST(ts AS DATE) AS day,
       count(*) AS n_events,
       CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id, CAST(ts AS DATE)
"""


MV_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "mv_incremental_agg",
        q_mv_incremental_agg,
        ORACLE_MV_INCREMENTAL_AGG,
    ),
]


# deterministic delta split for the JOIN view: every 13th order and
# every 17th customer are "newly arrived"
_JOIN_DELTA_O, _JOIN_DELTA_C = 13, 17


def q_mv_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the other half of the
    IVM algebra: with base tables (A, B) and arriving deltas (dA, dB),
    the new view rows are exactly dA⋈B ∪ A⋈dB ∪ dA⋈dB (three joins over
    the DELTAS, never recomputing A⋈B). The output merges the standing
    view with those delta rows and aggregates, and the oracle recomputes
    the full join over (A∪dA)⋈(B∪dB) — so the check pins the delta
    algebra itself: a missing or double-counted term hash-mismatches.

    At 100 TB the three delta joins touch |delta|-proportional data
    (with B/A sides pruned by the join keys present in the deltas);
    co-partitioning the base tables on the join key makes them
    shuffle-free. The sums stay decimal so base+delta merges are exactly
    associative."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast(_DEC).alias("p")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    a = orders.filter(F.col("o_orderkey") % _JOIN_DELTA_O != 0)
    da = orders.filter(F.col("o_orderkey") % _JOIN_DELTA_O == 0)
    b = cust.filter(F.col("c_custkey") % _JOIN_DELTA_C != 0)
    db = cust.filter(F.col("c_custkey") % _JOIN_DELTA_C == 0)

    def j(left: DataFrame, right: DataFrame) -> DataFrame:
        return left.join(
            right, left.o_custkey == right.c_custkey
        ).select("c_mktsegment", "p")

    view = j(a, b)  # the standing materialized view
    delta_rows = j(da, b).unionAll(j(a, db)).unionAll(j(da, db))
    return (
        view.unionAll(delta_rows)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("p").cast("double").alias("sum_price"),
        )
    )


ORACLE_MV_INCREMENTAL_JOIN = """
SELECT c_mktsegment, count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

MV_QUERIES.append(
    QuerySpec(
        "mv_incremental_join",
        q_mv_incremental_join,
        ORACLE_MV_INCREMENTAL_JOIN,
    )
)
