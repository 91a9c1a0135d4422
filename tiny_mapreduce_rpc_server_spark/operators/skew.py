"""Skew-resistant aggregation: explicit two-phase (salted) group-by.

At 100 TB a handful of hot keys (one user producing 1% of all events)
turn a single-shuffle group-by into a straggler stage: every row of the
hot key lands on one reducer. AQE's skew handling only splits *join*
partitions; for aggregations the classic fix is salting — group by
(key, salt) first so the hot key's rows spread over S reducers, then
re-aggregate the S partial rows per key.

The salt here is ``event_id % S`` — deterministic (reproducible plans,
oracle-checkable) and uniform (event_id is a dense sequence). Partial
sums stay DECIMAL through both phases, so the two-phase result is
bit-identical to the single-phase one — associativity is exact, unlike
double-precision sums.

This is also exactly the reference's shuffle story generalized: its
StringPartitioner (``StringPartitioner.h:11-27``) hashes the raw key to
pick 1 of 5 reducers, with no answer for a hot key; salting is the
scale-correct extension of that same hash-routing idea.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

_SALTS = 16
_DEC = "decimal(38,6)"


def salted_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event count and exact value sum via salted two-phase
    aggregation. Phase 1 shuffles on (user_id, salt) — hot users spread
    over 16 partitions; phase 2 shuffles only the tiny partial table.
    Result is identical to a direct group-by (the oracle does it the
    plain way)."""
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.col("event_id") % _SALTS)
        .groupBy("user_id", "salt")
        .agg(
            F.count("*").alias("pc"),
            F.sum(F.col("value").cast(_DEC)).alias("pv"),
        )
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("pc").alias("n_events"),
            F.sum("pv").cast("double").alias("sum_value"),
        )
        .orderBy("user_id")
    )


ORACLE_SALTED = f"""
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant JOIN via salt replication: the fact side gets a
    deterministic salt in [0, S); the dim side is replicated S ways
    (explode over the salt range); the join key becomes (key, salt), so a
    hot key's fact rows spread over S reducers instead of one.

    Every fact row still matches exactly one replica of its dim row, so
    the result is identical to the plain join — which is what the oracle
    computes. ``SHUFFLE_HASH`` is hinted so the query exercises the
    shuffle-join path the pattern exists for (a broadcast of this dim
    would bypass the skew problem entirely — and broadcasting IS the
    first-choice fix when the dim fits; salting is for when it doesn't).

    AQE's skew-join split solves this at runtime for static batch plans;
    the manual pattern remains necessary for stream-static joins and for
    engines/stages where AQE statistics are unavailable. Cost: dim scan
    amplification xS (16 here), fact-side +4 bytes per row.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    fact = ev.select(
        "user_id",
        F.col("value").cast(_DEC).alias("v"),
        (F.col("event_id") % _SALTS).alias("salt"),
    )
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(_SALTS - 1))).alias("salt"),
    )
    # the HINTED side becomes the hash BUILD side — it must be the small
    # replicated dim, never the fact (a fact-side build grows with the
    # fact table and OOMs exactly where skew bites)
    joined = fact.join(
        dim.hint("SHUFFLE_HASH"),
        (F.col("user_id") == F.col("c_custkey"))
        & (fact["salt"] == dim["salt"]),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v").cast("double").alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_SKEW_JOIN_SALTED = f"""
SELECT c.c_mktsegment,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS {_DEC})) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


SKEW_QUERIES: list[QuerySpec] = [
    QuerySpec("salted_user_stats", salted_user_stats, ORACLE_SALTED),
    QuerySpec("skew_join_salted", q_skew_join_salted, ORACLE_SKEW_JOIN_SALTED),
]


SKEW_TOP_K = 10


def q_join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew advisory for the events-by-user workload: the
    top-10 hottest join keys with their exact row share (integer-ratio
    double) and, on every row, the global imbalance factor max/avg —
    the number that decides whether a planned join needs salting
    (operators in this module) or AQE skew handling before it runs at
    100 TB. Run this against the BIG side's key before shipping a join.

    One hash aggregate over the key (partial map-side); the top-k cut
    is TakeOrdered; the two scalars (total rows, max key count) ride a
    1-row broadcast — the corpus is scanned once and never sorted."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    stats = per_key.agg(
        F.sum("n").alias("total"),
        F.max("n").alias("max_n"),
        F.count("*").alias("n_keys"),
    )
    top = (
        per_key.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(SKEW_TOP_K)
        .crossJoin(F.broadcast(stats))
    )
    return top.select(
        "user_id",
        "n",
        (F.col("n") / F.col("total")).alias("row_share"),
        (
            F.col("max_n") * F.col("n_keys") / F.col("total")
        ).alias("imbalance_factor"),
    )


ORACLE_JOIN_SKEW = f"""
WITH per_key AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
stats AS (SELECT CAST(sum(n) AS BIGINT) AS total, max(n) AS max_n,
                 count(*) AS n_keys FROM per_key)
SELECT user_id, n,
       n / total AS row_share,
       max_n * n_keys / total AS imbalance_factor
FROM per_key, stats
ORDER BY n DESC, user_id ASC
LIMIT {SKEW_TOP_K}
"""

SKEW_QUERIES.append(
    QuerySpec(
        "join_skew_diagnosis",
        q_join_skew_diagnosis,
        ORACLE_JOIN_SKEW,
    )
)
