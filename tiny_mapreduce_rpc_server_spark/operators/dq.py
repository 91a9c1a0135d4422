"""[EXT] Declarative data-quality audit: constraint + referential checks.

No reference counterpart (SURVEY §2.11). The dbt-test / Great
Expectations analog: a fixed suite of declared invariants evaluated in
one pass each, reported as (constraint, rows checked, violations) —
the table a pipeline publishes before promoting a snapshot.

Shapes: column constraints are scan + count-filter aggregates (one scan
per table, partial map-side); referential checks are LEFT ANTI joins —
at 100 TB the parent key side broadcasts when it fits, else it's one
hash equi-join; nothing here is ever quadratic. Violation counts are
BIGINT in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec


def q_dq_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the declared invariant suite; one output row per
    check. A healthy corpus reports zero violations everywhere —
    which is itself the assertion, since a violation count is data, not
    an exception."""
    docs = load_table(spark, sf_dir, "documents")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def check(name: str, df: DataFrame, bad) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").alias("n_checked"),
            F.count(F.when(bad, 1)).alias("n_violations"),
        )

    c1 = check(
        "documents.n_chars_matches_text",
        docs,
        F.col("n_chars") != F.length("text"),
    )
    c2 = check("lineitem.quantity_positive", li, ~(F.col("l_quantity") > 0))
    c3 = check(
        "orders.totalprice_positive", orders, ~(F.col("o_totalprice") > 0)
    )
    orphan_orders = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_anti"
    )
    c4 = orders.agg(
        F.lit("orders.custkey_references_customer").alias("check_name"),
        F.count("*").alias("n_checked"),
    ).crossJoin(orphan_orders.agg(F.count("*").alias("n_violations")))
    orphan_items = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey",
        "left_anti",
    )
    c5 = li.agg(
        F.lit("lineitem.orderkey_references_orders").alias("check_name"),
        F.count("*").alias("n_checked"),
    ).crossJoin(orphan_items.agg(F.count("*").alias("n_violations")))
    return (
        c1.unionByName(c2)
        .unionByName(c3)
        .unionByName(c4)
        .unionByName(c5)
        .orderBy("check_name")
    )


ORACLE_DQ_CONSTRAINT_CHECK = """
SELECT 'documents.n_chars_matches_text' AS check_name,
       count(*) AS n_checked,
       count(*) FILTER (WHERE n_chars <> length(text)) AS n_violations
FROM documents
UNION ALL
SELECT 'lineitem.quantity_positive', count(*),
       count(*) FILTER (WHERE NOT (l_quantity > 0))
FROM lineitem
UNION ALL
SELECT 'orders.totalprice_positive', count(*),
       count(*) FILTER (WHERE NOT (o_totalprice > 0))
FROM orders
UNION ALL
SELECT 'orders.custkey_references_customer',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem.orderkey_references_orders',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
ORDER BY check_name
"""


_FRESHNESS_TABLES = (
    ("events", "ts"),
    ("orders", "o_orderdate"),
    ("lineitem", "l_shipdate"),
)


def q_dq_freshness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit: per time-bearing table, the newest record
    day, the table's row count, and how many rows landed in the trailing
    7 days relative to that table's own horizon — the staleness signal a
    pipeline checks before every training run (a stuck ingest shows up
    as a stale max day or an empty trailing window).

    One single-pass aggregate per table (min/max push into the parquet
    footer statistics at scale); the trailing-window count rides the
    same scan via a conditional aggregate against the max computed in a
    1-row broadcast."""
    parts = []
    for t, col in _FRESHNESS_TABLES:
        df = load_table(spark, sf_dir, t).select(
            F.to_date(F.col(col)).alias("day")
        )
        mx = df.agg(F.max("day").alias("max_day"))
        j = df.crossJoin(F.broadcast(mx))
        parts.append(
            j.agg(
                F.lit(t).alias("table_name"),
                F.min("day").alias("oldest_day"),
                F.min("max_day").alias("newest_day"),
                F.count("*").alias("n_rows"),
                F.count(
                    F.when(F.datediff(F.col("max_day"), F.col("day")) < 7, 1)
                ).alias("n_last_7d"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.orderBy("table_name")


ORACLE_DQ_FRESHNESS = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name,
       min(CAST({col} AS DATE)) AS oldest_day,
       max(CAST({col} AS DATE)) AS newest_day,
       count(*) AS n_rows,
       count(CASE WHEN date_diff('day', CAST({col} AS DATE),
                    (SELECT max(CAST({col} AS DATE)) FROM {t})) < 7
             THEN 1 END) AS n_last_7d
FROM {t}"""
    for t, col in _FRESHNESS_TABLES
) + "\nORDER BY table_name"


# k-anonymity threshold: a quasi-identifier group smaller than this is a
# re-identification risk
K_ANON = 5


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer table: group by the
    quasi-identifier tuple (nation, market segment, account-balance
    thousand-bucket) and report how much of the table lives in groups
    smaller than k=K_ANON — the privacy gate a training-data release
    runs BEFORE publishing, complementing q_pii_redact's content scrub
    (structured re-identification risk vs in-text identifiers).

    Shape: one hash aggregate over the quasi-identifier key (partial
    map-side), then a 4-field summary over the GROUP table — group
    cardinality, orders of magnitude below the row count, so the second
    aggregate is driver-trivial at any scale. Bucketing the continuous
    column is what makes k-anonymity well-defined; floor-division is
    integer-exact in both engines."""
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).alias("bal_k"),
    ).agg(F.count("*").alias("gsize"))
    below = F.col("gsize") < K_ANON
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.count(F.when(below, 1)).alias("n_groups_below_k"),
        F.sum(F.when(below, F.col("gsize")).otherwise(F.lit(0))).alias(
            "n_rows_at_risk"
        ),
        F.sum("gsize").alias("n_rows_total"),
        F.min("gsize").alias("min_group_size"),
    )


ORACLE_K_ANONYMITY = f"""
WITH g AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
         count(*) AS gsize
  FROM customer GROUP BY 1, 2, 3)
SELECT count(*) AS n_groups,
       count(CASE WHEN gsize < {K_ANON} THEN 1 END) AS n_groups_below_k,
       CAST(sum(CASE WHEN gsize < {K_ANON} THEN gsize ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(sum(gsize) AS BIGINT) AS n_rows_total,
       min(gsize) AS min_group_size
FROM g
"""


DQ_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "k_anonymity_audit",
        q_k_anonymity_audit,
        ORACLE_K_ANONYMITY,
    ),
    QuerySpec(
        "dq_freshness_check",
        q_dq_freshness_check,
        ORACLE_DQ_FRESHNESS,
    ),
    QuerySpec(
        "dq_constraint_check",
        q_dq_constraint_check,
        ORACLE_DQ_CONSTRAINT_CHECK,
    ),
]


# deterministic pseudonymization pepper — versioned so a rotation is an
# explicit, auditable change
PSEUDO_PEPPER = "tmrs-pepper-v1"


def q_pseudonymize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key pseudonymization — the governance transform a
    training-data release applies to direct identifiers: user_id becomes
    md5(pepper || id), which (a) removes the raw key, (b) keeps
    referential integrity (equal ids map to equal pseudonyms, so joins
    and per-user aggregation still work), and (c) is reproducible across
    engines and runs. The per-pseudonym activity rollup IS the proof:
    its row count equals the distinct-user count (no collisions) and its
    per-row stats equal the per-user stats under the mapping.

    Pure per-row hash projection (no shuffle for the transform) + one
    partial-aggregated rollup. A real release would keep the pepper in a
    secrets store; the versioned literal stands in for that here."""
    ev = load_table(spark, sf_dir, "events")
    pseud = F.md5(
        F.concat(F.lit(PSEUDO_PEPPER), F.col("user_id").cast("string"))
    )
    return ev.select(pseud.alias("user_pseudonym"), "event_type").groupBy(
        "user_pseudonym"
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )


ORACLE_PSEUDONYMIZE = f"""
SELECT md5('{PSEUDO_PEPPER}' || CAST(user_id AS VARCHAR)) AS user_pseudonym,
       count(*) AS n_events,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY 1
"""

DQ_QUERIES.append(
    QuerySpec(
        "pseudonymize_keys",
        q_pseudonymize_keys,
        ORACLE_PSEUDONYMIZE,
    )
)


# 16-byte demo key — a real deployment injects this from a KMS; the
# point here is the engine surface (column-level AES), not key custody
_AES_KEY = "tmrs-aes-key-16b"


def q_aes_column_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface: customer names are AES-GCM
    encrypted (Spark built-in ``aes_encrypt``, random IV per value — so
    ciphertexts never repeat even for equal plaintexts), then decrypted
    and aggregated; the aggregate must equal the plain-table oracle,
    proving the roundtrip is lossless. The report also proves the
    ciphertext is real: its length exceeds the plaintext (IV + tag
    overhead) and decrypting with the right key restores every byte.

    Per-row cipher work only (no shuffle until the rollup); at 100 TB
    this is how a lake keeps a sensitive column encrypted at rest while
    remaining queryable by keyholders."""
    cust = load_table(spark, sf_dir, "customer")
    enc = cust.select(
        "c_mktsegment",
        F.col("c_name").alias("plain"),
        F.expr(f"aes_encrypt(c_name, '{_AES_KEY}')").alias("ct"),
    )
    dec = enc.select(
        "c_mktsegment",
        "plain",
        F.length("ct").alias("ct_len"),
        F.expr(f"CAST(aes_decrypt(ct, '{_AES_KEY}') AS STRING)").alias("rt"),
    )
    return dec.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("rt") == F.col("plain"), 1)).alias("n_roundtrip_ok"),
        F.count(
            F.when(F.col("ct_len") > F.length("plain"), 1)
        ).alias("n_ct_longer"),
        F.min("rt").alias("min_name"),
        F.max("rt").alias("max_name"),
    )


ORACLE_AES_ROUNDTRIP = """
SELECT c_mktsegment, count(*) AS n,
       count(*) AS n_roundtrip_ok,
       count(*) AS n_ct_longer,
       min(c_name) AS min_name,
       max(c_name) AS max_name
FROM customer GROUP BY c_mktsegment
"""

DQ_QUERIES.append(
    QuerySpec(
        "aes_column_roundtrip",
        q_aes_column_roundtrip,
        ORACLE_AES_ROUNDTRIP,
    )
)


# ---------------------------------------------------------------------------
# single-pass DQ metrics via df.observe() — monitors without a second scan
# ---------------------------------------------------------------------------


def q_dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ monitoring the way a production pipeline actually does it:
    ``df.observe()`` + ``Observation`` attach exact metric aggregates
    to the SAME job that lands the data (here a noop-sink write over
    the cleaned projection), so quality counters cost zero extra scans
    — at 100 TB a separate metrics pass doubles the read bill; this is
    the API that removes it.

    Metrics: row count, violations of two invariants (quantity > 0,
    0 <= discount <= 0.1 — both zero on this corpus, and PROVING zero
    is the point of a monitor), a threshold counter (discount >= 0.05,
    non-zero), a decimal-exact revenue sum, and the shipdate range.
    The observed values come back as one driver-side row (bounded by
    construction) re-emitted as the result DataFrame; the oracle
    recomputes every metric from SQL, so the value-hash proves the
    observation saw exactly what a full aggregate sees.

    No reference counterpart (SURVEY §2.11 — [EXT])."""
    from decimal import Decimal

    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("n_bad_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0)
        ).alias("n_bad_discount"),
        F.sum(F.when(F.col("l_discount") >= 0.05, 1).otherwise(0)).alias(
            "n_high_discount"
        ),
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("sum_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )
    # the "pipeline": land the cleaned rows; the noop sink executes the
    # full plan distributed with zero output cost
    observed.filter(F.col("l_quantity") > 0).write.format("noop").mode(
        "overwrite"
    ).save()
    m = obs.get
    row = (
        int(m["n_rows"]),
        int(m["n_bad_qty"]),
        int(m["n_bad_discount"]),
        int(m["n_high_discount"]),
        float(Decimal(m["sum_price"])),
        m["min_ship"],
        m["max_ship"],
    )
    return spark.createDataFrame(
        [row],
        "n_rows long, n_bad_qty long, n_bad_discount long, "
        "n_high_discount long, sum_price double, min_ship date, max_ship date",
    )


ORACLE_DQ_OBSERVE = """
SELECT count(*) AS n_rows,
       sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT AS n_bad_qty,
       sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)::BIGINT
         AS n_bad_discount,
       sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)::BIGINT
         AS n_high_discount,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
       CAST(min(l_shipdate) AS DATE) AS min_ship,
       CAST(max(l_shipdate) AS DATE) AS max_ship
FROM lineitem
"""

DQ_QUERIES.append(
    QuerySpec(
        "dq_observe_metrics",
        q_dq_observe_metrics,
        ORACLE_DQ_OBSERVE,
    )
)
