"""Temporal operators: as-of join, range (band) join, time-bucket rollup.

The reference has no time-series operators at all (SURVEY §2.11 — no
joins, no windows, no timestamps), so these are part of the relational
completion: the three temporal shapes a warehouse/hypertable engine is
expected to provide, built from DataFrame primitives only.

Scale notes:
- The as-of join is the union-merge formulation: tag both inputs, union,
  one window sorted by (key, ts) carrying the last-seen right-side row
  forward. ONE shuffle on the join key, no range-explosion, no per-row
  probe — this is the formulation that survives 100 TB (a naive
  inequality join explodes to |L|x|R| per key). Per-key skew (one user
  with millions of events) is the only hazard; mitigate by time-slicing
  the window key when needed.
- The band join broadcasts the (tiny) band table: a broadcast
  nested-loop join with a range predicate, which Spark evaluates without
  any shuffle of the fact side.
- The time-bucket rollup computes multiple granularities in one pass via
  ROLLUP grouping sets — partial aggregation happens map-side for every
  granularity simultaneously, one shuffle total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import dsum, ntz_diff_us, ntz_epoch_s
from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

# ---------------------------------------------------------------------------
# As-of join: each event matched to the user's most recent order at event time
# ---------------------------------------------------------------------------


def _orders_and_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The union-merge as-of input: orders (tag 0, okey set) and events
    (tag 1, event_id set) as one (uid, ts, tag, okey, event_id) frame."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("tag"),
        F.col("o_orderkey").alias("okey"),
        F.lit(None).cast("bigint").alias("event_id"),
    )
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.col("ts"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("okey"),
        F.col("event_id"),
    )
    return orders.unionByName(events)


def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event, the most recent order (o_orderdate <= event ts)
    of the same user, ties broken by max orderkey.

    Union-merge as-of: orders sort before events at equal timestamps
    (tag 0 < 1) so an order placed exactly at the event time matches;
    ``last(..., ignorenulls)`` over the running window carries the
    latest order's date/key forward to each event row."""
    w = (
        Window.partitionBy("uid")
        .orderBy("ts", "tag", "okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = _orders_and_events(spark, sf_dir).select(
        "uid",
        "ts",
        "tag",
        "event_id",
        F.last("okey", ignorenulls=True).over(w).alias("last_order_key"),
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_order_date"),
    )
    return merged.filter(F.col("tag") == 1).select(
        "event_id",
        F.col("uid").alias("user_id"),
        "ts",
        "last_order_date",
        "last_order_key",
    )


# ANSI formulation: the arg-max is expressed as max-date then max-key at
# that date (two grouped left joins) — identical tie-breaking semantics.
ORACLE_ASOF = """
WITH lod AS (
  SELECT e.event_id, e.user_id, e.ts, max(o.o_orderdate) AS last_order_date
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
  GROUP BY e.event_id, e.user_id, e.ts)
SELECT l.event_id, l.user_id, l.ts, l.last_order_date,
       max(o.o_orderkey) AS last_order_key
FROM lod l
LEFT JOIN orders o
  ON o.o_custkey = l.user_id AND o.o_orderdate = l.last_order_date
GROUP BY l.event_id, l.user_id, l.ts, l.last_order_date
"""


# One week per slice: the slice key bounds window-partition size by
# TIME RANGE instead of per-user event count, which is the as-of
# family's documented skew hazard (module docstring). At 100 TB a
# deployment sizes this to its hottest key's event rate.
ASOF_SLICE_SECONDS = 7 * 24 * 3600


def asof_join_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-guarded as-of join (round-11 verdict #7): identical results
    to ``asof_join_last_order``, but every window is partitioned by
    (uid, time-slice) so one hot user with millions of events can no
    longer pin a single window partition.

    Three bounded stages replace the one per-uid running window:

    1. *Within-slice carry* — the same union-merge running ``last`` but
       partitioned by (uid, slice): partitions are bounded by events
       per key per ASOF_SLICE_SECONDS, not per key overall.
    2. *Carry table* — per (uid, slice) present in the union, the
       latest order of each slice (max of a (ts, okey) struct — the
       same date-then-key tie-break as the plain formulation), then a
       per-uid running max over SLICES ENDING BEFORE the current one.
       This window is per-uid, but its partition holds one row per
       slice (time-range-bounded), never one per event.
    3. *Stitch* — coalesce(within-slice value, carry-in): any
       within-slice order is strictly later than every prior-slice
       order, so coalesce preserves the exact as-of semantics.

    Cross-slice ties are impossible (equal timestamps share a slice),
    so the tag-ordering tie rule lives entirely inside stage 1. The
    registered oracle is ORACLE_ASOF itself — the equivalence is the
    contract, and tests/test_plans pins the (uid, slice) partitioning
    so the guard cannot silently regress to the skew-prone shape."""
    slice_col = F.floor(ntz_epoch_s(F.col("ts")) / F.lit(ASOF_SLICE_SECONDS))
    merged = _orders_and_events(spark, sf_dir).withColumn("slice", slice_col)

    w_in = (
        Window.partitionBy("uid", "slice")
        .orderBy("ts", "tag", "okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = merged.select(
        "uid",
        "slice",
        "ts",
        "tag",
        "event_id",
        F.last("okey", ignorenulls=True).over(w_in).alias("in_okey"),
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w_in)
        .alias("in_odate"),
    )

    # carry table: one row per (uid, slice) in the union — per-slice
    # latest order (lexicographic struct max = max ts, then max okey),
    # then the running max over all STRICTLY EARLIER slices
    slices = merged.select("uid", "slice").distinct()
    per_slice = (
        merged.filter(F.col("tag") == 0)
        .groupBy("uid", "slice")
        .agg(F.max(F.struct("ts", "okey")).alias("slice_last"))
    )
    w_carry = (
        Window.partitionBy("uid")
        .orderBy("slice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = slices.join(per_slice, ["uid", "slice"], "left").select(
        "uid",
        "slice",
        F.max("slice_last").over(w_carry).alias("carry_in"),
    )

    stitched = within.filter(F.col("tag") == 1).join(
        carry, ["uid", "slice"]
    )
    return stitched.select(
        "event_id",
        F.col("uid").alias("user_id"),
        "ts",
        F.coalesce(F.col("in_odate"), F.col("carry_in.ts")).alias(
            "last_order_date"
        ),
        F.coalesce(F.col("in_okey"), F.col("carry_in.okey")).alias(
            "last_order_key"
        ),
    )


# ---------------------------------------------------------------------------
# Range (band) join: fact values bucketed by a small interval table
# ---------------------------------------------------------------------------

_BANDS = [
    ("qty_01_10", 1.0, 11.0),
    ("qty_11_20", 11.0, 21.0),
    ("qty_21_30", 21.0, 31.0),
    ("qty_31_40", 31.0, 41.0),
    ("qty_41_50", 41.0, 51.0),
]


def range_join_quantity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per quantity band via an interval join: lineitem.l_quantity
    joined into [lo, hi) bands. The band table is 5 rows — broadcast
    nested-loop, zero shuffle on the fact side; the aggregate then
    shuffles 5 groups."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        li.join(
            F.broadcast(bands),
            (li.l_quantity >= bands.lo) & (li.l_quantity < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("band")
    )


_BAND_VALUES = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)

ORACLE_RANGE_JOIN = f"""
SELECT band, count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN (VALUES {_BAND_VALUES}) AS bands(band, lo, hi)
  ON l_quantity >= lo AND l_quantity < hi
GROUP BY band
ORDER BY band
"""


# ---------------------------------------------------------------------------
# Time-bucket rollup: hypertable-style multi-granularity aggregate
# ---------------------------------------------------------------------------


def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event stats at day and day+hour granularity in ONE aggregation
    pass (ROLLUP grouping sets; the all-null grand-total row is dropped).
    This is the continuous-aggregate/hypertable rollup pattern: coarser
    buckets come from the same shuffle as the finer ones, so adding a
    granularity costs no extra scan."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket_day", F.date_trunc("day", F.col("ts")))
        .withColumn("bucket_hour", F.date_trunc("hour", F.col("ts")))
        .rollup("bucket_day", "bucket_hour")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .filter(F.col("bucket_day").isNotNull())
    )


ORACLE_TIME_BUCKET = """
SELECT * FROM (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_day,
         date_trunc('hour', ts) AS bucket_hour,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
         count(DISTINCT user_id) AS n_users
  FROM events
  GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
) WHERE bucket_day IS NOT NULL
"""


def q_changelog_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (CDC upsert / SCD latest-wins): treat events
    as a change feed and keep the latest row per (user_id, event_type),
    ordered by ts with event_id as the deterministic tiebreak.

    One shuffle on the key, per-partition sort, row_number filter — the
    same shape Delta/Iceberg MERGE compaction runs. At 100 TB the key
    space partitions evenly (user_id is high-cardinality); no global
    sort anywhere."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "event_id", "value")
    )


ORACLE_CHANGELOG_UPSERT = """
SELECT user_id, event_type, ts, event_id, value
FROM (
  SELECT user_id, event_type, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: every change event becomes a versioned
    row with a validity interval [valid_from, valid_to) and a
    current-row flag — the warehouse pattern for tracking dimension
    history (q_changelog_upsert is the Type-1 latest-wins counterpart).
    One shuffle on the key; lead() closes each interval with the next
    change's timestamp, NULL meaning still current."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return events.select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "value",
    )


ORACLE_SCD2_HISTORY = """
SELECT user_id, event_type, event_id,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current,
       value
FROM events
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
"""


def q_rolling_window_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: each order's trailing-7-day spend for the
    same customer (RANGE BETWEEN 7 DAYS PRECEDING, not ROWS — the frame
    is defined by event time, so gaps and bursts are handled correctly).

    Spark range frames need a numeric ordering column: order by tz-free
    naive epoch seconds (ntz_epoch_s — unix_timestamp would route the
    NTZ value through the session timezone, shifting frame membership
    across DST transitions under a non-UTC driver session) with a
    [-604800, 0] range — identical membership to DuckDB's INTERVAL
    7 DAYS PRECEDING on the naive timestamp. Partitioned by customer
    => distributed; decimal frame sums => order-independent."""
    orders = load_table(spark, sf_dir, "orders")
    secs = ntz_epoch_s("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(secs)
        .rangeBetween(-7 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("spend_7d"),
        F.count("*").over(w).alias("n_orders_7d"),
    )


ORACLE_ROLLING_WINDOW_7D = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE)
         AS spend_7d,
       count(*) OVER w AS n_orders_7d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
"""


def q_merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE INTO semantics (Delta/Iceberg-style) without a table
    format: a target state table and a change-feed source are merged
    with all three action arms — WHEN MATCHED AND <cond> THEN DELETE,
    WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT.

    Target = latest row per (user_id, event_type) over 4/5 of events;
    source = latest change per key over the remaining fifth; a source
    value < 5 is a tombstone (DELETE). Implemented as ONE full-outer
    join on the merge key plus row-level CASE arms — exactly the
    physical plan a lakehouse MERGE compiles to when the touched-file
    rewrite is whole-table. At 100 TB the real optimization is join
    pruning (only files containing source keys are rewritten — the DPP
    and bucketing machinery demonstrated elsewhere in this module's
    family); the row-level algebra is this query's contract.

    q_changelog_upsert is the latest-wins special case; this adds the
    conditional-delete and explicit insert/update arms.
    """
    ev = load_table(spark, sf_dir, "events")

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "ts", "event_id", "value")
        )

    target = latest(ev.filter(F.col("event_id") % 5 != 0)).alias("t")
    source = latest(ev.filter(F.col("event_id") % 5 == 0)).alias("s")
    m = target.join(
        source,
        (F.col("t.user_id") == F.col("s.user_id"))
        & (F.col("t.event_type") == F.col("s.event_type")),
        "full",
    )
    s_present = F.col("s.event_id").isNotNull()
    tombstone = s_present & (F.col("s.value") < 5)
    pick = lambda c: F.when(s_present, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))  # noqa: E731
    return m.filter(~tombstone).select(
        F.coalesce(F.col("t.user_id"), F.col("s.user_id")).alias("user_id"),
        F.coalesce(F.col("t.event_type"), F.col("s.event_type")).alias(
            "event_type"
        ),
        pick("ts").alias("ts"),
        pick("event_id").alias("event_id"),
        pick("value").alias("value"),
    )


ORACLE_MERGE_INTO_UPSERT = """
WITH latest_t AS (
  SELECT user_id, event_type, ts, event_id, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id % 5 <> 0) WHERE rn = 1),
latest_s AS (
  SELECT user_id, event_type, ts, event_id, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id % 5 = 0) WHERE rn = 1)
SELECT COALESCE(t.user_id, s.user_id) AS user_id,
       COALESCE(t.event_type, s.event_type) AS event_type,
       CASE WHEN s.event_id IS NOT NULL THEN s.ts ELSE t.ts END AS ts,
       CASE WHEN s.event_id IS NOT NULL THEN s.event_id ELSE t.event_id END
         AS event_id,
       CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value
FROM latest_t t
FULL JOIN latest_s s
  ON t.user_id = s.user_id AND t.event_type = s.event_type
WHERE NOT (s.event_id IS NOT NULL AND s.value < 5)
"""


def asof_join_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for every event, the next order (o_orderdate >=
    event ts) of the same user, ties broken by MIN orderkey — the mirror
    of asof_join_last_order's backward direction, same union-merge
    shape: one shuffle, no range join, no per-key loop.

    At equal timestamps events sort BEFORE orders (tag descending) so an
    order placed exactly at the event time is inside the forward frame;
    ``first(..., ignorenulls)`` over (current row, unbounded following)
    picks the earliest qualifying order, min-key at that date.
    """
    w = (
        Window.partitionBy("uid")
        .orderBy(F.asc("ts"), F.desc("tag"), F.asc("okey"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = _orders_and_events(spark, sf_dir).select(
        "uid",
        "ts",
        "tag",
        "event_id",
        F.first("okey", ignorenulls=True).over(w).alias("next_order_key"),
        F.first(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("next_order_date"),
    )
    return merged.filter(F.col("tag") == 1).select(
        "event_id",
        F.col("uid").alias("user_id"),
        "ts",
        "next_order_date",
        "next_order_key",
    )


ORACLE_ASOF_NEXT = """
WITH nod AS (
  SELECT e.event_id, e.user_id, e.ts, min(o.o_orderdate) AS next_order_date
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
  GROUP BY e.event_id, e.user_id, e.ts)
SELECT n.event_id, n.user_id, n.ts, n.next_order_date,
       min(o.o_orderkey) AS next_order_key
FROM nod n
LEFT JOIN orders o
  ON o.o_custkey = n.user_id AND o.o_orderdate = n.next_order_date
GROUP BY n.event_id, n.user_id, n.ts, n.next_order_date
"""


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL x INTERVAL overlap join — the third range-join shape the
    family ships (asof = point-to-point, range_join_bands = point-in-
    band): per (user, day), the activity interval [min ts, max ts] of
    each event type, joined to overlapping intervals of OTHER types for
    the same user and day.

    Shape: the interval build is one hash aggregate; the overlap join is
    an EQUI-join on (user, day) with the overlap condition
    (a.s <= b.e AND b.s <= a.e) as a post-filter — the standard trick
    that keeps interval joins off the cross-join path when a coarse
    equi-bucket (here: the day) bounds candidates. At 100 TB you'd
    bucket by coarser/finer time units to balance candidate-set size
    against missed cross-bucket overlaps (or split long intervals into
    per-bucket fragments to make the bucketing exact).
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    a, b = iv.alias("a"), iv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.day").alias("day"),
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.s").alias("a_start"),
            F.col("b.s").alias("b_start"),
        )
    )


ORACLE_INTERVAL_OVERLAP = """
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         min(ts) AS s, max(ts) AS e
  FROM events GROUP BY user_id, CAST(ts AS DATE), event_type)
SELECT a.user_id, a.day,
       a.event_type AS type_a, b.event_type AS type_b,
       a.s AS a_start, b.s AS b_start
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.day = b.day
 AND a.event_type < b.event_type
 AND a.s <= b.e AND b.s <= a.e
"""


GAP_SECONDS = 6 * 3600


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry-gap audit: per user, the number of silent periods
    longer than 6 hours between consecutive events, and the longest one
    — the data-quality monitor that distinguishes "user churned" from
    "ingest pipeline dropped a partition".

    One shuffle on user_id; lag() within the per-user time order gives
    each inter-event gap; everything downstream is per-user aggregate
    granularity. Gaps are integer floor-epoch-second differences via the
    tz-free ntz_epoch_s (unix_timestamp would convert through the
    session timezone and diverge from the oracle's naive epoch_us//1e6
    across DST transitions), so the oracle matches exactly with no float
    discipline needed."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = ntz_epoch_s("ts")
    gap = secs - F.lag(secs).over(w)
    gaps = ev.select("user_id", gap.alias("gap_s")).filter(
        F.col("gap_s").isNotNull()
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.count(F.when(F.col("gap_s") > GAP_SECONDS, 1)).alias("n_gaps"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


# epoch_us // 1e6 floors each timestamp to whole seconds BEFORE the
# difference, matching Spark's unix_timestamp exactly (DuckDB's epoch()
# returns fractional seconds and ::BIGINT would round, not floor)
ORACLE_EVENT_GAPS = f"""
WITH o AS (
  SELECT user_id,
         (epoch_us(ts) // 1000000)
           - (epoch_us(lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)) // 1000000)
           AS gap_s
  FROM events)
SELECT user_id,
       count(*) AS n_intervals,
       count(*) FILTER (WHERE gap_s > {GAP_SECONDS}) AS n_gaps,
       max(gap_s) AS max_gap_s
FROM o WHERE gap_s IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


def q_engagement_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score: each event contributes
    value / 2^(days since the corpus's last day) — recent activity
    dominates, old activity halves per day.

    Exactness: instead of per-row value/2^age (whose double->decimal
    rounding diverges between engines), each event contributes the
    INTEGER-weighted term value * 2^(K - age), where K is the corpus's
    oldest age in days — decimal x bigint products and sums are exact
    and order-independent — and the per-user total is divided by 2^K
    ONCE at the end, as a double. No pow()/exp() anywhere: the weights
    are integer shifts."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    day = F.to_date("ts")
    # one tiny scalar job for the corpus bounds (cheaper than carrying a
    # cross join through the plan), and the place to enforce the
    # method's validity window: int64 shifts hold exactly 62 doubling
    # days. Spark's shiftleft would silently WRAP the shift amount mod
    # 64 (Java semantics) beyond that — garbage, not an error — so a
    # span >= 63 days must fail loudly here. For longer horizons,
    # decay per week (age // 7) or chunk the corpus by epoch.
    b = ev.agg(F.max(day).alias("anchor"), F.min(day).alias("first_day")).first()
    k = (b["anchor"] - b["first_day"]).days
    if k >= 63:
        raise ValueError(
            f"engagement_decay: corpus spans {k} days; integer-shift "
            "weights are exact only below 63 — decay by week instead"
        )
    j = ev.select(
        "user_id",
        F.col("value").cast("decimal(12,2)").alias("v"),
        # weight exponent = K - age = days since the oldest day
        F.datediff(day, F.lit(b["first_day"])).alias("shift"),
    )
    # pyspark's F.shiftleft only takes a literal bit count; the SQL
    # function accepts a column expression
    term = F.expr("v * shiftleft(CAST(1 AS BIGINT), shift)")
    return (
        j.select("user_id", term.alias("t"))
        .groupBy("user_id")
        .agg(
            (F.sum("t").cast("double") / F.lit(float(1 << k))).alias(
                "engagement"
            )
        )
        .orderBy("user_id")
    )


ORACLE_ENGAGEMENT_DECAY = """
WITH b AS (
  SELECT max(CAST(ts AS DATE)) AS anchor, min(CAST(ts AS DATE)) AS first_day
  FROM events),
d AS (
  SELECT e.user_id,
         CAST(e.value AS DECIMAL(12,2))
           * (1::BIGINT << date_diff('day', b.first_day, CAST(e.ts AS DATE)))
           AS t,
         date_diff('day', b.first_day, b.anchor) AS k
  FROM events e CROSS JOIN b)
SELECT user_id,
       CAST(sum(t) AS DOUBLE) / CAST(1::BIGINT << min(k) AS DOUBLE)
         AS engagement
FROM d GROUP BY user_id
ORDER BY user_id
"""


def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily gap-fill with linear interpolation: build each user's date
    spine (min..max observed day), left-join the observed daily totals
    onto it, and fill missing days by interpolating between the
    bracketing observations — the standard timeseries-feature
    regularization step before windowed models.

    Shape: the spine is a per-row ``sequence`` explode (no shuffle to
    build), the join is an equi-join on (user, day), and the bracketing
    observations come from two IGNORE NULLS window passes over the
    same (user, day) sort — no self-join. Spine rows per user are
    bounded by the date range, not the event count.

    Determinism: daily totals are exact decimal sums cast to double
    once; the interpolation weight is an integer day ratio divided
    once; `pv + (nv - pv) * w` is textually identical in both engines.
    Boundary days are always observed (the spine spans observed
    min..max), so no null extrapolation case exists.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        dsum("value", "v")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    j = j.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("pd"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("nd"),
    )
    w = F.datediff("day", "pd").cast("double") / F.datediff("nd", "pd").cast(
        "double"
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * w
    )
    return j.select(
        "user_id",
        "day",
        filled.alias("value_filled"),
        F.col("v").isNull().alias("is_interpolated"),
    )


ORACLE_GAP_FILL_INTERPOLATE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2),
bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
spine AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds),
j AS (
  SELECT s.user_id, s.day, d.v
  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
w AS (
  SELECT user_id, day, v,
    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j)
SELECT user_id, day,
  CASE WHEN v IS NOT NULL THEN v
       ELSE pv + (nv - pv) * (date_diff('day', pd, day)::DOUBLE
                                / date_diff('day', pd, nd)::DOUBLE)
  END AS value_filled,
  v IS NULL AS is_interpolated
FROM w
"""


_PIT_PROBE_TYPE = "purchase"


def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: each purchase is enriched with
    the per-(user, feature) value that was VALID AT purchase time — the
    lookup whose correctness ("no feature leakage from the future")
    defines ML feature stores. The non-purchase event types are the
    feature changelogs; each becomes SCD2 validity intervals (same
    lead() construction as q_scd2_history), and purchases probe them
    with an equi-join on user plus interval containment, so a purchase
    sees exactly the latest click/view/signup/error state at or before
    its timestamp and never a later one. Rolled up per feature type:
    match count + decimal-exact value sum.

    Scale shape: the join is a plain shuffle equi-join on user_id — the
    containment predicate rides along as a join condition evaluated on
    (probe, interval) pairs WITHIN a user, bounded by that user's
    version count, never a cross product. One window shuffle to build
    intervals, one join shuffle; the rollup partial-aggregates map-side.
    Zero-width intervals (two changes at the same timestamp) match
    nothing, exactly as the oracle's lead() does."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    iv = ev.filter(F.col("event_type") != _PIT_PROBE_TYPE).select(
        F.col("user_id").alias("f_uid"),
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        "value",
    )
    probes = ev.filter(F.col("event_type") == _PIT_PROBE_TYPE).select(
        "user_id", F.col("ts").alias("pts")
    )
    j = probes.join(
        iv,
        (F.col("user_id") == F.col("f_uid"))
        & (F.col("valid_from") <= F.col("pts"))
        & (F.col("valid_to").isNull() | (F.col("pts") < F.col("valid_to"))),
        "inner",
    )
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_feature_rows"),
        dsum("value", "sum_feature_value"),
    )


ORACLE_POINT_IN_TIME = f"""
WITH iv AS (
  SELECT user_id, event_type, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) AS valid_to,
         value
  FROM events WHERE event_type <> '{_PIT_PROBE_TYPE}'),
j AS (
  SELECT iv.event_type, iv.value
  FROM (SELECT user_id, ts FROM events
        WHERE event_type = '{_PIT_PROBE_TYPE}') p
  JOIN iv
    ON iv.user_id = p.user_id
   AND iv.valid_from <= p.ts
   AND (iv.valid_to IS NULL OR p.ts < iv.valid_to))
SELECT event_type, count(*) AS n_feature_rows,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_feature_value
FROM j GROUP BY event_type
"""


# attribution lookback: a purchase attributes to the user's most recent
# click no older than this many seconds
_ATTR_WINDOW_S = 3600


def q_attribution_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join (the attribution shape): every
    purchase is matched to the same user's most RECENT click, but only
    if it happened within the last hour — older clicks don't count and
    the purchase stays unattributed (NULL click, attributed=false).
    The staleness bound is what separates this from plain as-of: a
    feature/touchpoint older than the tolerance must NOT leak in.

    Same union-merge single-shuffle shape as asof_join (clicks sort
    before purchases at equal timestamps, running last() carries the
    latest click forward), with the tolerance applied as a final per-row
    nullification — no second join, no extra exchange. The attribution
    lag is computed in MICROSECONDS (tz-free interval diff / epoch_us) because
    the event timestamps carry sub-second precision and second-truncation
    rules differ between engines; the bigint difference is exact."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("tag"), F.col("event_id").alias("cid")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("tag"), F.col("event_id").alias("cid")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "cid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(buys).select(
        "user_id",
        "ts",
        "tag",
        "cid",
        F.last(F.when(F.col("tag") == 0, F.col("cid")), ignorenulls=True)
        .over(w)
        .alias("last_click_id"),
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_click_ts"),
    )
    # NTZ-NTZ interval subtraction is the only tz-free micro diff
    # (timestampdiff converts through the session tz — functions.ntz_diff_us)
    lag_us = ntz_diff_us("last_click_ts", "ts")
    fresh = F.col("last_click_ts").isNotNull() & (
        lag_us <= _ATTR_WINDOW_S * 1_000_000
    )
    return merged.filter(F.col("tag") == 1).select(
        F.col("cid").alias("purchase_id"),
        "user_id",
        "ts",
        fresh.alias("attributed"),
        F.when(fresh, F.col("last_click_id")).alias("click_id"),
        F.when(fresh, lag_us).alias("attribution_lag_us"),
    )


# ANSI formulation: argmax click inside the window (max ts, then max
# event_id at that ts) via two grouped left joins — identical tie rule.
ORACLE_ATTRIBUTION = f"""
WITH buys AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM events WHERE event_type = 'purchase'),
clk AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
best_ts AS (
  SELECT b.purchase_id, b.user_id, b.ts, max(c.ts) AS click_ts
  FROM buys b
  LEFT JOIN clk c
    ON c.user_id = b.user_id AND c.ts <= b.ts
   AND epoch_us(b.ts) - epoch_us(c.ts) <= {_ATTR_WINDOW_S}::BIGINT * 1000000
  GROUP BY b.purchase_id, b.user_id, b.ts),
best AS (
  SELECT t.purchase_id, t.user_id, t.ts, t.click_ts,
         max(c.event_id) AS click_id
  FROM best_ts t
  LEFT JOIN clk c ON c.user_id = t.user_id AND c.ts = t.click_ts
  GROUP BY t.purchase_id, t.user_id, t.ts, t.click_ts)
SELECT purchase_id, user_id, ts,
       click_ts IS NOT NULL AS attributed,
       click_id,
       epoch_us(ts) - epoch_us(click_ts) AS attribution_lag_us
FROM best
"""


# deterministic snapshot derivation: B corrects every 31st price, drops
# every 89th order; A is missing every 97th order (late arrival in B)
_SNAP_UPD, _SNAP_DEL, _SNAP_NEW = 31, 89, 97


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — derive the changelog FROM two table states (the
    inverse of merge_into_upsert, which applies one): classify every key
    as added / deleted / changed / unchanged between snapshot A and
    snapshot B of orders, the operation behind lakehouse change-data-feed
    and table-versioning audits. Snapshots are derived deterministically
    from the one orders table (constants above) so the oracle sees the
    identical inputs.

    Shape: ONE full-outer sort-merge join on the key plus null-safe
    column comparison (``<=>`` / IS NOT DISTINCT FROM) — no row hashing
    needed, and the price perturbation is an exact float add (+10.0) so
    both engines agree bit-for-bit. The classification rollup
    partial-aggregates map-side to 4 rows. On a real lakehouse table the
    same plan prunes unchanged files by partition/file stats first; the
    join here is the residual within-file work."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    snap_a = orders.filter(k % _SNAP_NEW != 0)
    snap_b = orders.filter(k % _SNAP_DEL != 0).withColumn(
        "o_totalprice",
        F.when(k % _SNAP_UPD == 0, F.col("o_totalprice") + F.lit(10.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    a = snap_a.alias("a")
    b = snap_b.alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    same = (
        F.col("a.o_orderstatus").eqNullSafe(F.col("b.o_orderstatus"))
        & F.col("a.o_totalprice").eqNullSafe(F.col("b.o_totalprice"))
        & F.col("a.o_orderpriority").eqNullSafe(F.col("b.o_orderpriority"))
    )
    change = (
        F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("deleted"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    key = F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey"))
    return j.select(change.alias("change_type"), key.alias("k")).groupBy(
        "change_type"
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


ORACLE_SNAPSHOT_DIFF = f"""
WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
           FROM orders),
a AS (SELECT * FROM o WHERE o_orderkey % {_SNAP_NEW} <> 0),
b AS (SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % {_SNAP_UPD} = 0
                  THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM o WHERE o_orderkey % {_SNAP_DEL} <> 0),
j AS (
  SELECT CASE
           WHEN a.o_orderkey IS NULL THEN 'added'
           WHEN b.o_orderkey IS NULL THEN 'deleted'
           WHEN a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
            AND a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
            AND a.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
             THEN 'unchanged'
           ELSE 'changed'
         END AS change_type,
         coalesce(a.o_orderkey, b.o_orderkey) AS k
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
SELECT change_type, count(*) AS n_rows,
       min(k) AS min_key, max(k) AS max_key
FROM j GROUP BY change_type
"""


TEMPORAL_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "gap_fill_interpolate",
        q_gap_fill_interpolate,
        ORACLE_GAP_FILL_INTERPOLATE,
    ),
    QuerySpec(
        "event_gaps",
        q_event_gaps,
        ORACLE_EVENT_GAPS,
    ),
    QuerySpec(
        "engagement_decay",
        q_engagement_decay,
        ORACLE_ENGAGEMENT_DECAY,
    ),
    QuerySpec(
        "merge_into_upsert",
        q_merge_into_upsert,
        ORACLE_MERGE_INTO_UPSERT,
    ),
    QuerySpec(
        "rolling_window_7d",
        q_rolling_window_7d,
        ORACLE_ROLLING_WINDOW_7D,
    ),
    QuerySpec(
        "changelog_upsert",
        q_changelog_upsert,
        ORACLE_CHANGELOG_UPSERT,
    ),
    QuerySpec(
        "scd2_history",
        q_scd2_history,
        ORACLE_SCD2_HISTORY,
    ),
    QuerySpec(
        "attribution_asof_tolerance",
        q_attribution_asof_tolerance,
        ORACLE_ATTRIBUTION,
    ),
    QuerySpec(
        "snapshot_diff",
        q_snapshot_diff,
        ORACLE_SNAPSHOT_DIFF,
    ),
    QuerySpec(
        "point_in_time_join",
        q_point_in_time_join,
        ORACLE_POINT_IN_TIME,
    ),
    QuerySpec("asof_join", asof_join_last_order, ORACLE_ASOF, bench=True),
    QuerySpec(
        "asof_join_sliced",
        asof_join_sliced,
        ORACLE_ASOF,  # identical results by construction — same oracle
    ),
    QuerySpec("asof_join_forward", asof_join_next_order, ORACLE_ASOF_NEXT),
    QuerySpec("range_join_bands", range_join_quantity_bands, ORACLE_RANGE_JOIN),
    QuerySpec("interval_overlap_join", q_interval_overlap_join, ORACLE_INTERVAL_OVERLAP),
    QuerySpec("time_bucket_rollup", time_bucket_rollup, ORACLE_TIME_BUCKET, bench=True),
]


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) of each user's value signal: every
    observation is weighted by how long it remained current (until the
    user's next event) — the correct mean for irregularly-sampled
    telemetry and price feeds, where the arithmetic mean over-weights
    bursts. Per user: TWAP, observed span, and observation count.

    Exactness discipline: values floor-quantize to 1e-6 integers and
    durations are bigint microseconds (tz-free interval diff / epoch_us);
    the weighted sum runs in DECIMAL(19,0) products (exact width 38 in
    both engines), and the TWAP is reported in exact micro-value units
    via truncating integer division (probed identical across engines) —
    the weighted sum exceeds 2^53, and DuckDB's hugeint->double cast is
    not correctly rounded, so a float result would diverge in the last
    ulp. Bit-stable at any parallelism. One window + one aggregate,
    both partitioned on user_id (one shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d19 = "decimal(19,0)"
    stepped = ev.select(
        "user_id",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vi"),
        ntz_diff_us(F.col("ts"), F.lead("ts").over(w)).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    g = stepped.groupBy("user_id").agg(
        F.sum(F.col("vi").cast(d19) * F.col("dt_us").cast(d19)).alias("num"),
        F.sum("dt_us").alias("den_us"),
        F.count("*").alias("n_obs"),
    )
    return g.select(
        "user_id",
        F.expr("num DIV den_us").alias("twap_micro"),
        "den_us",
        "n_obs",
    )


ORACLE_TIME_WEIGHTED_AVG = """
WITH stepped AS (
  SELECT user_id,
         CAST(floor(value * 1000000) AS BIGINT) AS vi,
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dt_us
  FROM events),
g AS (
  SELECT user_id,
         sum(CAST(vi AS DECIMAL(19,0)) * CAST(dt_us AS DECIMAL(19,0))) AS num,
         CAST(sum(dt_us) AS BIGINT) AS den_us,
         count(*) AS n_obs
  FROM stepped WHERE dt_us IS NOT NULL
  GROUP BY user_id)
SELECT user_id,
       CAST(CAST(num AS HUGEINT) // den_us AS BIGINT) AS twap_micro,
       den_us, n_obs
FROM g
"""

TEMPORAL_QUERIES.append(
    QuerySpec(
        "time_weighted_avg",
        q_time_weighted_avg,
        ORACLE_TIME_WEIGHTED_AVG,
    )
)
