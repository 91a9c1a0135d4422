"""Statistical aggregates: exact quantiles and sketch-based approximates.

The reference's only aggregate is sum-by-key (SURVEY §2.6); a warehouse
surface needs distribution statistics too. Two tiers:

- *exact* quantiles (``percentile`` — type-7 linear interpolation, the
  same definition DuckDB's ``quantile_cont`` uses, so it oracle-matches
  exactly). Exact percentile needs the group's values together — fine
  per-group, the shuffle is by group key.
- *approximate* distinct counts (HyperLogLog++ via
  ``approx_count_distinct``): the 100 TB path — fixed-size sketch,
  map-side combinable, one narrow shuffle regardless of cardinality.
  Sketch results are engine-specific, so this is a rows-only check (the
  exact companion `distinct` is the oracle-matched one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import dsum, ntz_epoch_us
from tiny_mapreduce_rpc_server_spark.functions import portable as P
from tiny_mapreduce_rpc_server_spark.sources import load_table, spread
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec


def quantiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles + median of quantity and extended price per return flag
    (exact, interpolated)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("qty_p25"),
            F.expr("percentile(l_quantity, 0.5)").alias("qty_p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("qty_p75"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("price_p50"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_QUANTILES = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS qty_p25,
       quantile_cont(l_quantity, 0.5)  AS qty_p50,
       quantile_cont(l_quantity, 0.75) AS qty_p75,
       quantile_cont(l_extendedprice, 0.5) AS price_p50
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct users per event type at 2% relative error — the
    sketch path for count-distinct at 100 TB (constant memory, map-side
    merge; an exact countDistinct shuffles every distinct value)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .orderBy("event_type")
    )


_DEC38 = "decimal(38,6)"


def q_covar_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance + correlation of (l_quantity, l_extendedprice)
    per return flag, built from DECIMAL moment sums instead of the
    built-in covar_pop/corr: the five moments (Σx, Σy, Σxy, Σx², Σy²) are
    order-independent decimal sums, so the derived statistics are
    bit-identical at any parallelism — the built-ins accumulate doubles
    in partition order and are not. One shuffle, partial-aggregated."""
    li = load_table(spark, sf_dir, "lineitem")
    # The inputs are exact 2-dp quantities, so EVERYTHING up to the final
    # double cast happens in decimal arithmetic: squaring in DOUBLE first
    # and then casting rounds the product twice, and the double->decimal
    # rounding rule differs between engines in the last ulp. decimal x
    # decimal products and sums are exact, so each moment is rounded to
    # double exactly once, identically everywhere.
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    d = li.select(
        "l_returnflag",
        x.alias("x"),
        y.alias("y"),
        (x * y).alias("xy"),
        (x * x).alias("xx"),
        (y * y).alias("yy"),
    )
    g = d.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.col(c)).cast("double").alias(f"s_{c}")
            for c in ("x", "y", "xy", "xx", "yy")
        ],
    )
    n = F.col("n")
    cov = (F.col("s_xy") - F.col("s_x") * F.col("s_y") / n) / n
    var_x = (F.col("s_xx") - F.col("s_x") * F.col("s_x") / n) / n
    var_y = (F.col("s_yy") - F.col("s_y") * F.col("s_y") / n) / n
    return g.select(
        "l_returnflag",
        "n",
        cov.alias("covar_pop"),
        (cov / (F.sqrt(var_x) * F.sqrt(var_y))).alias("corr"),
    )


ORACLE_COVAR_CORR = """
WITH d AS (
  SELECT l_returnflag,
         CAST(l_quantity AS DECIMAL(12,2)) AS x,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS y
  FROM lineitem),
g AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(sum(x) AS DOUBLE) AS s_x,
         CAST(sum(y) AS DOUBLE) AS s_y,
         CAST(sum(x * y) AS DOUBLE) AS s_xy,
         CAST(sum(x * x) AS DOUBLE) AS s_xx,
         CAST(sum(y * y) AS DOUBLE) AS s_yy
  FROM d GROUP BY l_returnflag)
SELECT l_returnflag, n,
       (s_xy - s_x * s_y / n) / n AS covar_pop,
       ((s_xy - s_x * s_y / n) / n)
         / (sqrt((s_xx - s_x * s_x / n) / n) * sqrt((s_yy - s_y * s_y / n) / n))
         AS corr
FROM g
"""


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling: per-column row count, null count, distinct
    count, and min/max over the lineitem measures — the data-quality
    summary a pipeline computes before training. ONE pass over the scan
    (a single aggregate row holding all per-column stats), reshaped to
    one row per column with stack(); at 100 TB that is a single
    partial-aggregated scan and a constant-size result."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("double").alias(f"min_{c}"),
            F.max(c).cast("double").alias(f"max_{c}"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, nulls_{c}, nd_{c}, min_{c}, max_{c}" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )


ORACLE_COLUMN_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS min_value,
       CAST(max({c}) AS DOUBLE) AS max_value
FROM lineitem"""
    for c in _PROFILE_COLS
)


_HIST_WIDTH = 1000


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram of l_extendedprice (bucket = floor
    of price/1000): one shuffle on a small bounded key space, the
    standard distribution profile for numeric columns."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / _HIST_WIDTH).cast("long")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"), dsum("l_extendedprice", "sum_price"))
    )


ORACLE_VALUE_HISTOGRAM = f"""
SELECT CAST(floor(l_extendedprice / {_HIST_WIDTH}) AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY 1
"""


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: flag values more than
    3 x 1.4826 x MAD from the median (the MAD-z rule — median/MAD stay
    finite under the very outliers mean/stddev get dragged by).

    Shape: two grouped exact percentiles (each one shuffle of the group's
    values) and two BROADCAST joins of the 5-row per-type statistics back
    onto the fact scan — the fact table itself is never shuffled for the
    joins. 3 x 1.4826 is written as the single literal 4.4478 in both
    engines so constant folding cannot differ in the last ulp.

    At 100 TB the exact percentile is the one operator to swap: use
    approx_percentile (t-digest, partial-aggregating) for the median and
    the identical downstream algebra — documented rather than silently
    approximating here, because the oracle pins exact semantics.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            # count-of-when (not sum-of-case): stays BIGINT in both
            # engines — DuckDB's sum(int) widens to HUGEINT
            F.count(
                F.when(F.col("adev") > F.lit(4.4478) * F.col("mad"), 1)
            ).alias("n_outliers"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
        )
        .orderBy("event_type")
    )


ORACLE_OUTLIER_MAD = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type)
SELECT d.event_type,
       count(*) AS n,
       count(*) FILTER (WHERE d.adev > 4.4478 * m.mad) AS n_outliers,
       min(d.med) AS med,
       min(m.mad) AS mad
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


def q_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: two-sample chi-square statistic per
    event type between two halves of the event stream (deterministic
    split on event_id parity), over fixed-width value bins.

    This is the data-quality gate a training pipeline runs between
    ingestion batches: "did the value distribution move?". Chi-square is
    chosen over PSI/KL because its algebra is purely rational (+,-,*,/)
    — no ln/exp, whose libm implementations differ across engines and
    would break exact oracle matching (see verify notes).

    Shape: one scan -> (type, bin, period) counts via a single hash
    aggregate (partial map-side), then the contingency algebra runs on
    the tiny aggregated table. Nothing downstream of the first groupBy
    touches fact granularity, so the query is one shuffle at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 2).alias("period"),
        F.floor(F.col("value") / 10).alias("bin"),
    )
    cells = ev.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("period") == 0, 1)).alias("o_a"),
        F.count(F.when(F.col("period") == 1, 1)).alias("o_b"),
    )
    # drift is undefined when either period is empty for a type (every
    # expected count is 0): drop such types in BOTH engines, because
    # divide-by-zero NULLs propagate differently through the two folds
    # (Spark's aggregate() keeps NULL, DuckDB's list_sum skips it)
    totals = (
        cells.groupBy("event_type")
        .agg(F.sum("o_a").alias("t_a"), F.sum("o_b").alias("t_b"))
        .filter((F.col("t_a") > 0) & (F.col("t_b") > 0))
    )
    j = cells.join(F.broadcast(totals), "event_type")
    grand = F.col("t_a") + F.col("t_b")
    bin_total = F.col("o_a") + F.col("o_b")
    e_a = (F.col("t_a") * bin_total).cast("double") / grand
    e_b = (F.col("t_b") * bin_total).cast("double") / grand
    contrib = (F.col("o_a") - e_a) * (F.col("o_a") - e_a) / e_a + (
        F.col("o_b") - e_b
    ) * (F.col("o_b") - e_b) / e_b
    return (
        j.select("event_type", "bin", contrib.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_bins"),
            # sort-fold the per-bin contributions so the double sum has
            # ONE canonical order in both engines (double + is not
            # associative; a parallel sum would be partition-ordered)
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("bin", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("chisq"),
        )
        .orderBy("event_type")
    )


ORACLE_DRIFT_CHISQ = """
WITH ev AS (
  SELECT event_type, event_id % 2 AS period, floor(value / 10) AS bin
  FROM events),
cells AS (
  SELECT event_type, bin,
         count(*) FILTER (WHERE period = 0) AS o_a,
         count(*) FILTER (WHERE period = 1) AS o_b
  FROM ev GROUP BY event_type, bin),
tot AS (
  SELECT event_type, sum(o_a)::BIGINT AS t_a, sum(o_b)::BIGINT AS t_b
  FROM cells GROUP BY event_type
  HAVING sum(o_a) > 0 AND sum(o_b) > 0),
contrib AS (
  SELECT c.event_type, c.bin,
         (c.o_a - ((t.t_a * (c.o_a + c.o_b))::DOUBLE / (t.t_a + t.t_b)))
           * (c.o_a - ((t.t_a * (c.o_a + c.o_b))::DOUBLE / (t.t_a + t.t_b)))
           / ((t.t_a * (c.o_a + c.o_b))::DOUBLE / (t.t_a + t.t_b))
         + (c.o_b - ((t.t_b * (c.o_a + c.o_b))::DOUBLE / (t.t_a + t.t_b)))
           * (c.o_b - ((t.t_b * (c.o_a + c.o_b))::DOUBLE / (t.t_a + t.t_b)))
           / ((t.t_b * (c.o_a + c.o_b))::DOUBLE / (t.t_a + t.t_b)) AS c
  FROM cells c JOIN tot t USING (event_type)),
srt AS (
  SELECT event_type,
         list_sort(list({'bin': bin, 'c': c})) AS xs,
         count(*) AS n_bins
  FROM contrib GROUP BY event_type)
SELECT event_type, n_bins,
       list_sum(list_transform(xs, x -> x.c)) AS chisq
FROM srt
ORDER BY event_type
"""


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clipped) statistics per event type: values clamped to
    their group's exact [p05, p95] before aggregating — the standard
    robust alternative to dropping outliers when downstream consumers
    need every row (training-data feature normalization).

    Shape mirrors q_outlier_mad: one grouped exact percentile pass, then
    the 5-row bound table BROADCASTS onto the fact scan; the clamp is a
    pure row expression (least/greatest) and the clipped sum is decimal
    so the result is order-independent. The clamp picks either the raw
    double or the percentile double, both oracle-exact.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    # exactness: interpolated percentile bounds carry long double
    # fractions whose double->decimal rounding differs between engines in
    # the last ulp — so clipped values are NOT summed directly. Interior
    # (unclipped) values are exact 2-dp inputs and sum in decimal; the
    # clipped tails contribute count x bound in pure double arithmetic,
    # identical everywhere. Term order is fixed left-to-right.
    below = F.col("value") < F.col("p05")
    above = F.col("value") > F.col("p95")
    g = j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count(F.when(below, 1)).alias("n_lo"),
        F.count(F.when(above, 1)).alias("n_hi"),
        F.sum(F.when(~below & ~above, F.col("value").cast(_DEC38)))
        .cast("double")
        .alias("interior_sum"),
        F.min("p05").alias("p05"),
        F.min("p95").alias("p95"),
    )
    wins_sum = (
        F.col("interior_sum")
        + F.col("n_lo") * F.col("p05")
        + F.col("n_hi") * F.col("p95")
    )
    return g.select(
        "event_type", "n", "n_lo", "n_hi", wins_sum.alias("wins_sum"), "p05", "p95"
    ).orderBy("event_type")


ORACLE_WINSORIZED_STATS = """
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type),
j AS (
  SELECT e.event_type, e.value, b.p05, b.p95
  FROM events e JOIN bounds b USING (event_type)),
g AS (
  SELECT event_type, count(*) AS n,
         count(*) FILTER (WHERE value < p05) AS n_lo,
         count(*) FILTER (WHERE value > p95) AS n_hi,
         CAST(sum(CASE WHEN value >= p05 AND value <= p95
                       THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)
           AS interior_sum,
         min(p05) AS p05, min(p95) AS p95
  FROM j GROUP BY event_type)
SELECT event_type, n, n_lo, n_hi,
       interior_sum + n_lo * p05 + n_hi * p95 AS wins_sum,
       p05, p95
FROM g ORDER BY event_type
"""


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per user: the MEDIAN of all pairwise
    slopes of (event time, value) — up to 29% of the points can be
    arbitrary outliers without moving the estimate, unlike an OLS fit.

    Shape: the pair generation is a SELF-JOIN bucketed by the entity key
    (equi-join on user_id, event order as the pair filter) — quadratic
    only WITHIN an entity's history (n~tens), never across entities, so
    the candidate count is sum_u n_u^2, not (sum n_u)^2. The slope
    algebra is (dv * 86400e6) / dt in fixed operation order (multiply
    then divide — identical text in both engines), timestamps as integer
    epoch-micros; the median is the exact interpolated percentile.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        # tz-free epoch micros (matches DuckDB epoch_us on any machine)
        ntz_epoch_us("ts").alias("t"),
        "value",
    )
    a, b = ev.alias("a"), ev.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.t") != F.col("b.t")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            (
                (F.col("b.value") - F.col("a.value")) * F.lit(86400000000.0)
                / (F.col("b.t") - F.col("a.t"))
            ).alias("slope"),
        )
    )
    return (
        slopes.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr("percentile(slope, 0.5)").alias("trend_per_day"),
        )
        .orderBy("user_id")
    )


ORACLE_THEIL_SEN = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events),
slopes AS (
  SELECT a.user_id,
         (b.value - a.value) * 86400000000.0 / (b.t - a.t) AS slope
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id AND a.event_id < b.event_id AND a.t <> b.t)
SELECT user_id, count(*) AS n_pairs,
       quantile_cont(slope, 0.5) AS trend_per_day
FROM slopes GROUP BY user_id
ORDER BY user_id
"""


def q_ingest_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly monitor: per event type, how many DAYS have
    a row count more than 3 sigma from that type's daily mean — the
    pipeline-ops alarm for a stuck producer or a replay storm.

    Moments are integer-exact (daily counts are ints; sum and
    sum-of-squares stay integral), and the 3-sigma test is SQUARED
    (dev^2 > 9*var) so no sqrt appears at all — every float op is a
    ratio or product of identical operands, bit-identical in both
    engines. Daily counts are one hash aggregate; the per-type stats
    table broadcasts back onto the tiny daily table.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(F.count("*").alias("c"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    n = F.col("n_days")
    mean = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mean * mean
    dev = F.col("c") - mean
    is_anom = dev * dev > F.lit(9.0) * var
    return (
        j.select("event_type", "n_days", F.when(is_anom, 1).alias("a"))
        .groupBy("event_type")
        .agg(F.min("n_days").alias("n_days"), F.count("a").alias("n_anomalous_days"))
        .orderBy("event_type")
    )


# the 3-sigma test is squared (dev^2 > 9*var) so no sqrt is needed at
# all — one less float op to keep identical
ORACLE_INGEST_ANOMALY = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
st AS (
  SELECT event_type, count(*) AS n_days,
         sum(c)::BIGINT AS s1, sum(c * c)::BIGINT AS s2
  FROM daily GROUP BY event_type),
j AS (
  SELECT d.event_type, st.n_days, d.c,
         st.s1::DOUBLE / st.n_days AS mean,
         st.s2::DOUBLE / st.n_days
           - (st.s1::DOUBLE / st.n_days) * (st.s1::DOUBLE / st.n_days) AS var
  FROM daily d JOIN st USING (event_type))
SELECT event_type, min(n_days) AS n_days,
       count(*) FILTER (WHERE (c - mean) * (c - mean) > 9.0 * var)
         AS n_anomalous_days
FROM j GROUP BY event_type
ORDER BY event_type
"""


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of value vs day index — the
    parametric companion to ``theil_sen_trend`` (same question, O(n)
    moments instead of O(n^2) pairwise slopes; OLS is the 100 TB path
    when the data is clean, Theil-Sen the robust fallback).

    Same determinism recipe as ``q_covar_corr``: x is an integer day
    index (exact), y an exact decimal, the five moments are exact
    decimal/integer sums, each is cast to double exactly once, and the
    slope/intercept algebra is textually identical in both engines.
    One partial-aggregated shuffle on user_id; the slope math is a
    per-group scalar epilogue.
    """
    ev = load_table(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    y = F.col("value").cast("decimal(18,6)")
    d = ev.select("user_id", x.alias("x"), y.alias("y"))
    g = d.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s_x"),
        F.sum(F.col("x") * F.col("x")).alias("s_xx"),
        F.sum("y").cast("double").alias("s_y"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("s_xy"),
    )
    # integer-exact degeneracy test (a single distinct day has no slope)
    den_int = F.col("n") * F.col("s_xx") - F.col("s_x") * F.col("s_x")
    n = F.col("n").cast("double")
    sx = F.col("s_x").cast("double")
    sxx = F.col("s_xx").cast("double")
    num = n * F.col("s_xy") - sx * F.col("s_y")
    den = n * sxx - sx * sx
    slope = num / den
    return (
        g.where(den_int != 0)
        .select(
            "user_id",
            "n",
            slope.alias("slope_per_day"),
            ((F.col("s_y") - slope * sx) / n).alias("intercept"),
        )
        .orderBy("user_id")
    )


ORACLE_OLS_TREND = """
WITH d AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))::BIGINT AS x,
         CAST(value AS DECIMAL(18,6)) AS y
  FROM events),
g AS (
  SELECT user_id, count(*) AS n,
         sum(x)::BIGINT AS s_x,
         sum(x * x)::BIGINT AS s_xx,
         CAST(sum(y) AS DOUBLE) AS s_y,
         CAST(sum(x * y) AS DOUBLE) AS s_xy
  FROM d GROUP BY user_id)
SELECT user_id, n,
       (n::DOUBLE * s_xy - s_x::DOUBLE * s_y)
         / (n::DOUBLE * s_xx::DOUBLE - s_x::DOUBLE * s_x::DOUBLE) AS slope_per_day,
       (s_y - ((n::DOUBLE * s_xy - s_x::DOUBLE * s_y)
                 / (n::DOUBLE * s_xx::DOUBLE - s_x::DOUBLE * s_x::DOUBLE))
               * s_x::DOUBLE) / n::DOUBLE AS intercept
FROM g
WHERE n * s_xx - s_x * s_x <> 0
ORDER BY user_id
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-aware median: the smallest extended price whose cumulative
    quantity-weight reaches half the group's total — ``percentile``
    weights every ROW equally, which is wrong when rows carry volumes.

    Determinism: weights become exact integer centi-units via a decimal
    cast (never a double round), the cumulative is a RANGE window (ties
    on price share one cumulative value, so row order within a price is
    irrelevant), and the selection `2*cum >= total` is pure integer
    compare. Shape: pre-aggregate per (group, price) first — the window
    then runs over distinct prices only, not raw rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("long")
    g = (
        li.select("l_returnflag", "l_extendedprice", w.alias("w"))
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.sum("w").alias("wsum"))
    )
    win_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    win_tot = Window.partitionBy("l_returnflag")
    d = g.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("wsum").over(win_cum).alias("cum"),
        F.sum("wsum").over(win_tot).alias("tot"),
    )
    return (
        d.where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median_price"),
            F.min("tot").alias("total_weight_x100"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_WEIGHTED_MEDIAN = """
WITH g AS (
  SELECT l_returnflag, l_extendedprice,
         sum((CAST(l_quantity AS DECIMAL(12,2)) * 100)::BIGINT)::BIGINT AS wsum
  FROM lineitem GROUP BY 1, 2),
d AS (
  SELECT l_returnflag, l_extendedprice,
         sum(wsum) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
         sum(wsum) OVER (PARTITION BY l_returnflag)::BIGINT AS tot
  FROM g)
SELECT l_returnflag,
       min(l_extendedprice) AS weighted_median_price,
       min(tot) AS total_weight_x100
FROM d WHERE 2 * cum >= tot
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


_EQUIDEPTH_BINS = 10


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of l_extendedprice: bin edges at the exact
    global deciles, so every bin holds ~10% of rows — the distribution
    profile optimizers and drift monitors actually want (equi-WIDTH bins
    — q_value_histogram — put 90% of a skewed column in one bucket).

    Two-pass shape like quality_percentile_filter: a 1-row exact-decile
    aggregate broadcast back over the scan; the bin index is an integer
    sum of (value > edge) comparisons, so assignment is exact and
    engine-portable (ties at an edge all land on the same side). At
    100 TB the edge pass becomes approx_percentile — same plan, sketch
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = [i / _EQUIDEPTH_BINS for i in range(1, _EQUIDEPTH_BINS)]
    edges = li.agg(
        *[
            F.expr(f"percentile(l_extendedprice, {q})").alias(f"e{i}")
            for i, q in enumerate(qs, 1)
        ]
    )
    j = li.select("l_extendedprice").crossJoin(F.broadcast(edges))
    bucket = sum(
        (F.col("l_extendedprice") > F.col(f"e{i}")).cast("int")
        for i in range(1, _EQUIDEPTH_BINS)
    )
    return (
        j.groupBy(bucket.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .orderBy("bin")
    )


def _oracle_equidepth() -> str:
    qs = [i / _EQUIDEPTH_BINS for i in range(1, _EQUIDEPTH_BINS)]
    edge_cols = ",\n         ".join(
        f"quantile_cont(l_extendedprice, {q}) AS e{i}"
        for i, q in enumerate(qs, 1)
    )
    bucket = " + ".join(
        f"CASE WHEN l_extendedprice > e{i} THEN 1 ELSE 0 END"
        for i in range(1, _EQUIDEPTH_BINS)
    )
    return f"""
WITH edges AS (
  SELECT {edge_cols}
  FROM lineitem)
SELECT ({bucket})::INT AS bin,
       count(*) AS n,
       min(l_extendedprice) AS lo,
       max(l_extendedprice) AS hi
FROM lineitem, edges
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 3
CMS_WIDTH = 256
CMS_TOP_K = 20


def _cms_bucket(h, j: int):
    """Row-j bucket for a token hash ``h`` (pairwise-independent affine
    family over the portable h1, same constants as the minhash perms)."""
    a, b = 2 * j + 3, (j * j * 7919 + 31) % P.M2
    return ((h * a + b) % P.M31) % CMS_WIDTH


def _sql_cms_bucket(expr: str, j: int) -> str:
    a, b = 2 * j + 3, (j * j * 7919 + 31) % P.M2
    return f"((({expr}) * {a} + {b}) % {P.M31}) % {CMS_WIDTH}"


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic count-min sketch over corpus tokens, evaluated
    against exact truth for the top-{K} tokens.

    The sketch is the 100 TB path for frequency estimation: its state is
    DEPTH x WIDTH counters regardless of vocabulary size, built by ONE
    explode -> hash-aggregate whose key space is {DEPTH*WIDTH} cells, so
    virtually everything collapses in the map-side partial aggregate (an
    exact per-token count shuffles every distinct token instead). The
    hash rows use the repo's engine-portable h1 + affine family, so the
    DuckDB oracle reproduces every counter exactly — the sketch itself is
    oracle-checked, not just its row count.

    Output: top-{K} tokens by true count with their CMS estimate and the
    (always >= 0) collision overestimate. The exact top-K pass exists for
    the evaluation; a production pipeline would ship only the sketch.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(P.tokens(F.lower(F.col("text")))).alias("w"))
    # h1 materialized into its own projection so the char-fold runs once
    # per token, not once per sketch row
    hashed = toks.select(P.h1(F.col("w")).alias("h"))
    buckets = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), _cms_bucket(F.col("h"), j).alias("b")
            )
            for j in range(CMS_DEPTH)
        ]
    )
    cells = (
        hashed.select(F.explode(buckets).alias("c"))
        .groupBy(F.col("c.j").alias("j"), F.col("c.b").alias("b"))
        .agg(F.count("*").alias("cell_cnt"))
    )
    true_top = (
        toks.groupBy("w")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "w")
        .limit(CMS_TOP_K)
    )
    probes = (
        true_top.select("w", "true_cnt", P.h1(F.col("w")).alias("h"))
        .select("w", "true_cnt", F.explode(buckets).alias("c"))
        .select("w", "true_cnt", F.col("c.j").alias("j"), F.col("c.b").alias("b"))
    )
    return (
        probes.join(F.broadcast(cells), ["j", "b"])
        .groupBy(F.col("w").alias("token"), "true_cnt")
        .agg(F.min("cell_cnt").alias("est_cnt"))
        .select(
            "token",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overestimate"),
        )
    )


def _oracle_heavy_hitters_cms() -> str:
    js = ", ".join(str(j) for j in range(CMS_DEPTH))
    build_b = " ".join(
        f"WHEN {j} THEN {_sql_cms_bucket('h', j)}" for j in range(CMS_DEPTH)
    )
    return f"""
WITH toks AS (SELECT unnest({P.sql_tokens("lower(text)")}) AS w FROM documents),
hashed AS (SELECT {P.sql_h1("w")} AS h FROM toks),
cells AS (
  SELECT j, CASE j {build_b} END AS b, count(*) AS cell_cnt
  FROM hashed, UNNEST([{js}]) AS u(j)
  GROUP BY 1, 2),
tt AS (SELECT w, count(*) AS true_cnt FROM toks GROUP BY w
       ORDER BY true_cnt DESC, w LIMIT {CMS_TOP_K}),
probes AS (
  SELECT w, true_cnt, j, CASE j {build_b} END AS b
  FROM (SELECT w, true_cnt, {P.sql_h1("w")} AS h FROM tt) th,
       UNNEST([{js}]) AS u(j))
SELECT w AS token, true_cnt, min(cell_cnt) AS est_cnt,
       min(cell_cnt) - true_cnt AS overestimate
FROM probes JOIN cells USING (j, b)
GROUP BY 1, 2
"""


ORACLE_HEAVY_HITTERS_CMS = _oracle_heavy_hitters_cms()


STATS_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "heavy_hitters_cms",
        q_heavy_hitters_cms,
        ORACLE_HEAVY_HITTERS_CMS,
    ),
    QuerySpec(
        "equidepth_histogram",
        q_equidepth_histogram,
        _oracle_equidepth(),
    ),
    QuerySpec("weighted_median", q_weighted_median, ORACLE_WEIGHTED_MEDIAN),
    QuerySpec("ingest_anomaly", q_ingest_anomaly, ORACLE_INGEST_ANOMALY),
    QuerySpec("ols_trend", q_ols_trend, ORACLE_OLS_TREND),
    QuerySpec("theil_sen_trend", q_theil_sen_trend, ORACLE_THEIL_SEN),
    QuerySpec("winsorized_stats", q_winsorized_stats, ORACLE_WINSORIZED_STATS),
    QuerySpec("outlier_mad", q_outlier_mad, ORACLE_OUTLIER_MAD),
    QuerySpec("drift_chisq", q_drift_chisq, ORACLE_DRIFT_CHISQ),
    QuerySpec("covar_corr", q_covar_corr, ORACLE_COVAR_CORR),
    QuerySpec("quantiles_by_flag", quantiles_by_flag, ORACLE_QUANTILES),
    QuerySpec("approx_distinct_users", approx_distinct_users, None),
    QuerySpec("column_profile", q_column_profile, ORACLE_COLUMN_PROFILE),
    QuerySpec("value_histogram", q_value_histogram, ORACLE_VALUE_HISTOGRAM),
]
