"""Structured Streaming surface over the events table.

The reference has no streaming (SURVEY §2.11) — this is the [EXT]
streaming-ETL surface: readStream -> watermark -> windowed agg ->
writeStream, exercised locally by replaying the events parquet through a
memory sink (``processAllAvailable`` drives it to completion
synchronously, which makes the result batch-equivalent and therefore
oracle-checkable in complete output mode).

At scale the same plan runs against Kafka with the watermark bounding
state; nothing in the query changes, only the source/sink formats.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import instant_as_ntz, ntz_as_instant
from tiny_mapreduce_rpc_server_spark.session import scratch_dir
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec
from tiny_mapreduce_rpc_server_spark.sources import TABLES

_DEC = "DECIMAL(38,6)"


def _replay_batches(spark: SparkSession, tag: str, batches: list[DataFrame]) -> str:
    """Write each DataFrame as one parquet file into a fresh stream
    directory, mtime-ordered so a maxFilesPerTrigger=1 file source
    replays them as microbatches in list order. Returns the dir path."""
    import glob
    import os
    import shutil

    stream_dir = scratch_dir(spark, tag)
    os.makedirs(stream_dir)
    for i, batch in enumerate(batches):
        tmp = scratch_dir(spark, f"{tag}_w{i}")
        batch.coalesce(1).write.parquet(tmp)
        dst = os.path.join(stream_dir, f"{i:03d}.parquet")
        shutil.copyfile(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + 100 * i,) * 2)  # mtime order = batch order
    return stream_dir


def _replay_two_batches(
    spark: SparkSession, sf_dir: str, tag: str, *cols: str
) -> DataFrame:
    """A file stream of the events table's ``cols`` plus ``ts`` (as an
    instant), replayed in two microbatches: every event but the globally
    latest, then the latest alone. The second batch advances the
    watermark to max(ts) - 10min, so state whose horizon lies before it
    is evicted and emitted."""
    from tiny_mapreduce_rpc_server_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        *cols, ntz_as_instant("ts").alias("ts")
    )
    latest = ev.orderBy(F.desc("ts"), F.desc("event_id")).limit(1).collect()[0]
    stream_dir = _replay_batches(
        spark,
        tag,
        [
            ev.filter(F.col("event_id") != latest["event_id"]),
            ev.filter(F.col("event_id") == latest["event_id"]),
        ],
    )
    return (
        spark.readStream.schema(", ".join(f"{c} {t}" for c, t in ev.dtypes))
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )


def _click_view_join(click_src: DataFrame, view_src: DataFrame, how: str) -> DataFrame:
    """Stream-stream ``how`` join of the clicks in ``click_src`` to the
    views in ``view_src`` by the same user within the 10 minutes after
    the click, both sides watermarked at 10 minutes. Columns: user_id,
    click_id, click_ts, v_user_id, view_id, view_ts."""
    clicks = (
        click_src.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    views = (
        view_src.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    return clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("click_ts"))
        & (F.col("view_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        how,
    )


def _memory_sink(df: DataFrame, mode: str, tag: str) -> DataFrame:
    """Drive a streaming DataFrame to completion into a fresh memory
    sink and return the sink's table."""
    name = f"stream_{tag}_{uuid.uuid4().hex[:8]}"
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the resolved plan holds the sink's rows; the view would only keep
    # them alive for the rest of the session
    sink = df.sparkSession.table(name)
    df.sparkSession.catalog.dropTempView(name)
    return sink


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the table's declared
    schema (``sources.TABLES``). ``ts`` becomes the instant whose UTC
    wall-clock equals its naive value (``ntz_as_instant``), because
    watermarks reject TIMESTAMP_NTZ. That step is timezone-free, so
    window boundaries align on naive time exactly like the DuckDB
    oracles' date_trunc/time_bucket, and nothing depends on the session
    timezone (a plain cast to session-tz TIMESTAMP would shift every
    window boundary under a non-UTC driver session — by 30 minutes
    under half-hour-offset zones, and across DST transitions
    everywhere)."""
    # streaming file source requires a directory: point at sf_dir and
    # glob-filter to the events file
    return (
        spark.readStream.schema(TABLES["events"])
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
        .withColumn("ts", ntz_as_instant("ts"))
    )


def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed count/sum per event_type as a real
    streaming query (watermark + window), replayed to completion through
    a memory sink. Complete output mode => final state equals the batch
    aggregation, so the DuckDB oracle is the batch date_trunc rollup."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_DEC.lower())).cast("double").alias("sum_value"),
        )
    )
    return _memory_sink(agg, "complete", "tumbling").select(
        instant_as_ntz(F.col("window.start")).alias("hour_start"),
        "event_type",
        "n",
        "sum_value",
    )


ORACLE_STREAMING_TUMBLING = f"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-ROW DROPPING, actually exercised (the other
    streaming oracles replay in-order data, where the watermark never
    discards anything).

    Empirically verified Spark microbatch semantics being pinned here:
    in batch N, state EVICTION (append-mode emission) uses the watermark
    computed from batch N-1's data, while the LATE-ROW FILTER uses the
    watermark from one batch earlier still (the eviction watermark of
    batch N-1) — late input lags one batch behind eviction.

    Scenario (maxFilesPerTrigger=1; file mtimes force the order):
    - batch 0: all even-id events except the globally latest event. No
      watermark yet — everything merges.
    - batch 1: the single globally latest event. Eviction watermark =
      max(batch-0 ts) - 10min =: wmA — every hour window ending at or
      before wmA is EMITTED with its even-only counts.
    - batch 2: all odd-id events (minus the latest). Late filter now
      stands at wmA: odd rows whose window end <= wmA are DROPPED;
      survivors merge. Eviction watermark reaches max(all ts) - 10min
      =: wmF, emitting the remaining windows with end <= wmF with their
      combined counts. Windows past wmF stay in state, never emitted.

    Every quantity is closed-form in the data, so the oracle states the
    full output: even-only counts for windows <= wmA, combined counts
    for wmA < window end <= wmF.

    VERSION CAVEAT: the one-batch lag between the late-row filter and
    eviction is a WatermarkTracker implementation detail, verified
    against Spark 4.1 (this container's pyspark). It is not spec-bound:
    a Spark upgrade may advance the late filter to the eviction
    watermark, flipping this oracle with no code change here. If this
    query alone starts failing after an upgrade, re-derive wmA/wmF
    (suspect semantics drift, not a regression)."""
    from tiny_mapreduce_rpc_server_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", ntz_as_instant("ts").alias("ts"), "value"
    )
    latest = ev.orderBy(F.desc("ts"), F.desc("event_id")).limit(1).collect()[0]
    stream_dir = _replay_batches(
        spark,
        "late",
        [
            ev.filter((F.col("event_id") % 2 == 0) & (F.col("event_id") != latest["event_id"])),
            ev.filter(F.col("event_id") == latest["event_id"]),
            ev.filter((F.col("event_id") % 2 == 1) & (F.col("event_id") != latest["event_id"])),
        ],
    )

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_DEC.lower())).cast("double").alias("sum_value"),
        )
    )
    return _memory_sink(agg, "append", "late").select(
        instant_as_ntz(F.col("window.start")).alias("hour_start"), "n", "sum_value"
    )


ORACLE_STREAMING_LATE_DATA = f"""
WITH latest AS (
  SELECT event_id FROM events ORDER BY ts DESC, event_id DESC LIMIT 1),
f0 AS (SELECT e.ts, e.value FROM events e, latest l
       WHERE e.event_id % 2 = 0 AND e.event_id <> l.event_id),
f1 AS (SELECT e.ts, e.value FROM events e, latest l WHERE e.event_id = l.event_id),
f2 AS (SELECT e.ts, e.value FROM events e, latest l
       WHERE e.event_id % 2 = 1 AND e.event_id <> l.event_id),
wma AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM f0),
wmf AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
emitted1 AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
         count(*) AS n,
         CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value
  FROM f0, wma
  GROUP BY 1, wma.w
  HAVING hour_start + INTERVAL 1 HOUR <= wma.w),
phase2 AS (
  SELECT ts, value FROM f0, wma
  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > wma.w
  UNION ALL SELECT ts, value FROM f1
  UNION ALL SELECT ts, value FROM f2, wma
  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > wma.w),
emitted2 AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
         count(*) AS n,
         CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value
  FROM phase2, wma, wmf
  GROUP BY 1, wma.w, wmf.w
  HAVING hour_start + INTERVAL 1 HOUR > wma.w
     AND hour_start + INTERVAL 1 HOUR <= wmf.w)
SELECT hour_start, n, sum_value FROM emitted1
UNION ALL
SELECT hour_start, n, sum_value FROM emitted2
"""


def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour, sliding 30 min): each event lands in two
    windows. Oracle: union of the two half-hour-aligned hourly rollups."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    return _memory_sink(agg, "complete", "sliding").select(
        instant_as_ntz(F.col("window.start")).alias("win_start"), "event_type", "n"
    )


ORACLE_STREAMING_SLIDING = """
WITH half AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
           + CASE WHEN EXTRACT(minute FROM ts) >= 30 THEN INTERVAL 30 MINUTE
                  ELSE INTERVAL 0 MINUTE END AS slot,
         event_type
  FROM events)
SELECT win_start, event_type, count(*) AS n FROM (
  SELECT slot AS win_start, event_type FROM half
  UNION ALL
  SELECT slot - INTERVAL 30 MINUTE AS win_start, event_type FROM half) t
GROUP BY 1, 2
"""


def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-min inactivity gap) per user —
    the stateful merge operator the batch `sessionize` query emulates
    with lag+cumsum. State is bounded by the watermark at scale.

    Session merge rule: an event extends the session iff it lands
    strictly inside [start, last_ts + gap) — the oracle's islands SQL
    mirrors that with `>= gap → new session`."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return _memory_sink(agg, "complete", "session").select(
        instant_as_ntz(F.col("session_window.start")).alias("session_start"), "user_id", "n_events"
    )


ORACLE_STREAMING_SESSION = """
WITH gapped AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
                   OVER (PARTITION BY user_id ORDER BY ts) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM gapped)
SELECT min(ts) AS session_start, user_id, count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""


def q_streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (count, max value) kept in GroupState across
    micro-batches — the escape hatch for stateful logic Spark's built-in
    windows can't express (the reference has no counterpart; SURVEY
    §2.11). Replayed to completion, the final state per user equals the
    batch aggregate, so it stays oracle-checkable."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    out_schema = "user_id long, n_events long, max_value double"
    state_schema = "n long, mx double"

    def _update(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            m = pdf["value"].max()
            mx = m if mx is None or (m == m and m > mx) else mx
        state.update((n, float(mx)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    agg = events.groupBy("user_id").applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    # update mode appends one row per (user, micro-batch); keep the final
    # (single-batch replay => already final, dedup defensively on n_events)
    snap = _memory_sink(agg, "update", "state")
    return snap.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_value").alias("max_value")
    )


ORACLE_STREAMING_STATEFUL = """
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events GROUP BY user_id
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication on (user_id, event_type) with
    ``dropDuplicatesWithinWatermark`` — the stream-ETL dedup stage. State
    is bounded by the watermark (keys older than the horizon are evicted),
    which is what makes dedup viable on an unbounded stream; replayed to
    completion the kept-key set equals batch DISTINCT, so the oracle is
    exact."""
    events = read_events_stream(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _memory_sink(deduped, "append", "dedup")


ORACLE_STREAMING_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_streaming_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: the streaming escape hatch for arbitrary batch
    sinks with exactly-once semantics. Each micro-batch writes its own
    epoch directory with mode=overwrite, so a replayed epoch (failure +
    restart from checkpoint) lands idempotently instead of duplicating.
    The checked output re-reads everything written and aggregates; the
    oracle is the same aggregate straight off the events table, so a pass
    proves no batch was lost or double-counted."""
    import os

    events = read_events_stream(spark, sf_dir)
    # a fresh base per run: no checkpoint or epoch left by an earlier run
    base = scratch_dir(spark, "foreach_batch")
    out_dir = os.path.join(base, "data")
    ckpt = os.path.join(base, "ckpt")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch_{epoch_id}")
        )

    q = (
        events.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = (
        spark.read.schema(events.schema)
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )
    return written.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(_DEC.lower())).cast("double").alias("sum_value"),
    )


ORACLE_STREAMING_FOREACH_BATCH = f"""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a static dimension
    (customer, keyed by user_id). The static side is re-read per
    micro-batch and broadcast — no stream-side state, no watermark needed
    for the join itself. At 100 TB of stream this is the standard
    dimension-enrichment topology."""
    from tiny_mapreduce_rpc_server_spark.sources import load_table

    events = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    joined = events.join(cust, "user_id")  # static side broadcasts
    agg = joined.groupBy("c_nationkey", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(_DEC.lower())).cast("double").alias("sum_value"),
    )
    return _memory_sink(agg, "complete", "static")


ORACLE_STREAMING_STATIC_JOIN = f"""
SELECT c_nationkey, event_type, count(*) AS n,
       CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS sum_value
FROM events JOIN customer ON c_custkey = user_id
GROUP BY 1, 2
"""


def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range bound: every
    (click, view) pair per user where the view follows the click within
    10 minutes. Both sides carry watermarks so the join state is bounded
    — the engine can discard a click once no view within its 10-minute
    horizon can still arrive. Output rows are (finalized) exact pairs, so
    the batch join is the oracle."""
    pairs = _click_view_join(
        read_events_stream(spark, sf_dir), read_events_stream(spark, sf_dir), "inner"
    ).select(
        "user_id",
        "click_id",
        "view_id",
        instant_as_ntz("click_ts").alias("click_ts"),
        instant_as_ntz("view_ts").alias("view_ts"),
    )
    return _memory_sink(pairs, "append", "join")


ORACLE_STREAMING_STREAM_JOIN = """
SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
       c.ts AS click_ts, v.ts AS view_ts
FROM events c JOIN events v
  ON v.user_id = c.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 10 MINUTE
"""


def q_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-driven NULL
    emission — the missing-match side of q_streaming_stream_join: every
    (click, view-within-10-min) pair, plus one null-extended row per
    click whose match horizon expired with no view.

    Replayed in two microbatches (everything-but-latest, then the
    single globally latest event) so the watermark actually advances
    and outer state actually expires; Spark's trailing no-data batch
    then evicts against the FINAL watermark wmF = max(ts) - 10min.

    Emission rule: a null row emits for an unmatched click iff
    click_ts + 10min < wmF, where wmF is the MIN of the two sides'
    final watermarks — min(max click_ts, max view_ts) - 10min. The min
    is SPEC behavior (``spark.sql.streaming.multipleWatermarkPolicy``
    defaults to ``min``; only rows flowing through each withWatermark
    node advance that node's watermark — other event types never move
    either). Verified as an exact SET match at sf0.001 and sf0.01,
    including the boundary case where the latest click's horizon
    extends past wmF (retained in state, never emitted). VERSION
    CAVEAT (same class as q_streaming_late_data): the strict-< at the
    cutoff is an engine internal; on a Spark upgrade, if this query
    alone fails, re-derive the boundary — suspect semantics drift, not
    a regression. Matched pairs are watermark-independent and always
    the batch inner join.
    """
    stream = _replay_two_batches(
        spark, sf_dir, "ojoin", "event_id", "user_id", "event_type"
    )
    pairs = _click_view_join(stream, stream, "left_outer").select(
        "user_id",
        "click_id",
        "view_id",
        instant_as_ntz("click_ts").alias("click_ts"),
        instant_as_ntz("view_ts").alias("view_ts"),
    )
    return _memory_sink(pairs, "append", "ojoin")


# The outer joins' oracle head: ``wm`` is the final watermark wmF (the
# min of the two sides' max ts, minus 10 minutes), ``matched`` the batch
# inner join of q_streaming_stream_join.
_SQL_WM_MATCHED = """WITH wm AS (
  SELECT least(max(ts) FILTER (WHERE event_type = 'click'),
               max(ts) FILTER (WHERE event_type = 'view'))
         - INTERVAL 10 MINUTE AS wmf
  FROM events),
matched AS (
  SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
         c.ts AS click_ts, v.ts AS view_ts
  FROM events c JOIN events v
    ON v.user_id = c.user_id
   AND c.event_type = 'click' AND v.event_type = 'view'
   AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 10 MINUTE)"""


def _sql_expired_clicks(name: str) -> str:
    """CTE ``name``: one null-view row per click with no view in its
    10-minute horizon, emitted once that horizon falls below wmF."""
    return f"""{name} AS (
  SELECT c.user_id, c.event_id AS click_id,
         CAST(NULL AS BIGINT) AS view_id,
         c.ts AS click_ts, CAST(NULL AS TIMESTAMP) AS view_ts
  FROM events c, wm
  WHERE c.event_type = 'click'
    AND c.ts + INTERVAL 10 MINUTE < wm.wmf
    AND NOT EXISTS (
      SELECT 1 FROM events v
      WHERE v.user_id = c.user_id AND v.event_type = 'view'
        AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 10 MINUTE))"""


ORACLE_STREAMING_OUTER_JOIN = f"""
{_SQL_WM_MATCHED},
{_sql_expired_clicks("expired_unmatched")}
SELECT * FROM matched
UNION ALL
SELECT * FROM expired_unmatched
"""


def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join: q_streaming_outer_join's left-side
    null emission plus the symmetric right side — an unmatched VIEW
    emits null-extended once no click that could still arrive can match
    it (a view's candidate clicks lie in [view_ts - 10min, view_ts], so
    its horizon is view_ts itself).

    Emission rules, both verified as exact set matches at sf0.001 and
    sf0.01 against the min-of-sides final watermark wmF (see
    q_streaming_outer_join for why min is spec, strictness is not):
    null-click rows for click_ts + 10min < wmF; null-view rows for
    view_ts < wmF; matched pairs are the batch inner join.
    """
    stream = _replay_two_batches(
        spark, sf_dir, "fojoin", "event_id", "user_id", "event_type"
    )
    pairs = _click_view_join(stream, stream, "full_outer").select(
        F.coalesce("user_id", "v_user_id").alias("user_id"),
        "click_id",
        "view_id",
        instant_as_ntz("click_ts").alias("click_ts"),
        instant_as_ntz("view_ts").alias("view_ts"),
    )
    return _memory_sink(pairs, "append", "fojoin")


ORACLE_STREAMING_FULL_OUTER_JOIN = f"""
{_SQL_WM_MATCHED},
{_sql_expired_clicks("expired_clicks")},
expired_views AS (
  SELECT v.user_id, CAST(NULL AS BIGINT) AS click_id,
         v.event_id AS view_id,
         CAST(NULL AS TIMESTAMP) AS click_ts, v.ts AS view_ts
  FROM events v, wm
  WHERE v.event_type = 'view'
    AND v.ts < wm.wmf
    AND NOT EXISTS (
      SELECT 1 FROM events c
      WHERE c.user_id = v.user_id AND c.event_type = 'click'
        AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 10 MINUTE))
SELECT * FROM matched
UNION ALL SELECT * FROM expired_clicks
UNION ALL SELECT * FROM expired_views
"""


# NOTE: Spark 4.x's transformWithStateInPandas (the typed-state successor
# to applyInPandasWithState) was evaluated here but cannot run in this
# environment: its python worker hard-requires google.protobuf
# (pyspark/sql/streaming/proto/StateMessage_pb2.py), which is not
# installed and may not be added. Custom stateful operators are covered
# by the GroupState API in q_streaming_stateful_user_stats; the
# transformWithState variant is a drop-in swap where protobuf exists.

def q_streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful window aggregations in one streaming query
    (Spark 3.4+ multiple-stateful-operator support): 15-minute tumbling
    counts per event type, re-aggregated into hourly totals/max/slot
    counts by windowing OVER THE WINDOW COLUMN of the first aggregate —
    the two-tier rollup (fine-grained + coarse alert tier) that
    previously required two separate queries and an intermediate topic.

    Append mode is mandatory for chained stateful ops, so emission is
    watermark-gated: replayed in two microbatches (everything-but-latest
    then the latest event) so the final watermark reaches
    wmF = max(ts) - 10min and every hourly window whose END <= wmF
    flushes. The oracle states exactly that set closed-form. VERSION
    CAVEAT (same class as q_streaming_late_data): the <=-at-the-boundary
    is engine behavior verified on this Spark; re-derive on upgrade.
    """
    stream = _replay_two_batches(spark, sf_dir, "chain", "event_id", "event_type")
    c15 = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    hourly = c15.groupBy(
        F.window(F.col("window"), "1 hour"), "event_type"
    ).agg(
        F.sum("n").alias("total_n"),
        F.max("n").alias("max_slot_n"),
        F.count("*").alias("n_slots"),
    )
    return _memory_sink(hourly, "append", "chain").select(
        instant_as_ntz(F.col("window.start")).alias("hour_start"),
        "event_type",
        "total_n",
        "max_slot_n",
        "n_slots",
    )


ORACLE_STREAMING_CHAINED = """
WITH m AS (SELECT max(ts) AS mx FROM events),
c15 AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS slot, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2),
hourly AS (
  SELECT CAST(date_trunc('hour', slot) AS TIMESTAMP) AS hour_start,
         event_type,
         sum(n)::BIGINT AS total_n,
         max(n)::BIGINT AS max_slot_n,
         count(*) AS n_slots
  FROM c15 GROUP BY 1, 2)
SELECT hour_start, event_type, total_n, max_slot_n, n_slots
FROM hourly, m
WHERE hour_start + INTERVAL 1 HOUR <= mx - INTERVAL 10 MINUTE
"""


def q_streaming_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike detection over a live stream: tumbling-hour counts per
    event_type run as a real streaming aggregation (watermark + window,
    complete mode), and the memory sink's table is post-processed with a
    lag window to flag hours whose count more than doubled the previous
    hour — the streaming-agg -> downstream-ranking split every
    monitoring pipeline uses (ranking/lag aren't streaming-expressible
    operators, so they belong on the sink side by construction).

    Spike rule is integer-only (n > 2 * prev_n) — no float ratios to
    disagree on. First hour per type has no predecessor: prev_n = 0,
    spike by definition iff n > 0 (matches the oracle's coalesce)."""
    from pyspark.sql import Window

    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    sunk = _memory_sink(agg, "complete", "trending").select(
        instant_as_ntz(F.col("window.start")).alias("hour_start"), "event_type", "n"
    )
    w = Window.partitionBy("event_type").orderBy("hour_start")
    return sunk.select(
        "hour_start",
        "event_type",
        "n",
        F.coalesce(F.lag("n").over(w), F.lit(0)).alias("prev_n"),
    ).withColumn("is_spike", F.col("n") > 2 * F.col("prev_n"))


ORACLE_STREAMING_TRENDING = """
WITH agg AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT hour_start, event_type, n,
       coalesce(lag(n) OVER (PARTITION BY event_type ORDER BY hour_start), 0)
         AS prev_n,
       n > 2 * coalesce(lag(n) OVER (PARTITION BY event_type ORDER BY hour_start), 0)
         AS is_spike
FROM agg
"""


def q_streaming_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dead-letter quarantine: a JSON-lines feed where every
    7th record is deliberately invalid (a bare-word value token) streams
    through ``from_json``; unparseable lines yield null parsed fields
    and are COUNTED, never dropped and never fatal — the streaming twin of
    csv_malformed_handling's ingest contract. Complete-mode global
    rollup: quarantined count, good count, and the decimal-exact value
    sum of the good records, which must equal the batch oracle on the
    clean subset (proving the corruption touched exactly the intended
    rows and the JSON round-trip preserved every double bit-for-bit).

    Shape: per-row parse (no shuffle) + one tiny global aggregate; the
    feed directory is written once by a distributed text sink. Good
    lines are serialized with ``to_json(struct(...))`` (robust against
    quoting/locale surprises), and the feed is explicitly restricted to
    finite non-null values IN BOTH ENGINES — a null value would make
    ``to_json`` omit the field and a non-finite double would serialize
    unparseably, either of which would silently diverge from the
    event_id % 7 corruption oracle."""
    from tiny_mapreduce_rpc_server_spark.sources import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .filter(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & (F.abs("value") < F.lit(float("inf")))
        )
    )
    bad = F.col("event_id") % 7 == 0
    line = F.when(
        bad,
        # deliberately invalid JSON: bare-word value token
        F.concat(
            F.lit('{"event_id":'),
            F.col("event_id").cast("string"),
            F.lit(',"event_type":"'),
            F.col("event_type"),
            F.lit('","value":oops}'),
        ),
    ).otherwise(F.to_json(F.struct("event_id", "event_type", "value")))
    feed = scratch_dir(spark, "quarantine")
    ev.select(line.alias("value")).write.text(feed)

    raw = spark.readStream.format("text").load(feed)
    parsed = raw.select(
        F.from_json(
            F.col("value"), "event_id BIGINT, event_type STRING, value DOUBLE"
        ).alias("r")
    )
    # PERMISSIVE from_json yields a struct with NULL fields (not a null
    # struct) for malformed lines; value is non-null in every good record
    agg = parsed.agg(
        F.count(F.when(F.col("r.value").isNull(), 1)).alias("n_quarantined"),
        F.count(F.when(F.col("r.value").isNotNull(), 1)).alias("n_good"),
        F.sum(F.col("r.value").cast(_DEC.lower()))
        .cast("double")
        .alias("sum_value_good"),
    )
    return _memory_sink(agg, "complete", "quarantine")


ORACLE_STREAMING_QUARANTINE = f"""
SELECT count(CASE WHEN event_id % 7 = 0 THEN 1 END) AS n_quarantined,
       count(CASE WHEN event_id % 7 <> 0 THEN 1 END) AS n_good,
       CAST(sum(CASE WHEN event_id % 7 <> 0
                     THEN CAST(value AS {_DEC}) END) AS DOUBLE)
         AS sum_value_good
FROM events
WHERE value IS NOT NULL AND isfinite(value)
"""


STREAMING_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "streaming_quarantine",
        q_streaming_quarantine,
        ORACLE_STREAMING_QUARANTINE,
    ),
    QuerySpec(
        "streaming_trending",
        q_streaming_trending,
        ORACLE_STREAMING_TRENDING,
    ),
    QuerySpec(
        "streaming_chained_windows",
        q_streaming_chained_windows,
        ORACLE_STREAMING_CHAINED,
    ),
    QuerySpec(
        "streaming_outer_join",
        q_streaming_outer_join,
        ORACLE_STREAMING_OUTER_JOIN,
    ),
    QuerySpec(
        "streaming_full_outer_join",
        q_streaming_full_outer_join,
        ORACLE_STREAMING_FULL_OUTER_JOIN,
    ),
    QuerySpec(
        "streaming_static_join",
        q_streaming_static_join,
        ORACLE_STREAMING_STATIC_JOIN,
    ),
    QuerySpec(
        "streaming_stream_join",
        q_streaming_stream_join,
        ORACLE_STREAMING_STREAM_JOIN,
    ),
    QuerySpec(
        "streaming_foreach_batch",
        q_streaming_foreach_batch,
        ORACLE_STREAMING_FOREACH_BATCH,
    ),
    QuerySpec("streaming_tumbling", q_streaming_tumbling, ORACLE_STREAMING_TUMBLING),
    QuerySpec("streaming_sliding", q_streaming_sliding, ORACLE_STREAMING_SLIDING),
    QuerySpec("streaming_session_window", q_streaming_session_window, ORACLE_STREAMING_SESSION),
    QuerySpec("streaming_stateful_user_stats", q_streaming_stateful_user_stats, ORACLE_STREAMING_STATEFUL),
    QuerySpec("streaming_dedup", q_streaming_dedup, ORACLE_STREAMING_DEDUP),
    QuerySpec(
        "streaming_late_data",
        q_streaming_late_data,
        ORACLE_STREAMING_LATE_DATA,
    ),
]
