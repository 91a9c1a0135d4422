"""User-defined function surface: pandas UDAF and Python UDTF.

Reference parity (SURVEY.md §2.10):
- ``ReduceCallback`` (``Callbacks.h:18``, applied per sorted run in
  ``Reducer.h:130``) is a user-defined aggregate over the values of one
  key. Spark's equivalent DataFrame surface is the GROUPED_AGG pandas
  UDF: Arrow ships each group's column to Python as a ``pd.Series``,
  the callback reduces it to a scalar. That is ``pandas_udaf_sum``.
- a custom ``RecordReader`` (``RecordReader.h:23-33``, wired at
  ``Mapper.h:83-84``) is a user function that turns one input unit into
  many records — a table function. Spark's equivalent is the Python
  UDTF used via LATERAL join. That is ``python_udtf_words``.

Scale notes: the GROUPED_AGG pandas UDF partial-aggregates per shuffle
partition only on the final side (no map-side combine — Spark ships whole
groups), so it is strictly slower than a built-in ``sum``; it exists as
surface parity and for aggregates built-ins can't express. The UDTF is
row-at-a-time Python — the SLOW path by design; the production path for
record-splitting is ``split``+``explode`` (see wordcount), which stays in
WholeStageCodegen. Both run embarrassingly parallel (per-group /
per-row), so they scale out even though per-core throughput is lower.

Exactness: the UDAF aggregates ``l_quantity``, which is integral-valued;
float64 sums of integers < 2^53 are exact under any summation order, so
the pandas ``Series.sum`` (pairwise) hash-matches DuckDB's sequential sum
without the decimal-cast trick needed for fractional doubles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec


def q_pandas_udaf_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pandas_udf parses its DDL return type against the active session,
    # so the decorators must run inside the query, not at import time.
    @pandas_udf("double")
    def _psum(s: pd.Series) -> float:
        """User reduce callback: Arrow-batched sum over one group's values."""
        return float(s.sum())

    @pandas_udf("double")
    def _pmax(s: pd.Series) -> float:
        return float(s.max())

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _psum("l_quantity").alias("sum_qty"),
        _pmax("l_extendedprice").alias("max_price"),
    )


ORACLE_PANDAS_UDAF_SUM = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


class _SplitWordsImpl:
    """Table function: one input string -> N word rows (RecordReader
    analog: one input unit -> many records)."""

    def eval(self, text: str):  # noqa: ANN001 - UDTF contract
        for w in (text or "").split(" "):
            if w:
                yield (w,)


def q_python_udtf_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register(
        "tmrs_split_words", udtf(_SplitWordsImpl, returnType="word: string")
    )
    nation = load_table(spark, sf_dir, "nation")
    nation.createOrReplaceTempView("udtf_nation")
    return spark.sql(
        """
        SELECT n_regionkey, word, count(*) AS n
        FROM udtf_nation, LATERAL tmrs_split_words(n_name)
        GROUP BY n_regionkey, word
        """
    )


ORACLE_PYTHON_UDTF_WORDS = """
SELECT n_regionkey, word, count(*) AS n
FROM (
  SELECT n_regionkey, unnest(string_split(n_name, ' ')) AS word FROM nation
)
WHERE word <> ''
GROUP BY n_regionkey, word
"""


def q_applyinpandas_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas operator (``applyInPandas``): per-user
    run-length encoding of the time-ordered event-type sequence —
    n_events, number of runs, longest run. The grouped-map API is the
    Spark surface for per-entity sequence algorithms that need the whole
    group in memory as a DataFrame (alignment, segmentation, per-entity
    model fits); Arrow ships each user's rows to Python in one batch.

    Scale notes: one shuffle on the group key; each group must fit in
    one Python worker's memory (per-user event history — bounded in any
    real pipeline); Python cost is per-GROUP vectorized pandas, not
    per-row interpretation. The identical result is expressible with
    gaps-and-islands window SQL (the oracle), which stays JVM-side and
    is the right production plan — this query is the API surface pinned
    against it.

    Output is pure integers, so exactness needs no float tricks; row
    order inside each group is fixed by (ts, event_id) before encoding.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )

    def rle(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["ts", "event_id"])
        et = pdf["event_type"].to_numpy()
        # run lengths = distances between break positions
        idx = np.flatnonzero(np.r_[True, et[1:] != et[:-1], True])
        runs = np.diff(idx)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(et)],
                "n_runs": [len(runs)],
                "max_run": [int(runs.max()) if len(runs) else 0],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        rle, "user_id long, n_events long, n_runs long, max_run long"
    )


ORACLE_APPLYINPANDAS_RUNS = """
WITH o AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
m AS (
  SELECT user_id, event_type, rn,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY rn)
                   IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS brk
  FROM o),
g AS (
  SELECT user_id, rn, event_type,
         (sum(brk) OVER (PARTITION BY user_id ORDER BY rn
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS run_id
  FROM m),
runs AS (
  SELECT user_id, run_id, count(*) AS run_len
  FROM g GROUP BY user_id, run_id)
SELECT user_id,
       sum(run_len)::BIGINT AS n_events,
       count(*) AS n_runs,
       max(run_len)::BIGINT AS max_run
FROM runs GROUP BY user_id
"""


def q_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Python UDF with ``useArrow=True`` (Spark 3.5+/4.x): the
    Arrow-serialized variant of the classic row-at-a-time UDF — ~2-5x
    the throughput of pickle transfer, though still Python per value.
    Registered as API-surface coverage with an integer-exact payload
    (vowel count), per this module's exactness discipline; the
    production path for this expression is the pure-SQL translate()
    form in the oracle."""
    vowels = set("aeiou")

    @F.udf("int", useArrow=True)
    def n_vowels(text: str | None) -> int | None:
        if text is None:  # null-safe like the oracle's length(NULL)
            return None
        return sum(1 for ch in text if ch in vowels)

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", n_vowels("text").alias("n_vowels"))
        .where(F.col("n_vowels") > 0)
    )


ORACLE_ARROW_PYTHON_UDF = """
SELECT doc_id,
       (length(text) - length(translate(text, 'aeiou', '')))::INT AS n_vowels
FROM documents
WHERE length(text) - length(translate(text, 'aeiou', '')) > 0
"""


def q_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the Spark 4 VARIANT type:
    ``try_parse_json`` → ``try_variant_get`` replaces schema-rigid
    ``from_json`` for open JSON payloads (binary-encoded, typed lazy
    access — the Snowflake/Databricks semi-structured model). Extracts
    events.props.k and profiles it per event type: n, nulls, min/max —
    all integer-exact.

    Coercion semantics pinned (probed on Spark 4.1): variant_get "int"
    TRUNCATES json doubles (1.5 -> 1), coerces numeric strings
    ("5" -> 5), and returns NULL for non-numeric strings / json null /
    missing keys — the oracle mirrors each case via
    trunc(TRY_CAST(... AS DOUBLE))."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
    d = ev.select("event_type", k.alias("k"))
    return (
        d.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_null_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_VARIANT_FUNCS = """
WITH d AS (
  SELECT event_type,
         CAST(trunc(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
              AS INT) AS k
  FROM events)
SELECT event_type, count(*) AS n,
       count(CASE WHEN k IS NULL THEN 1 END) AS n_null_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM d
GROUP BY event_type
ORDER BY event_type
"""


UDF_SURFACE_QUERIES = [
    QuerySpec(
        "arrow_python_udf",
        q_arrow_python_udf,
        ORACLE_ARROW_PYTHON_UDF,
    ),
    QuerySpec(
        "variant_funcs",
        q_variant_funcs,
        ORACLE_VARIANT_FUNCS,
    ),
    QuerySpec(
        "pandas_udaf_sum",
        q_pandas_udaf_sum,
        ORACLE_PANDAS_UDAF_SUM,
    ),
    QuerySpec(
        "python_udtf_words",
        q_python_udtf_words,
        ORACLE_PYTHON_UDTF_WORDS,
    ),
    QuerySpec(
        "applyinpandas_runs",
        q_applyinpandas_runs,
        ORACLE_APPLYINPANDAS_RUNS,
    ),
]


# ---------------------------------------------------------------------------
# mapInArrow: RecordBatch-level Python execution (no pandas conversion)
# ---------------------------------------------------------------------------


def _arrow_token_count(batches):
    """mapInArrow worker: per-doc whitespace token count computed with
    pyarrow.compute only — zero pandas materialization, zero per-row
    Python. Token count == number of \\S+ runs, the same contract as
    functions.portable.tokens."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        n_tok = pc.count_substring_regex(batch.column("text"), r"\S+")
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), batch.column("lang"),
             pc.cast(n_tok, pa.int64())],
            names=["doc_id", "lang", "n_tokens"],
        )


def q_arrow_map_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the lowest-overhead Python execution surface:
    the worker receives raw Arrow RecordBatches and answers with
    pyarrow.compute kernels, skipping the pandas conversion that
    mapInPandas pays on both edges (per-batch Series construction +
    object boxing). Per-doc token counts feed a per-language rollup.

    The per-doc counts are exact integers, so the DuckDB oracle
    recomputes the identical contract with regexp_extract_all — the
    value-hash proves the Arrow kernel and the SQL engine agree on
    every document.

    100 TB shape: the Arrow path streams batches at the Parquet
    reader's batch size with one C-level regex pass per batch; the only
    shuffle is the final (lang) rollup, partial-aggregated map-side.
    No reference counterpart (SURVEY §2.11 — [EXT])."""
    from tiny_mapreduce_rpc_server_spark.sources import spread

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    counted = docs.mapInArrow(
        _arrow_token_count, "doc_id long, lang string, n_tokens long"
    )
    return counted.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


ORACLE_ARROW_MAP_BATCHES = r"""
WITH t AS (
  SELECT lang, len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens
  FROM documents)
SELECT lang, count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS sum_tokens,
       min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens
FROM t GROUP BY lang
"""

UDF_SURFACE_QUERIES.append(
    QuerySpec(
        "arrow_map_batches",
        q_arrow_map_batches,
        ORACLE_ARROW_MAP_BATCHES,
    )
)


# ---------------------------------------------------------------------------
# applyInArrow: grouped-map in raw Arrow (the Spark 4 sibling of
# applyInPandas, completing this module's Python-execution matrix)
# ---------------------------------------------------------------------------


def _arrow_lang_profile(table):
    """Grouped-map worker: one pa.Table per language group in, one
    summary row out — pyarrow.compute only, exact integer outputs
    (sum/min/max over int64), no pandas anywhere."""
    import pyarrow as pa
    import pyarrow.compute as pc

    chars = pc.cast(table.column("n_chars"), pa.int64())
    return pa.table(
        {
            "lang": [table.column("lang")[0].as_py()],
            "n_docs": pa.array([table.num_rows], pa.int64()),
            "sum_chars": pa.array([pc.sum(chars).as_py()], pa.int64()),
            "min_chars": pa.array([pc.min(chars).as_py()], pa.int64()),
            "max_chars": pa.array([pc.max(chars).as_py()], pa.int64()),
        }
    )


def q_applyinarrow_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` — grouped-map custom aggregation where the
    worker sees each group as ONE raw Arrow table (no pandas edge at
    all): a per-language corpus profile with exact integer stats.
    Together with pandas_udaf_sum (GROUPED_AGG), applyinpandas_runs
    (grouped-map pandas), arrow_python_udf (scalar), python_udtf_words
    (UDTF), the multimodal mapInPandas kernels, and arrow_map_batches
    (mapInArrow), this completes every Python-execution surface Spark 4
    offers.

    100 TB caveat (the reason built-ins win when they suffice): a
    grouped-map worker materializes the WHOLE group in memory, so key
    skew bounds feasibility — this profile exists for its API
    coverage; the same stats in pure aggregates are one partial-agg
    shuffle (see text_token_stats). No reference counterpart (SURVEY
    §2.11 — [EXT])."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return docs.groupBy("lang").applyInArrow(
        _arrow_lang_profile,
        "lang string, n_docs long, sum_chars long, min_chars long, max_chars long",
    )


ORACLE_APPLYINARROW_LANG = """
SELECT lang, count(*) AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars,
       min(n_chars)::BIGINT AS min_chars,
       max(n_chars)::BIGINT AS max_chars
FROM documents GROUP BY lang
"""

UDF_SURFACE_QUERIES.append(
    QuerySpec(
        "applyinarrow_lang_profile",
        q_applyinarrow_lang_profile,
        ORACLE_APPLYINARROW_LANG,
    )
)
