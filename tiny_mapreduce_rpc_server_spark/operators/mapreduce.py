"""MapReduce facade: the reference's job API re-expressed on Spark.

Reference surface being reproduced (API shape, not implementation):

- user map callback ``(reader_key, reader_value) -> (key, value)``
  (``Callbacks.h:14-15``, plugged via the ``Mapper`` ctor ``Mapper.h:26``);
- pluggable ``Partitioner`` (``Partitioner.h:8-23``; default
  ``StringPartitioner`` = ``hash(key) % N`` ``StringPartitioner.h:21-26``);
- N shuffle partitions, default 5 (``Callbacks.h:44,47``);
- per-partition **key-sorted** output, a structural guarantee of the
  reference's spill/merge cascade (``KVBuffer.cpp:113-186``,
  ``MapRunner.h:141-197``, ``Reducer.h:30-106``);
- user reduce callback summing values per key (``MapReduceUtil.cpp:114-135``)
  — deprecated/never-invoked in the reference
  (``Imagine_MapReduce/README.md:91-92``); here it is actually applied,
  fixing rather than reproducing the defect. Likewise the output format
  persists values (the reference's ``TextOutputFormat.h:25,31`` drops them).

Everything between map and reduce — ring-buffer collection, sort/spill,
k-way merges, shuffle copy (§2.4/2.5 of SURVEY.md) — is Spark-internal
(ExternalSorter / ShuffleBlockFetcherIterator) and deliberately not
reimplemented.

Scale notes: arbitrary Python callables force the RDD path (pickled rows
through the Python worker). The records come straight from the
``linefile`` split planner: one Python task per byte-range split reads its
split and feeds each ``(offset, line)`` to the map callback in the same
worker, as the reference's mapper thread does — no DataSource scan, no
Arrow hop to the JVM and back, no per-path plan. ``reduceByKey`` keeps
the map-side combine so shuffle volume is per-distinct-key, not
per-record; since it also leaves the RDD partitioned by the job's
partitioner, the sorted-output guarantee costs an in-place per-partition
sort — the whole job is ONE shuffle. For callable-free jobs use the
DataFrame fast path (``word_count``) which stays entirely JVM-side.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.sources.linefile import LineFileReader

# Reference defaults (Callbacks.h:44,47).
DEFAULT_NUM_PARTITIONS = 5


def default_partitioner(key: Any) -> int:
    """Portable stand-in for StringPartitioner (hash % N happens in Spark)."""
    return hash(key)


class MapReduceEngine:
    """``engine.map_reduce(paths, map_fn, reduce_fn, num_partitions)``.

    The full generality of the reference's pluggable-callback job, plus the
    generalizations Spark makes free (flat_map, any value type).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def map_reduce(
        self,
        paths: str | list[str],
        map_fn: Callable[[int, str], tuple[Any, Any]] | None = None,
        reduce_fn: Callable[[Any, Any], Any] | None = operator.add,
        num_partitions: int = DEFAULT_NUM_PARTITIONS,
        partitioner: Callable[[Any], int] | None = None,
        flat_map: bool = False,
        sort_within_partitions: bool = True,
    ):
        """Run a reference-shaped job over text file(s); returns an RDD of
        (key, value) hash-partitioned by key and key-sorted within each
        partition (the reference's end-to-end guarantee, SURVEY §2.6).

        map_fn defaults to the reference's default mapper ``(line, 1)``
        (``Mapper.h:264-273``); reduce_fn defaults to sum-by-key
        (``MapReduceUtil.cpp:114-135``).
        """
        if isinstance(paths, str):
            paths = [paths]
        if map_fn is None:
            map_fn = lambda offset, line: (line, 1)  # noqa: E731
        part_fn = partitioner or default_partitioner

        # (offset, line) records — the LineRecordReader contract with TRUE
        # byte offsets (LineRecordReader.h:14 yields byte offsets): the
        # linefile split planner cuts every path into byte ranges, and one
        # task per range runs the linefile record reader (straddle rule)
        # and hands its records to the map in the same Python worker. Not
        # a linefile DataSource scan: that costs planner processes per
        # path, an Arrow hop into the JVM and a second Python worker.
        splits = [s for p in paths for s in LineFileReader({"path": p}).partitions()]
        # an empty path list plans no splits: run one empty partition
        records = self.spark.sparkContext.parallelize(
            splits, max(len(splits), 1)
        ).flatMap(LineFileReader.read)

        if flat_map:
            kv = records.flatMap(lambda t: map_fn(t[0], t[1]))
        else:
            kv = records.map(lambda t: map_fn(t[0], t[1]))

        if reduce_fn is not None:
            # map-side combine, then ONE hash shuffle; reduceByKey already
            # leaves the RDD partitioned by part_fn, so the sorted-output
            # guarantee is a per-partition in-place sort, not a second
            # exchange.
            kv = kv.reduceByKey(reduce_fn, numPartitions=num_partitions, partitionFunc=part_fn)
            if sort_within_partitions:
                # repartitionAndSortWithinPartitions sees the matching
                # partitioner reduceByKey installed, so partitionBy()
                # returns self — NO second exchange — and the per-
                # partition sort is PySpark's ExternalSorter, which
                # spills instead of materializing the whole partition in
                # worker memory (a high-cardinality key domain at 100×
                # would OOM a plain in-memory sorted())
                kv = kv.repartitionAndSortWithinPartitions(
                    num_partitions, part_fn
                )
        elif sort_within_partitions:
            kv = kv.repartitionAndSortWithinPartitions(num_partitions, part_fn)
        return kv

    def save_text(self, kv, path: str) -> None:
        """Text sink: ``key<SPACE>value`` lines, one file per partition —
        the reference's on-disk format (``Callbacks.h:49-53``) but with the
        value actually persisted (TextOutputFormat defect fixed) and no
        forbidden-character constraint on keys."""
        kv.map(lambda t: f"{t[0]} {t[1]}").saveAsTextFile(path)


def word_count(df: DataFrame, text_col: str = "value") -> DataFrame:
    """DataFrame fast path for the reference's flagship job, generalized
    from line-count to word-count: tokenize, group, count.

    Stays entirely JVM-side (split/explode/hashagg inside whole-stage
    codegen); partial aggregation handles the map-side combine the
    reference's dead-code combiner (``MapReduceUtil.cpp:48-65``) intended.
    """
    return (
        df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def line_count(df: DataFrame, text_col: str = "value") -> DataFrame:
    """The literal reference default job: ``(line, 1)`` then sum-by-key
    (``Mapper.h:264-273`` + ``MapReduceUtil.cpp:114-135``)."""
    return df.groupBy(F.col(text_col).alias("line")).agg(F.count("*").alias("cnt"))
