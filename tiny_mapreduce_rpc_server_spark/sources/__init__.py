"""Sources: readers over the driver's parquet tables + text/csv/json.

Reference counterparts: ``InputSplit.h:8-30`` (byte-range splits),
``LineRecordReader.h:14-119`` (line records incl. split-straddle rule),
``MapReduceUtil.cpp:139-166`` (fixed-size split planning). All of that is
built into every Spark source (``spark.sql.files.maxPartitionBytes``
plans the splits; TextInputFormat handles line straddling identically),
so this module is a thin, schema-aware catalog layer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before a
    compute-heavy per-row pipeline.

    The sf* tables are single parquet files with one row group — one
    input split — so without this, per-document work (shingling,
    signature folds, regex suites) runs on ONE core of the session. The
    round-robin repartition shuffles only the scan's raw bytes (small)
    and buys full-width compute. At real scale inputs arrive in many
    splits and this is a structural no-op (partitions >= parallelism
    => returned unchanged), so the plan stays shuffle-free exactly when
    the shuffle would not pay for itself."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if _estimated_scan_partitions(df) < target:
        return df.repartition(target)
    return df


_SIZE_SUFFIXES = {
    "": 1,
    "b": 1,
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
    "t": 1024**4,
    "tb": 1024**4,
    "p": 1024**5,
    "pb": 1024**5,
}


def _parse_bytes(raw: str, default: int) -> int:
    """Parse Spark byte-size conf values ('134217728b', '128m', '4MB',
    plain ints). Returns `default` on anything unrecognized."""
    s = str(raw).strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:]
    try:
        return int(num) * _SIZE_SUFFIXES[suffix]
    except (ValueError, KeyError):
        return default


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate how many input splits a scan will plan WITHOUT converting
    the DataFrame to a classic RDD (``df.rdd.getNumPartitions()`` forces
    full analysis + physical planning through the RDD path on every
    call).

    This reproduces FilePartition.maxSplitBytes + packing, not just a
    size/maxPartitionBytes division — both of the planner's adjustments
    move the count in DIFFERENT directions and each matters here:

    - ``bytesPerCore`` shrink: maxSplitBytes = min(maxPartitionBytes,
      max(openCostInBytes, totalBytes / defaultParallelism)). One 100 MB
      file on 8 cores is already split ~8 ways by Spark; ignoring this
      would bolt a useless round-robin shuffle onto a scan that has full
      width.
    - ``openCostInBytes`` packing: many tiny files pack into few
      partitions (ceil(totalBytes / maxSplitBytes) with each file padded
      by the open cost). Ignoring this reports 64 tiny files as 64
      partitions when Spark plans ~2 — exactly the starved-compute case
      spread() exists to fix.

    Non-file plans (range, joins, …) fall back to the RDD probe —
    spread() is only applied to scans, so the fallback is test-only."""
    import math
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.rdd.getNumPartitions()
    conf = df.sparkSession.conf
    mpb = _parse_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", "134217728b"),
        128 * 1024 * 1024,
    )
    open_cost = _parse_bytes(
        conf.get("spark.sql.files.openCostInBytes", "4194304b"), 4 * 1024 * 1024
    )
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            # remote store: sizes not stat-able from here. Assume
            # size 0 — packing then UNDER-estimates (tiny padded
            # totals), which errs toward an occasionally-redundant
            # repartition; assuming large files would instead make
            # spread() skip the widen exactly in the many-tiny-files
            # case it exists for.
            sizes.append(0)
            continue
        try:
            sizes.append(os.path.getsize(u.path))
        except OSError:
            sizes.append(0)
    padded_total = sum(s + open_cost for s in sizes)
    max_split = min(mpb, max(open_cost, padded_total // max(1, parallelism)))
    # splits: files chopped at max_split, then bin-packed with padding
    n_splits = sum(max(1, math.ceil(s / max_split)) for s in sizes)
    n_packed = max(1, math.ceil(padded_total / max_split))
    return min(n_splits, n_packed)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Parquet scan => column pruning +
    predicate pushdown for free once Catalyst sees the full plan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects
    ([PARQUET_TYPE_ILLEGAL]). Read nanos as raw int64 (legacy conf, set
    dynamically so it works under any session) and convert to a
    microsecond timestamp with integer floor-division — the same ns->us
    truncation DuckDB applies, so oracle comparisons stay exact."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    if dict(df.dtypes).get("ts") == "bigint":
        # integer division — double math would lose precision above 2^53 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
