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

# The ten input tables and their layouts, as Spark DDL, in the column
# order and with the types that schema inference gives for every shipped
# data directory (all fields nullable). Reading with a declared schema
# skips inference, which runs one footer-reading Spark job per read.
# ``events.ts`` is parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false,
# i.e. TIMESTAMP_NTZ; a file with any other ``ts`` layout (such as
# TIMESTAMP(NANOS)) fails its first read of ``ts`` instead of being
# silently reinterpreted.
TABLES = {
    "region": "r_regionkey INT,r_name STRING",
    "nation": "n_nationkey INT,n_name STRING,n_regionkey INT",
    "customer": (
        "c_custkey BIGINT,c_name STRING,c_nationkey INT,c_acctbal DOUBLE,"
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING,p_size INT,"
        "p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING,"
        "o_totalprice DOUBLE,o_orderdate TIMESTAMP_NTZ,o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT,l_linenumber INT,"
        "l_quantity DOUBLE,l_extendedprice DOUBLE,l_discount DOUBLE,l_tax DOUBLE,"
        "l_returnflag STRING,l_linestatus STRING,l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT,ts TIMESTAMP_NTZ,user_id BIGINT,event_type STRING,"
        "value DOUBLE,props STRING"
    ),
    "documents": "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
    "embeddings": "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT",
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before a
    compute-heavy per-row pipeline.

    The sf* tables are single parquet files with one row group — one
    input split — so without this, per-document work (shingling,
    signature folds, regex suites) runs on ONE core of the session. The
    round-robin repartition shuffles only the scan's raw bytes (small)
    and buys full-width compute. The split count is Spark's own plan
    (``df.rdd.getNumPartitions()``, which plans the scan and runs no
    job): when it already reaches ``defaultParallelism``, as at real
    scale, the frame is returned unchanged, so the plan stays
    shuffle-free exactly when the shuffle would not pay for itself."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table with its declared schema. Parquet scan
    => column pruning + predicate pushdown for free once Catalyst sees
    the full plan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {list(TABLES)}")
    return spark.read.schema(TABLES[name]).parquet(table_path(sf_dir, name))
