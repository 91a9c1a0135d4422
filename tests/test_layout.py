"""Data-layout tests: the storage-side half of the 100 TB discipline.

A 100 TB table is only queryable if the layout does part of the work:
directory partitioning lets the scan skip whole partitions (pruning),
and bucketing pre-shuffles a table ONCE at write time so every
subsequent equi-join/aggregation on the bucket key runs shuffle-free.
These tests prove both behaviors end-to-end through our sinks.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.test_plans import plan
from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.sources.sinks import write_parquet

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_partitioned_write_prunes(spark, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directory skip), not a row filter over the full scan."""
    li = load_table(spark, SF_ORACLE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    out = str(tmp_path / "li_part")
    write_parquet(li, out, partition_by=["l_returnflag"])

    back = spark.read.parquet(out).filter("l_returnflag = 'R'")
    p = plan(spark, back)
    assert "PartitionFilters: [isnotnull(l_returnflag" in p.replace("#", "") or (
        "PartitionFilters" in p and "l_returnflag" in p.split("PartitionFilters", 1)[1][:120]
    ), p
    # and the pruned read returns exactly the R rows
    expect = li.filter("l_returnflag = 'R'").count()
    assert back.count() == expect


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with NO
    exchange — the write-once/join-forever co-location that replaces a
    per-query shuffle of the fact table."""
    orders = load_table(spark, SF_ORACLE, "orders")
    li = load_table(spark, SF_ORACLE, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # a previously interrupted run can leave the managed location behind
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    joined = (
        spark.table("b_lineitem")
        .join(
            spark.table("b_orders").hint("merge"),
            spark.table("b_lineitem").l_orderkey == spark.table("b_orders").o_orderkey,
        )
        .groupBy("o_orderstatus")
        .agg({"l_quantity": "sum"})
    )
    p = plan(spark, joined)
    assert "SortMergeJoin" in p, p
    # neither join side may shuffle: the only exchange allowed is the
    # final aggregation's (on o_orderstatus)
    assert "hashpartitioning(l_orderkey" not in p, p
    assert "hashpartitioning(o_orderkey" not in p, p
    # correctness: same result as the plain join
    expect = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg({"l_quantity": "sum"})
        .collect()
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, expect))


def test_sorted_kv_text_sink_contract(spark, tmp_path):
    """The reference's output contract via our sink: N files, each
    key-sorted, value persisted."""
    from tiny_mapreduce_rpc_server_spark.sources.sinks import write_sorted_kv_text

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "lang")
    out = str(tmp_path / "kv")
    write_sorted_kv_text(docs, out, "lang", "doc_id", num_partitions=5)

    import glob

    files = sorted(glob.glob(out + "/part-*"))
    # hash(key) % 5 routing: ≤5 files (empty partitions write no file)
    assert 1 <= len(files) <= 5
    seen = 0
    for f in files:
        with open(f) as fh:
            keys = [line.split(" ", 1)[0] for line in fh if line.strip()]
        assert keys == sorted(keys), f"{f} not key-sorted"
        seen += len(keys)
    assert seen == docs.count()


def test_paired_sentinels_are_oracle_backed_bench_queries():
    """bench.py's paired gate silently skips a sentinel whose name no
    longer resolves to an oracle-backed bench query (deliberate
    fault-tolerance at run time) — so pin the wiring here instead: every
    PAIRED_SENTINELS entry must exist in the registry, be a bench
    headliner, and carry a DuckDB oracle."""
    import bench
    from tiny_mapreduce_rpc_server_spark.registry import all_queries

    q = all_queries()
    assert len(bench.PAIRED_SENTINELS) >= 4
    for name in bench.PAIRED_SENTINELS:
        assert name in q, name
        assert q[name].bench, f"{name} is not a bench headliner"
        assert q[name].oracle, f"{name} has no oracle to pair against"


# every shipped data directory: the test tables and perfbench's
_DATA_DIRS = {
    f"{root}/{sf}": os.path.join(parent, sf)
    for root, parent, sfs in [
        ("testdata", os.path.dirname(SF_SMOKE), ["sf0.001", "sf0.01", "sf0.1"]),
        ("perfbench", os.path.join(_REPO, "perfbench", "data"), ["sf0.001", "sf0.1"]),
    ]
    for sf in sfs
}


@pytest.mark.parametrize("data", _DATA_DIRS)
def test_declared_schemas_match_inference(spark, data):
    """Every table's declared schema is exactly what Spark infers from
    its parquet footer: names, order, types and nullability."""
    from tiny_mapreduce_rpc_server_spark.sources import TABLES, table_path

    sf_dir = _DATA_DIRS[data]

    for name, ddl in TABLES.items():
        inferred = spark.read.parquet(table_path(sf_dir, name)).schema
        assert load_table(spark, sf_dir, name).schema == inferred, name
        assert inferred.toDDL() == ddl, name


def test_table_readers_fire_no_jobs(spark):
    """Building a table-scan query and opening the events stream run no
    Spark job: the schema is declared, not inferred from a footer."""
    from tiny_mapreduce_rpc_server_spark.registry import all_queries
    from tiny_mapreduce_rpc_server_spark.streaming import read_events_stream

    sc = spark.sparkContext
    builds = {
        "q6_forecast_revenue": lambda: all_queries()["q6_forecast_revenue"].fn(
            spark, SF_SMOKE
        ),
        "read_events_stream": lambda: read_events_stream(spark, SF_SMOKE),
    }
    for name, build in builds.items():
        group = f"declared-schema-{name}"
        sc.setJobGroup(group, name)
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_events_queries_leave_session_conf_alone(spark):
    """Running an events query does not set the legacy parquet
    nanos-as-long conf on the caller's session."""
    from tiny_mapreduce_rpc_server_spark.registry import all_queries

    key = "spark.sql.legacy.parquet.nanosAsLong"
    conf = spark._jsparkSession.sessionState().conf()
    spark.conf.unset(key)
    _, n = all_queries()["time_bucket_rollup"].run(
        spark, SF_SMOKE, lambda df: df.toArrow().num_rows
    )
    assert n > 0
    assert not conf.contains(key)


def test_nanos_events_file_is_rejected(spark, tmp_path):
    """An events file whose ``ts`` is parquet TIMESTAMP(NANOS) does not
    match the declared TIMESTAMP_NTZ (microseconds) layout: reading
    ``ts`` fails loudly instead of returning reinterpreted values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tiny_mapreduce_rpc_server_spark.sources import table_path

    events = pq.read_table(table_path(SF_SMOKE, "events"))
    i = events.schema.get_field_index("ts")
    events = events.set_column(i, "ts", events.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(events, table_path(str(tmp_path), "events"))
    # select ts explicitly: a count() prunes every column and reads nothing
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, str(tmp_path), "events").select("ts").collect()
