"""Facade tests: MapReduce API shape, RPC registry, sinks.

Reproduces the reference's own manual test scenarios (SURVEY §5.1) as
automated tests: the word-count default job, the ``add`` RPC function and
the test client's Fibonacci loop, sorted per-partition text output.
"""

from __future__ import annotations

import glob
import operator

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tiny_mapreduce_rpc_server_spark.operators.mapreduce import (
    MapReduceEngine,
    line_count,
    word_count,
)
from tiny_mapreduce_rpc_server_spark.rpc import FunctionRegistry, default_registry
from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.sources.sinks import (
    write_csv,
    write_parquet,
    write_sorted_kv_text,
)

# --- MapReduce facade -----------------------------------------------------


def test_map_reduce_default_job(spark, tmp_path):
    """The reference's default job: (line, 1) map + sum reduce
    (Mapper.h:264-273, MapReduceUtil.cpp:114-135)."""
    p = tmp_path / "in.txt"
    p.write_text("b\na\nb\nc\nb\na\n")
    eng = MapReduceEngine(spark)
    kv = eng.map_reduce(str(p), num_partitions=2)
    assert dict(kv.collect()) == {"a": 2, "b": 3, "c": 1}


def test_map_reduce_sorted_within_partitions(spark, tmp_path):
    """Per-partition key-sorted output — the reference's structural
    guarantee (SURVEY §2.6.2)."""
    p = tmp_path / "in.txt"
    p.write_text("".join(f"k{i % 17:02d}\n" for i in range(100)))
    eng = MapReduceEngine(spark)
    kv = eng.map_reduce(str(p), num_partitions=3)
    parts = kv.glom().collect()
    assert len(parts) == 3
    for part in parts:
        keys = [k for k, _ in part]
        assert keys == sorted(keys)


def test_map_reduce_custom_map_and_reduce(spark, tmp_path):
    p = tmp_path / "in.txt"
    p.write_text("1 2\n3 4\n5 6\n")
    eng = MapReduceEngine(spark)
    kv = eng.map_reduce(
        str(p),
        map_fn=lambda off, line: ("total", sum(int(x) for x in line.split())),
        reduce_fn=operator.add,
        num_partitions=1,
    )
    assert kv.collect() == [("total", 21)]


def test_map_reduce_flat_map(spark, tmp_path):
    """flatMap generalization (the reference is strictly 1-in-1-out,
    Callbacks.h:14-15; Spark makes the generalization free)."""
    p = tmp_path / "in.txt"
    p.write_text("a b\nb c\n")
    eng = MapReduceEngine(spark)
    kv = eng.map_reduce(
        str(p),
        map_fn=lambda off, line: [(w, 1) for w in line.split()],
        flat_map=True,
        num_partitions=2,
    )
    assert dict(kv.collect()) == {"a": 1, "b": 2, "c": 1}


def test_map_reduce_single_shuffle(spark, tmp_path):
    """The whole reduce job is ONE shuffle: reduceByKey partitions by the
    job partitioner, and the sorted-output guarantee is an in-place
    per-partition sort, not a second exchange."""
    p = tmp_path / "in.txt"
    p.write_text("".join(f"k{i % 17:02d}\n" for i in range(100)))
    eng = MapReduceEngine(spark)
    kv = eng.map_reduce(str(p), num_partitions=3)
    assert kv.toDebugString().decode().count("ShuffledRDD") == 1


def test_map_reduce_byte_offset_keys(spark, tmp_path):
    """Reader keys are TRUE byte offsets (LineRecordReader.h:14), not
    line positions: the map callback sees the offset where its line
    starts."""
    p = tmp_path / "in.txt"
    p.write_text("aa\nbbbb\nc\n")  # line start offsets: 0, 3, 8
    eng = MapReduceEngine(spark)
    kv = eng.map_reduce(
        str(p),
        map_fn=lambda off, line: (line, off),
        reduce_fn=None,
        sort_within_partitions=False,
    )
    assert dict(kv.collect()) == {"aa": 0, "bbbb": 3, "c": 8}


def _records_inputs(tmp_path) -> list[str]:
    """Two files, an empty file, a file without a trailing newline and a
    directory of part files (plus the names the planner must skip)."""
    a = tmp_path / "a.txt"
    a.write_text("x\ny y\n\nx\n")
    b = tmp_path / "b.txt"
    b.write_text("b1\nb2 b2\n")
    empty = tmp_path / "empty.txt"
    empty.write_text("")
    tail = tmp_path / "tail.txt"
    tail.write_text("t1\nno newline")
    parts = tmp_path / "parts"
    parts.mkdir()
    (parts / "part-00000").write_text("p0\n")
    (parts / "part-00001").write_text("p1\np1 again\n")
    (parts / "_SUCCESS").write_text("")
    (parts / ".part-00002.tmp").write_text("staged\n")
    return [str(p) for p in (a, b, empty, tail, parts)]


def _identity_records(spark, paths):
    return MapReduceEngine(spark).map_reduce(
        paths,
        map_fn=lambda off, line: ((off, line), 1),
        reduce_fn=None,
        sort_within_partitions=False,
    )


def test_map_reduce_records_match_linefile_source(spark, tmp_path):
    """map_reduce reads its records with the linefile planner and reader
    directly: over several paths it must see exactly the (offset, line)
    rows the linefile DataSource returns for the same paths."""
    from tiny_mapreduce_rpc_server_spark.sources.linefile import register

    register(spark)
    paths = _records_inputs(tmp_path)
    want = []
    for p in paths:
        df = spark.read.format("linefile").option("path", p).load()
        want += [(r.offset, r.line) for r in df.collect()]
    got = [k for k, _ in _identity_records(spark, paths).collect()]
    assert sorted(got) == sorted(want)
    assert (3, "no newline") in got and len(got) == 11


def test_map_reduce_one_partition_per_split(spark, tmp_path):
    """One partition per planned byte-range split, in plan order, each
    holding exactly the records its split reads (the reference's one
    mapper thread per split)."""
    from tiny_mapreduce_rpc_server_spark.sources.linefile import LineFileReader

    paths = _records_inputs(tmp_path)
    splits = [s for p in paths for s in LineFileReader({"path": p}).partitions()]
    reader = LineFileReader({"path": paths[0]})
    want = [[(rec, 1) for rec in reader.read(s)] for s in splits]
    kv = _identity_records(spark, paths)
    assert kv.getNumPartitions() == len(splits) == 6
    assert kv.glom().collect() == want


def test_map_reduce_and_linefile_read_no_records_without_data_files(spark, tmp_path):
    """A directory holding only names the planner skips, and an empty
    path list, give zero records through map_reduce and through the
    linefile source, instead of failing in the split planner."""
    from tiny_mapreduce_rpc_server_spark.sources.linefile import register

    register(spark)
    done = tmp_path / "done"
    done.mkdir()
    (done / "_SUCCESS").write_text("")
    (done / ".part-00000.tmp").write_text("staged\n")
    (done / "part-00001.tmp").write_text("staged\n")
    eng = MapReduceEngine(spark)
    for paths in (str(done), []):
        kv = eng.map_reduce(paths, num_partitions=2)
        assert kv.getNumPartitions() == 2
        assert kv.collect() == []
    df = spark.read.format("linefile").option("path", str(done)).load()
    assert df.collect() == []


def test_word_count_df_matches_rdd(spark, tmp_path):
    p = tmp_path / "in.txt"
    p.write_text("x y\ny z\nx x\n")
    df = spark.read.text(str(p))
    got = {r["word"]: r["cnt"] for r in word_count(df).collect()}
    assert got == {"x": 3, "y": 2, "z": 1}
    lines = {r["line"]: r["cnt"] for r in line_count(df).collect()}
    assert lines == {"x y": 1, "y z": 1, "x x": 1}


# --- RPC registry ---------------------------------------------------------


def test_rpc_add_and_fib_loop(spark):
    """The reference's whole manual test suite: register ``add``
    (Test/RpcServer.cpp:30-37), call it Fibonacci-style
    (Test/RpcClient.cpp:57-78)."""
    reg = default_registry()
    assert reg.call("add", 1, 2) == 3
    a, b = 1, 1
    for _ in range(10):
        a, b = b, reg.call("add", a, b)
    assert b == 144


def test_rpc_registry_dispatch_and_errors(spark):
    reg = FunctionRegistry()
    reg.register("upper", lambda s: s.upper())
    assert reg.search("upper") is not None
    assert reg.search("nope") is None
    assert reg.call("upper", "abc") == "ABC"
    try:
        reg.call("nope")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass
    reg.deregister("upper")
    assert reg.names() == []


def test_rpc_register_udf_sql_path(spark):
    """Distributed path: the registered function callable from SQL."""
    reg = default_registry()
    reg.register("excite", lambda s: s + "!")
    reg.register_udf(spark, "excite")
    out = spark.sql("SELECT excite('go') AS v").collect()[0]["v"]
    assert out == "go!"


# --- sinks ----------------------------------------------------------------


def test_write_sorted_kv_text(spark, tmp_path):
    """Reference output contract: N hash-partitioned files, each
    key-sorted, values persisted (TextOutputFormat defect fixed)."""
    df = load_table(spark, SF_ORACLE, "events").groupBy("event_type").count()
    out = str(tmp_path / "kv_out")
    write_sorted_kv_text(df, out, "event_type", "count", num_partitions=3)
    files = sorted(glob.glob(out + "/part-*"))
    # ≤ num_partitions files (Spark skips empty hash buckets on write)
    assert 1 <= len(files) <= 3
    seen = {}
    for f in files:
        keys = []
        for line in open(f):
            k, v = line.rstrip("\n").split(" ")
            assert int(v) > 0  # value persisted
            keys.append(k)
        assert keys == sorted(keys)  # per-partition sorted
        seen.update(dict.fromkeys(keys))
    expected = {r[0] for r in df.select("event_type").collect()}
    assert set(seen) == expected


def test_csv_parquet_roundtrip(spark, tmp_path):
    df = load_table(spark, SF_ORACLE, "nation")
    cpath, ppath = str(tmp_path / "c"), str(tmp_path / "p")
    write_csv(df, cpath)
    write_parquet(df, ppath, partition_by=["n_regionkey"])
    back_c = spark.read.option("header", "true").csv(cpath)
    back_p = spark.read.parquet(ppath)
    assert back_c.count() == df.count()
    assert back_p.count() == df.count()
    # partitioned layout: one directory per region key => pruning works
    pruned = back_p.filter(F.col("n_regionkey") == 0)
    assert "PartitionFilters: [isnotnull(n_regionkey" in spark._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )


def test_csv_handles_forbidden_characters(spark, tmp_path):
    """Keys with spaces/CRLF — forbidden by the reference
    (Callbacks.h:49-53), handled here via csv quoting."""
    df = spark.createDataFrame(
        [("key with space", 1), ("key\r\nwith crlf", 2)], ["k", "v"]
    )
    path = str(tmp_path / "weird")
    write_csv(df, path)
    back = spark.read.option("header", "true").option("multiLine", "true").csv(path)
    got = {r["k"]: int(r["v"]) for r in back.collect()}
    assert got == {"key with space": 1, "key\r\nwith crlf": 2}


# --- linefile Python DataSource (the reference's split + straddle rule) ---


def test_linefile_straddle_rule_all_split_sizes(spark, tmp_path):
    """Every line read exactly once regardless of where splits fall —
    including lines that END exactly on a split boundary (the off-by-one
    the seek-back-one-byte rule exists for)."""
    from tiny_mapreduce_rpc_server_spark.sources.linefile import register

    register(spark)
    f = tmp_path / "lines.txt"
    with open(f, "wb") as fh:
        for i in range(500):
            fh.write((f"line-{i}-" + "x" * (i % 37) + "\n").encode())
    expect = sorted(r.value for r in spark.read.text(str(f)).collect())
    for split in (64, 257, 1031, 10**6):
        df = (
            spark.read.format("linefile")
            .option("path", str(f))
            .option("split_size", split)
            .load()
        )
        rows = df.collect()
        assert sorted(r.line for r in rows) == expect, f"split={split}"
        offs = [r.offset for r in rows]
        assert len(offs) == len(set(offs)), f"split={split}: duplicate offsets"


def test_linefile_one_task_per_split(spark, tmp_path):
    from tiny_mapreduce_rpc_server_spark.sources.linefile import register

    register(spark)
    f = tmp_path / "ten.txt"
    f.write_bytes(b"a\n" * 100)  # 200 bytes
    df = (
        spark.read.format("linefile")
        .option("path", str(f))
        .option("split_size", 50)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # 200/50 byte-range splits


def test_kvtext_writer_stages_invisible_and_ignores_orphans(spark, tmp_path):
    """Two-phase-commit hygiene for the linefile sink: staged files are
    dot-prefixed (invisible to the reader even before commit), committed
    files are ``part-*.txt``, and orphan ``*.tmp`` files — what a failed
    or losing speculative attempt leaves behind, since the Python
    DataSourceWriter API has no per-task abort — are never read back as
    data under EITHER exclusion rule (leading '.', trailing '.tmp')."""
    import os

    from tiny_mapreduce_rpc_server_spark.sources.linefile import register

    register(spark)
    out = str(tmp_path / "kvout")
    df = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["k", "v"])
    df.repartition(2).write.format("linefile").option("path", out).mode(
        "append"
    ).save()
    names = sorted(os.listdir(out))
    assert names and all(
        n.startswith("part-") and n.endswith(".txt") for n in names
    ), names
    # plant orphans from hypothetical failed attempts, both name shapes
    with open(os.path.join(out, ".part-deadbeef.tmp"), "w") as fh:
        fh.write("zzz 99\n")
    with open(os.path.join(out, "part-cafebabe.tmp"), "w") as fh:
        fh.write("yyy 98\n")
    back = spark.read.format("linefile").option("path", out).load()
    got = {}
    for r in back.collect():
        k, v = r.line.split(" ")
        got[k] = int(v)
    assert got == {"a": 1, "b": 2, "c": 3}


def test_kvtext_abort_sweep_is_job_scoped(tmp_path):
    """abort() must delete only ITS OWN job's staged files: two jobs
    appending to the same directory concurrently must not clobber each
    other's in-flight staging when one aborts (driver-less unit test —
    the writer is a plain object)."""
    import os

    from tiny_mapreduce_rpc_server_spark.sources.linefile import KVTextWriter

    out = str(tmp_path / "kvout")
    w1 = KVTextWriter({"path": out})
    w2 = KVTextWriter({"path": out})
    assert w1.job_id != w2.job_id
    m1 = w1.write(iter([("a", 1)]))
    m2 = w2.write(iter([("b", 2)]))
    # job 1 aborts mid-flight (simulate a second task of job 1 that
    # failed before producing a commit message: stage file, no message)
    with open(
        os.path.join(out, f".part-{w1.job_id}-orphan.tmp"), "w"
    ) as fh:
        fh.write("x 9\n")
    w1.abort([m1])
    # every job-1 staged file is gone; job 2's staging survives
    left = sorted(os.listdir(out))
    assert left == [os.path.basename(m2.path)], left
    w2.commit([m2])
    assert sorted(os.listdir(out))[0].startswith("part-")
