"""`linefile` — a Python DataSource V2 implementing the reference's source.

The reference's entire input stack is: stat the file, cut fixed-size
byte-range splits (``MapReduceUtil.cpp:139-166``, default 128 MiB
``Callbacks.h:40``), then read line records per split with the
STRADDLE RULE (``LineRecordReader.h:14-119``): a split with offset != 0
skips its first (partial) line, and every split reads one line PAST its
end byte — so a line belongs to the split where it *starts*, each line
is read exactly once, and no coordination between readers is needed.

Spark's built-in text sources implement the same rule internally; this
module implements it *explicitly* as a Spark 4 Python DataSource so the
parity is auditable line-for-line: ``partitions()`` is the split planner
(one InputPartition per byte range => one Spark task per split, exactly
the reference's one-mapper-thread-per-split), ``read()`` is the record
reader. Emits ``(offset, line)`` — the reference reader's key/value pair
(``LineRecordReader.h`` yields (int offset, string line)).

The planner and the reader also feed ``MapReduceEngine.map_reduce``
directly: it parallelizes the planned splits, one task per split, and
runs ``read()`` in the same Python worker as the user's map callback, so
the job's records never cross into the JVM and the straddle rule keeps
one implementation.

Scale: split planning is O(files) on the driver; reads are independent
per split (no shuffle, no cross-task coordination) — identical cost
model to the built-in text scan. This source exists for parity and for
custom-format lessons; production paths should keep using
``spark.read.text`` (JVM-side, vectorized).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

DEFAULT_SPLIT_SIZE = 128 * 1024 * 1024  # reference Callbacks.h:40


class _ByteRangeSplit(InputPartition):
    def __init__(self, path: str, start: int, length: int):
        self.path = path
        self.start = start
        self.length = length


class LineFileReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("linefile source requires option 'path'")
        self.split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))

    def _files(self) -> list[str]:
        if os.path.isdir(self.path):
            return sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if not f.startswith(("_", "."))
                and not f.endswith(".tmp")
                and os.path.isfile(os.path.join(self.path, f))
            )
        return [self.path]

    def partitions(self) -> list[_ByteRangeSplit]:
        """Split planner: fixed-size byte ranges, last split = remainder
        (MapReduceUtil.cpp:139-166)."""
        out = []
        for f in self._files():
            size = os.stat(f).st_size
            off = 0
            while off < size:
                out.append(_ByteRangeSplit(f, off, min(self.split_size, size - off)))
                off += self.split_size
        # an input with no data bytes (zero-byte files, or a directory
        # holding only _SUCCESS, dot- or .tmp files) still needs one
        # partition for a valid scan: an empty range, which reads nothing
        return out or [_ByteRangeSplit(self.path, 0, 0)]

    @staticmethod
    def read(part: _ByteRangeSplit):
        """Record reader with the straddle rule (LineRecordReader.h:44-62):
        skip the first partial line unless offset==0; keep reading one
        line past the split end so the line that *starts* inside this
        split is fully consumed here and nowhere else."""
        if part.length == 0:
            return
        end = part.start + part.length
        with open(part.path, "rb") as fh:
            pos = part.start
            if part.start != 0:
                # Hadoop-style: seek one byte BACK and discard through the
                # first newline. If byte start-1 is itself '\n', the discard
                # consumes only that byte and the line starting exactly at
                # `start` is correctly kept; skipping unconditionally from
                # `start` would lose lines that begin on a split boundary.
                fh.seek(part.start - 1)
                skipped = fh.readline()
                pos = part.start - 1 + len(skipped)
            else:
                fh.seek(0)
            while pos < end:
                line = fh.readline()
                if not line:
                    break
                yield (pos, line.rstrip(b"\n").decode("utf-8"))
                pos += len(line)


class _KVCommit(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int):
        self.path = path
        self.n_rows = n_rows


class KVTextWriter(DataSourceWriter):
    """The reference's OutputFormat surface (``OutputFormat.h:6-17``),
    write path: stringify each KV pair as ``key<SPACE>value\\n`` — the
    on-disk format of ``TextOutputFormat.h:12-38``, with its value-drop
    defect FIXED (the reference persists ``'\\0'`` for every value,
    "因为一些特殊原因暂未将value值进行持久化"; this writer keeps the
    value). One file per input partition (the reference's one file per
    reducer), two-phase commit: tasks stage to a dot-prefixed
    ``.part-*.tmp`` and return commit messages; ``commit()`` renames to
    the visible ``part-*.txt``. Staged names are invisible to the reader
    by BOTH rules (leading '.', trailing '.tmp'), so a failed or losing
    speculative attempt — whose staged file the Python DataSourceWriter
    API gives us no per-task abort hook to delete — can never be read
    back as data; ``abort()`` additionally sweeps remaining ``*.tmp``
    staged by THIS job on whole-job failure. The sweep is scoped by a
    per-job id embedded in every staged name (the writer is built once
    on the driver, so all its task copies share the id): two jobs
    appending to the same directory concurrently can each abort without
    deleting the other's in-flight staged files."""

    def __init__(self, options: dict):
        import uuid as _uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("linefile sink requires option 'path'")
        self.job_id = _uuid.uuid4().hex[:12]

    def write(self, iterator) -> _KVCommit:
        import uuid as _uuid

        os.makedirs(self.path, exist_ok=True)
        # dot-prefixed staging: excluded by the reader's '.'-prefix rule
        # even before commit(), so orphaned attempts are never visible
        tmp = os.path.join(
            self.path, f".part-{self.job_id}-{_uuid.uuid4().hex}.tmp"
        )
        n = 0
        with open(tmp, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(f"{row[0]} {row[1]}\n")
                n += 1
        return _KVCommit(tmp, n)

    def commit(self, messages) -> None:
        for m in messages:
            base = os.path.basename(m.path)  # ".part-<jobid>-<uuid>.tmp"
            final = base.lstrip(".")[: -len(".tmp")] + ".txt"
            os.replace(m.path, os.path.join(os.path.dirname(m.path), final))

    def abort(self, messages) -> None:
        for m in messages:
            if os.path.exists(m.path):
                os.remove(m.path)
        # sweep staged files from failed attempts that produced no
        # message — ONLY this job's (matched by the embedded job id), so
        # a concurrent job appending to the same path keeps its staging
        if os.path.isdir(self.path):
            mine = f".part-{self.job_id}-"
            for f in os.listdir(self.path):
                if f.startswith(mine) and f.endswith(".tmp"):
                    os.remove(os.path.join(self.path, f))


class LineFileDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "linefile"

    def schema(self) -> str:
        return "offset bigint, line string"

    def reader(self, schema) -> LineFileReader:
        return LineFileReader(self.options)

    def writer(self, schema, overwrite: bool) -> KVTextWriter:
        return KVTextWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(LineFileDataSource)


# ---------------------------------------------------------------------------
# registered query: the reference's default job on the reference's source
# ---------------------------------------------------------------------------


def q_linefile_wordcount(spark, sf_dir: str):
    """End-to-end parity run: dump documents.text as plain line files
    (the reference's on-disk format), read them back through the
    `linefile` DataSource with small splits (forcing straddles), and run
    the reference's default job (word count, SURVEY §2.6.4) on the
    result. The oracle tokenizes the documents table directly, so a pass
    proves the split planner + straddle rule lose and duplicate nothing.
    """
    from pyspark.sql import functions as F

    from tiny_mapreduce_rpc_server_spark.functions import portable as P
    from tiny_mapreduce_rpc_server_spark.session import scratch_dir
    from tiny_mapreduce_rpc_server_spark.sources import load_table

    register(spark)
    path = scratch_dir(spark, "linefile")
    docs = load_table(spark, sf_dir, "documents")
    docs.select("text").write.text(path)
    lines = (
        spark.read.format("linefile")
        .option("path", path)
        .option("split_size", 64 * 1024)  # force straddles at test scale
        .load()
    )
    return (
        lines.select(F.explode(P.tokens(F.col("line"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _oracle_linefile_wordcount() -> str:
    from tiny_mapreduce_rpc_server_spark.functions import portable as P

    return f"""
SELECT word, count(*) AS n
FROM (SELECT unnest({P.sql_tokens("text")}) AS word FROM documents)
GROUP BY word
"""


ORACLE_LINEFILE_WORDCOUNT = _oracle_linefile_wordcount()


def q_kv_textsink_roundtrip(spark, sf_dir: str):
    """The reference's FULL I/O loop, both ends custom: the word-count
    KV output is persisted through the `linefile` WRITER (the
    TextOutputFormat surface, value kept, per-partition files, two-phase
    commit) and read back through the `linefile` READER (byte-range
    splits + straddle rule), then re-aggregated. The oracle is the
    direct word count over documents, so a pass proves the sink wrote
    every pair exactly once AND the source re-read it exactly once —
    write-path and read-path parity in one check."""
    from pyspark.sql import functions as F

    from tiny_mapreduce_rpc_server_spark.functions import portable as P
    from tiny_mapreduce_rpc_server_spark.session import scratch_dir
    from tiny_mapreduce_rpc_server_spark.sources import load_table

    register(spark)
    out = scratch_dir(spark, "kvsink")

    docs = load_table(spark, sf_dir, "documents")
    kv = (
        docs.select(F.explode(P.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    kv.write.format("linefile").option("path", out).mode("append").save()

    lines = (
        spark.read.format("linefile")
        .option("path", out)
        .option("split_size", 4 * 1024)  # force straddles on the read-back
        .load()
    )
    parsed = lines.select(
        F.split_part(F.col("line"), F.lit(" "), F.lit(1)).alias("word"),
        F.split_part(F.col("line"), F.lit(" "), F.lit(2))
        .cast("bigint")
        .alias("n"),
    )
    # re-aggregate (sum of per-file counts) == the direct word count
    return parsed.groupBy("word").agg(F.sum("n").alias("n"))


# the sink+source roundtrip re-derives the same word count, so it shares
# the wordcount oracle
ORACLE_KV_TEXTSINK = _oracle_linefile_wordcount()
