"""SparkSession factory with scale-aware defaults.

The reference hard-codes its operating envelope (128 MiB splits, 100 MiB
sort buffer, 5 shuffle partitions — ``Callbacks.h:38-47``). Here those
knobs map onto Spark's equivalents: ``spark.sql.files.maxPartitionBytes``
plays the role of ``DEFAULT_READ_SPLIT_SIZE`` and already defaults to the
reference's 128 MiB, and ``spark.sql.shuffle.partitions`` the role of
``DEFAULT_PARTITION_NUM``, set to the core count. AQE, its partition
coalescing and its skew-join handling are on by default, so the runtime
re-plans partition counts and skew at real data sizes; ``get_spark``
sets only what differs from Spark's defaults.

The module also owns what a query leaves behind: ``release_caches``
drops its caches and checkpoint blocks and deletes the files it wrote
under ``scratch_dir``, once its result has been consumed.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession

# the directory holding this package, so Spark's Python workers can start
# the package's worker daemon from any working directory
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"

# generated-code cache size (``spark.sql.codegen.cache.maxEntries``,
# Spark's default 100): 558 distinct classes in one pass of the 36
# bench=True headliners at sf0.1, rounded up (see get_spark)
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "tiny_mapreduce_rpc_server_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local mode for tests/bench; the same conf block is what we would ship
    to a 1000-executor cluster (UTC session TZ, Arrow for the pandas_udf
    slow path, a 32 MB broadcast threshold). It sets only values that
    differ from Spark's defaults: AQE with partition coalescing and
    skew-join handling, and 128 MiB scan splits, are already the
    defaults.

    Python workers start through ``worker_daemon``: PySpark's worker
    re-reads the directory of every zip it imports from at the start of
    every task, pyspark.zip included, and the daemon skips the re-read
    while a zip is unchanged. Measured warm on 4 vCPUs (``local[4]``):
    44 no-op Python RDD tasks take 3.5-3.9 s without it and 0.9-1.0 s
    with it, against 0.2-0.3 s for 44 JVM-only tasks, so the re-read
    costs about 0.2 s per Python task. The package's parent directory
    is appended to the workers' ``PYTHONPATH`` (after any value given in
    ``extra_conf``), so the daemon starts when the driver runs outside
    the repository.

    The generated-code cache holds ``CODEGEN_CACHE_ENTRIES`` classes
    instead of Spark's 100. One pass of the 36 bench=True headliners
    compiles 558 distinct whole-stage and expression classes, so at 100
    entries each pass evicts what the next one needs: every warm pass of
    the ten ``perfbench`` queries recompiled about 210 of the 214
    classes its first pass compiled. At 1000 entries a warm pass
    compiles none. The setting is static: it takes effect only in the
    session that starts the JVM, and a vanilla session keeps the
    default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # let AQE re-plan CACHED subtrees too (default false): a pinned
        # aggregate otherwise materializes at the static shuffle width —
        # spark.sql.shuffle.partitions tiny partitions that every
        # consumer then scans as separate tasks. With AQE allowed,
        # cached exchanges coalesce by BYTES exactly like uncached ones
        # (scale-adaptive, not a local-mode tweak). Measured r12 on
        # dedup_simhash_clusters' K-row signature pin: 3.46 s -> 2.72 s
        # median (order-balanced A/B); no cached-plan consumer in this
        # repo depends on cache output partitioning.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.python.daemon.module",
            "tiny_mapreduce_rpc_server_spark.worker_daemon",
        )
    )
    extra = dict(extra_conf or {})
    worker_path = (extra.pop(_WORKER_PATH, None), _PACKAGE_PARENT)
    builder = builder.config(_WORKER_PATH, os.pathsep.join(p for p in worker_path if p))
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# scratch roots whose removal at interpreter exit is registered
_ROOTS_REMOVED_AT_EXIT: set[str] = set()


def _scratch_root(spark: SparkSession) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"tmrs-{spark.sparkContext.applicationId}"
    )


def scratch_dir(spark: SparkSession, tag: str) -> str:
    """A fresh path for a query that writes files and reads them back:
    it does not exist yet and is never handed out again. All of them
    sit under one root per application, ``<tempdir>/tmrs-<app id>``
    (the temporary directory follows ``TMPDIR``), which
    ``release_caches`` deletes, so a query needs neither to clear old
    data before it writes nor to delete its files afterwards. The root
    is also removed when the interpreter exits, which covers the last
    query of a session that is never released.

    Deployment contract: the root is a driver-local path, so the
    executors' writes land where the driver reads and deletes them only
    in local mode; a cluster points the root at shared storage."""
    root = _scratch_root(spark)
    if root not in _ROOTS_REMOVED_AT_EXIT:
        _ROOTS_REMOVED_AT_EXIT.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(root, f"{tag}-{uuid.uuid4().hex}")


def release_caches() -> None:
    """Release everything the previous query persisted: the cache
    manager's entries (``.cache()`` / ``persist()``), every RDD still
    persisted on the context, which covers ``localCheckpoint`` blocks,
    and the session's scratch files (every ``scratch_dir`` path).
    Does nothing without an active session.

    Precondition: call it only after the previous query's result has
    been consumed. A ``localCheckpoint`` block cannot be recomputed once
    unpersisted, and a scratch store cannot be read once deleted, so a
    plan built before the release and executed after it fails instead
    of recomputing.
    """
    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    shutil.rmtree(_scratch_root(spark), ignore_errors=True)
