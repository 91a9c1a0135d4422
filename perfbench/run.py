"""Benchmark harness: one workload in one Python process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The harness reads the fixed tables under ``perfbench/data/`` or makes a
text corpus from ``--seed`` under ``.bench_work/`` at the repository
root, starts a Spark session through the package's
``get_spark``, runs the workload's operations in passes and checks every
result. It prints one JSON object as the last line of standard output:
the end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. Each metric is a number with its unit. Progress goes to
standard error. See ``perfbench/NOTES.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
CPUS = "4"
# keep the JVMs' scratch files (perf data, java.io.tmpdir) in the checkout
JAVA_OPTS = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
MB = 1024 * 1024


@dataclass(frozen=True)
class Scale:
    """Input sizes of the workloads."""

    # directory under perfbench/data holding the registry queries' tables
    tables: str = "sf0.1"
    corpus_bytes: int = 2 * MB
    corpus_vocab: int = 200_000
    # byte-range split of the linefile read-back; smaller than every
    # output file, so splits straddle lines
    linefile_split: int = 256 * 1024


FULL = Scale()
TINY = Scale(tables="sf0.001", corpus_bytes=256 * 1024, corpus_vocab=2_000,
             linefile_split=4096)

# The LLM-data operators ROADMAP directions 2 and 3 target: the three
# with the most jobs fired inside fn() and the portable-hash minhash,
# plus the ann_ivf double scan; then the cheapest bench=True headliner of
# each other package module, so that every module is measured.
QUERIES = (
    "dedup_minhash_lsh", "dedup_simhash_clusters", "text_tf_idf", "ann_ivf",
    "wordcount", "q6_forecast_revenue", "time_bucket_rollup", "total_order_sort",
    "bpe_train_merges", "dedup_semantic_scaled",
)
# the M layers: the package modules of QUERIES (spec.fn.__module__)
MODULES = ("dedup", "graph", "text", "similarity", "relational", "tpch",
           "temporal", "formats", "chunking", "ml")
# workload -> warm passes an untraced and a traced run make at least,
# whatever --seconds says. The first warm pass still runs slower, so it
# only settles the run and is left out of pass_s, unless it is the only
# untraced one: a pass of queries_sf0.1 outlasts --seconds, and a second
# one would make each of its runs a quarter longer. A traced run follows the settling pass with traced (T) and
# untraced (U) passes: T U, or T U U T where the passes are short.
WORKLOADS = {"queries_sf0.1": (1, 3), "mapreduce_textio": (2, 5)}

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {"session.get_spark_s": "s"}
    for m in MODULES:
        units |= {f"{m}.construct_s": "s", f"{m}.action_s": "s", f"{m}.jobs": "count",
                  f"{m}.task_cpu_s": "s", f"{m}.shuffle_write_mb": "MB",
                  f"{m}.cache_mb": "MB"}
    units |= {
        "spark.construct_jobs": "count", "spark.jobs": "count",
        "spark.stages": "count", "spark.tasks": "count",
        "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
        "spark.input_mb": "MB", "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB", "spark.leaked_rdds": "count",
        "mapreduce.linecount_s": "s", "mapreduce.df_wordcount_s": "s",
        "linefile.read_s": "s",
        "linefile.read_mb": "MB", "sinks.written_mb": "MB",
        "cache_peak_mb": "MB", "error_rate": "ratio",
        "session.jvm_hwm_mb": "MB", "host.steal_pct": "%",
        "host.loadavg_start": "load", "trace.overhead_pct": "%",
    }
    return units


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- operations


@dataclass
class Op:
    """One timed operation of a pass.

    ``build()`` is the construction span (a registry query's ``fn``),
    ``act(built)`` the action span; both are timed. ``check(result)`` runs
    after the release, outside the timed region, and returns whether the
    result is correct. ``layer`` names the package module the op loads."""

    name: str
    layer: str
    build: Callable[[], object]
    act: Callable[[object], object]
    check: Callable[[object], bool]
    before: Callable[[], None] = lambda: None
    # directory the op writes through a sink / reads through linefile
    writes: str | None = None
    reads: str | None = None


def query_ops(spark, names, sf_dir: str) -> list[Op]:
    from tiny_mapreduce_rpc_server_spark.registry import all_queries

    from checks import expected_digests, table_digest

    specs = all_queries()
    expected = expected_digests([specs[n] for n in names], sf_dir)
    ops = []
    for n in names:
        spec = specs[n]
        ops.append(Op(
            name=n,
            layer=spec.fn.__module__.rsplit(".", 1)[1],
            build=lambda spec=spec: spec.fn(spark, sf_dir),
            act=lambda df: df.toArrow(),
            check=lambda tbl, want=expected[n]: table_digest(tbl) == want,
        ))
    return ops


def mapreduce_ops(spark, corpus_dir: str, out_dir: str, split: int) -> list[Op]:
    from tiny_mapreduce_rpc_server_spark.operators.mapreduce import (
        MapReduceEngine, word_count,
    )
    from tiny_mapreduce_rpc_server_spark.sources.sinks import write_sorted_kv_text

    import checks

    engine = MapReduceEngine(spark)
    want_words, want_lines = checks.corpus_counts(corpus_dir)
    paths = sorted(os.path.join(corpus_dir, f) for f in os.listdir(corpus_dir))
    lc_out, wc_out = os.path.join(out_dir, "lines"), os.path.join(out_dir, "words")

    def read_back():
        return (spark.read.format("linefile").option("path", lc_out)
                .option("split_size", str(split)).load())

    return [
        # the reference's default job: (line, 1), sum by key, key-sorted
        # partitions; high-cardinality keys, output about the input's size
        Op("mr_linecount", "mapreduce",
           lambda: engine.map_reduce(paths),
           lambda kv: engine.save_text(kv, lc_out),
           lambda _: checks.sorted_kv_output(lc_out, want_lines),
           lambda: shutil.rmtree(lc_out, ignore_errors=True), writes=lc_out),
        Op("df_wordcount", "mapreduce",
           lambda: word_count(spark.read.text(paths)),
           lambda df: write_sorted_kv_text(df, wc_out, "word", "cnt"),
           lambda _: checks.sorted_kv_output(wc_out, want_words),
           lambda: shutil.rmtree(wc_out, ignore_errors=True), writes=wc_out),
        Op("linefile_read", "linefile", read_back, lambda df: df.toArrow(),
           lambda tbl: checks.lines_match(tbl, lc_out), reads=lc_out),
    ]


# ------------------------------------------------------------------- session


def start_spark():
    """The set-up a user of the package pays before the first query:
    JVM and session start, DataSource registration, one warm-up job."""
    from tiny_mapreduce_rpc_server_spark import get_spark
    from tiny_mapreduce_rpc_server_spark.sources.linefile import register

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.driver.extraJavaOptions": JAVA_OPTS,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    t1 = time.perf_counter()
    register(spark)
    spark.range(4).toArrow()
    return spark, t1 - t0, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------- passes


@dataclass
class PassResult:
    seconds: float = 0.0
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)


def release(spark) -> int:
    """Release what a query pinned and count the RDDs still persisted
    afterwards; the leftovers are then unpersisted so that the next
    operation starts from an empty cache."""
    from tiny_mapreduce_rpc_server_spark import release_caches

    release_caches()
    spark.catalog.clearCache()
    left = spark.sparkContext._jsc.getPersistentRDDs()
    n = left.size()
    for rdd in list(left.values()):
        rdd.unpersist(True)
    return n


def run_pass(spark, ops: list[Op], tracer, mutate=None) -> PassResult:
    res = PassResult()
    if tracer:
        tracer.begin_pass()
    for op in ops:
        op.before()
        if tracer:
            tracer.begin(op)
        res.attempted += 1
        built = out = None
        ok = True
        t0 = t1 = time.perf_counter()
        try:
            built = op.build()
            t1 = time.perf_counter()
            if tracer:
                tracer.constructed(op)
            out = op.act(built)
        except Exception as exc:  # a failing operation is counted, not fatal
            log(f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}")
            ok = False
        t2 = time.perf_counter()
        res.seconds += t2 - t0
        if tracer:
            tracer.acted(op, t1 - t0, t2 - t1)
        leaked = release(spark)
        if tracer:
            tracer.released(op, leaked)
        if ok:
            if mutate is not None:
                out = mutate(op.name, out)
            try:
                ok = bool(op.check(out))
            except Exception as exc:
                log(f"{op.name}: check raised {type(exc).__name__}: {exc}")
                ok = False
            if not ok:
                log(f"{op.name}: result does not match the expected output")
        res.failed += not ok
        del built, out
    if tracer:
        res.layers = tracer.end_pass()
    return res


# ---------------------------------------------------------------- workloads


def table_inputs(scale: Scale) -> str:
    """The directory of the tables ``queries_sf0.1`` reads: a copy of the
    synthetic test data (``TESTDATA.md``) kept with the benchmark, so that
    a run reads only its checkout. The tables are fixed, so the oracle
    digests are pinned; ``--seed`` permutes the query order of each pass."""
    return os.path.join(HERE, "data", scale.tables)


def prepare(workload: str, seed: int, scale: Scale):
    """Make the inputs and return ``(make_ops, shuffle, notes)``:
    ``make_ops(spark)`` builds the operations once the session is up, and
    ``shuffle`` says whether each pass runs them in a seeded order."""
    if workload == "mapreduce_textio":
        import datagen

        corpus = os.path.join(WORK, "data", "corpus")
        digest = datagen.write_corpus(corpus, seed, scale.corpus_bytes, vocab=scale.corpus_vocab)
        out = os.path.join(WORK, "out")
        os.makedirs(out, exist_ok=True)
        return ((lambda spark: mapreduce_ops(spark, corpus, out, scale.linefile_split)),
                False, f"corpus sha256={digest}")
    sf_dir = table_inputs(scale)
    return (lambda spark: query_ops(spark, QUERIES, sf_dir)), True, sf_dir


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 scale: Scale = FULL, mutate=None) -> dict:
    """Run one workload; return the result object with every metric, the
    per-layer ones only when ``trace`` is set.

    ``mutate(op_name, result)``, when given, rewrites each result before
    its check (the self-test corrupts results with it)."""
    from tracer import Tracer, host_loadavg, jvm_hwm_mb

    loadavg = host_loadavg()
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    make_ops, shuffle, notes = prepare(workload, seed, scale)
    log(f"{workload}: inputs ready ({notes})")
    spark, get_spark_s, setup_s = start_spark()
    log(f"set-up {setup_s:.3f}s")
    try:
        ops = make_ops(spark)
        rng = random.Random(seed)

        def order() -> list[Op]:
            o = list(ops)
            if shuffle:
                rng.shuffle(o)
            return o

        # the cold pass keeps the listed order: whichever operation runs
        # first pays the session's one-time costs
        cold = run_pass(spark, ops, None, mutate)
        log(f"cold pass {cold.seconds:.3f}s")
        warm: list[tuple[bool, PassResult]] = []
        t_start = time.perf_counter()
        min_warm = WORKLOADS[workload][trace]
        while len(warm) < min_warm or time.perf_counter() - t_start < seconds:
            # the first warm pass settles the run (it still runs slower) and
            # is never traced; a traced run then makes traced and untraced
            # passes in ABBA order (T U U T ...): the tracing overhead is
            # measured in one window, and neither side always gets the
            # colder pass
            use_trace = trace and len(warm) > 0 and (len(warm) - 1) % 4 in (0, 3)
            p = run_pass(spark, order(), Tracer(spark) if use_trace else None, mutate)
            warm.append((use_trace, p))
            log(f"warm pass {p.seconds:.3f}s{' traced' if use_trace else ''}")
        hwm = jvm_hwm_mb(spark)
    finally:
        stop_spark(spark)
    traced = [p for t, p in warm if t]
    untraced = [p for t, p in warm if not t]
    untraced = untraced[1:] or untraced  # the settling pass left out
    passes = [cold, *(p for _, p in warm)]
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    pass_s = statistics.median(p.seconds for p in untraced)
    metrics = {"setup_s": setup_s, "cold_pass_s": cold.seconds, "pass_s": pass_s}
    units = dict(END_TO_END)
    if trace:
        units |= per_layer_units()
        metrics |= {k: statistics.median(p.layers.get(k, 0.0) for p in traced) for k in units
                    if k not in metrics}
        metrics |= {
            "session.get_spark_s": get_spark_s,
            "session.jvm_hwm_mb": hwm,
            "host.loadavg_start": loadavg,
            "error_rate": failed / attempted,
            "trace.overhead_pct": 100.0 * (
                statistics.median(p.seconds for p in traced) / pass_s - 1.0),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def setup_environment() -> None:
    """Pin the harness shape: 4 local cores, the package's default driver
    memory, the repository on the Python path of this process and of
    Spark's Python workers, ``tests`` on this process's path for the
    oracle helpers, and every scratch file under ``.bench_work``."""
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVM that spark-submit runs to build the Spark JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = JAVA_OPTS
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for p in (ROOT, os.path.join(ROOT, "tests"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    setup_environment()
    # fail fast, before any input is made, when the package is missing
    import tiny_mapreduce_rpc_server_spark  # noqa: F401

    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    # --trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
    keep = per_layer_units() if args.trace else END_TO_END
    result["metrics"] = {k: v for k, v in result["metrics"].items() if k in keep}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
