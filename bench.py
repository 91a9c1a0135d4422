"""Bench harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (collect) so the timing covers the
whole plan including shuffles.

Drift protocol (round-9 verdict #4): EVERY headliner runs warm
median-of-3 — one untimed warm run (absorbs per-plan codegen/JIT, the
dominant single-run noise source: BENCH_r08's 1.33x-vs-baseline read
came from exactly this class of box drift), then 3 timed runs, median
reported. Session-level fixed costs (JVM spin-up, parquet-footer reader
init, first shuffle/SMJ/window codegen, Python worker pool) are
absorbed once up front. Internal caches are dropped between runs so a
query that .cache()s never gets warm-cache credit.

Window-immune 2x gate (round-10 verdict #1): per-round engine totals
drift with WHEN the bench runs (BENCH_r09 read 1.57x the recorded
engine baseline on unchanged plans; the judge's solo re-measure halved
the three worst rows). So the gate no longer compares two columns
measured in different windows: for the PAIRED_SENTINELS below, the SAME
run RE-TIMES the engine query and its registered DuckDB oracle
back-to-back (both warm median-of-3, seconds apart — ADVICE r10 closed
the minutes-wide gap the old reuse-the-headliner-median pairing left)
and emits ``paired: {name: {engine_sec, oracle_sec, ratio}}`` — a ratio
measured inside one drift window. BASELINE.md's gate paragraph reads
these ratios, not absolute cells.

Contamination sentinel (round-10 verdict #5, TIGHTENED round-12
verdict #1): NOTES' "never bench on a busy box" discipline is
machine-checked — the JSON carries ``loadavg_start``/``loadavg_end``
and stamps ``contaminated: true`` when the window looks hot. The r11
failure mode: the threshold was cores/2 = 16, BENCH_r11 ran at loadavg
~9 end-to-end, stamped clean, and the driver's PERF gate read 21
phantom regressions off headliner cells that the same run's paired
re-times contradicted by up to 4.8x. Round-12 fixes (both additive):

- the START threshold is now an absolute 4.0 (the box is expected
  idle before a bench; every clean r10/r11 run started at 0.1-0.6,
  the hot r11 window at 9.3). The END threshold stays cores/2
  because the bench's OWN closing work legitimately pushes the 1-min
  load to ~4-5 on 32 cores.
- each paired sentinel also emits ``drift_ratio`` = headliner median
  / paired re-timed engine median (same code, same run, minutes
  apart), plus the top-level ``drift_ratio_median``. Calibration on
  the r11 artifacts: clean windows read 1.04 / 1.10, the hot window
  1.81 (per-cell up to 4.8) — so ``drift_ratio_median > 1.5`` also
  stamps ``contaminated: true``: a window that inflated the
  headliner phase relative to the paired phase self-identifies even
  when the loadavg samples at the two ends missed it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark import get_spark
from tiny_mapreduce_rpc_server_spark.registry import all_queries
from tiny_mapreduce_rpc_server_spark.sources import TABLES, load_table, table_path

# Sentinels for the paired engine-vs-oracle ratio: span the plan
# classes the gate cares about — the two weak-flagged rows whose
# absolute readings drifted across rounds (dedup_embedding,
# contamination_check), a bucketed ANN probe (ann_ivf), the flagship
# work-dominated banded join where the engine must stay far ahead
# (dedup_minhash_lsh), two overhead-dominated relational/text rows
# (q9_product_profit, text_tf_idf) where DuckDB's in-process scan is
# expected to win on absolute time at test SF, plus (round-11 verdict
# #3) the iterative-CC-loop headliner (dedup_simhash_clusters — the
# slowest bench row, previously unrepresented plan class) and a
# work-heavy SCALING grower (dedup_semantic, cluster-bounded pairing,
# 8.5x sf1* growth). total_order_sort joined the HEADLINERS
# (bench=True) but is deliberately NOT a sentinel: its oracle is an
# invariant VERIFIER over the engine-written files (count/range/
# checksum scan), not an equivalent sort — an engine-vs-oracle ratio
# there would compare a full distributed sort+write against a
# one-scan audit and mean nothing.
PAIRED_SENTINELS = [
    "dedup_embedding",
    "contamination_check",
    "ann_ivf",
    "dedup_minhash_lsh",
    "q9_product_profit",
    "text_tf_idf",
    "dedup_simhash_clusters",
    "dedup_semantic",
]


def _median_of(reps: int, run) -> tuple[float, float, object]:
    """One untimed warm call, then ``reps`` timed; ``run()`` returns
    ``(seconds, result)``. (median, spread, the warm call's result)."""
    _, result = run()
    times = sorted(run()[0] for _ in range(reps))
    return times[len(times) // 2], times[-1] - times[0], result


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    result = fn()
    return time.perf_counter() - t0, result


def _collect_len(df: DataFrame) -> int:
    return len(df.collect())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    loadavg_start = list(os.getloadavg())
    ncpu = os.cpu_count() or 1
    # absolute threshold (r12): the box must be IDLE before a bench run;
    # min() keeps tiny-core boxes on the old relative rule
    contaminated = loadavg_start[0] > min(4.0, 0.5 * ncpu)
    if contaminated:
        print(
            f"# WARNING contaminated window: 1-min load {loadavg_start[0]:.1f} "
            f"on {ncpu} CPUs before start — treat absolute timings as "
            "inflated; the paired ratios remain comparable",
            file=sys.stderr,
        )
    spark = get_spark("bench")
    # Absorb SESSION startup (not per-plan warmup): JVM spin-up, first
    # parquet-footer reader init, first shuffle exchange, and the Python
    # worker pool for Arrow UDFs. These are per-session fixed costs that
    # would otherwise land entirely on whichever query happens to run
    # first (registry order), making round-over-round per-query deltas
    # noise.
    spark.range(1).count()
    if os.path.exists(table_path(sf_dir, "region")):
        load_table(spark, sf_dir, "region").groupBy("r_regionkey").count().count()
    spark.range(2).mapInPandas(lambda it: it, "id long").count()
    # sort-merge join + window codegen warm (observed: the first SMJ of a
    # session costs ~2.5s extra regardless of which query runs it)
    r = spark.range(64)
    r.hint("merge").join(r.withColumnRenamed("id", "id2"), r.id == F.col("id2")).count()
    from pyspark.sql import Window

    r.select(F.sum("id").over(Window.orderBy("id"))).count()

    specs = [s for s in all_queries().values() if s.bench]
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    for spec in specs:
        # QuerySpec.run releases cached blocks around every rep, outside
        # the timed span: a query that .cache()s or localCheckpoints
        # internally gets no warm-cache credit across repetitions
        consume = DataFrame.count if spec.oracle is None else _collect_len
        try:
            dt, spread, n = _median_of(
                reps, lambda: spec.run(spark, sf_dir, consume)
            )
        except Exception as exc:  # one broken query must not kill the bench
            errors[spec.name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {spec.name}: FAILED {type(exc).__name__}", file=sys.stderr)
            continue
        timings[spec.name] = round(dt, 3)
        print(
            f"# {spec.name}: {dt:.3f}s rows~{n} "
            f"(warm median of {reps}, spread {spread:.3f}s)",
            file=sys.stderr,
        )

    # Paired engine-vs-oracle ratios, measured in THIS run's drift
    # window. Round-11 (ADVICE r10): the engine cell is RE-TIMED here,
    # back-to-back with its oracle — the headliner median above can be
    # minutes of heavy Spark load away from the oracle pass, and
    # BASELINE.md's own data showed per-sentinel ratios swinging ~7x
    # across that gap. Each sentinel now runs engine warm-median-of-3
    # immediately followed by oracle warm-median-of-3, so the pair
    # shares one drift window for real. The oracle runs the exact
    # registered DuckDB SQL in-process (DuckDB is the single-node
    # baseline engine — one process, no JVM, same box, same parquet).
    import duckdb

    by_name = {s.name: s for s in specs}
    paired: dict[str, dict[str, float]] = {}
    for name in PAIRED_SENTINELS:
        spec = by_name.get(name)
        if spec is None or spec.oracle is None or name not in timings:
            continue

        con = duckdb.connect()
        try:
            # view creation inside the try (ADVICE r10): a missing
            # parquet at a custom SPARK_GRAFT_SF_DIR degrades to a
            # per-sentinel skip instead of aborting the whole bench
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_path(sf_dir, t)}')"
                )
            # same protocol as the headliner cell above: releases fall
            # outside the timed span, so cache-building sentinels are
            # not inflated relative to their headliner cells
            e_med, e_spread, _ = _median_of(
                reps, lambda: spec.run(spark, sf_dir, _collect_len)
            )
            o_med, o_spread, _ = _median_of(
                reps, lambda: _timed(lambda: con.execute(spec.oracle).fetchall())
            )
        except Exception as exc:
            print(f"# paired {name}: FAILED {type(exc).__name__}", file=sys.stderr)
            continue
        finally:
            con.close()
        paired[name] = {
            "engine_sec": round(e_med, 3),
            "oracle_sec": round(o_med, 3),
            # clamp the denominator: a 0-second oracle is impossible
            # (perf_counter delta), but float("inf") would emit
            # non-standard JSON ("Infinity") and break strict parsers
            "ratio": round(e_med / max(o_med, 1e-9), 3),
            # headliner cell vs this re-timed cell: same code, same run,
            # minutes apart — the per-sentinel window-drift witness
            # (r12 verdict #1)
            "drift_ratio": round(timings[name] / max(e_med, 1e-9), 3),
        }
        print(
            f"# paired {name}: engine {e_med:.3f}s vs oracle {o_med:.3f}s "
            f"= ratio {paired[name]['ratio']} "
            f"(spreads e={e_spread:.3f}s o={o_spread:.3f}s; "
            f"headliner median was {timings[name]:.3f}s)",
            file=sys.stderr,
        )

    loadavg_end = list(os.getloadavg())
    contaminated_end = loadavg_end[0] > 0.5 * ncpu
    # median headliner-vs-paired drift across the sentinels: >1.5 means
    # the headliner phase ran in a measurably hotter window than the
    # paired phase of the SAME run (clean r11 windows read 1.04/1.10,
    # the hot one 1.81) — stamp the run contaminated so the driver's
    # cross-round per-query deltas are not read as plan changes
    drifts = sorted(p["drift_ratio"] for p in paired.values())
    drift_median = drifts[len(drifts) // 2] if drifts else None
    contaminated_drift = drift_median is not None and drift_median > 1.5
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "paired": paired,
        # one in-window aggregate: sum(engine)/sum(oracle) over the
        # sentinels — the single number the 2x gate reads
        "paired_aggregate_ratio": (
            round(
                sum(p["engine_sec"] for p in paired.values())
                / max(sum(p["oracle_sec"] for p in paired.values()), 1e-9),
                3,
            )
            if paired
            else None
        ),
        "loadavg_start": [round(v, 2) for v in loadavg_start],
        "loadavg_end": [round(v, 2) for v in loadavg_end],
        # contamination judged on BOTH ends (ADVICE r10) AND on the
        # within-run drift witness (r12 verdict #1): a process that
        # starts mid-bench shows up in loadavg_end or — even if it dies
        # before the end sample — in the headliner-vs-paired drift.
        # NOTE: bench's own Spark work contributes to loadavg_end — that
        # threshold stays at half the cores because the 32-thread local
        # session rarely sustains >16 runnable threads across the 1-min
        # window at test SF; a genuinely contaminated box (second Spark
        # session / test run) pushes well past it.
        "contaminated": contaminated or contaminated_end or contaminated_drift,
        "contaminated_start": contaminated,
        "contaminated_end": contaminated_end,
        "contaminated_drift": contaminated_drift,
        "drift_ratio_median": drift_median,
    }
    if errors:
        payload["errors"] = errors
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
