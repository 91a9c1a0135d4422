"""Pre-flight for the driver's CORRECTNESS window under a VANILLA session.

The external driver builds its own SparkSession — NOT the tuned one from
``session.py`` — so defaults apply: 200 shuffle partitions, no Arrow
toggle, session-local timezone. Any query whose result silently depends
on the tuned config (partition counts feeding into floats, timezone,
Arrow batch semantics) passes the local gate but fails the driver.
This script replays the exact driver comparison (first-N registry
entries, DuckDB oracle, order-insensitive value compare) under default
config and reports per-query PASS/FAIL.

Usage: python tools/verify_window_vanilla.py [--sf-dir D] [--n 50] [--all]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("--all", action="store_true", help="check every registered query")
    ap.add_argument("--names", nargs="*", default=None, help="explicit query names")
    args = ap.parse_args()

    # Ambient-load guard: processing-time streaming triggers
    # (streaming_chained_windows is the heaviest, ~35 s standalone) can
    # STARVE when several gate suites run concurrently and fail with no
    # code defect (observed once in round 6 at load ~3x cores). Warn up
    # front so a streaming FAIL under load is re-run standalone before
    # being believed.
    load1 = os.getloadavg()[0]
    ncpu = os.cpu_count() or 1
    if load1 > 0.5 * ncpu:
        print(
            f"WARNING: 1-min load avg {load1:.1f} on {ncpu} CPUs — this box "
            "is busy. Streaming queries with processing-time triggers can "
            "starve and fail SPURIOUSLY under concurrent load; re-run any "
            "streaming failure standalone on an idle box before treating "
            "it as real (VERIFICATION.md, round-6 lesson).",
            flush=True,
        )

    # must precede the registry import: the file_layout_report oracle
    # bakes literal parquet paths (DuckDB parquet_file_metadata cannot
    # take a view) from this env var at module-import time
    os.environ["SPARK_GRAFT_ORACLE_SF"] = args.sf_dir

    from pyspark.sql import SparkSession

    # Deliberately vanilla: mirror the driver's session, not session.py.
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("verify-window-vanilla")
        .config("spark.sql.warehouse.dir", "/tmp/vanilla_warehouse")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )

    from pyspark.sql import DataFrame

    from tiny_mapreduce_rpc_server_spark.registry import all_queries
    from oracle_utils import compare

    q = all_queries()
    if args.names:
        names = args.names
    else:
        names = list(q)[: (len(q) if args.all else args.n)]

    failed: list[str] = []
    for i, name in enumerate(names):
        spec = q[name]
        t0 = time.time()
        try:
            # QuerySpec.run releases caches, checkpoints and scratch files
            # around each query, so they don't accumulate across a
            # many-query session
            # (the driver contract's queries() releases before each build)
            if spec.oracle is None:
                _, n_rows = spec.run(spark, args.sf_dir, DataFrame.count)
                print(f"[{i+1:3d}/{len(names)}] {name}: rows-only ({n_rows} rows) "
                      f"{time.time()-t0:.1f}s", flush=True)
                continue
            spec.run(
                spark, args.sf_dir, lambda df: compare(df, spec.oracle, args.sf_dir)
            )
            print(f"[{i+1:3d}/{len(names)}] {name}: PASS {time.time()-t0:.1f}s", flush=True)
        except Exception as e:  # noqa: BLE001 - report and continue
            failed.append(name)
            print(f"[{i+1:3d}/{len(names)}] {name}: FAIL {e}", flush=True)
            traceback.print_exc(limit=3)

    print(f"\n-- vanilla window check: {len(names) - len(failed)}/{len(names)} pass")
    if failed:
        print("FAILED:", ", ".join(failed))
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
