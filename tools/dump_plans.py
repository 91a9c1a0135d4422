"""Dump physical plans for every bench query to PLANS.md, and (with
--fingerprints) a normalized operator-tree fingerprint for EVERY
registered query to PLAN_FINGERPRINTS.json.

Named queries (positional arguments) print their plans to stdout, or
to --out when given; with --full that is the whole formatted plan, so
PushedFilters, ReadSchema and join build sides are visible — the form
to keep next to a re-plan as its before/after evidence.

The plan regression tests (tests/test_plans.py) assert the load-bearing
properties; this artifact exists so a reviewer can read the plans
without running anything. Default output is the OPERATOR TREE only
(the shape a reviewer scans: joins, exchanges, aggregates, codegen
spans) — the numbered detail blocks tripled the artifact to ~300 KB
and drowned diffs (round-9 verdict #8); pass --full to include them.

Fingerprint mode (round-11 verdict #2): ~30 hand-written plan pins in
tests/test_plans.py cover the headliners, but a silent Catalyst
strategy flip in any of the other ~230 queries would only surface as a
bench delta that window drift can mask. ``--fingerprints`` captures the
normalized operator tree (plan ids and expression ids stripped) of
every registry query at a fixed SF; ``tests/test_plans.py::
test_plan_fingerprints_registry_wide`` diffs live plans against the
stored file. An INTENTIONAL re-plan must regenerate the file in the
same commit: ``python tools/dump_plans.py --fingerprints``.

Usage: python tools/dump_plans.py [--sf-dir DIR] [--out PLANS.md]
       [--full] [--fingerprints [OUT.json]] [QUERY ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tiny_mapreduce_rpc_server_spark import get_spark  # noqa: E402
from tiny_mapreduce_rpc_server_spark.registry import all_queries  # noqa: E402

# default corpus for fingerprints: smallest SF (plan SHAPE is what's
# pinned; size-driven switches like dedup_embedding's auto-switch are
# deterministic per SF, so one fixed SF gives one fixed tree)
FP_SF_DIR = "/root/testdata/sf0.001"
FP_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PLAN_FINGERPRINTS.json",
)

_STRIP_RES = (
    re.compile(r" \(\d+\)"),  # per-plan operator ids: "HashAggregate (7)"
    re.compile(r"#\d+L?"),  # expression/attribute ids: "vec_id#123L"
    re.compile(r"plan_id=\d+"),
    # runtime stats on AQE-materialized stages (ShuffleQueryStage /
    # BroadcastQueryStage): sizeInBytes/rowCount vary with the session's
    # shuffle-partition count and sampling — runtime data, not plan shape
    re.compile(r", Statistics\([^)]*\)"),
)


def formatted_plan(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def operator_tree(spark, df) -> str:
    """Normalized physical operator tree: the formatted-explain tree
    section with per-session ids stripped, so the string is stable
    across sessions and rounds unless the PLAN SHAPE changes."""
    tree = formatted_plan(spark, df).split("\n\n", 1)[0]
    for rx in _STRIP_RES:
        tree = rx.sub("", tree)
    return "\n".join(ln.rstrip() for ln in tree.splitlines()).rstrip()


def fingerprint_all(spark, sf_dir: str) -> dict[str, str]:
    """Operator tree per registered query. Each is built through
    ``QuerySpec.run``, which drops caches around the build: Spark's
    CacheManager substitutes InMemoryRelation into ANY matching
    analyzed subplan, so a cache left by query A would rewrite query
    B's tree and make fingerprints order-dependent."""
    return {
        name: spec.run(spark, sf_dir, lambda df: operator_tree(spark, df))[1]
        for name, spec in all_queries().items()
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None,
                    help="output file (default: PLANS.md, or stdout for "
                         "named queries)")
    ap.add_argument("--full", action="store_true",
                    help="include the numbered operator-detail blocks")
    ap.add_argument("--fingerprints", nargs="?", const=FP_PATH, default=None,
                    metavar="OUT.json",
                    help="write registry-wide plan fingerprints instead "
                         f"of PLANS.md (default output: {FP_PATH})")
    ap.add_argument("queries", nargs="*",
                    help="plan only these queries (default: the bench set)")
    args = ap.parse_args()
    specs = all_queries()
    unknown = [q for q in args.queries if q not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 1

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    if args.fingerprints:
        fps = fingerprint_all(spark, FP_SF_DIR)
        payload = {
            "_comment": (
                "Normalized physical operator tree per registered query "
                f"at {FP_SF_DIR} (ids stripped). Regenerate with "
                "`python tools/dump_plans.py --fingerprints` in the SAME "
                "commit as any intentional re-plan; "
                "tests/test_plans.py::test_plan_fingerprints_registry_wide "
                "fails on any drift."
            ),
            "sf_dir": FP_SF_DIR,
            "trees": fps,
        }
        with open(args.fingerprints, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {args.fingerprints} ({len(fps)} queries)")
        return 0
    names = args.queries or [n for n, s in specs.items() if s.bench]
    lines = [] if args.queries else [
        "# Physical plans (bench queries)",
        "",
        f"Generated by `python tools/dump_plans.py --sf-dir {args.sf_dir}`.",
        "Plan properties are regression-tested in `tests/test_plans.py`;",
        "this file shows each bench query's physical operator tree",
        "(re-run with --full for the per-operator detail blocks).",
        "",
    ]
    for name in names:
        plan = specs[name].run(
            spark, args.sf_dir, lambda df: formatted_plan(spark, df)
        )[1]
        if not args.full:
            plan = plan.split("\n\n", 1)[0]
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    text = "\n".join(lines)
    out = args.out or (None if args.queries else "PLANS.md")
    if out is None:
        print(text, end="")
        return 0
    with open(out, "w") as fh:
        fh.write(text)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
