"""Prove the PSL machinery at FULL list size (round-9 verdict #3).

The embedded `_EMBEDDED_PSL` is a curated ICANN subset (~291 rules); the
real ``public_suffix_list.dat`` is ~9k rules. `load_psl_file()` has
always accepted the real file, but the claimed behaviors at that size —
O(1) InSet membership in the expression form, rule-table-size-INDEPENDENT
plan-build in the broadcast-join form — were asserted, not measured
(this container has no network, so the real file can't be fetched).

This probe synthesizes a ~9k-rule list IN THE OFFICIAL LINE FORMAT
(comments, section markers, ``*.`` wildcards, ``!`` exceptions, a
private-domains section that must be ignored), with realistic shape:
~1.5k single-label TLDs, ~6.8k two-label registry suffixes (the co.uk /
com.au class), wildcard parents and their exceptions. It then measures,
for BOTH implementations at embedded vs full size:

- plan-BUILD time (DataFrame construction + explain, no execution) —
  the round-8 expression-materialization lesson says regressions hide
  here;
- end-to-end execution over the sf0.01 documents hosts.

Equality at full size is pinned by
tests/test_invariants.py::test_registrable_domain_full_size_psl (all
three implementations host-by-host, embedded-subset hosts AND
synthetic-rule hosts). Usage: python tests/psl_fullsize_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synthesize_psl_text(
    n_tld: int = 1500, n_second: int = 6800, n_wild: int = 600, n_exc: int = 100
) -> str:
    """Deterministic ~9k-rule PSL in the official file format. Shape
    mirrors the real list (label counts the embedded cascade supports:
    exact <= 3 labels, wildcard parents <= 2, exceptions <= 3); includes
    the embedded subset's high-traffic rules so real-host tests keep
    their meaning, plus a PRIVATE DOMAINS section the ICANN loader must
    drop."""
    lines = [
        "// This Source Code Form is subject to the terms of the Mozilla",
        "// Public License, v. 2.0 (synthetic capacity fixture)",
        "// ===BEGIN ICANN DOMAINS===",
    ]
    # single-label TLDs (xa0 .. xa{n_tld-1})
    lines += [f"xa{i}" for i in range(n_tld)]
    # two-label registry suffixes spread over the synthetic TLDs
    lines += [f"co{j}.xa{j % n_tld}" for j in range(n_second)]
    # wildcard parents (their own TLD namespace) + exceptions under the
    # first n_exc of them
    lines += [f"*.wk{i}" for i in range(n_wild)]
    lines += [f"!city.wk{i}" for i in range(n_exc)]
    # keep the embedded high-traffic rules present so real hosts resolve
    from tiny_mapreduce_rpc_server_spark.functions.psl import _EMBEDDED_PSL

    lines += [
        ln
        for ln in _EMBEDDED_PSL.splitlines()
        if ln.strip() and not ln.startswith("//")
    ]
    lines += [
        "// ===END ICANN DOMAINS===",
        "// ===BEGIN PRIVATE DOMAINS===",
        "ignored.private.example",
        "*.ignored-wild.example",
        "// ===END PRIVATE DOMAINS===",
    ]
    return "\n".join(lines) + "\n"


def write_synthetic_psl(path: str) -> str:
    with open(path, "w", encoding="utf-8") as f:
        f.write(synthesize_psl_text())
    return path


def main() -> int:
    from pyspark.sql import functions as F

    from tiny_mapreduce_rpc_server_spark import get_spark
    from tiny_mapreduce_rpc_server_spark.functions import psl
    from tiny_mapreduce_rpc_server_spark.operators.dedup import (
        _host_of_canonical,
        _with_messy_url,
        canonicalize_url,
    )
    from tiny_mapreduce_rpc_server_spark.sources import load_table

    spark = get_spark("psl-probe")
    spark.range(1).count()

    path = write_synthetic_psl("/tmp/psl_synthetic_full.dat")
    parsed_full = psl.load_psl_file(path)
    n_rules = sum(len(v) for v in parsed_full.values())
    print(f"# synthetic PSL: {n_rules} rules "
          f"(exact {len(parsed_full['exact'])}, wild {len(parsed_full['wild'])}, "
          f"exc {len(parsed_full['exc'])}); embedded: "
          f"{sum(len(v) for v in psl._parse_psl(psl._EMBEDDED_PSL).values())}")

    # same host source as dedup_url_canonical's hot path
    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "source", "lang"
    )
    hosts = (
        _with_messy_url(docs)
        .select(canonicalize_url(F.col("url")).alias("canonical_url"))
        .select(_host_of_canonical().alias("h"))
    )

    def build_ms(fn, reps=3):
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn()
            df._jdf.queryExecution().executedPlan()  # force full planning
            dt = (time.perf_counter() - t0) * 1000
            best = dt if best is None or dt < best else best
        return best, df

    # warm up both forms at both sizes first so the first measured
    # config doesn't absorb one-time codegen/JIT cost
    for parsed in (None, parsed_full):
        hosts.select(
            psl.registrable_domain_of_host(F.col("h"), parsed).alias("r")
        ).toPandas()
        psl.with_registrable_domain(hosts, "h", parsed=parsed).toPandas()

    def exec_s(df, reps=3):
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            df.toPandas()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best

    results = {}
    for label, parsed in (("embedded", None), ("full-9k", parsed_full)):
        b_expr, df_expr = build_ms(
            lambda: hosts.select(
                psl.registrable_domain_of_host(F.col("h"), parsed).alias("r")
            )
        )
        b_join, df_join = build_ms(
            lambda: psl.with_registrable_domain(hosts, "h", parsed=parsed)
        )
        e_expr = exec_s(df_expr)
        e_join = exec_s(df_join)
        results[label] = (b_expr, e_expr, b_join, e_join)
        print(
            f"# {label}: expression plan-build {b_expr:.0f} ms, exec {e_expr:.2f} s"
            f" | join plan-build {b_join:.0f} ms, exec {e_join:.2f} s"
        )
    be, _, bj, _ = results["embedded"]
    fe, _, fj, _ = results["full-9k"]
    print(f"# plan-build growth embedded->full: expression {fe/be:.1f}x, "
          f"join {fj/bj:.1f}x (join form claims ~size-independent)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
