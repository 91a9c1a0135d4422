"""Self-test of the benchmark harness on the smallest inputs.

    python3 -m pytest perfbench -q -p no:cacheprovider

Runs each workload once, traced, at sf0.001 and on a 256 KiB corpus, and
checks that every metric ``BENCHMARK.json`` names is emitted with its
unit, that a corrupted result (one dropped row) raises ``error_rate``,
that a seed gives a byte-identical corpus, that the oracle digests of the
sf0.1 tables are pinned for every query, and that the command fails
without printing a result where the package is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import datagen
import run

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


@pytest.fixture(scope="module", autouse=True)
def environment():
    run.setup_environment()
    yield
    shutil.rmtree(run.WORK, ignore_errors=True)


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("workload, op", [
    ("queries_sf0.1", "text_tf_idf"), ("mapreduce_textio", "linefile_read")])
def test_every_metric_is_emitted_and_a_dropped_row_counts(workload, op):
    dropped = []

    def drop_first_row_once(name, result):
        if name == op and not dropped:
            dropped.append(name)
            return result.slice(1)
        return result

    res = run.run_workload(workload, seed=1, seconds=0, trace=True, scale=run.TINY,
                           mutate=drop_first_row_once)
    named = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == named
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert all(m[k] > 0 for k in ("setup_s", "cold_pass_s", "pass_s", "spark.jobs"))
    # exactly the one corrupted result failed its check
    assert dropped and not res["correct"] and res["failed"] == 1
    assert m["error_rate"] == 1 / res["attempted"]


def test_a_seed_gives_a_byte_identical_corpus():
    base = os.path.join(run.WORK, "seeded")
    a, b, c = (datagen.write_corpus(os.path.join(base, d), s, 64 * 1024, vocab=500)
               for d, s in (("a", 7), ("b", 7), ("c", 8)))
    assert a == b != c


def test_every_oracle_of_the_sf01_tables_is_pinned():
    # an unpinned oracle runs live, which adds about a minute and a half
    # to every run; re-pin with perfbench/pin_oracles.py
    from tiny_mapreduce_rpc_server_spark.registry import all_queries

    import checks  # needs the oracle helpers under tests/ on the path

    pinned = checks.load_pinned().get(checks.inputs_digest(run.table_inputs(run.FULL)), {})
    specs = all_queries()
    assert {checks.pin_key(specs[n]) for n in run.QUERIES} <= pinned.keys()


def test_fails_without_the_package():
    bare = os.path.join(run.WORK, "bare")
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mapreduce_textio",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
