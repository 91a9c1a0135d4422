"""Pin the DuckDB oracle digests of the benchmark's tables.

    python3 perfbench/pin_oracles.py

Runs each oracle of ``queries_sf0.1`` once over ``perfbench/data/sf0.1``
and rewrites ``perfbench/oracle_digests.json``. Run it after changing
the tables, the workload's query list or one of its oracles; until then
the harness runs the affected oracles live, which at sf0.1 takes about a
minute and a half.
"""

from __future__ import annotations

import json

import run

if __name__ == "__main__":
    run.setup_environment()
    from tiny_mapreduce_rpc_server_spark.registry import all_queries

    import checks

    specs = [all_queries()[n] for n in run.QUERIES]
    sf_dir = run.table_inputs(run.FULL)
    digests = checks.oracle_digests(specs, sf_dir)
    pins = {checks.inputs_digest(sf_dir): {checks.pin_key(s): digests[s.name] for s in specs}}
    with open(checks.PINNED, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    run.log(f"pinned {len(specs)} oracles in {checks.PINNED}")
