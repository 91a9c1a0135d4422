"""Build a K-fold scale replica of a driver testdata dir for SCALING probes.

The driver generates sf0.001/0.01/0.1 — a 100x range. To measure how the
engine's plans behave over a 1000x+ range (the question the 100 TB design
actually has to answer) we replicate sf0.1 K times into a local scratch
dir, preserving the *statistical shape* of the data rather than naively
duplicating rows:

- every entity key (custkey, orderkey, partkey, suppkey, doc_id, vec_id,
  event_id, user_id) is shifted by ``copy * STRIDE`` so key cardinality
  grows K-fold (naive duplication would keep cardinality flat and turn
  every groupBy/join into a K-fold hot-key skew test instead of a scale
  test);
- document text gets a per-copy word suffix, so the *within-copy*
  near-dup structure (shingle DF distribution, candidate-pair count per
  copy) is identical to sf0.1 while copies share no shingles — the
  realistic model where duplicate RATE is constant as the corpus grows.
  A naive text copy would make every doc a 10-way near-dup and grow LSH
  candidate pairs quadratically in K — a skew stress test, not scaling.
  ``n_chars`` is recomputed to match the perturbed text;
- embeddings get a per-copy cyclic rotation of dimensions — norms and
  within-copy geometry are exactly preserved, cross-copy cosine decays
  to background level, so near-dup group sizes stay constant;
- dimension tables (nation, region) are NOT replicated — growing a
  corpus does not add countries, and the probe should keep broadcast
  dims dimension-sized;
- events keep their timestamps (K-fold event density over the same
  horizon, per-user histories identical — sessionization work grows
  linearly).

This data is ONLY for performance probes (tools/scaling_probe.py). All
correctness gates run exclusively on the driver-generated parquet.

Usage: python tools/make_scale_replica.py [K] [out_dir]
Defaults: K=10, out_dir=<repo>/.scale_replica/sf1
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

SRC = "/root/testdata/sf0.1"
STRIDE = 1_000_000_000
REPLICA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale_replica",
    "sf1",
)


def ensure_replica() -> str:
    """The default 10x replica's directory, built first if missing."""
    if not os.path.exists(REPLICA_DIR):
        print("# building sf1 replica (one-time)", file=sys.stderr)
        build(10, REPLICA_DIR)
    return REPLICA_DIR


def build(k: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE copies AS SELECT range AS i FROM range({k})")

    def rep(name: str, select: str) -> None:
        t0 = time.time()
        # Bounded row groups: DuckDB's default writes small tables as ONE
        # row group, and a parquet scan cannot split inside a row group —
        # round-7 stage accounting caught the sf1* documents scan running
        # on 1-2 tasks of a 32-core box (5.1 s serialized before spread()
        # could fan out). Real 100 TB inputs arrive in many files/row
        # groups; ~16 groups per table keeps the fixture honest.
        n_src = con.sql(f"SELECT count(*) FROM '{SRC}/{name}.parquet'").fetchone()[0]
        rg = max(2048, (n_src * k) // 16)
        con.execute(
            f"COPY (SELECT {select} FROM '{SRC}/{name}.parquet', copies"
            f" ORDER BY i) TO '{out}/{name}.parquet' "
            f"(FORMAT parquet, ROW_GROUP_SIZE {rg})"
        )
        n = con.sql(f"SELECT count(*) FROM '{out}/{name}.parquet'").fetchone()[0]
        print(f"  {name}: {n:,} rows in {time.time() - t0:.1f}s", flush=True)

    rep("customer", f"c_custkey + i*{STRIDE} AS c_custkey, c_name, "
        "c_nationkey, c_acctbal, c_mktsegment")
    rep("orders", f"o_orderkey + i*{STRIDE} AS o_orderkey, "
        f"o_custkey + i*{STRIDE} AS o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate, o_orderpriority")
    rep("lineitem", f"l_orderkey + i*{STRIDE} AS l_orderkey, "
        f"l_partkey + i*{STRIDE} AS l_partkey, "
        f"l_suppkey + i*{STRIDE} AS l_suppkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
        "l_shipdate")
    rep("part", f"p_partkey + i*{STRIDE} AS p_partkey, p_name, p_brand, "
        "p_type, p_size, p_retailprice")
    rep("supplier", f"s_suppkey + i*{STRIDE} AS s_suppkey, s_name, "
        "s_nationkey, s_acctbal")
    rep("events", f"event_id + i*{STRIDE} AS event_id, ts, "
        f"user_id + i*{STRIDE} AS user_id, event_type, value, props")
    # per-copy word suffix: copy 0 is verbatim sf0.1; copy i>0 maps every
    # word w -> w~i (within-copy shingle structure identical, cross-copy
    # shingle overlap zero)
    newtext = (
        "CASE WHEN i = 0 THEN text ELSE array_to_string("
        "list_transform(string_split(text, ' '), w -> w || '~' || i), ' ') END"
    )
    rep("documents", f"doc_id + i*{STRIDE} AS doc_id, {newtext} AS text, "
        f"lang, source, length({newtext}) AS n_chars")
    # cyclic dimension rotation by 7*i (mod dim): exact norms, within-copy
    # geometry preserved, cross-copy cosine ~ background
    dim = con.sql(
        f"SELECT len(embedding) FROM '{SRC}/embeddings.parquet' LIMIT 1"
    ).fetchone()[0]
    rot = (
        f"list_concat(embedding[(1 + (7*i) % {dim}):], "
        f"embedding[:((7*i) % {dim})])::FLOAT[]"
    )
    rep("embeddings", f"vec_id + i*{STRIDE} AS vec_id, {rot} AS embedding, "
        "label")
    for name in ("nation", "region"):
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{name}.parquet') "
            f"TO '{out}/{name}.parquet' (FORMAT parquet)"
        )
        print(f"  {name}: copied (dimension, not replicated)", flush=True)
    con.close()
    print(f"replica K={k} at {out}")


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    build(k, sys.argv[2] if len(sys.argv) > 2 else REPLICA_DIR)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
