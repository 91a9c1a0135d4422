"""Correctness checks, run outside the timed region.

Registry queries are checked by an order-independent digest of the Arrow
result against the digest of the query's DuckDB oracle, computed once per
input set: ``oracle_digests.json`` pins the oracle digests of the
benchmark's tables, keyed by the digest of the table files and of each
oracle's SQL, because some oracles take a minute at sf0.1; anything not
pinned runs live. Rows are canonicalised by ``tests/oracle_utils.py``,
the helpers of the oracle tests, so values compare exactly, floats
included. MapReduce outputs are checked against counts taken from the
generated corpus in Python, and every output file must be key-sorted,
the reference's per-partition guarantee.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
from oracle_utils import _rowset, duckdb_connect


def rows_digest(columns: list[str], rows: list[tuple]) -> str:
    """SHA-256 over the oracle tests' canonical row set, columns by name."""
    h = hashlib.sha256("\x1f".join(sorted(columns)).encode())
    for row in _rowset(columns, rows):
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return h.hexdigest()


def table_digest(tbl: pa.Table) -> str:
    """``rows_digest`` of an Arrow result. Spark hands timestamps to Arrow
    as UTC instants; they are made naive, as Spark's ``collect`` and
    DuckDB return them."""
    cols = []
    for col in tbl.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = pc.cast(col, pa.timestamp(col.type.unit))
        cols.append(col.to_pylist())
    return rows_digest(tbl.column_names, list(zip(*cols)))


def oracle_digests(specs, sf_dir: str) -> dict[str, str]:
    """Run each spec's DuckDB oracle over the tables in ``sf_dir``."""
    con = duckdb_connect(sf_dir)
    try:
        out = {}
        for spec in specs:
            cur = con.execute(spec.oracle)
            out[spec.name] = rows_digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")


def inputs_digest(sf_dir: str) -> str:
    """SHA-256 over the names and bytes of the parquet files in ``sf_dir``."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            h.update(f.encode() + b"\0")
            with open(os.path.join(sf_dir, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def load_pinned() -> dict[str, dict[str, str]]:
    if not os.path.exists(PINNED):
        return {}
    with open(PINNED) as fh:
        return json.load(fh)


def pin_key(spec) -> str:
    """A query's pin: its name and the hash of its oracle SQL, so that an
    edited oracle is run again instead of matched against a stale pin."""
    return f"{spec.name}:{hashlib.sha256(spec.oracle.encode()).hexdigest()[:16]}"


def expected_digests(specs, sf_dir: str) -> dict[str, str]:
    """Oracle digests of ``specs`` over ``sf_dir``: pinned ones where the
    inputs and the oracle are pinned, the others computed now."""
    pinned = load_pinned().get(inputs_digest(sf_dir), {})
    out = {s.name: pinned[pin_key(s)] for s in specs if pin_key(s) in pinned}
    missing = [s for s in specs if s.name not in out]
    return out | oracle_digests(missing, sf_dir) if missing else out


def corpus_counts(corpus_dir: str) -> tuple[Counter, Counter]:
    """Word counts and line counts of every file in ``corpus_dir``."""
    words: Counter = Counter()
    lines: Counter = Counter()
    for f in sorted(os.listdir(corpus_dir)):
        with open(os.path.join(corpus_dir, f), encoding="utf-8") as fh:
            for line in fh.read().split("\n")[:-1]:
                lines[line] += 1
                words.update(line.split())
    return words, lines


def _output_files(out_dir: str) -> list[str]:
    return sorted(
        os.path.join(out_dir, f) for f in os.listdir(out_dir)
        if not f.startswith(("_", ".")))


def sorted_kv_output(out_dir: str, want: Counter) -> bool:
    """True when the ``key<SPACE>value`` files in ``out_dir`` hold exactly
    ``want``, each key once, and each file is sorted by key."""
    got: dict[str, int] = {}
    for path in _output_files(out_dir):
        with open(path, encoding="utf-8") as fh:
            keys = []
            for line in fh.read().split("\n")[:-1]:
                k, v = line.rsplit(" ", 1)
                if k in got:
                    return False
                got[k] = int(v)
                keys.append(k.encode())
        if keys != sorted(keys):
            return False
    return got == dict(want)


def lines_match(tbl: pa.Table, out_dir: str) -> bool:
    """True when the lines read back equal the lines of the files, each once."""
    want: Counter = Counter()
    for path in _output_files(out_dir):
        with open(path, encoding="utf-8") as fh:
            want.update(fh.read().split("\n")[:-1])
    return Counter(tbl.column("line").to_pylist()) == want


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _output_files(path)) if os.path.isdir(path) else 0
