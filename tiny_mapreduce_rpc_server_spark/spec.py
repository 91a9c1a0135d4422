"""QuerySpec: one named engine query + its DuckDB oracle."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """A named query: Spark builder + (optional) equivalent ANSI SQL oracle.

    - ``name``: the registry key, unique across the engine.
    - ``fn(spark, sf_dir)`` returns the result DataFrame.
    - ``oracle`` is a DuckDB-runnable SQL string over the same parquet
      tables (views pre-registered by the driver); None for
      non-SQL-expressible operators (driver then records a weaker
      rows-only check). Column names/aliases MUST match between the two
      — the comparator sorts columns by name before hashing.
    - ``bench`` marks the headliner queries ``bench.py`` times.

    Eager-materialization contract: most builders are plan-only (no
    Spark job until an action), but queries whose candidate sets go
    through ``operators.dedup._bounded_broadcast`` (dedup / graph /
    sampling composites) run a real count job and persist blocks at
    ``fn(...)`` call time — the size gate cannot be decided lazily.
    Query functions also ``.cache()`` shared subtrees and
    ``localCheckpoint`` iterative loops. Long-lived sessions release
    all of it with ``tiny_mapreduce_rpc_server_spark.release_caches()``
    between queries, and only after the previous result has been
    consumed: a ``localCheckpoint`` block cannot be recomputed once
    unpersisted.
    """

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    bench: bool = False
