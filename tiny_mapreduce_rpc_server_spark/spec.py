"""QuerySpec: one named engine query + its DuckDB oracle."""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

from tiny_mapreduce_rpc_server_spark.session import release_caches

_T = TypeVar("_T")


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
    Spark job until an action), but queries whose derived tables go
    through ``operators.dedup._bounded_broadcast`` (dedup / graph /
    sampling composites) run a real count job and persist blocks at
    ``fn(...)`` call time — the planner can size a table for the
    broadcast threshold only once it is materialized.
    Query functions also ``.cache()`` shared subtrees,
    ``localCheckpoint`` iterative loops, and write stores they read
    back under ``session.scratch_dir``. ``run`` is the one way to
    execute a query and release all of it: it consumes the result
    before the release, which ``release_caches`` requires because a
    ``localCheckpoint`` block cannot be recomputed once unpersisted and
    a scratch store cannot be read once deleted.
    """

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    bench: bool = False

    def run(
        self, spark: SparkSession, sf_dir: str, consume: Callable[[DataFrame], _T]
    ) -> tuple[float, _T]:
        """Build the query at ``sf_dir``, pass its DataFrame to
        ``consume`` and return ``(seconds, consume's result)``. The
        seconds cover the build and ``consume``; the releases before
        and after (the latter also when ``consume`` raises) fall
        outside them."""
        release_caches()
        try:
            t0 = time.perf_counter()
            result = consume(self.fn(spark, sf_dir))
            return time.perf_counter() - t0, result
        finally:
            release_caches()
