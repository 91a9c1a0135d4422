"""RPC function-registry facade: the reference's callable surface on Spark.

The reference's RPC subsystem (`Imagine_Rpc/`) carries two user-visible
capabilities; everything else (framing, discovery, heartbeats, reactor) is
transport mechanism that Spark's driver/executor runtime replaces outright
(SURVEY §2.9):

- a **named-function registry** — ``RpcServer`` keeps
  ``unordered_map<string, RpcCallback>`` and dispatches requests by name
  (``RpcServer.cpp:218-223`` register, ``:276-289`` SearchFunc);
- **invocation** of a registered function with positional string arguments
  (``RpcClient::Caller/Call``, ``RpcClient.cpp:18-93``), e.g. the ``add``
  function of the test driver (``Test/RpcServer.cpp:30-37``) that the test
  client calls in a Fibonacci loop (``Test/RpcClient.cpp:57-78``).

Spark-first re-expression: the registry is a plain dict; ``call`` is
driver-side dispatch (a local function call needs no distributed machinery
— SURVEY §3.2); ``register_udf`` additionally exposes a registered function
to SQL/DataFrame expressions on executors via ``spark.udf.register``, which
is the one place Spark has a genuine named-function registry.

The reference's functions are ``vector<string> -> vector<string>``; here
they are typed Python callables (the stringly-typed contract was a wire
format artifact, not a semantic — SURVEY §1.2 maps it to real Spark types).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession


class FunctionRegistry:
    """Named-function registry + dispatch (RpcServer/RpcClient surface)."""

    def __init__(self) -> None:
        self._fns: dict[str, Callable[..., Any]] = {}

    def register(self, name: str, fn: Callable[..., Any]) -> None:
        """``RpcServer::Callee`` (RpcServer.cpp:218-223). Unlike the
        reference's keeper (ZooKeeper.cpp:108-114 throws on duplicates),
        re-registration replaces — latest wins."""
        self._fns[name] = fn

    def deregister(self, name: str) -> None:
        self._fns.pop(name, None)

    def search(self, name: str) -> Callable[..., Any] | None:
        """``RpcServer::SearchFunc`` (RpcServer.cpp:276-289)."""
        return self._fns.get(name)

    def call(self, name: str, *args: Any) -> Any:
        """``RpcClient::Call`` minus the network: dispatch by name
        (RpcClient.cpp:37-93). Raises KeyError for an unknown method,
        mirroring the reference's error response on SearchFunc miss."""
        fn = self.search(name)
        if fn is None:
            raise KeyError(f"no registered function {name!r}")
        return fn(*args)

    def register_udf(
        self, spark: SparkSession, name: str, fn: Callable[..., Any] | None = None,
        return_type: str = "string",
    ):
        """Expose a registered function to SQL/DataFrame expressions —
        the distributed analog of the reference's registry (SURVEY §2.9
        N3: "closest analog: registered UDFs"). Row-at-a-time Python UDF:
        fine for the RPC-parity surface, NOT a data-path primitive (use
        built-ins / pandas_udfs in operators)."""
        if fn is not None:
            self.register(name, fn)
        target = self.search(name)
        if target is None:
            raise KeyError(f"no registered function {name!r}")
        return spark.udf.register(name, target, return_type)

    def names(self) -> list[str]:
        return sorted(self._fns)


def default_registry() -> FunctionRegistry:
    """Registry pre-loaded with the reference test driver's functions:
    ``add`` (Test/RpcServer.cpp:30-37 — a + b over the wire)."""
    reg = FunctionRegistry()
    reg.register("add", lambda a, b: a + b)
    return reg


def q_rpc_registry_call(spark: "SparkSession", sf_dir: str):
    """The reference's RPC test workload, end to end and oracle-checked:
    register ``add`` (Test/RpcServer.cpp:30-37), run the test client's
    Fibonacci-by-repeated-``Call`` loop (Test/RpcClient.cpp:57-78)
    driver-side, and dispatch the same registered function by NAME from
    SQL on executors via ``register_udf`` over the nation dimension.

    Scale note: the per-row UDF is the RPC-parity surface itself (name
    dispatch is the thing under test), applied to a 25-row dimension —
    row-at-a-time Python stays off every data path per the repo rule."""
    from pyspark.sql import functions as F

    from tiny_mapreduce_rpc_server_spark.sources import load_table

    reg = default_registry()
    reg.register_udf(spark, "tmrs_rpc_add", reg.search("add"), "bigint")
    # the client's workload: fib via repeated registry calls (fib(10)=55)
    a, b = 0, 1
    for _ in range(10):
        a, b = b, reg.call("add", a, b)
    nat = load_table(spark, sf_dir, "nation")
    return nat.selectExpr(
        "n_nationkey",
        "n_regionkey",
        "tmrs_rpc_add(CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)) AS added",
    ).withColumn("fib10", F.lit(a).cast("long"))


ORACLE_RPC_REGISTRY = """
SELECT n_nationkey, n_regionkey,
       n_nationkey::BIGINT + n_regionkey AS added,
       CAST(55 AS BIGINT) AS fib10
FROM nation
"""


def _rpc_specs():
    from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

    return [
        QuerySpec(
            "rpc_registry_call",
            q_rpc_registry_call,
            ORACLE_RPC_REGISTRY,
        )
    ]


RPC_QUERIES = _rpc_specs()
