from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from tiny_mapreduce_rpc_server_spark import get_spark

    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark_graft_warehouse"},
    )
    yield s


@pytest.fixture(autouse=True)
def _release_after_test():
    """Release what each test persisted, so the shared session does not
    pile up caches and localCheckpoint blocks across the suite. It does
    not request ``spark``: without an active session the release is a
    no-op, so pure-Python tests never start a JVM."""
    yield
    from tiny_mapreduce_rpc_server_spark import release_caches

    release_caches()
