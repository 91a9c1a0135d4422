"""Partition-count invariance: the engine's bit-exactness claims.

Every float-producing query in this repo argues determinism from
order-independent arithmetic (decimal moments, integer ratios, sorted
folds, portable LUTs). The oracle gate proves equality against DuckDB at
ONE partitioning; this file proves the claim that actually matters on a
cluster — the result is identical under a different shuffle layout,
where partial-aggregation order, merge order, and task scheduling all
change. A query whose floats survive DuckDB comparison by luck (summation
order happening to match) fails here.

Two regimes per query: the session default (shuffle_partitions=8, AQE
coalescing on) vs shuffle_partitions=3 with AQE partition COALESCING
DISABLED. The second knob is load-bearing: at sf0.01 AQE coalesces both
8 and 3 down to the same effective layout, which would make the
comparison vacuous — with coalescing off, the alt regime genuinely runs
a different number of reduce partitions. Cached blocks are cleared
around each run so internally-.cache()ing queries (dedup family) cannot
carry the first regime's layout into the second.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from tests.oracle_utils import _rowset
from tiny_mapreduce_rpc_server_spark.registry import all_queries

# The queries whose output contains derived floats and whose plans
# shuffle (per-row-only queries are trivially invariant):
FLOAT_SHUFFLE_QUERIES = [
    "covar_corr",
    "ols_trend",
    "weighted_median",
    "roc_auc",
    "gap_fill_interpolate",
    "quality_percentile_filter",
    "item_cooccurrence",
    "negative_sampling",
    "split_leakage_check",
    "dedup_containment",
    "theil_sen_trend",
    "ingest_anomaly",
    "text_tf_idf",
    # round-4 session additions that derive floats through a shuffle
    "point_in_time_join",
    "embedding_matryoshka",
    "source_semantic_similarity",
    "embedding_spectrum",
    "join_skew_diagnosis",
    "dedup_savings_report",
    # round-8 late additions: ADC distances are row-local folds but the
    # top-k window crosses a shuffle; the LM filter's mean crosses a
    # decimal aggregation and its buckets a total-order ntile
    "ann_pq",
    "ann_pq_persisted",
    "ann_ivf_pq",
    "text_lm_quality_filter",
    # round-9 additions: the rerank queries derive exact cosines through
    # broadcast joins + a top-k shuffle; the converged LPA's round count
    # and labels must not depend on the shuffle layout
    "ann_pq_rerank",
    "ann_pq_rerank_persisted",
    "ann_ivf_pq_rerank",
    "graph_community_lpa_converged",
]

_SHUF = "spark.sql.shuffle.partitions"
_COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _rows(spark, name):
    return all_queries()[name].run(
        spark, SF_ORACLE, lambda df: _rowset(df.columns, [tuple(r) for r in df.collect()])
    )[1]


@pytest.mark.parametrize("name", FLOAT_SHUFFLE_QUERIES)
def test_partition_count_invariance(spark, name):
    base = _rows(spark, name)
    prev_shuf = spark.conf.get(_SHUF)
    prev_coal = spark.conf.get(_COALESCE)
    spark.conf.set(_SHUF, "3")
    spark.conf.set(_COALESCE, "false")
    try:
        alt = _rows(spark, name)
    finally:
        spark.conf.set(_SHUF, prev_shuf)
        spark.conf.set(_COALESCE, prev_coal)
    assert base == alt, f"{name}: result depends on shuffle partitioning"
