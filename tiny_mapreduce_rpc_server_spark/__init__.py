"""tiny_mapreduce_rpc_server_spark — a PySpark-native analytics engine.

A brand-new engine with the query / data-processing capabilities of the
reference ``pengkaii/Tiny_MapReduce_Rpc_server`` (a C++ Hadoop-MRv1-style
MapReduce + RPC framework), re-expressed Spark-first:

- the reference's split -> map -> partition -> sort/spill -> merge -> reduce
  dataflow becomes a DataFrame plan (Catalyst plans the physical execution);
- its pluggable-callback API shape (map fn / partitioner / output format,
  reference ``Mapper.h:26``, ``Reducer.h:130``) survives as a thin
  ``map_reduce`` facade over DataFrame/RDD ops;
- everything the reference lacks (joins, windows, set ops, SQL, streaming)
  is exposed through Spark SQL;
- beyond the reference: LLM-data-pipeline operators (dedup, similarity
  search, text analysis, multimodal columns) designed for 100 TB scale.
"""

from tiny_mapreduce_rpc_server_spark.session import get_spark, release_caches

__all__ = ["get_spark", "release_caches"]
__version__ = "0.1.0"
