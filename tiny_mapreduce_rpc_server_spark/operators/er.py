"""[EXT] Entity resolution / record linkage: blocked fuzzy matching.

No reference counterpart (SURVEY §2.11 — the reference has no string
similarity of any kind); this is the record-linkage stage of a data
cleaning / training-data curation pipeline, built Spark-first:

- candidate generation is a BLOCKED self-join (equi-join on a blocking
  key), never an all-pairs cross join — the textbook ER scale pattern;
- the expensive edit-distance runs only on within-block candidates,
  JVM-side via the built-in ``levenshtein`` expression (no UDF);
- matching runs on the *distinct-entity* table (post-groupBy), so the
  quadratic term is over unique names, not records.

Scale notes for 100 TB: the records→distinct-names aggregate is the
big shuffle and it partial-aggregates map-side; the blocked self-join
touches only names sharing a block key, so hot blocks (stop-words as
first token) would get the same DF-cap treatment as dedup.py's
stop-shingles. Per-block pair count is the quantity to monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

# candidate pairs must be within this edit distance (and not identical —
# exact duplicates are dedup_exact's job)
ER_MAX_DIST = 3


def q_er_fuzzy_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match candidates over part names.

    Stage 1 collapses the record table to distinct entity names with
    record counts (the merge impact); stage 2 blocks on the first name
    token and emits within-block pairs with levenshtein in [1, 3].
    Output: (name_a < name_b, edit distance, records that would merge).
    """
    parts = load_table(spark, sf_dir, "part")
    names = parts.groupBy("p_name").agg(F.count("*").alias("n"))
    b = names.select(
        "p_name", "n", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    )
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("c.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("c.p_name")).alias("dist"),
            F.col("a.n").alias("n_records_a"),
            F.col("c.n").alias("n_records_b"),
        )
        .filter(F.col("dist").between(1, ER_MAX_DIST))
    )


ORACLE_ER_FUZZY_CANDIDATES = f"""
WITH names AS (
  SELECT p_name, count(*) AS n FROM part GROUP BY p_name
),
b AS (SELECT p_name, n, split_part(p_name, ' ', 1) AS blk FROM names)
SELECT a.p_name AS name_a,
       c.p_name AS name_b,
       levenshtein(a.p_name, c.p_name) AS dist,
       a.n AS n_records_a,
       c.n AS n_records_b
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE levenshtein(a.p_name, c.p_name) BETWEEN 1 AND {ER_MAX_DIST}
"""


def q_er_merge_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-style merge impact of fuzzy matching: treat every candidate
    pair as a merge edge and report, per blocking key, how many distinct
    names exist vs how many survive after merging (names minus edges in
    the within-block match forest is a lower bound; here we report edge
    and node counts, which is the monitoring view an ER pipeline ships).
    """
    cand = q_er_fuzzy_candidates(spark, sf_dir)
    parts = load_table(spark, sf_dir, "part")
    nodes = (
        parts.select(
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk"),
            "p_name",
        )
        .distinct()
        .groupBy("blk")
        .agg(F.count("*").alias("n_names"))
    )
    edges = (
        cand.select(
            F.split_part(F.col("name_a"), F.lit(" "), F.lit(1)).alias("blk")
        )
        .groupBy("blk")
        .agg(F.count("*").alias("n_match_edges"))
    )
    ne = F.coalesce("n_match_edges", F.lit(0))
    return nodes.join(edges, "blk", "left").select(
        "blk", "n_names", ne.alias("n_match_edges")
    )


ORACLE_ER_MERGE_IMPACT = f"""
WITH names AS (SELECT p_name, count(*) AS n FROM part GROUP BY p_name),
b AS (SELECT p_name, n, split_part(p_name, ' ', 1) AS blk FROM names),
cand AS (
  SELECT a.blk, a.p_name AS name_a, c.p_name AS name_b
  FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
  WHERE levenshtein(a.p_name, c.p_name) BETWEEN 1 AND {ER_MAX_DIST}
),
nodes AS (SELECT blk, count(*) AS n_names FROM b GROUP BY blk),
edges AS (SELECT blk, count(*) AS n_match_edges FROM cand GROUP BY blk)
SELECT n.blk, n.n_names, COALESCE(e.n_match_edges, 0) AS n_match_edges
FROM nodes n LEFT JOIN edges e ON n.blk = e.blk
"""


def q_er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive entity MERGE groups: a fuzzy match is an equivalence
    edge, so A~B and B~C must land A, B, C in one cluster even when
    levenshtein(A, C) exceeds the pair threshold — the step that turns
    pairwise candidates into actual merge decisions. Reuses the dedup
    family's distributed connected components (min-label propagation +
    pointer jumping, O(log diameter) rounds) over the candidate edges;
    labels here are name STRINGS (min = lexicographic), which the
    propagation is agnostic to. Output: one row per multi-name cluster
    with its canonical (min) name, variant count, and how many part
    records the merge would consolidate."""
    from tiny_mapreduce_rpc_server_spark.operators.graph import (
        propagate_components,
    )

    pairs = q_er_fuzzy_candidates(spark, sf_dir).select(
        F.col("name_a").alias("doc_a"), F.col("name_b").alias("doc_b")
    )
    comp = propagate_components(pairs)
    parts = load_table(spark, sf_dir, "part")
    names = parts.groupBy("p_name").agg(F.count("*").alias("n"))
    j = comp.join(names, comp.doc_id == names.p_name)
    return (
        j.groupBy(F.col("component").alias("canonical_name"))
        .agg(
            F.count("*").alias("n_variants"),
            F.sum("n").alias("n_records"),
        )
        .orderBy("canonical_name")
    )


ORACLE_ER_ENTITY_CLUSTERS = f"""
WITH RECURSIVE names AS (
  SELECT p_name, count(*) AS n FROM part GROUP BY p_name
),
b AS (SELECT p_name, n, split_part(p_name, ' ', 1) AS blk FROM names),
pairs AS (
  SELECT a.p_name AS name_a, c.p_name AS name_b
  FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
  WHERE levenshtein(a.p_name, c.p_name) BETWEEN 1 AND {ER_MAX_DIST}
),
nodes AS (SELECT name_a AS node FROM pairs UNION SELECT name_b FROM pairs),
edges AS (SELECT name_a AS src, name_b AS dst FROM pairs
          UNION SELECT name_b, name_a FROM pairs),
cc(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src
),
comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node)
SELECT component AS canonical_name,
       count(*) AS n_variants,
       sum(n)::BIGINT AS n_records
FROM comp JOIN names ON node = p_name
GROUP BY component
ORDER BY component
"""


ER_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "er_entity_clusters",
        q_er_entity_clusters,
        ORACLE_ER_ENTITY_CLUSTERS,
    ),
    QuerySpec(
        "er_fuzzy_candidates",
        q_er_fuzzy_candidates,
        ORACLE_ER_FUZZY_CANDIDATES,
    ),
    QuerySpec(
        "er_merge_impact",
        q_er_merge_impact,
        ORACLE_ER_MERGE_IMPACT,
    ),
]
