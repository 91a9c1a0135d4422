"""Graph clustering for dedup: connected components over near-dup pairs.

After candidate generation (LSH / inverted-index Jaccard — dedup.py), a
production dedup pipeline must turn the PAIR list into CLUSTER
assignments and pick one canonical document per cluster. Pairs are a
graph; clusters are its connected components. The reference has no
graph operators at all (SURVEY.md §2.11); this is a capability-gap fill
[EXT] and the step that makes the dedup family end-to-end usable.

Algorithm: iterative min-label propagation WITH pointer jumping — each
round does (1) ``label(v) <- min(label(v), min over neighbors
label(u))`` (one hash-shuffle join edges ⋈ labels + groupBy(dst) min)
and (2) a path-doubling step ``label(v) <- label(label(v))`` (one
self-join of the assignment). Phase 2 contracts label chains
exponentially, so convergence is O(log diameter) rounds — the same
guarantee class as large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond") — rather than O(diameter) for
plain propagation; high-diameter components (long duplication chains)
no longer degrade to a linear round count. ``localCheckpoint`` after
every phase truncates the lineage so the plan stays O(1) deep instead
of growing per iteration — without it round N re-executes rounds 1..N-1.

100 TB notes: on a real cluster use ``spark.sparkContext.setCheckpointDir``
+ ``checkpoint()`` (fault-tolerant, survives executor loss) instead of
localCheckpoint. The iterative driver loop is control flow only — every
data operation stays distributed; nothing is collected but the single
convergence counter per round.

Oracle: DuckDB ``WITH RECURSIVE`` transitive label propagation — the
fixpoint of the same recurrence, so results match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.operators.dedup import (
    HAMMING_MAX,
    ORACLE_DEDUP_NGRAM_JACCARD,
    SIMHASH_WIDE_BITS,
    _SIMHASH_WIDE_BLOCKS,
    _T,
    _bounded_broadcast,
    _doc_simhash,
    _sig_pairs_of_distinct,
    _sql_simhash,
    q_dedup_ngram_jaccard,
)
from tiny_mapreduce_rpc_server_spark.sources import load_table
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

_MAX_ROUNDS = 20

# Single-task union-find gate: below this many edges the whole pair list
# provably fits in ONE task's memory (2M (long,long) rows ~ 32 MB, the
# session's spark.sql.autoBroadcastJoinThreshold) and the iterative
# loop's per-round scheduler cost dominates the actual work, so CC runs
# as one mapInPandas over coalesce(1). Above the gate the distributed
# O(log diameter) loop below is unchanged. The edge count is read off
# the already-materialized localCheckpoint, so the gate costs one
# metadata-cheap job, exactly like _bounded_broadcast's count.
CC_LOCAL_MAX_EDGES = 2_000_000


def _cc_local(base: DataFrame) -> DataFrame:
    """Connected components of a SMALL materialized edge list in one
    executor task — semantics identical to the min-label fixpoint
    (component = min id in the component; Python/numpy string comparison
    is code-point order, which equals Spark's UTF8 binary ordering, so
    string-keyed graphs like er_canonical_merge match too). One Spark
    job, zero shuffles, no driver-side data (the fold runs in the
    executor).

    r12 hardening (round-11 verdict #2 / ADVICE): the kernel is now
    numpy-vectorized hook-and-compress (Shiloach–Vishkin style) over
    factorized integer codes instead of Python dicts keyed by boxed node
    objects. At the 2M-edge gate the dict kernel held several hundred MB
    of boxed keys in one GIL-bound task; the arrays here are
    2 x |edges| + 2 x |nodes| int64 (~100 MB at the gate) plus one
    factorize pass, and every hooking/compression step is a C-speed
    array op. Hooking only ever points a larger code at a smaller one,
    so pointers are monotone-decreasing (no cycles) and the compress
    loop contracts chains exponentially — O(log n) vectorized rounds.
    Component labels come from a groupby-min over the ORIGINAL node
    values (not codes), so label semantics are unchanged for longs and
    strings alike.

    Contract (ADVICE r11): edge endpoints must be non-null. A NULL in a
    long-typed pair column would arrive as float NaN under the
    Arrow-to-pandas conversion and silently float-key the components;
    the kernel raises instead — none of the candidate generators can
    emit a null endpoint (join keys), so this is an assertion, not a
    filter, and the plan is unchanged."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            yield pd.DataFrame({"doc_id": [], "component": []})
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf["src"].isna().any() or pdf["dst"].isna().any():
            raise ValueError(
                "connected components: null edge endpoint (the pair "
                "generators join on these keys, so nulls cannot occur; "
                "a null here means an upstream contract broke)"
            )
        codes, uniques = pd.factorize(
            pd.concat([pdf["src"], pdf["dst"]], ignore_index=True),
            sort=False,
        )
        m = len(pdf)
        u = codes[:m].astype(np.int64, copy=False)
        v = codes[m:].astype(np.int64, copy=False)
        parent = np.arange(len(uniques), dtype=np.int64)
        while True:
            pu, pv = parent[u], parent[v]
            hi = np.maximum(pu, pv)
            lo = np.minimum(pu, pv)
            live = hi != lo
            if not live.any():
                break
            # hook: parent[hi] <- min(parent[hi], lo); unbuffered so
            # several edges hooking the same root all land
            np.minimum.at(parent, hi[live], lo[live])
            # full pointer-jump: compress every chain to its root before
            # re-reading edge endpoints (values only ever decrease)
            while True:
                pp = parent[parent]
                if np.array_equal(pp, parent):
                    break
                parent = pp
        # component label = min ORIGINAL node value per root (value
        # order, not code order): groupby-min over the uniques
        comp_min = pd.Series(uniques).groupby(parent).min()
        yield pd.DataFrame(
            {
                "doc_id": uniques,
                "component": comp_min.reindex(parent).to_numpy(),
            }
        )

    t = base.schema["src"].dataType.simpleString()
    return base.coalesce(1).mapInPandas(kernel, f"doc_id {t}, component {t}")


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) for every doc in at least one near-dup pair;
    component = min doc_id in the doc's connected component."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return propagate_components(pairs)


def propagate_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair list
    (doc_a, doc_b) -> (doc_id, component=min id in component)."""
    # materialize the DIRECTED pair list once, BEFORE symmetrizing: a
    # union of two projections over the raw `pairs` plan would execute
    # candidate generation (the expensive LSH / inverted-index join)
    # once per branch, and a localCheckpoint above the union then pays
    # 2x; checkpointing the base first makes the reverse direction a
    # projection over already-materialized partitions. Each iteration
    # reuses this edge list, and pair generation never re-executes.
    base = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).localCheckpoint()
    # Size-gated single-task fast path (r11 optimization round): on a
    # small pair list — 53k edges for the sf0.1 signature graph — the
    # loop below converges in a handful of rounds but pays ~1 s of
    # scheduler/checkpoint overhead PER ROUND, which dominated the
    # slowest bench row (dedup_simhash_clusters: the CC loop was 4.5 s
    # of its 7.5 s). Below CC_LOCAL_MAX_EDGES the whole edge list goes
    # through one union-find task instead (identical labels; the count
    # reads the partitions localCheckpoint just materialized). Above
    # the gate — the 100 TB dup-heavy-crawl case — nothing changes.
    if base.count() <= CC_LOCAL_MAX_EDGES:
        return _cc_local(base)
    edges = base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(_MAX_ROUNDS):
        # phase 1 — neighbor propagation: label(v) <- min over N(v)
        nbr_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        prop_label = F.least(F.col("label"), F.coalesce("nbr_min", F.col("label")))
        prop = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            prop_label.alias("label"),
            F.col("label").alias("old_label"),
        )
        # phase 2 — pointer jumping (path doubling): label(v) <-
        # label(label(v)). Chains contract exponentially, so convergence
        # is O(log diameter) rounds instead of O(diameter) — the same
        # guarantee class as large-star/small-star (Kiveris et al.),
        # with one extra self-join per round. Label values are node ids,
        # so the lookup side is the assignment itself. `prop` is NOT
        # checkpointed: its two consumers re-evaluate one small
        # join+agg over the materialized edge/label tables inside the
        # SAME job, which is cheaper than an extra materialization
        # job per round — the label table is bounded by the number of
        # docs in >=1 candidate pair, orders of magnitude below corpus
        # size even on dup-heavy crawls.
        parent = prop.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        jump_label = F.least(F.col("label"), F.coalesce("p_label", F.col("label")))
        # ONE Spark job per round: the lazy localCheckpoint materializes
        # during the convergence count itself (an eager checkpoint +
        # separate count was 3 driver jobs per round of pure scheduler
        # overhead — the dominant cost of the CC family at sf1*, where
        # the label table is ~5k rows and every job is overhead-bound)
        stepped = (
            prop.join(parent, prop.label == parent.p_id, "left")
            .select(
                "doc_id",
                jump_label.alias("label"),
                (jump_label < F.col("old_label")).alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter("changed").count()
        labels = stepped.drop("changed")
        if changed == 0:
            return labels.select("doc_id", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected components did not converge in {_MAX_ROUNDS} rounds"
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _components(spark, sf_dir)


_ORACLE_CC_CTE = f"""
WITH RECURSIVE pairs AS (
  {ORACLE_DEDUP_NGRAM_JACCARD}
),
nodes AS (SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
cc(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src
)
"""

ORACLE_DEDUP_COMPONENTS = (
    _ORACLE_CC_CTE
    + """
SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
"""
)


def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OUTPUT: every document except non-canonical cluster
    members (cluster representative = min doc_id). Anti join — at scale
    this is a broadcast of the (small) duplicate list against the full
    corpus scan."""
    comp = _components(spark, sf_dir)
    dups = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    docs = load_table(spark, sf_dir, "documents")
    return docs.join(dups, "doc_id", "left_anti").select("doc_id", "source")


ORACLE_DEDUP_KEEP_CANONICAL = (
    _ORACLE_CC_CTE
    + """
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (
  SELECT node FROM (
    SELECT node, min(label) AS component FROM cc GROUP BY node
  ) WHERE node <> component
)
"""
)


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: the cluster-size histogram (how many near-dup
    clusters of each size exist) — the number a pipeline owner watches to
    decide whether thresholds are too loose/tight. Two tiny aggregations
    over the component assignment."""
    comp = _components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))


ORACLE_DEDUP_CLUSTER_STATS = (
    _ORACLE_CC_CTE
    + """
, comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY cluster_size
"""
)


def q_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capacity-planning number dedup exists to produce: per source,
    how many documents and how many CHARACTERS near-dup dedup removes
    (non-canonical cluster members, representative = min doc_id) — the
    report that decides whether a feed is worth re-scraping and what the
    post-dedup storage/token budget is.

    Shape: the duplicate list is cluster members minus representatives,
    broadcast against one corpus scan when measured small (pinned via
    dedup._bounded_broadcast — on a duplicate-heavy crawl the dup
    list is a large FRACTION of the corpus, and an unconditional hint
    would OOM the driver; the pin's count is a cheap scan of the
    localCheckpoint-materialized component table). Above the broadcast
    threshold the LEFT join degrades to a hash shuffle on doc_id. The
    per-source rollup partial-aggregates map-side. The savings fraction
    is a double division of two exact BIGINTs, identical in both
    engines."""
    comp = _components(spark, sf_dir)
    dups = (
        comp.filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
        .withColumn("is_dup", F.lit(1))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    marked = docs.join(_bounded_broadcast(dups), "doc_id", "left")
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("is_dup").alias("n_dropped"),
            F.sum("n_chars").alias("chars_total"),
            F.sum(
                F.when(F.col("is_dup").isNotNull(), F.col("n_chars")).otherwise(
                    F.lit(0)
                )
            ).alias("chars_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_dropped",
            "chars_total",
            "chars_dropped",
            (F.col("chars_dropped") / F.col("chars_total")).alias(
                "savings_frac"
            ),
        )
    )


ORACLE_DEDUP_SAVINGS = (
    _ORACLE_CC_CTE
    + """
, comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
dups AS (SELECT node AS doc_id FROM comp WHERE node <> component),
marked AS (
  SELECT d.source, d.n_chars, dup.doc_id AS dup_id
  FROM documents d LEFT JOIN dups dup ON d.doc_id = dup.doc_id)
SELECT source,
       count(*) AS n_docs,
       count(dup_id) AS n_dropped,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN dup_id IS NOT NULL THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_dropped,
       CAST(sum(CASE WHEN dup_id IS NOT NULL THEN n_chars ELSE 0 END) AS BIGINT)
         / CAST(sum(n_chars) AS BIGINT) AS savings_frac
FROM marked GROUP BY source
"""
)


def q_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-AWARE train/val/test split: the leakage-proof construction
    that ``split_leakage_check`` audits for. The naive per-doc hash
    split lets near-duplicates straddle the boundary (a val doc that
    near-dups a train doc inflates eval); this split hashes each doc's
    near-dup CLUSTER REPRESENTATIVE instead, so every near-dup cluster
    lands in exactly one split — leakage is zero by construction, and
    the output PROVES it (``leaked_pairs`` counts near-dup pairs whose
    ends disagree on the split; always 0 here, nonzero under the naive
    rule on the same corpus).

    Same 80/10/10 hash rule as ``train_val_test_split`` (one shared
    definition, sampling._split_col), applied to
    coalesce(component, doc_id). Scale shape: cluster assignment is the
    CC label table (docs in >= 1 near-dup pair — orders of magnitude
    below corpus size) broadcast against one corpus scan when the count
    gate allows; the split column is then a free per-row expression; the
    leak audit joins the (small) pair list to the (small) in-pair
    assignment twice. No corpus-sized shuffle beyond the candidate
    generation the dedup family already pays.

    No reference counterpart (SURVEY §2.11 — [EXT] training-pipeline
    operator)."""
    from tiny_mapreduce_rpc_server_spark.operators.sampling import _split_col

    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").cache()
    comp = propagate_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    asg = (
        docs.join(_bounded_broadcast(comp), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("rep"))
        .select("doc_id", "rep", _split_col(F.col("rep")).alias("split"))
        .cache()
    )
    a = asg.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    b = asg.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    leak = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count("*").alias("leaked_pairs"))
    )
    return (
        asg.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leak))
    )


def _oracle_split_cluster_safe() -> str:
    from tiny_mapreduce_rpc_server_spark.operators.sampling import _sql_split

    return (
        _ORACLE_CC_CTE
        + f"""
, comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
asg AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep,
         {_sql_split("COALESCE(c.component, d.doc_id)")} AS split
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
leak AS (
  SELECT count(*)::BIGINT AS leaked_pairs
  FROM pairs p
  JOIN asg a ON p.doc_a = a.doc_id
  JOIN asg b ON p.doc_b = b.doc_id
  WHERE a.split <> b.split)
SELECT split, count(*)::BIGINT AS n_docs,
       count(DISTINCT rep)::BIGINT AS n_groups, leaked_pairs
FROM asg CROSS JOIN leak
GROUP BY split, leaked_pairs
"""
    )


# ---------------------------------------------------------------------------
# pair-free simhash cluster rollup (the scale-safe companion to
# dedup_simhash_wide — VERDICT r7 #2)
# ---------------------------------------------------------------------------


def q_dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash dedup accounting WITHOUT the doc-pair list: the
    cluster-size histogram plus docs-kept/dropped totals, computed
    entirely at distinct-signature granularity.

    ``dedup_simhash_wide``'s cost at scale is its OUTPUT CONTRACT — it
    must materialize every near-dup doc pair (23.5M rows at sf1*, 11.5x
    growth), which is quadratic in cluster size. But the numbers a
    pipeline owner actually acts on (how many clusters, how many docs
    dedup drops) never need that list. This query rolls the SMALL
    signature-pair set (hamming <= HAMMING_MAX over 63-bit fingerprints,
    same candidate generation as the wide pair query) into connected
    components over the SIGNATURE graph — thousands of nodes at sf1*,
    not millions of doc pairs — then folds per-signature doc counts
    through the component assignment:

      kept per cluster = 1 (the canonical doc); dropped = size - 1.

    Scale shape: corpus text is read once to compute signatures; the
    only doc-granularity shuffle is the map-side-combined
    groupBy(simhash) count (output = distinct signatures). Everything
    after — block explode, sig self-join, label propagation, rollup —
    runs on the distinct-signature table. No doc pair is ever
    materialized, so output is O(distinct cluster sizes) regardless of
    how pathological the duplicate distribution is; a 1M-doc
    same-signature cluster costs one counter here vs ~5e11 pairs in the
    pair formulation. Singleton signatures (no near-dup edge) are
    clusters of their own via the left-join coalesce.

    r12 (verdict #2): the pin IS the groupBy(simhash) aggregate — K
    signature rows, not the N-row (doc_id, simhash) table the r11 form
    cached — so the cached working set shrinks from corpus-row count to
    distinct-signature count, and the signature set for candidate
    generation comes straight off the aggregate's (already distinct)
    keys instead of through a SECOND full exchange (`distinct`). One
    exchange and an N-row cache removed; both consumers (edge
    generation, rollup) read the same K-row pin."""
    sig_docs = (
        _doc_simhash(spark, sf_dir, SIMHASH_WIDE_BITS)
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"))
        .cache()
    )
    sig_edges = (
        _sig_pairs_of_distinct(sig_docs.select("simhash"), _SIMHASH_WIDE_BLOCKS)
        .filter(F.col("sig_a") < F.col("sig_b"))
        .select(F.col("sig_a").alias("doc_a"), F.col("sig_b").alias("doc_b"))
    )
    comp = propagate_components(sig_edges).withColumnRenamed("doc_id", "simhash")
    assigned = sig_docs.join(comp, "simhash", "left").select(
        F.coalesce("component", "simhash").alias("cluster"), "n_docs"
    )
    csz = assigned.groupBy("cluster").agg(F.sum("n_docs").alias("cluster_size"))
    return csz.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).alias("n_dropped"),
    )


def _sql_simhash_cluster_blocks() -> str:
    parts = [
        f"SELECT simhash, {i} AS blk_id, "
        f"(simhash >> {off}) & {(1 << width) - 1} AS blk_key FROM sigs"
        for i, (off, width) in enumerate(_SIMHASH_WIDE_BLOCKS)
    ]
    return " UNION ALL ".join(parts)


ORACLE_DEDUP_SIMHASH_CLUSTERS = f"""
WITH RECURSIVE sh AS ({_sql_simhash(_T, SIMHASH_WIDE_BITS)}),
sigs AS (SELECT simhash, count(*) AS n_docs FROM sh GROUP BY simhash),
ex AS ({_sql_simhash_cluster_blocks()}),
sp AS (
  SELECT DISTINCT a.simhash AS sig_a, b.simhash AS sig_b
  FROM ex a JOIN ex b
    ON a.blk_id = b.blk_id AND a.blk_key = b.blk_key
   AND a.simhash < b.simhash
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}),
edges AS (SELECT sig_a AS src, sig_b AS dst FROM sp
          UNION SELECT sig_b, sig_a FROM sp),
cc(node, label) AS (
  SELECT simhash, simhash FROM sigs
  UNION
  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src
),
comp AS (SELECT node, min(label) AS cluster FROM cc GROUP BY node),
csz AS (
  SELECT c.cluster, CAST(sum(s.n_docs) AS BIGINT) AS cluster_size
  FROM sigs s JOIN comp c ON s.simhash = c.node GROUP BY c.cluster)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs,
       CAST(sum(cluster_size - 1) AS BIGINT) AS n_dropped
FROM csz GROUP BY cluster_size
"""


# ---------------------------------------------------------------------------
# PageRank (iterative algorithm family; fixed-point integer arithmetic)
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 5
# ranks as fixed-point bigints (1.0 == PR_SCALE): every operation in the
# recurrence is integer (div / * / +), so Spark and the SQL oracle agree
# bit-for-bit — no float-sum ordering, no decimal-cast rounding. Headroom:
# total mass <= PR_SCALE (1e12); the worst intermediate is 85 * sum_in
# <= 8.5e13 << 2^63.
PR_SCALE = 1_000_000_000_000
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as a ratio


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (sup, cus) supplier-customer pairs of lineitem⋈orders,
    node ids prefixed "s"/"c" so the two sides never collide."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("sup"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("cus"),
        )
        .distinct()
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier<->customer trade graph (undirected:
    each distinct (supplier, customer) pair from lineitem⋈orders becomes
    two directed edges), PAGERANK_ITERS rounds, damping 0.85.

    The iterative-algorithm template on Spark: build the edge list ONCE
    (localCheckpoint — at cluster scale use checkpoint(), see module
    docstring), then each round is one hash-join of the rank table
    (small, one row per node — AQE broadcasts it) against the edges plus
    one partial-aggregated groupBy(dst). The driver loop is control flow
    only; per-round localCheckpoint keeps the plan O(1) deep. Symmetric
    edges mean no dangling nodes, so no mass-redistribution term.

    Exactness: ranks are fixed-point bigints (see PR_SCALE); integer
    floor-division remainders are dropped identically in both engines
    (values are non-negative, so DuckDB's // == Spark's div)."""
    pairs = _trade_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("sup").alias("src"), F.col("cus").alias("dst"))
        .union(pairs.select(F.col("cus").alias("src"), F.col("sup").alias("dst")))
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
    ewd = edges.join(deg, "src").localCheckpoint()
    n_nodes = deg.count()
    base = (15 * PR_SCALE) // (PR_DAMP_DEN * n_nodes)
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(PR_SCALE // n_nodes).alias("r")
    ).localCheckpoint()
    for _ in range(PAGERANK_ITERS):
        contrib = ewd.join(ranks, ewd.src == ranks.node).select(
            "dst", F.expr("r div odeg").alias("c")
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = sums.select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.expr(f"({PR_DAMP_NUM} * s) div {PR_DAMP_DEN}")).alias("r"),
        ).localCheckpoint()
    return ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        (F.col("r") / F.lit(PR_SCALE)).alias("rank"),
    )


def _oracle_pagerank() -> str:
    iters = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        iters.append(f"""
c{i} AS (
  -- CAST: DuckDB sum(BIGINT) yields HUGEINT, which the driver's
  -- comparator rejects; values stay far below 2^63 (see PR_SCALE note)
  SELECT e.dst, CAST(sum(r.r // e.odeg) AS BIGINT) AS s
  FROM ewd e JOIN {prev} r ON e.src = r.node
  GROUP BY e.dst),
r{i} AS (
  SELECT c{i}.dst AS node,
         (15 * {PR_SCALE}) // ({PR_DAMP_DEN} * n.n)
           + ({PR_DAMP_NUM} * c{i}.s) // {PR_DAMP_DEN} AS r
  FROM c{i}, n)""")
        prev = f"r{i}"
    return f"""
WITH pairs AS (
  SELECT DISTINCT 's' || l_suppkey AS sup, 'c' || o_custkey AS cus
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (SELECT sup AS src, cus AS dst FROM pairs
          UNION ALL SELECT cus, sup FROM pairs),
deg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
ewd AS (SELECT e.src, e.dst, d.odeg FROM edges e JOIN deg d USING (src)),
n AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT src AS node, {PR_SCALE} // n.n AS r FROM deg, n),
{",".join(iters)}
SELECT node, r AS rank_scaled, r / {PR_SCALE} AS rank FROM {prev}
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph: nodes are
    parts, an (undirected) edge connects two parts bought together in at
    least one order; output is the 20 parts participating in the most
    triangles (ties broken by part key).

    Every edge is oriented low-id -> high-id so each triangle {a,b,c}
    (a<b<c) is found exactly once; closure uses per-node HIGHER-neighbor
    adjacency lists intersected per edge (array_intersect, JVM-side)
    instead of materializing the wedge join — the wedge plan shuffles
    sum_b in(b)*out(b) intermediate rows (~70M at sf0.1) where this one
    shuffles nothing beyond the edge build and final count.

    Scale notes: at 100 TB orient by (degree, id) instead of raw id so
    hub adjacency lists stay short (arboricity bound, Suri &
    Vassilvitskii "Counting Triangles and the Curse of the Last
    Reducer"); the adjacency is pinned and broadcast only while its
    materialized size is under the broadcast threshold, degrading to
    shuffled equi-joins when the graph outgrows it — the per-edge
    intersection algebra is unchanged. Id-orientation keeps the oracle
    deterministic here. The oracle verifies via the independent wedge
    formulation in SQL.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    # cache: the edge list feeds the adjacency build AND the edge probe —
    # without it the order self-join executes once per consumer (measured
    # 54 s -> 16 s at sf0.1)
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    e = e.cache()
    # adjacency-intersection instead of the naive wedge join: the wedge
    # plan materializes sum_b in(b)*out(b) rows (~70M here) through a
    # sort-merge join; intersecting per-edge neighbor lists touches each
    # edge once with O(deg) work and needs no wedge shuffle at all.
    # adj(u) holds only HIGHER neighbors, so triangle {a<b<c} is found
    # exactly once, at edge (a,b), as c in adj(a) ∩ adj(b). The
    # adjacency is pinned (this materializes e too), so the probes
    # broadcast it on its measured size and degrade to shuffled
    # equi-joins above the broadcast threshold.
    adj = _bounded_broadcast(
        e.groupBy("u").agg(F.array_sort(F.collect_list("v")).alias("nb"))
    )
    adj_u = adj.withColumnRenamed("u", "x").withColumnRenamed("nb", "nb_u")
    adj_v = adj.withColumnRenamed("u", "y").withColumnRenamed("nb", "nb_v")
    empty = F.array().cast("array<bigint>")
    ea = (
        e.join(adj_u, F.col("u") == F.col("x"))
        .drop("x")
        # left: the highest node of a neighborhood has no adjacency row
        .join(adj_v, F.col("v") == F.col("y"), "left")
        .drop("y")
    )
    inter = (
        ea.select(
            "u",
            "v",
            F.array_intersect("nb_u", F.coalesce("nb_v", empty)).alias("cs"),
        )
        .withColumn("k", F.size("cs"))
        .filter(F.col("k") > 0)
    )
    # triangle {a,b,c} credits all three corners: k per endpoint of the
    # closing edge, 1 per common neighbor
    per = (
        inter.select(F.col("u").alias("p"), F.col("k").cast("long").alias("cnt"))
        .unionAll(
            inter.select(F.col("v").alias("p"), F.col("k").cast("long").alias("cnt"))
        )
        .unionAll(
            inter.select(F.explode("cs").alias("p"), F.lit(1).cast("long").alias("cnt"))
        )
    )
    return (
        per.groupBy("p")
        .agg(F.sum("cnt").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("p"))
        .limit(20)
        .select(F.col("p").alias("p_partkey"), "n_triangles")
    )


ORACLE_GRAPH_TRIANGLES = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
tri AS (SELECT e1.u AS pa, e1.v AS pb, e2.v AS pc
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v),
nodes AS (
  SELECT pa AS p FROM tri
  UNION ALL SELECT pb FROM tri
  UNION ALL SELECT pc FROM tri
)
SELECT p AS p_partkey, count(*) AS n_triangles
FROM nodes GROUP BY p
ORDER BY n_triangles DESC, p ASC
LIMIT 20
"""


def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree DISTRIBUTION of the supplier<->customer trade graph (same
    edge derivation as q_graph_pagerank): per node side, how many nodes
    have each neighbor count — the first profiling pass over any graph
    (hubs here are the skew hazard every per-node graph algorithm must
    budget for; this is the query that finds them). Two hash aggregates,
    both partial-aggregated; output is bounded by the distinct degree
    values, not the node count."""
    pairs = _trade_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("sup").alias("node"))
        .union(pairs.select(F.col("cus").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy(
            F.substring("node", 1, 1).alias("side"), "degree"
        )
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("side", "degree")
    )


ORACLE_GRAPH_DEGREE_STATS = """
WITH pairs AS (
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS sup,
                  'c' || CAST(o_custkey AS VARCHAR) AS cus
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT sup AS node FROM pairs
    UNION ALL
    SELECT cus FROM pairs) GROUP BY node)
SELECT substr(node, 1, 1) AS side, degree, count(*) AS n_nodes
FROM deg
GROUP BY 1, 2
ORDER BY 1, 2
"""


GRAPH_QUERIES = [
    QuerySpec(
        "graph_degree_stats",
        q_graph_degree_stats,
        ORACLE_GRAPH_DEGREE_STATS,
    ),
    QuerySpec(
        "dedup_components",
        q_dedup_components,
        ORACLE_DEDUP_COMPONENTS,
    ),
    QuerySpec(
        "dedup_keep_canonical",
        q_dedup_keep_canonical,
        ORACLE_DEDUP_KEEP_CANONICAL,
    ),
    QuerySpec(
        "dedup_cluster_stats",
        q_dedup_cluster_stats,
        ORACLE_DEDUP_CLUSTER_STATS,
    ),
    QuerySpec(
        "dedup_savings_report",
        q_dedup_savings_report,
        ORACLE_DEDUP_SAVINGS,
    ),
    QuerySpec(
        "dedup_simhash_clusters",
        q_dedup_simhash_clusters,
        ORACLE_DEDUP_SIMHASH_CLUSTERS,
        bench=True,
    ),
    QuerySpec(
        "split_cluster_safe",
        q_split_cluster_safe,
        _oracle_split_cluster_safe(),
    ),
    QuerySpec(
        "graph_pagerank",
        q_graph_pagerank,
        _oracle_pagerank(),
    ),
    QuerySpec(
        "graph_triangles",
        q_graph_triangles,
        ORACLE_GRAPH_TRIANGLES,
    ),
]


LINKPRED_TOP_K = 20


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the supplier-customer bipartite
    graph: for every supplier pair that shares at least one customer,
    the Jaccard of their customer sets — the classic missing-link score
    (suppliers serving the same accounts are likely substitutes). Top-20
    by score, ties broken on the pair keys.

    Counting formulation, no arrays: one wedge join on the shared
    customer produces (s1, s2, shared) with a hash aggregate; degrees
    join in from a per-supplier count; jaccard = shared/(d1+d2-shared)
    is a ratio of exact integers. The wedge is bounded by per-customer
    supplier-list sizes (same caveat as triangle counting: at real
    scale, cap or degree-orient hub customers first); the TakeOrdered
    cut never sorts more than the candidate-pair table."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    a, b = edges.alias("a"), edges.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").alias("shared"))
    )
    deg = edges.groupBy("s").agg(F.count("*").alias("d"))
    # the degree table is O(|suppliers|) — unhinted, so AQE broadcasts
    # it while it fits (both join inputs are shuffle stages with exact
    # runtime stats) and degrades to a hash join beyond that
    j = (
        shared.join(
            deg.select(F.col("s").alias("s1"), F.col("d").alias("d1")),
            "s1",
        )
        .join(
            deg.select(F.col("s").alias("s2"), F.col("d").alias("d2")),
            "s2",
        )
        .select(
            "s1",
            "s2",
            "shared",
            (
                F.col("shared")
                / (F.col("d1") + F.col("d2") - F.col("shared"))
            ).alias("jaccard"),
        )
    )
    return j.orderBy(F.desc("jaccard"), "s1", "s2").limit(LINKPRED_TOP_K)


ORACLE_LINK_PREDICTION = f"""
WITH edges AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
shared AS (
  SELECT a.s AS s1, b.s AS s2, count(*) AS shared
  FROM edges a JOIN edges b ON a.c = b.c AND a.s < b.s
  GROUP BY 1, 2),
deg AS (SELECT s, count(*) AS d FROM edges GROUP BY s)
SELECT s1, s2, shared,
       shared / (d1.d + d2.d - shared) AS jaccard
FROM shared
JOIN deg d1 ON d1.s = s1
JOIN deg d2 ON d2.s = s2
ORDER BY jaccard DESC, s1, s2
LIMIT {LINKPRED_TOP_K}
"""

GRAPH_QUERIES.append(
    QuerySpec(
        "graph_link_prediction",
        q_graph_link_prediction,
        ORACLE_LINK_PREDICTION,
    )
)


# --- label-propagation community detection ([EXT]) --------------------

LPA_ROUNDS = 2  # unrolled so the oracle stays a static CTE chain
LPA_MIN_CO = 2  # co-purchase weight threshold => sparse, meaningful edges


def _co_purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) LPA edge list, both directions, localCheckpointed:
    part pairs that co-occur in >= LPA_MIN_CO distinct orders."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= LPA_MIN_CO)
        .select("src", "dst")
    )
    return pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()


def _neighbor_labels(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(node, label): one vote per edge, the src's label cast to dst."""
    return edges.join(labels.withColumnRenamed("node", "src"), "src").select(
        F.col("dst").alias("node"), "label"
    )


def _vote_argmax(votes: DataFrame) -> DataFrame:
    """(node, label) with the most (node, label) votes per node, ties to
    the smallest label: ``min(struct(-cnt, label))`` is
    partial-aggregable, so a hot node's reduce sees one row per distinct
    label, never one per vote."""
    counts = votes.groupBy("node", "label").agg(F.count("*").alias("cnt"))
    return counts.groupBy("node").agg(
        F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("label")))[
            "label"
        ].alias("label")
    )


def _communities(labels: DataFrame) -> DataFrame:
    """One row per community of a (node, label) labeling: its size and
    its smallest and largest member."""
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.min("node").alias("min_member"),
        F.max("node").alias("max_member"),
    )


def q_graph_community_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection (LPA, Raghavan
    et al. 2007) over the part co-purchase graph — the corpus-curation
    companion to ``dedup_components``: components answer "which docs
    are transitively NEAR-DUPLICATES", communities answer "which items
    CLUSTER by affinity" (domain grouping, topic buckets) on a graph
    that is connected far beyond its duplicate structure.

    Graph: parts co-occurring in >= LPA_MIN_CO distinct orders
    (undirected). Update rule, LPA_ROUNDS synchronous rounds: every
    node adopts the most frequent label among its NEIGHBORS, ties to
    the smallest label; initial label = node id. Fixed rounds keep the
    oracle a static CTE chain (the convergence-loop form is
    ``_components``'s driver loop with this step function swapped in).

    Output: one row per surviving community — size, min/max member.

    100 TB shape: each round is one shuffle join (edges x labels on the
    src key) + one (node, label) count with map-side partial agg + one
    argmax via ``min(struct(-cnt, label))`` — partial-aggregable, so
    the per-node reduce never sees more rows than the node's DISTINCT
    neighbor labels (a window row_number here would funnel every
    (node, label) row of a hot node through one task; the min-struct
    form is the hot-key-safe argmax). Edge building reuses the
    item_cooccurrence shape: quadratic only within a basket.

    No reference counterpart (SURVEY §2.11 — [EXT]).
    """
    edges = _co_purchase_edges(spark, sf_dir)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(LPA_ROUNDS):
        labels = _vote_argmax(_neighbor_labels(edges, labels))
    return _communities(labels)


def _sql_lpa_round(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT node, label FROM (
    SELECT e.dst AS node, l.label, count(*) AS cnt,
           row_number() OVER (PARTITION BY e.dst
                              ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM edges e JOIN {prev} l ON e.src = l.node
    GROUP BY e.dst, l.label) WHERE rn = 1)"""


# the LPA oracles' co-purchase pairs ``p``: part pairs that share at
# least LPA_MIN_CO orders (the edges of _co_purchase_edges)
_SQL_CO_PURCHASE = f"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {LPA_MIN_CO})"""


ORACLE_GRAPH_COMMUNITY_LPA = f"""
{_SQL_CO_PURCHASE},
edges AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
lab0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{_sql_lpa_round('lab0', 'lab1')},
{_sql_lpa_round('lab1', 'lab2')}
SELECT label AS community, count(*) AS n_members,
       min(node) AS min_member, max(node) AS max_member
FROM lab2 GROUP BY label
"""

GRAPH_QUERIES.append(
    QuerySpec(
        "graph_community_lpa",
        q_graph_community_lpa,
        ORACLE_GRAPH_COMMUNITY_LPA,
    )
)


# Convergence-loop LPA cap == the oracle's CTE chain length. Observed
# convergence on the co-purchase graph: round 5 (sf0.001, sf0.1, sf1*)
# / round 7 (sf0.01) — 12 is margin, not tuning. The loop RAISES if it
# has not converged by then (a loud red row, never a silent mismatch
# with the fixed-length oracle).
LPA_CONV_MAX = 12


def _lpa_selfvote_step(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous SELF-VOTE LPA round: every node adopts the most
    frequent label among its neighbors PLUS ITS OWN current label (one
    self-vote), ties to the smallest label. Same hot-key-safe
    ``min(struct(-cnt, label))`` argmax as ``q_graph_community_lpa``."""
    return _vote_argmax(_neighbor_labels(edges, labels).union(labels))


def q_graph_community_lpa_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA run TO CONVERGENCE (round-9 verdict #7) — the companion to
    ``graph_community_lpa``'s fixed-2-round contract, reusing
    ``_components``'s one-job-per-round driver loop (lazy
    localCheckpoint materializes during the convergence count itself).

    Update rule — and why it differs from the 2-round query's: plain
    synchronous LPA PROVABLY OSCILLATES on this graph (measured in the
    round-9 probes: sf0.1 falls into a 2-cycle with 5,919 of 5,922
    nodes flipping forever; the semi-synchronous parity/retention
    variants of Cordasco & Gargano still oscillate because a
    co-purchase graph's per-order cliques defeat parity coloring). The
    SELF-VOTE variant (each node's own label counts one vote — the
    add-self-loops damper igraph ships as an option) empirically
    reaches a true fixed point in 5-7 rounds at every tested scale
    (sf0.001/0.01/0.1/sf1*), producing non-trivial communities
    (355 @ sf0.01, 2,487 @ sf0.1, 24,870 @ sf1*).

    Oracle exactness: the loop stops ONLY at a fixed point (changed ==
    0) and raises past ``LPA_CONV_MAX``; at a fixed point further
    rounds are no-ops, so the oracle's fixed ``LPA_CONV_MAX``-round CTE
    chain computes the identical labeling — convergence-loop semantics,
    full-hash checked.

    100 TB shape: identical per-round plan to ``graph_community_lpa``
    (edge-list join + partial-agg argmax, union adds one label-table
    scan); rounds are data-independent in the probe range, and the
    convergence count rides the same job as the round's checkpoint.
    """
    edges = _co_purchase_edges(spark, sf_dir)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    labels, _ = _lpa_selfvote_converge(edges, labels, LPA_CONV_MAX)
    return _communities(labels)


def _lpa_selfvote_converge(
    edges: DataFrame, labels: DataFrame, max_rounds: int
) -> tuple[DataFrame, int]:
    """Drive self-vote LPA rounds to a TRUE fixed point; return
    ``(labels, rounds_taken)``.

    The guard contract (round-10 verdict #4): if ``max_rounds`` passes
    without a fixed point this RAISES — it never silently returns
    pre-fixed-point labels, because the registered oracle is a fixed
    ``LPA_CONV_MAX``-round chain that is only exact AT a fixed point
    (post-convergence rounds are no-ops; pre-convergence ones are not).

    Round-count scaling (pinned by
    tests/test_invariants.py::test_lpa_conv_max_guard_fires_on_deep_chain):
    under self-vote with min-label tiebreak, label information travels
    ONE hop per round, so rounds ~ graph diameter. A path graph of
    n nodes needs ~n rounds (n-1 hops for the min label to drain plus
    the fixed-point check round; the test pins n-1..n+1), while the
    co-purchase graph's per-order cliques give it a small effective
    diameter — 5-7 rounds at sf0.001 through sf1*. A deployment on a
    long-chain-shaped graph must size max_rounds to its diameter or the
    guard fires by design.
    """
    for rnd in range(1, max_rounds + 1):
        prev = labels
        stepped = (
            _lpa_selfvote_step(edges, prev)
            .join(prev.withColumnRenamed("label", "old_label"), "node")
            .select(
                "node", "label", (F.col("label") != F.col("old_label")).alias("ch")
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter("ch").count()
        labels = stepped.drop("ch")
        if changed == 0:
            return labels, rnd
    raise RuntimeError(
        f"self-vote LPA did not reach a fixed point in {max_rounds} rounds"
    )


def _sql_lpa_selfvote_round(prev: str, out: str) -> str:
    # AS MATERIALIZED: each round references its predecessor TWICE
    # (join + self-vote union); DuckDB inlines plain CTEs, so a 12-round
    # chain would otherwise expand 2^12 copies of the whole pipeline
    # (observed: "Too many open files" on the lineitem view)
    return f"""{out} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label, count(*) AS cnt,
           row_number() OVER (PARTITION BY node
                              ORDER BY count(*) DESC, label ASC) AS rn
    FROM (SELECT e.dst AS node, l.label
          FROM edges e JOIN {prev} l ON e.src = l.node
          UNION ALL SELECT node, label FROM {prev})
    GROUP BY node, label) WHERE rn = 1)"""


_SQL_LPA_CONV_CHAIN = ",\n".join(
    _sql_lpa_selfvote_round(f"lab{i}", f"lab{i + 1}")
    for i in range(LPA_CONV_MAX)
)

ORACLE_GRAPH_COMMUNITY_LPA_CONVERGED = f"""
{_SQL_CO_PURCHASE},
edges AS MATERIALIZED (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
lab0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges),
{_SQL_LPA_CONV_CHAIN}
SELECT label AS community, count(*) AS n_members,
       min(node) AS min_member, max(node) AS max_member
FROM lab{LPA_CONV_MAX} GROUP BY label
"""

GRAPH_QUERIES.append(
    QuerySpec(
        "graph_community_lpa_converged",
        q_graph_community_lpa_converged,
        ORACLE_GRAPH_COMMUNITY_LPA_CONVERGED,
    )
)
