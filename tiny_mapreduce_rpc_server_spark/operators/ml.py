"""Iterative ML on DataFrames: deterministic Lloyd's k-means.

The reference has no ML of any kind (SURVEY §2.11); this [EXT] operator
shows the iterative-refinement pattern a Spark-native pipeline uses for
clustering — the same loop shape as pyspark.ml's KMeans, but built on
public DataFrame ops end-to-end so every step is auditable and
oracle-checkable:

  assign:  corpus x broadcast(centroids) -> argmin squared-L2 (ordered
           fold => deterministic), tiebreak on cluster id
  update:  posexplode members -> decimal-exact per-(cluster, dim) means
           (order-independent at any parallelism) -> re-collect arrays

Two unrolled iterations keep the oracle a straight CTE chain (no
recursion); the convergence-loop version is operators/graph.py's
pattern (localCheckpoint per round) applied to this step function.

100 TB shape: each iteration is one corpus scan with a broadcast of K
centroid rows, one shuffle for the (cluster, dim) means (K x dim rows
out — tiny), and zero corpus-sized shuffles. K-means at scale is
scan-bound, exactly this plan.

Determinism notes: init centroids are fixed corpus rows; distances are
ordered folds (matches DuckDB's sequential list_dot_product); means go
through DECIMAL(38,6) sums; ties broken by cluster id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import cosine, davg, dot, sq_dist
from tiny_mapreduce_rpc_server_spark.functions import kernels
from tiny_mapreduce_rpc_server_spark.functions import portable as P
from tiny_mapreduce_rpc_server_spark.session import scratch_dir
from tiny_mapreduce_rpc_server_spark.sources import load_table, spread
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

K = 8
INIT_IDS = [7 + 31 * i for i in range(K)]  # fixed corpus rows as seeds


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v double[]) over the spread embeddings table — the input
    of every k-means, SemDeDup and PQ/IVF-PQ query."""
    return spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cluster): nearest centroid, ties to lowest cluster id."""
    d = sq_dist(F.col("v"), F.col("cv"))
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cluster"))
    return (
        emb.join(F.broadcast(cents))
        .select("vec_id", "v", "cluster", d.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cluster")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """(cluster, cv): decimal-exact per-dimension means, re-collected in
    dimension order."""
    ex = assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
    means = ex.groupBy("cluster", "pos").agg(davg("x", "cval"))
    return means.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s["cval"],
        ).alias("cv")
    )


def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    cent0 = emb.filter(F.col("vec_id").isin(INIT_IDS)).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("cv")
    )
    a1 = _assign(emb, cent0)
    cent1 = _update(a1)
    a2 = _assign(emb, cent1)
    return a2.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        F.min("vec_id").alias("min_member"),
        F.max("vec_id").alias("max_member"),
    )


_IDS_SQL = ", ".join(str(i) for i in INIT_IDS)


def _sql_argmin(a: str, d: str, carry: tuple = ("v",), out: str = "") -> str:
    """CTE ``a``: each vec_id's nearest row of the (vec_id, *carry,
    cluster, dist) CTE ``d``, ties to the lowest cluster id, selected as
    ``out`` (default: vec_id, the carried columns, cluster)."""
    cols = ", ".join(("vec_id", *carry, "cluster"))
    return f"""{a} AS (
  SELECT {out or cols} FROM (
    SELECT {cols},
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM {d}) WHERE rn = 1)"""


def _sql_nearest(
    d: str, a: str, src: str, cents: str, carry: tuple = ("v",), out: str = ""
) -> str:
    """CTEs ``d`` and ``a``: the oracle's nearest-centroid step. ``d``
    scores every ``src`` row (vec_id, v) against every ``cents`` centroid
    (cluster, cv) by the exact squared-L2 fold, ``a`` is its argmin."""
    diff = f"list_transform(generate_series(1, len({src}.v)), i -> {src}.v[i] - cv[i])"
    sel = ", ".join([f"{src}.{c}" for c in ("vec_id", *carry)] + [f"{cents}.cluster"])
    return f"""{d} AS (
  SELECT {sel},
         list_dot_product(
           {diff},
           {diff}
         ) AS dist
  FROM {src}, {cents}),
{_sql_argmin(a, d, carry, out)}"""


def _sql_lloyd(carry: tuple) -> str:
    """The oracle's two Lloyd iterations from the INIT_IDS seeds: assign
    (d1/a1), decimal-exact centroid update (ex/c1l/c1), assign again
    (d2/a2, carrying ``carry``)."""
    return f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id IN ({_IDS_SQL})),
{_sql_nearest("d1", "a1", "e", "c0")},
ex AS (SELECT cluster, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM a1),
c1l AS (
  SELECT cluster, pos,
         CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(x) AS cval
  FROM ex GROUP BY cluster, pos),
c1 AS (SELECT cluster, list(cval ORDER BY pos) AS cv FROM c1l GROUP BY cluster),
{_sql_nearest("d2", "a2", "e", "c1", carry)}"""


ORACLE_KMEANS_LLOYD = f"""
{_sql_lloyd(())}
SELECT cluster, count(*) AS n_members,
       min(vec_id) AS min_member, max(vec_id) AS max_member
FROM a2 GROUP BY cluster
"""


def q_ml_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier, trained and evaluated in one plan:
    per-label mean vectors (exact decimal averages), then every vector is
    assigned to its closest centroid by squared L2 and scored against its
    true label. Output: per-label support, correct count, accuracy — the
    eval table a data pipeline ships for embedding-quality monitoring.

    Shape: centroid build is one (label, dim) shuffle of partial sums;
    the 10-row centroid table BROADCASTS against a single corpus scan
    (the classic assign step — same contract as q_kmeans_lloyd); argmin
    is a (dist, label) struct-min groupBy, deterministic under float
    ties. Distances are ordered zip_with folds, so every double is
    bit-reproducible by the oracle's list fold.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = emb.select(
        "label", F.posexplode(F.col("v")).alias("pos", "x")
    )
    per_dim = ex.groupBy("label", "pos").agg(davg("x", "c"))
    cent = per_dim.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    pairs = emb.crossJoin(F.broadcast(cent))
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pairs.select("vec_id", "label", "clabel", d2.alias("d2"))
    pred = scored.groupBy("vec_id", "label").agg(
        F.min(F.struct("d2", "clabel"))["clabel"].alias("pred")
    )
    return (
        pred.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("pred") == F.col("label"), 1)).alias("n_correct"),
        )
        .select(
            "label",
            "n",
            "n_correct",
            (F.col("n_correct").cast("double") / F.col("n")).alias("accuracy"),
        )
        .orderBy("label")
    )


ORACLE_ML_NEAREST_CENTROID = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (
  SELECT label, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM e),
per_dim AS (
  SELECT label, pos,
         CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(x) AS c
  FROM ex GROUP BY label, pos),
cent AS (
  SELECT label AS clabel, list(c ORDER BY pos) AS cv
  FROM per_dim GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label, c.clabel,
         list_sum(list_transform(range(1, len(e.v) + 1),
                  i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
  FROM e CROSS JOIN cent c),
pred AS (
  SELECT vec_id, label,
         min({'d2': d2, 'clabel': clabel}).clabel AS pred
  FROM scored GROUP BY vec_id, label)
SELECT label, count(*) AS n,
       count(*) FILTER (WHERE pred = label) AS n_correct,
       count(*) FILTER (WHERE pred = label)::DOUBLE / count(*) AS accuracy
FROM pred GROUP BY label
ORDER BY label
"""


_AUC_BINS = 256  # score quantization: floor(score * 256)


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned ROC-AUC of a scalar score against a binary relevance label
    (label == 0 vs rest on the embeddings table, score = first embedding
    component) — the model-eval metric every training pipeline reports.

    Formulation: quantize the score into fixed bins (the standard
    large-scale AUC shape — TF/Keras ``AUC`` and sklearn's binned mode
    do exactly this), then the Mann-Whitney statistic over the binned
    histogram: AUC = sum_b pos_b*(2*cum_neg_below_b + neg_b) /
    (2*n_pos*n_neg), which treats same-bin pairs as ties at half credit.
    Everything up to the single final division is INTEGER arithmetic —
    bit-identical in any engine.

    Scale shape: one hash aggregate onto a bounded bin key space (the
    score range / 1/256 — a few hundred keys regardless of row count),
    then a window over that tiny histogram. The global-order window
    never sees unbinned data, so there is no single-partition scan of
    the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        F.floor(F.element_at(F.col("embedding"), 1).cast("double") * _AUC_BINS)
        .cast("long")
        .alias("bin"),
        (F.col("label") == 0).cast("long").alias("pos"),
    )
    g = d.groupBy("bin").agg(
        F.sum("pos").alias("pos_b"),
        F.sum(F.lit(1) - F.col("pos")).alias("neg_b"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "pos_b",
        "neg_b",
        F.coalesce(F.sum("neg_b").over(w), F.lit(0)).alias("cum_neg"),
    )
    tot = r.agg(
        F.sum("pos_b").alias("n_pos"),
        F.sum("neg_b").alias("n_neg"),
        F.sum(
            F.col("pos_b") * (2 * F.col("cum_neg") + F.col("neg_b"))
        ).alias("num"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        (
            F.col("num").cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


ORACLE_ROC_AUC = f"""
WITH d AS (
  SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * {_AUC_BINS}) AS BIGINT) AS bin,
         CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
  FROM embeddings),
g AS (
  SELECT bin, sum(pos)::BIGINT AS pos_b, sum(1 - pos)::BIGINT AS neg_b
  FROM d GROUP BY bin),
r AS (
  SELECT pos_b, neg_b,
         COALESCE(sum(neg_b) OVER (ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_neg
  FROM g)
SELECT sum(pos_b)::BIGINT AS n_pos,
       sum(neg_b)::BIGINT AS n_neg,
       sum(pos_b * (2 * cum_neg + neg_b))::DOUBLE
         / (2 * sum(pos_b) * sum(neg_b))::DOUBLE AS auc
FROM r
"""


_NEG_BATCHES = 32  # hash buckets playing the role of training batches
_NEG_LOOKAHEAD = 4  # candidate negatives examined per anchor


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive
    training: shuffle the corpus by content hash, partition it into
    batches, and give each anchor the first of its next {lookahead}
    batch-neighbors with a DIFFERENT label — exactly the "other items in
    the shuffled batch" negatives of contrastive learners, but
    reproducible on any cluster layout (pure function of ids).

    Shape: one shuffle into {batches} hash-bucket batches, a windowed
    lead() per batch (each window partition is a batch, never the global
    corpus), and a per-row first-mismatch pick. No joins at all.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    h = P.h1(F.col("vec_id").cast("string"))
    d = emb.select(
        "vec_id", "label", h.alias("h"), (h % _NEG_BATCHES).alias("batch")
    )
    w = Window.partitionBy("batch").orderBy("h", "vec_id")
    leads = d.select(
        "vec_id",
        "label",
        *[
            c
            for i in range(1, _NEG_LOOKAHEAD + 1)
            for c in (
                F.lead("vec_id", i).over(w).alias(f"id{i}"),
                F.lead("label", i).over(w).alias(f"lb{i}"),
            )
        ],
    )
    neg_id = F.lit(None).cast("long")
    neg_lb = F.lit(None).cast("int")
    # first-mismatch pick, evaluated nearest-first (build the when-chain
    # backwards so id1 wins over id2 etc.)
    for i in range(_NEG_LOOKAHEAD, 0, -1):
        ok = F.col(f"lb{i}").isNotNull() & (F.col(f"lb{i}") != F.col("label"))
        neg_id = F.when(ok, F.col(f"id{i}")).otherwise(neg_id)
        neg_lb = F.when(ok, F.col(f"lb{i}")).otherwise(neg_lb)
    return leads.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        neg_id.alias("negative_id"),
        neg_lb.alias("negative_label"),
    ).where(F.col("negative_id").isNotNull())


def _oracle_negative_sampling() -> str:
    h = P.sql_h1("CAST(vec_id AS VARCHAR)")
    lead_cols = ", ".join(
        f"lead(vec_id, {i}) OVER win AS id{i}, lead(label, {i}) OVER win AS lb{i}"
        for i in range(1, _NEG_LOOKAHEAD + 1)
    )
    first_id = "CASE "
    first_lb = "CASE "
    for i in range(1, _NEG_LOOKAHEAD + 1):
        cond = f"WHEN lb{i} IS NOT NULL AND lb{i} <> label THEN "
        first_id += cond + f"id{i} "
        first_lb += cond + f"lb{i} "
    first_id += "END"
    first_lb += "END"
    return f"""
WITH d AS (
  SELECT vec_id, label, {h} AS h, ({h} % {_NEG_BATCHES}) AS batch
  FROM embeddings),
w AS (
  SELECT vec_id, label, {lead_cols}
  FROM d WINDOW win AS (PARTITION BY batch ORDER BY h, vec_id))
SELECT vec_id AS anchor_id, label AS anchor_label,
       {first_id} AS negative_id,
       ({first_lb})::INT AS negative_label
FROM w
WHERE {first_id} IS NOT NULL
"""


# --- embedding spectrum (power iteration, exact integer arithmetic) -------

# embeddings quantized to 1e-6 (floor — unambiguous across engines,
# unlike round-half); the uniform start vector is the same scale
SPECTRUM_QUANT = 1_000_000
SPECTRUM_ITERS = 3
# per-iteration rescales (truncating integer division — probed identical
# in Spark [decimal DIV -> long] and DuckDB [HUGEINT //], including
# negative operands). The v-divisor scales with the ROW COUNT so the
# iterate keeps ~the quantization magnitude at any SF: v' ~ (lambda1 /
# (N*1e12-scale)) * v. Products run in DECIMAL(19,0) casts (exact in
# both engines at width 38); with per-component |x| <= ~8 and three
# iterations every intermediate stays far inside the exact range.
SPECTRUM_S_DIV = 1_000_000


def q_embedding_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-eigenvalue health check of the embedding gram matrix: three
    rounds of power iteration, then the Rayleigh quotient lambda1 =
    (v'Av)/(v'v) and its share of the trace — the number that says
    whether the embedding space has collapsed onto one direction
    (dominance -> 1) or stays spread (dominance -> 1/dim, the isotropic
    floor this synthetic corpus should sit near).

    Exactness: vectors are floor-quantized to 1e-6 integers and EVERY
    iteration step is int64 arithmetic (products, sums, truncating DIV
    rescales — probed identical in Spark and DuckDB, including negative
    operands), so the iterate is bit-identical with no float or
    decimal-rounding seam; only the two final Rayleigh ratios round to
    double, once, from exact DECIMAL(19,0)-squared sums.

    Scale shape: each iteration is (a) a 64-row broadcast join + per-row
    dot product + hash agg by vec_id, then (b) a per-dim agg — two
    narrow shuffles per round over the exploded (vec_id, pos, xi) table,
    which a real deployment would persist once (localCheckpoint here).
    The iterate v is always dim rows (driver-small, broadcast is the
    scale path); the s-side join broadcasts only at these SFs — s is
    row-count-sized, so at real scale that join becomes a plain hash
    equi-join on vec_id (same algebra, swap the hint)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = (
        emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "x"
            ),
        )
        .select(
            "vec_id",
            "pos",
            F.floor(F.col("x") * SPECTRUM_QUANT).cast("long").alias("xi"),
        )
        .localCheckpoint()
    )
    n_vec = emb.count()  # parquet metadata count at plan-build time
    v_div = n_vec * SPECTRUM_QUANT
    d19 = "decimal(19,0)"
    prod = lambda a, b: F.col(a).cast(d19) * F.col(b).cast(d19)  # noqa: E731
    v = ex.select("pos").distinct().select(
        "pos", F.lit(SPECTRUM_QUANT).cast("long").alias("vj")
    )
    for _ in range(SPECTRUM_ITERS):
        s = (
            ex.join(F.broadcast(v), "pos")
            .groupBy("vec_id")
            .agg(F.sum(prod("xi", "vj")).alias("sraw"))
            .select(
                "vec_id",
                F.expr(f"sraw DIV {SPECTRUM_S_DIV}").alias("s"),
            )
        )
        v = (
            ex.join(F.broadcast(s), "vec_id")
            .groupBy("pos")
            .agg(F.sum(prod("s", "xi")).alias("wraw"))
            .select("pos", F.expr(f"wraw DIV {v_div}").alias("vj"))
        )
    sv = (
        ex.join(F.broadcast(v), "pos")
        .groupBy("vec_id")
        .agg(F.sum(prod("xi", "vj")).cast("long").alias("sv"))
    )
    vav = sv.agg(
        F.sum(F.col("sv").cast(d19) * F.col("sv").cast(d19)).alias("vav"),
        F.count("*").alias("n_vectors"),
    )
    vv = v.agg(
        F.sum(F.col("vj").cast(d19) * F.col("vj").cast(d19)).alias("vv"),
        F.count("*").alias("dim"),
    )
    tr = ex.agg(
        F.sum(F.col("xi").cast(d19) * F.col("xi").cast(d19)).alias("trace")
    )
    j = vav.crossJoin(F.broadcast(vv)).crossJoin(F.broadcast(tr))
    lam = F.col("vav").cast("double") / F.col("vv").cast("double")
    return j.select(
        "n_vectors",
        "dim",
        lam.alias("lambda1"),
        (lam / F.col("trace").cast("double")).alias("dominance"),
    )


def _oracle_embedding_spectrum() -> str:
    q, sd = SPECTRUM_QUANT, SPECTRUM_S_DIV
    p = lambda a, b: (  # noqa: E731
        f"CAST({a} AS DECIMAL(19,0)) * CAST({b} AS DECIMAL(19,0))"
    )
    vd = f"((SELECT count(*) FROM embeddings) * {q})"
    it_cte = []
    prev_v = "v0"
    for i in range(1, SPECTRUM_ITERS + 1):
        it_cte.append(
            f"""s{i} AS (
  SELECT ex.vec_id,
         CAST(CAST(sum({p('ex.xi', 'v.vj')}) AS HUGEINT) // {sd} AS BIGINT) AS s
  FROM ex JOIN {prev_v} v ON v.pos = ex.pos GROUP BY ex.vec_id),
v{i} AS (
  SELECT ex.pos,
         CAST(CAST(sum({p('s.s', 'ex.xi')}) AS HUGEINT) // {vd} AS BIGINT) AS vj
  FROM ex JOIN s{i} s ON s.vec_id = ex.vec_id GROUP BY ex.pos)"""
        )
        prev_v = f"v{i}"
    its = ",\n".join(it_cte)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
ex AS (
  SELECT vec_id, unnest(range(0, len(emb))) AS pos,
         CAST(floor(unnest(emb) * {q}) AS BIGINT) AS xi
  FROM e),
v0 AS (SELECT unnest(range(0, 64)) AS pos, CAST({q} AS BIGINT) AS vj),
{its},
sv AS (
  SELECT ex.vec_id, CAST(sum({p('ex.xi', 'v.vj')}) AS BIGINT) AS sv
  FROM ex JOIN {prev_v} v ON v.pos = ex.pos GROUP BY ex.vec_id),
vav AS (SELECT CAST(sum(CAST(sv AS DECIMAL(19,0)) * CAST(sv AS DECIMAL(19,0)))
                    AS DOUBLE) AS vav,
               count(*) AS n_vectors FROM sv),
vvt AS (SELECT CAST(sum(CAST(vj AS DECIMAL(19,0)) * CAST(vj AS DECIMAL(19,0)))
                    AS DOUBLE) AS vv,
               count(*) AS dim FROM {prev_v}),
tr AS (SELECT CAST(sum(CAST(xi AS DECIMAL(19,0)) * CAST(xi AS DECIMAL(19,0)))
                   AS DOUBLE) AS trace FROM ex)
SELECT n_vectors, dim, vav / vv AS lambda1,
       (vav / vv) / trace AS dominance
FROM vav, vvt, tr
"""


ML_QUERIES = [
    QuerySpec(
        "embedding_spectrum",
        q_embedding_spectrum,
        _oracle_embedding_spectrum(),
    ),
    QuerySpec(
        "negative_sampling",
        q_negative_sampling,
        _oracle_negative_sampling(),
    ),
    QuerySpec(
        "roc_auc",
        q_roc_auc,
        ORACLE_ROC_AUC,
    ),
    QuerySpec(
        "ml_nearest_centroid",
        q_ml_nearest_centroid,
        ORACLE_ML_NEAREST_CENTROID,
    ),
    QuerySpec(
        "kmeans_lloyd",
        q_kmeans_lloyd,
        ORACLE_KMEANS_LLOYD,
    ),
]


# SemDeDup duplicate threshold. COSINE_DUP (operators/dedup.py) marks
# global near-dup PAIRS; SemDeDup prunes WITHIN k-means clusters, so the
# same threshold keeps the two operators comparable on this corpus.
SEMANTIC_DUP = 0.4


_SEM_ROLLUP_SCHEMA = "cluster long, n_members long, n_dropped long, n_kept long"


def _cluster_rollup():
    """applyInPandas kernel factory: the ENTIRE per-cluster SemDeDup
    accounting — blocked-BLAS candidate scoring, exact-threshold verify,
    keep/drop counting — in one pass over the cluster group. Shared by
    all three SemDeDup variants (fixed-K, scaled-K, two-level).

    r11 optimization-round shape (guide §1.2 "fix the distributed
    algorithm", §2.3/§2.4): the group handed to applyInPandas IS the
    whole cluster, so the exact decision is made in place and only K
    accounting rows ever leave the kernel — no candidate shuffle, no
    N-row assignment cache, no re-score joins.

    Exactness contract (``functions/kernels.py``): the BLAS cosine
    differs from the oracle's sequential-fold cosine by less than
    ``kernels.MARGIN``. So a BLAS score >= SEMANTIC_DUP + MARGIN is a
    CERTAIN drop, < SEMANTIC_DUP - MARGIN a certain keep, and only
    scores inside that uncertainty band are re-scored with the exact
    sequential fold (bit-identical to Spark's `F.aggregate` cosine and
    DuckDB's list_dot_product) — in practice zero to a handful of
    pairs, so the interpreted fold never touches the candidate volume.

    A null or non-finite vector raises ``ValueError`` naming its vec_id.
    Zero-norm rows: a zero-norm vector's cosine is undefined — DuckDB's
    division by zero yields NULL and ``NULL >= t`` DROPS the pair, while
    ANSI Spark (the driver's vanilla default) would THROW if such a pair
    were cosine'd. The convergent contract is exclusion: their NaN BLAS
    scores compare False against both bounds, so pairs touching a
    zero-norm row are never dropped and never reach the exact fold —
    matching the oracle's NULL-drop exactly. Pinned by
    tests/test_properties.py::test_cluster_rollup_drops_zero_norm.

    Counting rule: a member is DROPPED iff some lower-id member of the
    same cluster has cosine >= SEMANTIC_DUP with it;
    n_dropped = |distinct dropped members|.
    """
    block_bytes = kernels.SCORE_BLOCK_BYTES
    keep, drop = SEMANTIC_DUP - kernels.MARGIN, SEMANTIC_DUP + kernels.MARGIN

    # no type hints: applyInPandas infers its eval type from them, and
    # a partly annotated function makes it warn on every call
    def _rollup(key, pdf):
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        mat = kernels.matrix(ids, pdf["v"], "vec_id")
        rows = kernels.FoldRows(mat)
        dropped: set[int] = set()
        for lo, s in kernels.cosine_blocks(mat, mat, block_bytes):
            lower = ids[:, None] < ids[None, lo : lo + s.shape[1]]
            sure = (lower & (s >= drop)).any(axis=0)
            dropped.update((lo + np.nonzero(sure)[0]).tolist())
            for a, b in zip(*np.nonzero(lower & (s >= keep) & (s < drop))):
                gb = lo + int(b)
                if gb in dropped:
                    continue
                if rows.cosine(int(a), rows, gb) >= SEMANTIC_DUP:
                    dropped.add(gb)
        n, nd = len(ids), len(dropped)
        return pd.DataFrame(
            {"cluster": np.array([key[0]], dtype="int64"),
             "n_members": np.array([n], dtype="int64"),
             "n_dropped": np.array([nd], dtype="int64"),
             "n_kept": np.array([n - nd], dtype="int64")}
        )

    return _rollup


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with k-means and pruning
    near-identical pairs INSIDE each cluster only — the scale trick that
    makes embedding dedup tractable: the quadratic term is bounded by
    the cluster size, never the corpus.

    Keep rule (deterministic): within a cluster, a vector is DROPPED if
    any lower-id vector in the same cluster has cosine >= SEMANTIC_DUP
    with it (greedy keep-first-by-id — the paper keeps one exemplar per
    duplicate group; lowest-id is the reproducible choice). Output: one
    row per cluster with member/kept/dropped accounting — the
    capacity-planning view of semantic pruning.

    100 TB shape: the two Lloyd iterations are corpus scans against K
    broadcast centroid rows (same contract as q_kmeans_lloyd); the
    pairing stage runs per cluster, quadratic only within a cluster,
    inside the fused ``_cluster_rollup`` kernel: a blocked float64 BLAS
    matmul scores the group, scores past the certainty band drop
    outright, only the ~zero pairs inside the 2e-9 uncertainty band get
    the exact ordered-fold cosine (bit-identical to the oracle's
    sequential list_dot_product) — the interpreted per-pair fold never
    touches the full quadratic set (53 s -> ~6 s at the 10x replica for
    the two-phase split; the r11 fusion additionally removes the
    candidate shuffle, the N-row assignment cache, and both re-score
    joins). At real scale K grows with the corpus (the paper uses 50k
    clusters for LAION) so cluster sizes — and each applyInPandas
    group — stay bounded; K is fixed at the oracle-tractable 8 here and
    the assign/update steps are K-independent scans.

    No reference counterpart (SURVEY §2.11 — [EXT] training-pipeline
    operator).
    """
    emb = _embeddings(spark, sf_dir)
    cent0 = emb.filter(F.col("vec_id").isin(INIT_IDS)).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("cv")
    )
    a2 = _assign(emb, _update(_assign(emb, cent0)))
    # single consumer (r11 optimization round): the fused kernel does
    # candidate scoring, exact verify, and accounting per cluster group,
    # so the assignment is computed once with no cache and nothing but K
    # accounting rows leaves the pairing stage
    return a2.groupBy("cluster").applyInPandas(
        _cluster_rollup(), _SEM_ROLLUP_SCHEMA
    )

def _sql_sem_drops(a: str) -> str:
    """Head of the SemDeDup oracle's ``drp`` CTE over the (vec_id, v,
    cluster) CTE ``a``: every member with a lower-id same-cluster member
    at cosine >= SEMANTIC_DUP. The caller closes the CTE."""
    return f"""drp AS (
  SELECT DISTINCT a.cluster, b.vec_id
  FROM {a} a JOIN {a} b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {SEMANTIC_DUP}"""


def _sql_sem_counts(a: str) -> str:
    """The SemDeDup oracle's per-cluster member/dropped/kept rollup of
    ``a`` against ``drp``."""
    return f"""SELECT m.cluster,
       count(*)::BIGINT AS n_members,
       count(drp.vec_id)::BIGINT AS n_dropped,
       (count(*) - count(drp.vec_id))::BIGINT AS n_kept
FROM {a} m
LEFT JOIN drp ON m.cluster = drp.cluster AND m.vec_id = drp.vec_id
GROUP BY m.cluster"""


# reuses the kmeans CTE chain, but a2 carries v so the within-cluster
# pairing can compute cosine
ORACLE_DEDUP_SEMANTIC = f"""
{_sql_lloyd(("v",))},
{_sql_sem_drops("a2")})
{_sql_sem_counts("a2")}
"""

ML_QUERIES.append(
    QuerySpec(
        "dedup_semantic",
        q_dedup_semantic,
        ORACLE_DEDUP_SEMANTIC,
        bench=True,  # round-11 paired-gate sentinel: work-heavy
        # cluster-bounded pairing (SCALING grower class, 8.5x at sf1*)
    )
)


# Scalable-K SemDeDup: target within-cluster size. Seeds are the corpus
# rows with vec_id % SEED_STRIDE == SEED_RESIDUE, so the cluster count
# K ~= N / SEED_STRIDE GROWS WITH THE CORPUS with no driver-side count
# and no parameter to re-tune per scale — the paper's regime (K
# proportional to N, cluster size bounded by ~SEED_STRIDE on average).
SEED_STRIDE = 64
SEED_RESIDUE = 7


def _seeds(emb: DataFrame, stride: int = SEED_STRIDE) -> DataFrame:
    """(cluster, cv): the seed centroids of a (vec_id, v) frame, the rows
    with ``vec_id % stride == SEED_RESIDUE``."""
    return emb.filter(F.col("vec_id") % stride == SEED_RESIDUE).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("cv")
    )


def _exact_nearest(
    spark: SparkSession, emb: DataFrame, cents, n: int = 1
) -> DataFrame:
    """(vec_id, cluster, v): the ``n`` nearest centroids of every
    (vec_id, v) row — exact, oracle-reproducible, at BLAS speed. A
    mapInPandas scan computes the (batch x K) distance matrix via the
    |x|^2+|c|^2-2x.c expansion, then re-scores only the candidates within
    tolerance of the n-th smallest BLAS distance with the sequential fold
    the oracle uses (``kernels.fold_sq_dist``), ordered by (distance,
    cluster id) — so n=1 is the argmin with ties to the lowest id. Emits
    min(n, K) rows per vector. ``cents`` is a pandas DataFrame (cluster,
    cv) — the broadcast index.

    A null or non-finite vector or centroid has no defined distance, so
    it raises ValueError naming its vec_id or cluster (``kernels.matrix``):
    centroids once on the driver, vectors once per batch.

    Shared by ``dedup_semantic_scaled`` (self-index), both incremental
    queries (existing-corpus index probed by both sides) and
    ``dedup_semantic_twolevel`` (fine seeds to their coarse cell at n=1,
    vectors to their NPROBE nearest cells)."""
    cents = cents.sort_values("cluster")
    c_ids = cents["cluster"].to_numpy(dtype="int64")
    c_mat = kernels.matrix(c_ids, cents["cv"], "cluster")
    bc = spark.sparkContext.broadcast((c_ids, c_mat))

    def _nearest(batches):
        ids_c, cm = bc.value
        c_rows = kernels.FoldRows(cm)
        c_norm2 = (cm * cm).sum(axis=1)
        c_max = float(np.sqrt(c_norm2.max())) if len(ids_c) else 0.0
        d = cm.shape[1]
        take = min(n, len(ids_c))
        for pb in batches:
            vids = pb["vec_id"].to_numpy(dtype="int64")
            rows: list[int] = []
            cells: list[int] = []
            mat = kernels.matrix(vids, pb["v"], "vec_id")
            if take and len(vids):
                x_norm2 = (mat * mat).sum(axis=1)
                # BLAS phase: full (batch x K) distance matrix in 3 ops
                dist = x_norm2[:, None] + c_norm2[None, :] - 2.0 * (mat @ cm.T)
                # n-th smallest BLAS distance per row; a true top-n member's
                # BLAS distance is <= exact_nth + err <= blas_nth + 2*err, so
                # the 2x-error tolerance band always contains the exact top-n
                nth = np.partition(dist, take - 1, axis=1)[:, take - 1]
                tol = 8.0 * d * 2.3e-16 * (np.sqrt(x_norm2) + c_max) ** 2
                for r in range(len(vids)):
                    x = mat[r].tolist()
                    scored = sorted(  # (exact dist, cluster id) == oracle ORDER BY
                        (kernels.fold_sq_dist(x, c_rows.row(j)), int(ids_c[j]))
                        for j in np.nonzero(dist[r] <= nth[r] + tol[r])[0]
                    )
                    for _, cid in scored[:take]:
                        rows.append(r)
                        cells.append(cid)
            idx = np.array(rows, dtype="int64")
            yield pd.DataFrame(
                {"vec_id": vids[idx],
                 "cluster": np.array(cells, dtype="int64"),
                 "v": pb["v"].to_numpy()[idx]}
            )

    return emb.mapInPandas(_nearest, "vec_id long, cluster long, v array<double>")


def q_dedup_semantic_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the paper's scaling regime (Abbas et al. 2023,
    arXiv:2303.09540 §3: K grows with the corpus so cluster sizes stay
    bounded — 50k clusters for LAION-440M). ``dedup_semantic`` pins K=8
    for its static-CTE oracle, which caps the pairing stage at 8
    concurrent tasks and lets within-cluster pair volume grow
    quadratically with the corpus; THIS variant lifts that ceiling:

    - **Seeding**: centroids are the corpus rows with
      ``vec_id % SEED_STRIDE == SEED_RESIDUE`` — K ~= N/64 emerges from
      the data (8 clusters at sf0.01 -> 32 at sf0.1 -> ~N/64 at any
      scale), fully deterministic and SQL-expressible, so the oracle
      parameterizes with the corpus instead of hard-coding K.
    - **Assignment** (one Voronoi step, k-means with zero update
      iterations): ``_exact_nearest`` at n=1 — ``mapInPandas`` scores
      each Arrow batch against the broadcast centroid matrix with BLAS
      (|x|^2 + |c|^2 - 2 x.c), then re-scores only the within-tolerance
      argmin *candidates* with the exact sequential fold (bit-identical
      to the oracle's list_dot_product over the difference list), tie
      to lowest cluster id; a null or non-finite vector raises instead
      of taking a cluster. Parallelism = input partitions, NOT K; no
      N x K row explosion (the broadcast-join + window _assign shape
      materializes N*K rows, fine for K=8, fatal for K=50k).
    - **Pairing**: the shared ``_cluster_rollup`` fused kernel, now over
      ~N/64 groups — pairing parallelism scales with the corpus and
      per-group pair volume is ~SEED_STRIDE^2 bounded on average instead
      of (N/8)^2; only K accounting rows leave the stage.

    Memory contract: the broadcast centroid matrix is (N/64) x d
    float64. At the paper's LAION regime (50k x 768) that is ~300 MB —
    the documented ceiling for single-level assignment; past it, use a
    two-level coarse-quantizer assignment (the ``ann_ivf`` structure)
    with this same exact re-score discipline.

    Exactness contract: the BLAS distance expansion's absolute error is
    <= ~d*eps*(|x|+|c|)^2 (cancellation included); candidates within
    2x that tolerance of the BLAS argmin are exact-folded, so the chosen
    cluster is always the oracle's argmin, ulp-for-ulp.

    No reference counterpart (SURVEY §2.11 — [EXT] training-pipeline
    operator).
    """
    emb = _embeddings(spark, sf_dir)
    assigned = _exact_nearest(spark, emb, _seeds(emb).toPandas())
    # single consumer (r11 optimization round): the fused kernel makes
    # the exact per-cluster decision in place — no cache, no re-score
    # joins, only ~N/64 accounting rows leave the pairing stage
    return assigned.groupBy("cluster").applyInPandas(
        _cluster_rollup(), _SEM_ROLLUP_SCHEMA
    )


# Same accounting CTE as ORACLE_DEDUP_SEMANTIC, but the centroid set is
# the modulo-stride seed rule (K parameterizes with the corpus) and the
# assignment is the single Voronoi step.
ORACLE_DEDUP_SEMANTIC_SCALED = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT vec_id AS cluster, v AS cv FROM e
       WHERE vec_id % {SEED_STRIDE} = {SEED_RESIDUE}),
{_sql_nearest("d1", "a1", "e", "c0")},
{_sql_sem_drops("a1")}
)
{_sql_sem_counts("a1")}
"""

ML_QUERIES.append(
    QuerySpec(
        "dedup_semantic_scaled",
        q_dedup_semantic_scaled,
        ORACLE_DEDUP_SEMANTIC_SCALED,
        bench=True,
    )
)


# Two-level coarse quantizer (the documented escape from the single-level
# 300 MB centroid-broadcast ceiling — see q_dedup_semantic_scaled's memory
# contract). Coarse cells are every f-th fine seed where f = ceil(sqrt(K))
# emerges from the fine-seed COUNT — so K_coarse ~= sqrt(K) at any corpus
# size (the IVF balance point: broadcast size and per-cell fan-out both
# ~sqrt(K)). ceil(sqrt(count)) is deterministic across engines: the count
# is an exact integer, IEEE sqrt is correctly rounded, so Python and
# DuckDB compute the identical stride.
# cells probed per vector: the assignment contract is "nearest fine
# centroid among those owned by the NPROBE nearest coarse cells" —
# deterministic and SQL-expressible, so the oracle checks the exact same
# rule instead of a weaker rows-only bound.
NPROBE = 2


def q_dedup_semantic_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a TWO-LEVEL coarse-quantizer assignment — the
    executable escape from ``dedup_semantic_scaled``'s single-level
    broadcast ceiling (its memory contract caps the broadcast centroid
    matrix at ~300 MB, e.g. 50k x 768 float64).

    Assignment contract (deterministic, oracle-checked exactly): a
    vector's cluster is the nearest FINE centroid among those owned by
    its NPROBE nearest COARSE cells; all distance argmins use the exact
    sequential fold with ties to the lowest id — the standard IVF
    residual-free hierarchy (Jegou et al., "Product Quantization for
    Nearest Neighbor Search" §IV's coarse quantizer; same cell structure
    as ``ann_ivf``, similarity.py).

    Scale shape — what changes vs single-level:

    - the coarse stride f = ceil(sqrt(K)) EMERGES from the fine-seed
      count (one cheap count job; the oracle computes the identical f
      in SQL — exact integer count, correctly-rounded IEEE sqrt), so
      only a ~sqrt(K)-row coarse matrix is broadcast at ANY corpus
      size; the FINE centroid table is never collected, never
      broadcast — it flows as a DataFrame, shuffled once by its owning
      cell id.
    - each vector probes its NPROBE nearest cells via one Arrow
      ``mapInPandas`` scan (``_exact_nearest`` at n=NPROBE: BLAS + exact
      re-score, parallelism = input partitions), emitting NPROBE rows
      per vector — no N x K row explosion at any K. The fine seeds find
      their own cell with the same kernel at n=1.
    - the candidate join (vectors x fine-centroids-of-probed-cells) is a
      hash join on the cell id: per-vector candidate count = fines per
      cell x NPROBE ~= sqrt(K) x NPROBE, so assignment cost is
      O(N x sqrt(K)) rows — the IVF balance point — where the
      single-level broadcast-join formulation is O(N x K) and the
      broadcast is O(K).
    - pairing + accounting reuse the shared fused SemDeDup kernel
      (``_cluster_rollup``) over ~N/64 bounded-size clusters.

    At the fixtures: sf0.01 has K=8 fines -> f=3 -> 3 cells; sf0.1 has
    K=32 -> f=6 -> 6 cells; at the paper's 50k clusters f=224 -> ~224
    cells of ~224 fines — a 224 x d broadcast instead of 50k x d.

    No reference counterpart (SURVEY §2.11 — [EXT] training-pipeline
    operator)."""
    import math

    emb = _embeddings(spark, sf_dir)
    # fine centroids STAY distributed: (f_cluster, cluster, cv), where
    # cluster is the coarse cell the fine seed falls in (n=1 against the
    # broadcast coarse matrix)
    fines = emb.filter(F.col("vec_id") % SEED_STRIDE == SEED_RESIDUE)
    k_fine = fines.count()
    f = max(1, int(math.ceil(math.sqrt(k_fine))))
    coarse = _seeds(emb, SEED_STRIDE * f).toPandas()
    f_cells = _exact_nearest(spark, fines, coarse).select(
        F.col("vec_id").alias("f_cluster"), "cluster", F.col("v").alias("cv")
    )
    # every vector probes its NPROBE nearest cells (same kernel, top-n)
    v_cells = _exact_nearest(spark, emb, coarse, NPROBE)
    # candidate fines per vector: hash join on the coarse cell id — the
    # fine matrix is never broadcast; per-vector fan-out is
    # fines-per-cell x NPROBE, independent of K
    dist = sq_dist(F.col("v"), F.col("cv"))
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cluster"))
    assigned = (
        v_cells.join(f_cells, "cluster")
        .select(
            "vec_id", "v", F.col("f_cluster").alias("cluster"), dist.alias("dist")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cluster")
    )
    # single consumer (r11 optimization round): fused kernel, see
    # _cluster_rollup — no assignment cache, no re-score joins
    return assigned.groupBy("cluster").applyInPandas(
        _cluster_rollup(), _SEM_ROLLUP_SCHEMA
    )


def _sql_sq_dist(a: str, b: str) -> str:
    """The oracle's exact squared-L2 fold between two DOUBLE[] columns."""
    diff = f"list_transform(generate_series(1, len({a})), i -> {a}[i] - {b}[i])"
    return f"list_dot_product({diff}, {diff})"


ORACLE_DEDUP_SEMANTIC_TWOLEVEL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT vec_id AS cluster, v AS cv FROM e
       WHERE vec_id % {SEED_STRIDE} = {SEED_RESIDUE}),
kf AS (SELECT GREATEST(1, CAST(CEIL(SQRT(count(*))) AS BIGINT)) AS f FROM c0),
g0 AS (SELECT cluster AS cell, cv AS gv FROM c0, kf
       WHERE cluster % ({SEED_STRIDE} * f) = {SEED_RESIDUE}),
fd AS (
  SELECT c0.cluster, c0.cv, g0.cell, {_sql_sq_dist('cv', 'gv')} AS dist
  FROM c0, g0),
fc AS (
  SELECT cluster, cv, cell FROM (
    SELECT cluster, cv, cell,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY dist ASC, cell ASC) AS rn
    FROM fd) WHERE rn = 1),
vd AS (
  SELECT e.vec_id, e.v, g0.cell, {_sql_sq_dist('v', 'gv')} AS dist
  FROM e, g0),
vc AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cell ASC) AS rn
    FROM vd) WHERE rn <= {NPROBE}),
cd AS (
  SELECT vc.vec_id, vc.v, fc.cluster, {_sql_sq_dist('vc.v', 'fc.cv')} AS dist
  FROM vc JOIN fc ON vc.cell = fc.cell),
{_sql_argmin("a1", "cd")},
{_sql_sem_drops("a1")}
)
{_sql_sem_counts("a1")}
"""

ML_QUERIES.append(
    QuerySpec(
        "dedup_semantic_twolevel",
        q_dedup_semantic_twolevel,
        ORACLE_DEDUP_SEMANTIC_TWOLEVEL,
    )
)


# Fraction split for the incremental probe: rows whose portable hash of
# vec_id lands in the top 20% are "incoming", the rest are the existing
# corpus (same convention as dedup.INCR_INCOMING_FROM for text).
SEM_INCR_INCOMING_FROM = 80


def q_dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion SemDeDup: which INCOMING embeddings
    semantically near-dup an EXISTING one? The ``dedup_incremental``
    production shape applied to embeddings — every batch, the pipeline
    probes the persisted cluster index instead of re-pairing the corpus:

    - the EXISTING corpus defines the index: seed centroids by the
      ``vec_id % SEED_STRIDE`` rule (K ~= N_existing/64, grows with the
      corpus), members assigned once by the exact two-phase Voronoi scan
      (here derived in-plan; on a real lake both are persisted tables);
    - the incoming batch — orders of magnitude smaller — is assigned
      against the SAME broadcast centroid matrix, then joined to
      existing members ON THE CLUSTER KEY only: pair volume is bounded
      by (batch size x cluster size), never corpus-quadratic, and the
      existing corpus is never shuffled by anything wider than its
      cluster id;
    - candidates get the exact ordered-fold cosine (bit-identical to the
      oracle) at the SEMANTIC_DUP threshold; output is one row per
      colliding incoming vec with its best existing match (highest
      cosine, ties to the lowest existing id).

    Incoming-vs-incoming pairs are deliberately out of scope (they dedup
    when their batch lands — same contract as ``dedup_incremental``).

    No reference counterpart (SURVEY §2.11 — [EXT] training-pipeline
    operator).
    """
    existing, incoming = _split_incoming(_embeddings(spark, sf_dir))
    cents = _seeds(existing).toPandas()
    return _best_existing_match(
        _paired_side(spark, incoming, cents, "vec_new", "vn"),
        _paired_side(spark, existing, cents, "vec_old", "vo"),
    )


def _split_incoming(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(existing, incoming) halves of a (vec_id, v) frame by the portable
    hash of vec_id (see SEM_INCR_INCOMING_FROM)."""
    incoming = (
        P.h1(F.col("vec_id").cast("string")) % 100
    ) >= SEM_INCR_INCOMING_FROM
    return emb.filter(~incoming), emb.filter(incoming)


def _paired_side(
    spark: SparkSession, vecs: DataFrame, cents, id_name: str, v_name: str
) -> DataFrame:
    """(id_name, cluster, v_name): ``vecs`` assigned to their nearest
    centroid, ready for the cluster-key join. Zero-norm vectors have no
    defined cosine: the oracle's division by zero yields NULL and the
    NULL comparison DROPS the pair, while ANSI Spark would throw in the
    join's cosine — so they are excluded after assignment (they can
    never match anything, same as the oracle)."""
    return (
        _exact_nearest(spark, vecs, cents)
        .filter(dot(F.col("v"), F.col("v")) > 0)
        .select(F.col("vec_id").alias(id_name), "cluster", F.col("v").alias(v_name))
    )


def _best_existing_match(in_a: DataFrame, ex_a: DataFrame) -> DataFrame:
    """(vec_new, vec_old, cos_sim): each incoming vector's best existing
    match at cosine >= SEMANTIC_DUP (highest cosine, ties to the lowest
    existing id), candidates joined on the cluster key only. ``in_a`` is
    (vec_new, cluster, vn), ``ex_a`` (vec_old, cluster, vo)."""
    from tiny_mapreduce_rpc_server_spark.operators.dedup import _bounded_broadcast

    # batch is small by contract, but broadcast it on its measured size
    # so a mis-sized batch degrades to a shuffled cluster-key join
    scored = (
        _bounded_broadcast(in_a)
        .join(ex_a, "cluster")
        .select(
            "vec_new",
            "vec_old",
            cosine(F.col("vn"), F.col("vo")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= SEMANTIC_DUP)
    )
    w = Window.partitionBy("vec_new").orderBy(F.desc("cos_sim"), F.asc("vec_old"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_new", "vec_old", "cos_sim")
    )


ORACLE_DEDUP_SEMANTIC_INCREMENTAL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
inc AS (SELECT * FROM e
        WHERE ({P.sql_h1("CAST(vec_id AS VARCHAR)")} % 100) >= {SEM_INCR_INCOMING_FROM}),
ex AS (SELECT * FROM e
       WHERE ({P.sql_h1("CAST(vec_id AS VARCHAR)")} % 100) < {SEM_INCR_INCOMING_FROM}),
c0 AS (SELECT vec_id AS cluster, v AS cv FROM ex
       WHERE vec_id % {SEED_STRIDE} = {SEED_RESIDUE}),
{_sql_nearest("dx", "ax", "ex", "c0", out="vec_id AS vec_old, v AS vo, cluster")},
{_sql_nearest("di", "ai", "inc", "c0", out="vec_id AS vec_new, v AS vn, cluster")},
scored AS (
  SELECT ai.vec_new, ax.vec_old,
         list_dot_product(vn, vo)
           / (sqrt(list_dot_product(vn, vn)) * sqrt(list_dot_product(vo, vo)))
           AS cos_sim
  FROM ai JOIN ax ON ai.cluster = ax.cluster),
hits AS (SELECT * FROM scored WHERE cos_sim >= {SEMANTIC_DUP})
SELECT vec_new, vec_old, cos_sim FROM (
  SELECT vec_new, vec_old, cos_sim,
         row_number() OVER (PARTITION BY vec_new
                            ORDER BY cos_sim DESC, vec_old ASC) AS rn
  FROM hits) WHERE rn = 1
"""

ML_QUERIES.append(
    QuerySpec(
        "dedup_semantic_incremental",
        q_dedup_semantic_incremental,
        ORACLE_DEDUP_SEMANTIC_INCREMENTAL,
    )
)


def q_dedup_semantic_incremental_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_semantic_incremental`` with the cluster index PERSISTED —
    the production lake roundtrip executed end-to-end (the in-plan
    variant derives the index per run and notes "on a real lake both are
    persisted tables"; this query writes and probes those tables).

    Lake state for the EXISTING corpus, two parquet tables:

    - ``centroids``: (cluster, cv) — the seed centroid matrix the
      nightly job maintains (small: K ~= N/64 rows);
    - ``members``: (vec_old, cluster, vo) — every existing vector with
      its assigned cluster, written once by the batch assignment job.

    Probe phase reads BOTH back: the stored centroid table (bounded —
    the same ~300 MB single-level ceiling, with the two-level variant as
    the documented escape) is collected and broadcast to assign the
    incoming batch; candidates join the incoming batch to STORED members
    on the cluster key only. No existing-corpus assignment, seeding, or
    shuffle happens at probe time — exactly what makes per-batch dedup
    affordable when batches are small and the corpus is 100 TB. Same
    output contract (and oracle) as ``dedup_semantic_incremental``."""
    base = scratch_dir(spark, "sem_index")
    existing, incoming = _split_incoming(_embeddings(spark, sf_dir))
    seeds = _seeds(existing)
    # ---- build: the batch indexing job (writes the lake state) ----
    seeds.write.parquet(base + "/centroids")
    cents_build = spark.read.schema(seeds.schema).parquet(base + "/centroids").toPandas()
    assigned = _exact_nearest(spark, existing, cents_build).select(
        F.col("vec_id").alias("vec_old"), "cluster", F.col("v").alias("vo")
    )
    assigned.write.parquet(base + "/members")
    # ---- probe: only the STORED index + the incoming batch ----
    cents = spark.read.schema(seeds.schema).parquet(base + "/centroids").toPandas()
    members = spark.read.schema(assigned.schema).parquet(base + "/members")
    return _best_existing_match(
        _paired_side(spark, incoming, cents, "vec_new", "vn"),
        members.filter(dot(F.col("vo"), F.col("vo")) > 0),
    )


ML_QUERIES.append(
    QuerySpec(
        "dedup_semantic_incremental_persisted",
        q_dedup_semantic_incremental_persisted,
        ORACLE_DEDUP_SEMANTIC_INCREMENTAL,
    )
)
