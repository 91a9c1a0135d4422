"""[EXT] Deterministic sampling / dataset splitting for training pipelines.

Random sampling (``df.sample``) is seed- and partitioning-dependent, which
makes results unreproducible across cluster sizes and impossible to
oracle-check. Training-data pipelines instead sample by *content hash*:
``bucket(id) = h(id) mod 100`` picks a stable pseudo-random subset that is

- reproducible on any cluster layout (pure per-row function of the id),
- consistent across tables/runs (the same id always lands in the same
  bucket — joins between sampled tables stay aligned),
- a pure filter: it pushes down past everything Catalyst can move it
  through, and costs zero shuffles.

Uses the engine-portable arithmetic hash (functions/portable.py) so the
DuckDB oracle recomputes the identical buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import portable as P
from tiny_mapreduce_rpc_server_spark.operators.dedup import _bounded_broadcast
from tiny_mapreduce_rpc_server_spark.sources import load_table, spread
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec


def _bucket(col):
    """Stable 0..99 bucket of a bigint id column."""
    return P.h1(col.cast("string")) % 100


def _sql_bucket(expr: str) -> str:
    return f"({P.sql_h1(f'CAST({expr} AS VARCHAR)')} % 100)"


# The 80/10/10 split rule, defined ONCE — train_val_test_split assigns by
# it and split_leakage_check audits the very same assignment.
def _split_col(col):
    b = _bucket(col)
    return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")


def _sql_split(expr: str) -> str:
    b = _sql_bucket(expr)
    return (
        f"CASE WHEN {b} < 80 THEN 'train' "
        f"WHEN {b} < 90 THEN 'val' ELSE 'test' END"
    )


# ---------------------------------------------------------------------------
# 5% deterministic sample
# ---------------------------------------------------------------------------


def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents whose id hashes into the first 5 of 100 buckets —
    a reproducible 5% sample, computed as a plain pushed-down filter."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(_bucket(F.col("doc_id")) < 5).select(
        "doc_id", "lang", "source", "n_chars"
    )


ORACLE_SAMPLE = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {_sql_bucket("doc_id")} < 5
"""


# ---------------------------------------------------------------------------
# train/val/test split (80/10/10) with per-language accounting
# ---------------------------------------------------------------------------


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test by hash bucket (80/10/10)
    and report per-(split, lang) document and character counts. The
    assignment is a per-row expression — at 100 TB the split is a free
    column, not a 3-way shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    split = _split_col(F.col("doc_id")).alias("split")
    return (
        docs.select(split, "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("split", "lang")
    )


ORACLE_SPLIT = f"""
SELECT {_sql_split("doc_id")} AS split,
       lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# per-source stratified sample (different rate per stratum)
# ---------------------------------------------------------------------------

_RATES = [("src0", 10), ("src1", 50), ("src2", 80), ("src3", 25), ("src4", 100)]


def stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample each source at its own rate (10%..100%) — the
    quality-weighted mixture step of a pretraining pipeline. The rate
    table broadcasts; the filter stays per-row. Sources not in the rate
    table are dropped (inner join)."""
    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(_RATES, "src string, pct int")
    return (
        docs.join(F.broadcast(rates), docs.source == rates.src)
        .filter(_bucket(F.col("doc_id")) < F.col("pct"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source")
    )


_RATE_VALUES = ", ".join(f"('{s}', {p})" for s, p in _RATES)

ORACLE_STRATIFIED = f"""
SELECT source, count(*) AS n_docs
FROM documents
JOIN (VALUES {_RATE_VALUES}) AS rates(src, pct) ON source = src
WHERE {_sql_bucket("doc_id")} < pct
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# temperature-scaled domain mixing
# ---------------------------------------------------------------------------


def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing for pretraining: downsample large sources toward a
    temperature-flattened distribution. Each source keeps
    ``floor(100 * sqrt(min_count/count))`` of its 100 hash buckets — a
    deterministic per-row filter once the (tiny) per-source rate table is
    computed and broadcast. sqrt is a correctly-rounded IEEE op, so the
    rates are bit-identical across engines.

    Scale: one light aggregate over source counts (dimension-sized),
    broadcast back over the corpus scan; the sample itself is a pure
    filter — zero corpus shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("c"))
    min_c = counts.agg(F.min("c").alias("min_c"))
    rates = (
        counts.join(F.broadcast(min_c))
        .select(
            "source",
            F.floor(100 * F.sqrt(F.col("min_c") / F.col("c")))
            .cast("int")
            .alias("keep_buckets"),
        )
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(_bucket(F.col("doc_id")) < F.col("keep_buckets"))
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("keep_buckets").alias("keep_buckets"),
    )


ORACLE_TEMPERATURE_MIX = f"""
WITH counts AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
m AS (SELECT min(c) AS min_c FROM counts),
rates AS (SELECT source,
                 CAST(floor(100 * sqrt(min_c / c)) AS INT) AS keep_buckets
          FROM counts, m)
SELECT d.source, count(*) AS n_kept, min(keep_buckets) AS keep_buckets
FROM documents d JOIN rates USING (source)
WHERE {_sql_bucket("doc_id")} < keep_buckets
GROUP BY d.source
"""


# ---------------------------------------------------------------------------
# rarity-bucketed mixing (log-free perplexity-style quality mix)
# ---------------------------------------------------------------------------

# keep rate (out of 100 hash buckets) per rarity quartile, 1 = rarest
# vocabulary. Rare-token docs are kept whole; boilerplate-heavy docs are
# aggressively downsampled — the standard rarity-aware pretraining mix.
RARITY_KEEP = {1: 100, 2: 60, 3: 30, 4: 10}


def q_rarity_bucket_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix the corpus by token-rarity quartile.

    Per-doc score = mean corpus frequency of its token occurrences — an
    integer-exact surrogate for perplexity under a unigram LM (low mean
    frequency = rare vocabulary = high perplexity) that needs NO ln/exp,
    so it is bit-identical across engines: sum(corpus_cnt) is an integer
    aggregation and the single double division is correctly-rounded IEEE.

    Scale shape: token counts are one hash aggregate; the occurrence->
    count join shuffles on the token key (AQE handles the skewed head);
    quartile THRESHOLDS are three aggregated scalars broadcast back, so
    bucket assignment and the keep-filter are pure map-side comparisons —
    no global sort, unlike an ntile() over the whole corpus, which would
    funnel 100 TB through one partition.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    occ = docs.select(
        "doc_id", F.explode(P.tokens(F.lower(F.col("text")))).alias("w")
    )
    cnts = occ.groupBy("w").agg(F.count("*").alias("cnt"))
    per_doc = (
        occ.join(cnts, "w")
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("mass"), F.count("*").alias("n_toks"))
        .select("doc_id", (F.col("mass") / F.col("n_toks")).alias("commonness"))
    )
    thresholds = per_doc.agg(
        F.expr("percentile(commonness, 0.25)").alias("t1"),
        F.expr("percentile(commonness, 0.5)").alias("t2"),
        F.expr("percentile(commonness, 0.75)").alias("t3"),
    )
    bucket = (
        F.when(F.col("commonness") <= F.col("t1"), 1)
        .when(F.col("commonness") <= F.col("t2"), 2)
        .when(F.col("commonness") <= F.col("t3"), 3)
        .otherwise(4)
    )
    keep = F.create_map(
        *[F.lit(x) for kv in RARITY_KEEP.items() for x in kv]
    )[bucket]
    assigned = per_doc.join(F.broadcast(thresholds)).select(
        "doc_id",
        "commonness",
        bucket.alias("rarity_bucket"),
        (_bucket(F.col("doc_id")) < keep).alias("kept"),
    )
    return assigned.groupBy("rarity_bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.min("commonness").alias("min_commonness"),
        F.max("commonness").alias("max_commonness"),
    )


_RARITY_CASE = (
    "CASE WHEN commonness <= t1 THEN 1 WHEN commonness <= t2 THEN 2 "
    "WHEN commonness <= t3 THEN 3 ELSE 4 END"
)
_RARITY_KEEP_CASE = "CASE rb " + " ".join(
    f"WHEN {b} THEN {r}" for b, r in RARITY_KEEP.items()
) + " END"

ORACLE_RARITY_BUCKET_MIX = f"""
WITH occ AS (
  SELECT doc_id, unnest({P.sql_tokens("lower(text)")}) AS w FROM documents),
cnts AS (SELECT w, count(*) AS cnt FROM occ GROUP BY w),
per_doc AS (
  SELECT doc_id, sum(cnt) / count(*) AS commonness
  FROM occ JOIN cnts USING (w) GROUP BY doc_id),
th AS (SELECT quantile_cont(commonness, 0.25) AS t1,
              quantile_cont(commonness, 0.5)  AS t2,
              quantile_cont(commonness, 0.75) AS t3 FROM per_doc),
assigned AS (
  SELECT doc_id, commonness, {_RARITY_CASE} AS rb
  FROM per_doc, th)
SELECT rb AS rarity_bucket, count(*) AS n_docs,
       CAST(sum(CASE WHEN {_sql_bucket("doc_id")} < {_RARITY_KEEP_CASE}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       min(commonness) AS min_commonness,
       max(commonness) AS max_commonness
FROM assigned
GROUP BY rb
"""


# ---------------------------------------------------------------------------
# sequence packing (training-chunk assignment)
# ---------------------------------------------------------------------------

_CHUNK_CHARS = 50_000


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to fixed-size training chunks: within each source,
    documents are laid out in doc_id order and cut into ~50k-char chunks
    by cumulative length (a doc belongs to the chunk where it STARTS —
    the same ownership rule as the byte-range line splits in
    sources/linefile.py, applied to sequence packing).

    The running sum is a window PARTITIONED BY source — each source packs
    independently and in parallel; no global sort exists anywhere.
    Integer arithmetic only => engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_chars").over(w)
    chunk = F.floor((cum - F.col("n_chars")) / _CHUNK_CHARS).cast("long")
    per_doc = docs.select(
        "source", "doc_id", "n_chars", chunk.alias("chunk_id")
    )
    return per_doc.groupBy("source", "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


ORACLE_SEQUENCE_PACKING = f"""
WITH per_doc AS (
  SELECT source, doc_id, n_chars,
         CAST(floor((sum(n_chars) OVER w - n_chars) / {_CHUNK_CHARS}) AS BIGINT)
           AS chunk_id
  FROM documents
  WINDOW w AS (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT source, chunk_id, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM per_doc GROUP BY source, chunk_id
"""


PER_KEY_SAMPLE_N = 3


def per_key_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'reservoir' of N=3 documents per source: rank each
    key's rows by (content-hash, doc_id) and keep the first 3 — the
    reproducible analogue of per-key reservoir sampling (the hash plays
    the role of the random draw, so any cluster layout and any arrival
    order picks the same rows). One shuffle on the key; at 100 TB the
    rank-window cost is bounded per key, and heavy keys can reuse the
    salted two-phase shape from operators/skew.py."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("draw").asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("source", "doc_id", P.h1(F.col("text")).alias("draw"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= PER_KEY_SAMPLE_N)
        .select("source", F.col("rnk").cast("int").alias("rnk"), "doc_id", "draw")
    )


ORACLE_PER_KEY_SAMPLE = f"""
WITH d AS (
  SELECT source, doc_id, {P.sql_h1("text")} AS draw FROM documents),
ranked AS (
  SELECT source, doc_id, draw,
         row_number() OVER (PARTITION BY source ORDER BY draw ASC, doc_id ASC) AS rnk
  FROM d)
SELECT source, CAST(rnk AS INTEGER) AS rnk, doc_id, draw
FROM ranked WHERE rnk <= {PER_KEY_SAMPLE_N}
"""


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by quality score: each document's keep
    probability scales with its quality (rate = min(999, floor(q*500))
    per mille), decided by a content-hash draw — deterministic,
    reproducible on any layout, and still a pure pushed-down filter.
    This is the 'upsample the good data' stage of a training mix."""
    from tiny_mapreduce_rpc_server_spark.operators.text import q_quality_score

    q = q_quality_score(spark, sf_dir)
    rate = F.least(F.lit(999), F.floor(F.col("quality") * 500)).cast("long")
    draw = P.h1(F.col("doc_id").cast("string")) % 1000
    return q.filter(draw < rate).select("doc_id", "quality")


def _oracle_quality_weighted_sample() -> str:
    from tiny_mapreduce_rpc_server_spark.operators.text import ORACLE_QUALITY_SCORE

    return f"""
WITH q AS ({ORACLE_QUALITY_SCORE})
SELECT doc_id, quality FROM q
WHERE {P.sql_h1("CAST(doc_id AS VARCHAR)")} % 1000
      < least(999, CAST(floor(quality * 500) AS BIGINT))
"""


# corpus_manifest thresholds: min quality/length gates + per-source cap
MANIFEST_MIN_QUALITY = 0.5
MANIFEST_MIN_TOKENS = 10
MANIFEST_PER_SOURCE_CAP = 50


def corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set selection — the pipeline a data curator
    actually ships, composed from this repo's own stages:

    1. exact dedup (keep lowest doc_id per sha256(text) digest — shuffle
       carries 32-byte keys, not documents);
    2. quality gate (same score as ``text_quality_score``;
       quality >= MANIFEST_MIN_QUALITY and n_tokens >= MANIFEST_MIN_TOKENS);
    3. per-source cap: top MANIFEST_PER_SOURCE_CAP per source by
       (quality desc, doc_id asc) — rank filter runs as WindowGroupLimit
       (partial top-k map-side before the source shuffle).

    The dedup semi-join and the metrics join are on doc_id; AQE
    broadcasts whichever side fits and falls back to hash joins at
    scale. Deterministic end to end, so the whole pipeline is one SQL
    oracle."""
    from pyspark.sql import Window

    from tiny_mapreduce_rpc_server_spark.operators.text import q_quality_score

    docs = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.col("text").cast("binary"), 256)
    keep = (
        docs.select(digest.alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    q = q_quality_score(spark, sf_dir).select("doc_id", "n_tokens", "quality")
    base = (
        docs.select("doc_id", "source", "lang")
        .join(keep.select("doc_id"), "doc_id", "left_semi")
        .join(q, "doc_id")
        .filter(
            (F.col("quality") >= MANIFEST_MIN_QUALITY)
            & (F.col("n_tokens") >= MANIFEST_MIN_TOKENS)
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        base.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= MANIFEST_PER_SOURCE_CAP)
    )


def _oracle_corpus_manifest() -> str:
    from tiny_mapreduce_rpc_server_spark.operators.text import ORACLE_QUALITY_SCORE

    return f"""
WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
q AS ({ORACLE_QUALITY_SCORE}),
f AS (
  SELECT d.doc_id, d.source, d.lang, q.n_tokens, q.quality
  FROM documents d
  JOIN keep USING (doc_id)
  JOIN q ON q.doc_id = d.doc_id
  WHERE q.quality >= {MANIFEST_MIN_QUALITY} AND q.n_tokens >= {MANIFEST_MIN_TOKENS}),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rk
  FROM f)
SELECT doc_id, source, lang, n_tokens, quality, CAST(rk AS INTEGER) AS rk
FROM r WHERE rk <= {MANIFEST_PER_SOURCE_CAP}
"""


def q_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SPLIT leakage audit: after the deterministic 80/10/10 hash
    split, what fraction of val/test documents shares a rare 3-gram
    shingle with ANY train document? ``contamination_check`` guards
    against external benchmarks; this guards the pipeline's own held-out
    splits — near-dup leakage across the split boundary inflates eval.

    Shape: reuses the dedup family's shingle scan + stop-shingle DF cap;
    the train shingle set is a DISTINCT on 8-byte hashes; membership is
    one equi-join followed by a distinct on (doc, split). No all-pairs
    stage; the split itself is a free per-row column.
    """
    from tiny_mapreduce_rpc_server_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        _doc_shingles,
    )

    ds = _doc_shingles(spark, sf_dir)
    sp = ds.select("doc_id", _split_col(F.col("doc_id")).alias("split"), "shingles")
    ex = sp.select("doc_id", "split", F.explode("shingles").alias("s")).select(
        "doc_id", "split", F.xxhash64("s").alias("s")
    )
    rare = (
        ex.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("s")
    )
    ex = ex.join(rare, "s")
    train_sh = ex.where(F.col("split") == "train").select("s").distinct()
    leaked = (
        ex.where(F.col("split") != "train")
        .join(train_sh, "s")
        .select("doc_id", "split")
        .distinct()
    )
    tot = (
        sp.where(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )
    lk = leaked.groupBy("split").agg(F.count("*").alias("n_leaked"))
    n_leaked = F.coalesce(F.col("n_leaked"), F.lit(0))
    return (
        tot.join(lk, "split", "left")
        .select(
            "split",
            "n_docs",
            n_leaked.alias("n_leaked"),
            (n_leaked.cast("double") / F.col("n_docs").cast("double")).alias(
                "leak_frac"
            ),
        )
        .orderBy("split")
    )


def _oracle_split_leakage() -> str:
    from tiny_mapreduce_rpc_server_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        _SQL_SHINGLES,
    )

    return f"""
WITH ds AS ({_SQL_SHINGLES}),
sp AS (
  SELECT doc_id, {_sql_split("doc_id")} AS split, shingles
  FROM ds),
ex0 AS (SELECT doc_id, split, unnest(shingles) AS s FROM sp),
rare AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= {MAX_SHINGLE_DF}),
ex AS (SELECT doc_id, split, ex0.s FROM ex0 JOIN rare ON ex0.s = rare.s),
tr AS (SELECT DISTINCT s FROM ex WHERE split = 'train'),
leaked AS (
  SELECT DISTINCT doc_id, split FROM ex JOIN tr USING (s)
  WHERE split <> 'train'),
tot AS (
  SELECT split, count(*) AS n_docs FROM sp WHERE split <> 'train'
  GROUP BY split),
lk AS (SELECT split, count(*) AS n_leaked FROM leaked GROUP BY split)
SELECT tot.split, n_docs,
       COALESCE(n_leaked, 0) AS n_leaked,
       COALESCE(n_leaked, 0)::DOUBLE / n_docs::DOUBLE AS leak_frac
FROM tot LEFT JOIN lk ON tot.split = lk.split
ORDER BY tot.split
"""


SAMPLING_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "split_leakage_check",
        q_split_leakage_check,
        _oracle_split_leakage(),
    ),
    QuerySpec("temperature_mix", temperature_mix, ORACLE_TEMPERATURE_MIX),
    QuerySpec(
        "rarity_bucket_mix",
        q_rarity_bucket_mix,
        ORACLE_RARITY_BUCKET_MIX,
    ),
    QuerySpec("sequence_packing", sequence_packing, ORACLE_SEQUENCE_PACKING),
    QuerySpec("sample_hash_bucket", sample_hash_bucket, ORACLE_SAMPLE),
    QuerySpec("train_val_test_split", train_val_test_split, ORACLE_SPLIT),
    QuerySpec("stratified_hash_sample", stratified_hash_sample, ORACLE_STRATIFIED),
    QuerySpec("per_key_reservoir_sample", per_key_reservoir_sample, ORACLE_PER_KEY_SAMPLE),
    QuerySpec(
        "quality_weighted_sample",
        quality_weighted_sample,
        _oracle_quality_weighted_sample(),
    ),
    QuerySpec(
        "corpus_manifest",
        corpus_manifest,
        _oracle_corpus_manifest(),
    ),
]


# ---------------------------------------------------------------------------
# end-to-end training manifest (full pipeline composition)
# ---------------------------------------------------------------------------


def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE data-prep pipeline as one declarative plan: near-dup
    clustering -> canonical selection -> exact-dup drop -> quality gate
    (>= 20 tokens) -> deterministic 90/5/5 content-hash split -> per-split
    token accounting. This is the manifest a training run consumes, and
    the query proves the building blocks COMPOSE: every stage is an
    independently oracle-checked operator (dedup_keep_canonical,
    dedup_exact's digest grouping, text_token_stats' tokenizer,
    train_val_test_split's bucketing) chained through Catalyst as one
    optimized plan — no materialization between stages.

    Scale: the near-dup member list broadcasts into an anti join; the
    digest dedup shuffles 32-byte keys; the split is a pure row
    expression; the final aggregate is 3 rows. Nothing in the chain
    exceeds the widest single stage of its components.
    """
    from pyspark.sql import Window

    from tiny_mapreduce_rpc_server_spark.operators.graph import (
        q_dedup_keep_canonical,
    )

    surv = q_dedup_keep_canonical(spark, sf_dir).select("doc_id")
    docs = load_table(spark, sf_dir, "documents").join(surv, "doc_id")
    w = Window.partitionBy(F.sha2(F.col("text").cast("binary"), 256)).orderBy(
        "doc_id"
    )
    uniq = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    gated = uniq.select(
        "doc_id", F.size(P.tokens(F.col("text"))).alias("n_toks")
    ).filter(F.col("n_toks") >= 20)
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < 5, F.lit("val"))
        .when(b < 10, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        gated.select(split.alias("split"), "doc_id", "n_toks")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


def _oracle_training_manifest() -> str:
    from tiny_mapreduce_rpc_server_spark.operators.graph import _ORACLE_CC_CTE

    return (
        _ORACLE_CC_CTE
        + f"""
, surv AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id NOT IN (
    SELECT node FROM (
      SELECT node, min(label) AS component FROM cc GROUP BY node
    ) WHERE node <> component)),
uniq AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM surv) WHERE rn = 1),
gated AS (
  SELECT doc_id, len({P.sql_tokens("text")}) AS n_toks
  FROM uniq WHERE len({P.sql_tokens("text")}) >= 20),
sp AS (
  SELECT CASE WHEN {_sql_bucket("doc_id")} < 5 THEN 'val'
              WHEN {_sql_bucket("doc_id")} < 10 THEN 'test'
              ELSE 'train' END AS split,
         doc_id, n_toks
  FROM gated)
SELECT split, count(*) AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM sp GROUP BY split ORDER BY split
"""
    )


SAMPLING_QUERIES.append(
    QuerySpec(
        "training_manifest",
        q_training_manifest,
        _oracle_training_manifest(),
    )
)


def q_pipeline_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage YIELD of the training_manifest pipeline — the ops
    view of the same gates, in the same order (near-dup canonical ->
    exact-dup drop -> >=20-token quality gate): how many documents and
    characters survive each stage, so a pipeline owner sees WHERE the
    corpus shrinks instead of only the final manifest.

    Shape: the component assignment is localCheckpoint-materialized by
    its builder, so the four stage branches read it instead of re-running
    clustering; each stage is a one-row aggregate over a progressively
    filtered scan, unioned at the end. The duplicate list broadcasts
    only when measured small (pinned by dedup._bounded_broadcast —
    it is a large fraction of a duplicate-heavy corpus, not a constant);
    the sha256 dedup shuffles 32-byte digests."""
    from pyspark.sql import Window

    from tiny_mapreduce_rpc_server_spark.operators.graph import _components

    comp = _components(spark, sf_dir)
    dups = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    s2 = docs.join(_bounded_broadcast(dups), "doc_id", "left_anti")
    w = Window.partitionBy(F.sha2(F.col("text").cast("binary"), 256)).orderBy(
        "doc_id"
    )
    s3 = s2.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    ).drop("rn")
    s4 = s3.filter(F.size(P.tokens(F.col("text"))) >= 20)

    def stage(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )

    out = stage(1, "raw", docs)
    for no, name, df in (
        (2, "near_dup_removed", s2),
        (3, "exact_dup_removed", s3),
        (4, "quality_gated", s4),
    ):
        out = out.unionByName(stage(no, name, df))
    return out


def _oracle_pipeline_yield() -> str:
    from tiny_mapreduce_rpc_server_spark.operators.graph import _ORACLE_CC_CTE

    return (
        _ORACLE_CC_CTE
        + f"""
, s2 AS (
  SELECT doc_id, text, n_chars FROM documents
  WHERE doc_id NOT IN (
    SELECT node FROM (
      SELECT node, min(label) AS component FROM cc GROUP BY node
    ) WHERE node <> component)),
s3 AS (
  SELECT doc_id, text, n_chars FROM (
    SELECT doc_id, text, n_chars,
           row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM s2) WHERE rn = 1),
s4 AS (SELECT doc_id, n_chars FROM s3
       WHERE len({P.sql_tokens("text")}) >= 20)
SELECT 1 AS stage_no, 'raw' AS stage, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents
UNION ALL
SELECT 2, 'near_dup_removed', count(*), CAST(sum(n_chars) AS BIGINT) FROM s2
UNION ALL
SELECT 3, 'exact_dup_removed', count(*), CAST(sum(n_chars) AS BIGINT) FROM s3
UNION ALL
SELECT 4, 'quality_gated', count(*), CAST(sum(n_chars) AS BIGINT) FROM s4
"""
    )


SAMPLING_QUERIES.append(
    QuerySpec(
        "pipeline_yield_report",
        q_pipeline_yield_report,
        _oracle_pipeline_yield(),
    )
)


TEMPORAL_SPLIT_FRAC_NUM, TEMPORAL_SPLIT_FRAC_DEN = 4, 5  # 80% train


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based train/test split of the event log — the split that
    prevents temporal leakage for forecasting/behavioral models, where
    hash splits (train_val_test_split) are wrong by construction: test
    data must be strictly LATER than train data. The cutoff is the first
    day at which the running row count reaches 80%, so the boundary is a
    data-derived constant, not a config guess.

    Shape: one per-day count (tiny table), a running sum over days (a
    window over the DAY table, hundreds of rows — not the corpus), then
    one broadcast of the scalar cutoff back over the scan. The report
    carries the proof: max(train day) < min(test day) shows zero overlap
    by construction."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day")
    )
    days = ev.groupBy("day").agg(F.count("*").alias("n"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tot = days.agg(F.sum("n").alias("total"))
    run = days.select(
        "day", F.sum("n").over(w).alias("cum")
    ).crossJoin(F.broadcast(tot))
    cutoff = run.filter(
        F.col("cum") * TEMPORAL_SPLIT_FRAC_DEN
        >= F.col("total") * TEMPORAL_SPLIT_FRAC_NUM
    ).agg(F.min("day").alias("cutoff_day"))
    labeled = ev.crossJoin(F.broadcast(cutoff)).select(
        F.when(F.col("day") <= F.col("cutoff_day"), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "day",
    )
    return labeled.groupBy("split").agg(
        F.count("*").alias("n_events"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


ORACLE_TEMPORAL_SPLIT = f"""
WITH ev AS (SELECT CAST(ts AS DATE) AS day FROM events),
days AS (SELECT day, count(*) AS n FROM ev GROUP BY day),
run AS (
  SELECT day, sum(n) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         (SELECT sum(n) FROM days) AS total
  FROM days),
cutoff AS (
  SELECT min(day) AS cutoff_day FROM run
  WHERE cum * {TEMPORAL_SPLIT_FRAC_DEN} >= total * {TEMPORAL_SPLIT_FRAC_NUM})
SELECT CASE WHEN day <= (SELECT cutoff_day FROM cutoff)
            THEN 'train' ELSE 'test' END AS split,
       count(*) AS n_events,
       min(day) AS first_day,
       max(day) AS last_day
FROM ev GROUP BY 1
"""

SAMPLING_QUERIES.append(
    QuerySpec(
        "temporal_split",
        q_temporal_split,
        ORACLE_TEMPORAL_SPLIT,
    )
)
