"""[EXT] Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

No reference counterpart (the reference has no distinct/dedup of any kind
— SURVEY §2.11); these are the corpus-dedup operators of an LLM data
pipeline, built Spark-first:

- signatures are computed per row with zero shuffle. Shingle sets are
  array expressions; the token hashes and the minhash and simhash folds
  run in vectorized Arrow kernels (``_minhash_kernel``,
  ``_simhash_kernel``, on the shared numerics of ``functions/kernels.py``),
  because as higher-order array functions they are CodegenFallback,
  interpreted element by element;
- candidate generation shuffles only (band_key) or (shingle) pairs, never
  the full cross product;
- verification joins candidates back to per-doc token arrays and checks
  exact similarity with ``array_intersect`` — again no explode.

Scale notes for 100 TB: the shingle-join candidate generator must drop
stop-shingles (document-frequency cap) to avoid hot keys — implemented
via a max-DF filter; LSH band buckets are naturally bounded by band
width. The only cross join in this file (embedding near-dup) is the
*baseline* path and is documented as such — the scale path is the
LSH-bucketed variant in similarity.py.

Hashes are the engine-portable ones from functions/portable.py so the
DuckDB oracle reproduces every signature bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import cosine, dot
from tiny_mapreduce_rpc_server_spark.functions import kernels
from tiny_mapreduce_rpc_server_spark.functions import portable as P
from tiny_mapreduce_rpc_server_spark.functions import psl
from tiny_mapreduce_rpc_server_spark.session import scratch_dir
from tiny_mapreduce_rpc_server_spark.sources import load_table, spread
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

# MinHash config: 16 permutations in 4 bands of 4 rows
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_VERIFY = 0.6  # exact-verify threshold on shingle jaccard
SIMHASH_BITS = 31
HAMMING_MAX = 3
COSINE_DUP = 0.4
# candidate-generation hygiene: ignore shingles shared by more than this
# many docs (stop-shingle cap — prevents hot-key shuffle skew at scale)
MAX_SHINGLE_DF = 50


def _bounded_broadcast(cand: DataFrame) -> DataFrame:
    """Pin a small derived table (candidate pairs, duplicate-id lists)
    so the planner broadcasts it only when it is MEASURED small.

    The consumers want these tables broadcast so the large corpus /
    shingle / embedding side is never shuffled — but an *unconditional*
    hint is a scale hazard: on a duplicate-heavy 100 TB crawl LSH bands
    can emit billions of candidate pairs and the duplicate list is a
    large fraction of the corpus, and a forced broadcast then kills the
    driver instead of degrading. So the table is persisted and counted,
    which materializes it: the planner then sizes it by its real cached
    bytes, not by an estimate, and broadcasts it only under
    ``spark.sql.autoBroadcastJoinThreshold`` (32 MB in ``get_spark``).
    Above that the join degrades to a shuffle — slower, but alive. The
    persisted rows are reused, so the upstream computation runs exactly
    once.

    CONTRACT NOTE (also in QuerySpec's docstring): building a query that
    goes through this pin runs a real Spark job (the count) at
    DataFrame-construction time — construction is NOT plan-only for the
    dedup/graph/sampling queries that use it. ``QuerySpec.run``
    releases the persisted blocks once the query's result is consumed.
    """
    from pyspark import StorageLevel

    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    cand.count()
    return cand


# ---------------------------------------------------------------------------
# building blocks (Spark side)
# ---------------------------------------------------------------------------


def _toks(col):
    return P.tokens(col)


def _shingles(toks):
    """Distinct 3-word shingles as an array column (per-row, no shuffle)."""
    sh = F.transform(
        toks,
        lambda w, i: F.when(
            i < F.size(toks) - 2,
            F.concat_ws(" ", w, F.get(toks, i + 1), F.get(toks, i + 2)),
        ),
    )
    return F.array_distinct(F.filter(sh, lambda x: x.isNotNull()))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array in its own projection before shingling:
    # passing the tokenizer EXPRESSION straight into _shingles inlines it
    # into every F.get/F.size inside the per-element lambda, re-tokenizing
    # the document O(tokens) times. With `t` referenced many times,
    # CollapseProject keeps the projection boundary, so tokens are
    # computed once per row (measured 19x faster at sf0.1).
    toked = spread(docs).select("doc_id", _toks(F.col("text")).alias("t"))
    return toked.select("doc_id", _shingles(F.col("t")).alias("shingles"))


# DuckDB equivalents, generated from the same constants
_T = P.sql_tokens("text")
_SQL_SHINGLES = f"""
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len({_T})-1, 1)),
           p -> {_T}[p::INT] || ' ' || {_T}[(p+1)::INT] || ' ' || {_T}[(p+2)::INT]
         )) AS shingles
  FROM documents
"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical text. Hash-groupBy
    on the full text — at scale you'd group on sha256(text) to shrink
    shuffle keys (that variant is q_dedup_exact_hash)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    ).select("keep_doc_id", "n_copies")


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


def q_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest: shuffle carries 32-byte keys instead
    of full documents — the 100 TB-friendly exact dedup."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.col("text").cast("binary"), 256)
    return (
        docs.select(digest.alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


ORACLE_DEDUP_EXACT_HASH = """
SELECT sha256(text) AS digest, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY sha256(text)
"""


# ---------------------------------------------------------------------------
# exact duplicate-span detection (char-window fingerprints)
# ---------------------------------------------------------------------------

# 32-char windows. The STRIDED side samples starts every 16 chars; the
# DENSE side takes a window at EVERY char position. Any duplicated span
# of >= W + STRIDE - 1 = 47 chars fully contains a strided window in one
# doc (a window START lands in the span's first 16 positions), and the
# other doc's dense set contains that exact substring wherever the span
# sits — so detection is ALIGNMENT-INDEPENDENT (a both-sides-strided
# variant misses ~15/16 of shared spans whose offsets differ mod 16).
# This is the two-sided cost split of ExactSubstr ("Deduplicating
# Training Data Makes Language Models Better", Lee et al. 2022): the
# dense side is O(corpus chars), which is what a suffix-array dedup
# pays too.
SUBSTR_W = 32
SUBSTR_STRIDE = 16


def _substr_windows(docs: DataFrame, stride: int) -> DataFrame:
    """Distinct (doc_id, xxhash64(window)) pairs at the given stride —
    8-byte hashes only ever leave the row (collision argument as in
    q_dedup_ngram_jaccard: 64-bit keys, ~1e-11 at 1e4 windows)."""
    wins = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(text) - {SUBSTR_W - 1}, 1),"
                f" {stride}), p -> substring(text, p, {SUBSTR_W}))"
            )
        ).alias("w"),
    )
    return wins.select("doc_id", F.xxhash64("w").alias("h")).distinct()


def _span_hits(probe: DataFrame, ref: DataFrame) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_ratio) for every doc with
    a ``probe`` window hash that some OTHER doc holds in ``ref``; both
    frames are distinct (doc_id, h) pairs, and n_windows counts the
    doc's ``probe`` windows."""
    hits = (
        probe.alias("s")
        .join(
            ref.alias("d"),
            (F.col("s.h") == F.col("d.h"))
            & (F.col("s.doc_id") != F.col("d.doc_id")),
        )
        .select(F.col("s.doc_id").alias("doc_id"), F.col("s.h").alias("h"))
        .distinct()
    )
    n_dup = F.coalesce("n_dup_windows", F.lit(0))
    per = (
        probe.groupBy("doc_id")
        .agg(F.count("*").alias("n_windows"))
        .join(
            hits.groupBy("doc_id").agg(F.count("*").alias("n_dup_windows")),
            "doc_id",
            "left",
        )
    )
    return per.filter(n_dup > 0).select(
        "doc_id",
        "n_windows",
        n_dup.alias("n_dup_windows"),
        (n_dup.cast("double") / F.col("n_windows")).alias("dup_ratio"),
    )


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection: which documents share a verbatim
    >=47-char span with another document, and what fraction of each
    document's strided windows is covered by such shared spans.

    Unlike whole-doc near-dup (jaccard/minhash/simhash), this catches
    boilerplate/quote-level duplication inside otherwise-distinct
    documents — the ExactSubstr component of an LLM dedup pipeline.

    Shape (scale): both window sets are per-row array expressions
    (codegen, no shuffle); the explodes carry (doc_id, 8-byte hash)
    only, never window text; the strided-vs-dense probe is one
    equi-join on the hash. No all-pairs stage anywhere: cost is
    O(corpus chars) for the dense side (the inherent ExactSubstr cost)
    and O(chars / stride) for the strided side. At 100 TB you'd add a
    stop-window DF cap exactly like MAX_SHINGLE_DF above.
    """
    # spread: the window transforms + hashing are the compute-heavy
    # per-row stage; a single-file scan would run them on one core.
    # cache: the spread scan feeds BOTH the strided and dense window
    # builds — measured 16 s -> 6.5 s at sf0.1
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    docs = docs.cache()
    # a strided window is duplicated if ANY OTHER doc's dense set
    # contains the same content, at any alignment
    return _span_hits(
        _substr_windows(docs, SUBSTR_STRIDE), _substr_windows(docs, 1)
    )


# the span oracles' tail: every doc with a duplicated window, its window
# count ``per``, duplicated-window count and ratio
_SQL_SPAN_DUP = """dup AS (
  SELECT doc_id, count(*) AS n_dup_windows FROM hits GROUP BY doc_id)
SELECT p.doc_id, p.n_windows,
       COALESCE(d.n_dup_windows, 0) AS n_dup_windows,
       COALESCE(d.n_dup_windows, 0)::DOUBLE / p.n_windows AS dup_ratio
FROM per p LEFT JOIN dup d USING (doc_id)
WHERE COALESCE(d.n_dup_windows, 0) > 0"""

ORACLE_DEDUP_SUBSTRING = f"""
WITH spos AS (
  SELECT doc_id, text,
         unnest(range(1, greatest(length(text) - {SUBSTR_W - 1}, 1) + 1,
                      {SUBSTR_STRIDE})) AS p
  FROM documents),
strided AS (
  SELECT DISTINCT doc_id, substr(text, p::INT, {SUBSTR_W}) AS w FROM spos),
dpos AS (
  SELECT doc_id, text,
         unnest(range(1, greatest(length(text) - {SUBSTR_W - 1}, 1) + 1, 1)) AS p
  FROM documents),
dense AS (
  SELECT DISTINCT doc_id, substr(text, p::INT, {SUBSTR_W}) AS w FROM dpos),
hits AS (
  SELECT DISTINCT s.doc_id, s.w
  FROM strided s JOIN dense d ON s.w = d.w AND s.doc_id <> d.doc_id),
per AS (
  SELECT s.doc_id,
         count(*) AS n_windows
  FROM strided s GROUP BY s.doc_id),
{_SQL_SPAN_DUP}
"""


def q_dedup_substring_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span detection, SCALE PATH: windows start only at
    content-defined ANCHORS (word starts) on BOTH sides, so each side
    stores O(chars / avg word length) fingerprints instead of the dense
    side's O(chars) — the content-defined-chunking idea (LBFS/CDC,
    winnowing's simpler cousin) applied to span dedup.

    Why alignment independence survives the thinning: anchor positions
    are determined by the CONTENT (the preceding space), not by offsets
    — two copies of the same span have word starts at the same in-span
    positions, so any shared span containing a full anchored window
    (>= longest in-span word + 31 chars) produces identical fingerprints
    in both documents regardless of where each copy sits. Detection of
    very short or single-word spans falls back to q_dedup_substring's
    strided-vs-dense form — that pair is the exactness/cost tradeoff
    this family ships.

    Same join shape as the other candidate generators: per-row window
    arrays (codegen), 8-byte hashes only, one equi-join, no all-pairs.
    """
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    wins = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(filter(sequence(1, length(text)),"
                " p -> p = 1 OR substring(text, p - 1, 1) = ' '),"
                f" p -> substring(text, p, {SUBSTR_W}))"
            )
        ).alias("w"),
    )
    ex = wins.select("doc_id", F.xxhash64("w").alias("h")).distinct()
    return _span_hits(ex, ex)


ORACLE_DEDUP_SUBSTRING_ANCHORED = f"""
WITH pos AS (
  SELECT doc_id,
         unnest(list_filter(range(1, length(text) + 1),
                p -> p = 1 OR substr(text, (p - 1)::INT, 1) = ' ')) AS p,
         text
  FROM documents),
ex AS (
  SELECT DISTINCT doc_id, substr(text, p::INT, {SUBSTR_W}) AS w FROM pos),
hits AS (
  SELECT DISTINCT s.doc_id, s.w
  FROM ex s JOIN ex d ON s.w = d.w AND s.doc_id <> d.doc_id),
per AS (
  SELECT doc_id, count(*) AS n_windows FROM ex GROUP BY doc_id),
{_SQL_SPAN_DUP}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact pairwise via inverted index join)
# ---------------------------------------------------------------------------


def _shingle_intersections(spark: SparkSession, sf_dir: str):
    """Shared candidate pipeline for the set-overlap dedup family
    (jaccard + containment): DF-capped inverted index on 8-byte shingle
    hashes, pair intersection counts, per-doc set sizes joined on. Returns
    (pairs-with-sizes DataFrame [doc_a, doc_b, i, na, nb], sizes DF).

    The pinned table holds xxhash64(shingle) ARRAYS, not the shingle
    strings (r11 optimization round): the cached subtree feeds four
    Generate branches (a-side, b-side, and the rare-filter under each),
    and hashing once at cache build instead of once per branch removes
    three re-hash passes AND shrinks the cached rows to 8 bytes/shingle
    (set sizes are preserved — transform keeps array length). Same
    accepted-collision contract as before (the join key was already the
    hash; the oracle intersects strings)."""
    ds = (
        _doc_shingles(spark, sf_dir).select(
            "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs")
        )
        .cache()
    )
    sizes = ds.select("doc_id", F.size("hs").alias("n"))
    ex = ds.select("doc_id", F.explode("hs").alias("s"))
    rare = (
        ex.groupBy("s").agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
    )
    ex = ex.join(rare.select("s"), "s")
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b"), sizes


# shared oracle CTE chain for the same pipeline (string `s` instead of the
# 8-byte hash — intersection counts are identical, as the oracle gate pins)
_SQL_INTER_CTES = f"""ds AS ({_SQL_SHINGLES}),
sz AS (SELECT doc_id, len(shingles) AS n FROM ds),
ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM ds),
rare AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= {MAX_SHINGLE_DF}),
ex AS (SELECT doc_id, ex0.s FROM ex0 JOIN rare ON ex0.s = rare.s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram-shingle Jaccard >= 0.6.

    Inverted-index join: explode shingles, drop stop-shingles (DF cap),
    equi-join on shingle to count intersections, then Jaccard from
    per-doc set sizes. Only docs sharing a rare-enough shingle ever meet
    — no cross join.

    The join key is xxhash64(shingle), not the shingle string: an 8-byte
    fixed key shrinks the shuffle payload 3-5x and compares faster
    (measured ~30% on the end-to-end query). Per-doc set sizes stay
    exact; a hash collision would merge two distinct shingles, with
    probability ~n_distinct^2 / 2^65 — negligible, and the oracle gate
    would catch it."""
    joined, _ = _shingle_intersections(spark, sf_dir)
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return joined.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_VERIFY
    )


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH {_SQL_INTER_CTES}
SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= {JACCARD_VERIFY}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def _minhash_kernel(ds: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15): the minhash signature of every document's
    shingle array, computed by a vectorized Arrow kernel.

    The signature is ``mh_i = min over shingles s of perm_i(h1(s))``.
    As Spark expressions this is a ``transform``/``aggregate`` per
    shingle for ``h1`` and an ``aggregate``/``zip_with`` fold for the 16
    minima, all CodegenFallback: Spark interprets them element by
    element. Here each Arrow batch is hashed in a few numpy passes over
    its flat string buffer (``kernels.h1``), and only (doc_id,
    mh0..mh15) crosses back.

    Exactness against the expression fold (pinned by
    ``tests/test_invariants.py::test_minhash_kernel_matches_fold``): a
    null shingle array gives 16 nulls; an empty one gives all M2 (the
    fold's initial value); a null shingle is skipped, as ``least``
    skips nulls.
    """
    coeffs = [P.perm_coeffs(i) for i in range(N_HASHES)]
    names = ["doc_id"] + [f"mh{i}" for i in range(N_HASHES)]

    def kernel(batches):
        for batch in batches:
            sh = kernels.list_column(batch.column("shingles"))
            h = kernels.h1(sh.values)
            cols = [batch.column("doc_id")]
            for a, b in coeffs:
                p = np.where(sh.null_values, P.M2, np.fmod(a * h + b, P.M2))
                mh = np.full(len(sh.lens), P.M2, np.int64)
                if sh.nz.size:
                    mh[sh.nz] = np.minimum.reduceat(p, sh.seg)
                cols.append(pa.array(mh, mask=sh.null_rows))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    t = ds.schema["doc_id"].dataType.simpleString()
    schema = ", ".join([f"doc_id {t}"] + [f"{n} long" for n in names[1:]])
    return ds.select("doc_id", "shingles").mapInArrow(kernel, schema)


def _band_keys(ds: DataFrame) -> DataFrame:
    """(doc_id, bk) LSH band-bucket keys of a shingled corpus: the
    per-row minhash signature from the Arrow kernel (``_minhash_kernel``,
    no shuffle), then the 4 band keys hashed to ONE bigint
    (xxhash64(band, key)) so the band shuffle carries an 8-byte key,
    never the shingle arrays. A doc with no shingles gets all-M2 minima
    and self-buckets with other such docs, but its jaccard is NULL
    against anything, so the verified output is unchanged."""
    sigs = _minhash_kernel(ds)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.xxhash64("bk.band", "bk.key").alias("bk")
    )


def _jaccard(a: str, b: str):
    """Exact Jaccard of two shingle-array columns."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands x 4 rows) near-dup, exact-verified.

    Pipeline: per-row shingle -> minhash signature (array math, no
    shuffle) -> explode 4 band keys, hashed to ONE bigint
    (xxhash64(band, key)) -> self-join on the 8-byte bucket key
    (candidates) -> fetch the two docs' shingle arrays for the (small)
    candidate set only -> verify exact shingle Jaccard via
    array_intersect. The band shuffle carries only (bucket, doc_id) —
    never the shingle arrays — and signature computation is
    embarrassingly parallel; this is the shape that survives 100 TB."""
    ds = _doc_shingles(spark, sf_dir).cache()
    ex = _band_keys(ds)
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    da = ds.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    db = ds.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    joined = _bounded_broadcast(cand).join(da, "doc_a").join(db, "doc_b")
    jac = _jaccard("sha", "shb")
    return joined.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_VERIFY
    )


def _sql_minhash_bands() -> str:
    """The minhash oracles' head: shingle sets ``ds``, their hashes
    ``th``, the N_HASHES-wide signature ``sigs`` and one (doc_id, band,
    key) row per band in ``ex``."""
    sig = ",\n         ".join(
        f"list_min(list_transform(th, x -> {P.sql_perm(i, 'x')})) AS mh{i}"
        for i in range(N_HASHES)
    )
    parts = []
    for b in range(N_BANDS):
        key = " || '-' || ".join(
            f"mh{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        parts.append(f"SELECT doc_id, {b} AS band, {key} AS key FROM sigs")
    bands = "\nUNION ALL\n".join(parts)
    return f"""WITH ds AS ({_SQL_SHINGLES}),
th AS (SELECT doc_id, shingles, list_transform(shingles, s -> {P.sql_h1("s")}) AS th FROM ds),
sigs AS (
  SELECT doc_id, shingles,
         {sig}
  FROM th),
ex AS ({bands})"""


ORACLE_DEDUP_MINHASH_LSH = f"""
{_sql_minhash_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
verified AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / (len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
  FROM cand
  JOIN ds sa ON sa.doc_id = doc_a
  JOIN ds sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {JACCARD_VERIFY}
"""


# ---------------------------------------------------------------------------
# incremental (incoming-batch vs existing-corpus) near-dup
# ---------------------------------------------------------------------------

# deterministic batch split: ~20% of docs play the "incoming batch",
# the rest the already-ingested corpus (same portable hash-bucket rule
# as the sampling module's splits)
INCR_INCOMING_FROM = 80


def _best_lsh_match(
    inc_keys: DataFrame, ex_keys: DataFrame, new_sh: DataFrame, old_sh: DataFrame
) -> DataFrame:
    """(doc_new, doc_old, jaccard): the best existing match of every
    incoming doc. The incoming band keys probe the existing index on
    ``bk``, each candidate pair is verified by exact shingle Jaccard
    over the (doc_id, shingles) frames ``new_sh`` and ``old_sh``, and
    the highest jaccard per doc_new wins, ties to the lowest doc_old."""
    cand = (
        # the incoming batch is small BY CONTRACT, but gate the hint on
        # an actual count anyway — this demo's batch is a corpus
        # fraction, and a mis-sized batch should degrade to a shuffled
        # probe of the index, not kill the driver
        _bounded_broadcast(inc_keys.alias("i"))
        .join(ex_keys.alias("e"), F.col("i.bk") == F.col("e.bk"))
        .select(
            F.col("i.doc_id").alias("doc_new"),
            F.col("e.doc_id").alias("doc_old"),
        )
        .dropDuplicates(["doc_new", "doc_old"])
    )
    dn = new_sh.select(F.col("doc_id").alias("doc_new"), F.col("shingles").alias("shn"))
    do = old_sh.select(F.col("doc_id").alias("doc_old"), F.col("shingles").alias("sho"))
    verified = (
        _bounded_broadcast(cand)
        .join(dn, "doc_new")
        .join(do, "doc_old")
        .select("doc_new", "doc_old", _jaccard("shn", "sho").alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_VERIFY)
    )
    w = Window.partitionBy("doc_new").orderBy(F.desc("jaccard"), F.asc("doc_old"))
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_new", "doc_old", "jaccard")
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: which INCOMING documents near-dup an
    EXISTING document (MinHash-LSH candidates, exact-Jaccard verified)?

    This is the shape a production pipeline runs every batch: the
    existing corpus's band keys are a precomputed index (here: derived in
    the same plan; on a real lake they'd be a persisted table keyed by
    bucket), and the incoming batch — orders of magnitude smaller — is
    BROADCAST against one scan of that index, so no shuffle of the
    existing corpus happens at all. Incoming-vs-incoming pairs are
    deliberately out of scope (they get deduped when their batch lands).

    Output: one row per incoming doc that collides, with its best
    existing match (highest jaccard, ties to the lowest existing id).
    """
    ds = _doc_shingles(spark, sf_dir).cache()
    incoming_pred = (P.h1(F.col("doc_id").cast("string")) % 100) >= INCR_INCOMING_FROM
    # split before the signature kernel: a filter does not move below
    # mapInArrow, so filtering the band keys would sign every doc twice
    inc_keys = _band_keys(ds.filter(incoming_pred))
    ex_keys = _band_keys(ds.filter(~incoming_pred))
    return _best_lsh_match(inc_keys, ex_keys, ds, ds)


ORACLE_DEDUP_INCREMENTAL = f"""
{_sql_minhash_bands()},
cand AS (
  SELECT DISTINCT i.doc_id AS doc_new, e.doc_id AS doc_old
  FROM ex i JOIN ex e ON i.band = e.band AND i.key = e.key
  WHERE ({P.sql_h1("CAST(i.doc_id AS VARCHAR)")} % 100) >= {INCR_INCOMING_FROM}
    AND ({P.sql_h1("CAST(e.doc_id AS VARCHAR)")} % 100) < {INCR_INCOMING_FROM}),
verified AS (
  SELECT doc_new, doc_old,
         CAST(len(list_intersect(sn.shingles, so.shingles)) AS DOUBLE)
           / (len(sn.shingles) + len(so.shingles)
              - len(list_intersect(sn.shingles, so.shingles))) AS jaccard
  FROM cand
  JOIN ds sn ON sn.doc_id = doc_new
  JOIN ds so ON so.doc_id = doc_old),
ranked AS (
  SELECT doc_new, doc_old, jaccard,
         row_number() OVER (PARTITION BY doc_new
                            ORDER BY jaccard DESC, doc_old ASC) AS rn
  FROM verified WHERE jaccard >= {JACCARD_VERIFY})
SELECT doc_new, doc_old, jaccard FROM ranked WHERE rn = 1
"""


def q_dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental`` with the index actually PERSISTED — the
    production shape executed end-to-end instead of simulated in-plan
    (the in-plan variant's docstring notes "on a real lake they'd be a
    persisted table"; this query IS that lake roundtrip).

    Two parquet tables model the lake state for the EXISTING corpus:

    - ``bands``: the LSH band-key index (bk, doc_id) — what the nightly
      indexing job maintains;
    - ``shingles``: the shingle store (doc_id, shingles) — the
      verification-side fetch table.

    Build phase WRITES both; probe phase READS THEM BACK and computes
    nothing about the existing corpus in-plan — incoming-batch keys are
    broadcast against one scan of the stored index, candidates fetch
    existing shingles from the stored table only. Same output contract
    (and oracle) as ``dedup_incremental``, so the roundtrip is proven
    equal to the in-plan derivation by the same hash comparison.

    100 TB notes: write the band index partitioned/bucketed by ``bk`` so
    each probe prunes to touched buckets and the index side never
    re-shuffles; the shingle store bucketed by ``doc_id`` co-locates the
    verify join. Here both are plain parquet (the container has no
    catalog for bucketed saveAsTable) and the probe relies on the
    broadcast of the small batch instead — the same no-corpus-shuffle
    guarantee."""
    base = scratch_dir(spark, "lsh_index")
    ds = _doc_shingles(spark, sf_dir).cache()
    incoming_pred = (P.h1(F.col("doc_id").cast("string")) % 100) >= INCR_INCOMING_FROM
    existing = ds.filter(~incoming_pred)
    bands = _band_keys(existing)
    # ---- build: the batch indexing job (writes the lake state) ----
    bands.write.parquet(base + "/bands")
    existing.write.parquet(base + "/shingles")
    # ---- probe: only the STORED index + the incoming batch ----
    ex_keys = spark.read.schema(bands.schema).parquet(base + "/bands")
    store = spark.read.schema(existing.schema).parquet(base + "/shingles")
    inc = ds.filter(incoming_pred)
    return _best_lsh_match(_band_keys(inc), ex_keys, inc, store)


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------


def _simhash_kernel(toks: DataFrame, bits: int) -> DataFrame:
    """(doc_id, simhash) of a (doc_id, toks) table of distinct-token
    arrays, via a vectorized Arrow kernel.

    The token hash ``h2 = (h1*C1 + 911) mod M31`` and the per-bit vote
    count are exact integer arithmetic, but as Spark higher-order
    functions (``transform``/``aggregate``/``zip_with``) they are
    CodegenFallback, interpreted element by element. Here each Arrow
    batch hashes its flat token buffer once (``kernels.h1``) and takes
    ``bits`` ``np.add.reduceat`` passes over the hash stream: O(tokens)
    transients, no tokens x bits matrix. Only (doc_id, simhash) crosses
    the boundary.

    Exactness: ones[j] = count of tokens with bit j set, bit j of the
    fingerprint set iff 2*ones[j] > n — identical to ``P.h2`` + the fold
    (``tests/fold_references.py::simhash_fold``, pinned by
    ``tests/test_invariants.py::test_simhash_kernel_matches_fold``) and
    to the SQL oracle's list_sum votes. A null or empty token array
    yields fingerprint 0, as the fold does, and a null token counts in n
    with no votes, as in the fold."""
    assert 0 < bits <= 63, bits
    weights = np.int64(1) << np.arange(bits, dtype=np.int64)

    def kernel(batches):
        for batch in batches:
            tk = kernels.list_column(batch.column("toks"))
            h2 = (kernels.h1(tk.values) * P.C1 + 911) % P.M31
            h2[tk.null_values] = 0  # a null token votes for no bit
            out = np.zeros(len(tk.lens), np.int64)
            if tk.nz.size:
                ones = np.empty((tk.nz.size, bits), np.int64)
                for j in range(bits):
                    ones[:, j] = np.add.reduceat((h2 >> j) & 1, tk.seg)
                out[tk.nz] = ((2 * ones > tk.lens[tk.nz, None]) * weights).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(out)], names=["doc_id", "simhash"]
            )

    t = toks.schema["doc_id"].dataType.simpleString()
    return toks.select("doc_id", "toks").mapInArrow(kernel, f"doc_id {t}, simhash long")


def _doc_simhash(
    spark: SparkSession, sf_dir: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, simhash): distinct tokens as a Spark expression, then
    the token hash and per-bit vote count in the Arrow kernel (see
    ``_simhash_kernel``)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(_toks(F.col("text")))
    return _simhash_kernel(spread(docs).select("doc_id", toks.alias("toks")), bits)


def q_text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document simhash signature (the dedup key for hamming-distance
    clustering)."""
    return _doc_simhash(spark, sf_dir)


def _sql_simhash(tok_expr: str, bits: int = SIMHASH_BITS) -> str:
    terms = []
    for j in range(bits):
        terms.append(
            f"(CASE WHEN list_sum(list_transform(th, x -> 2*((x >> {j}) & 1) - 1)) > 0 "
            f"THEN {1 << j}::BIGINT ELSE 0 END)"
        )
    return (
        f"SELECT doc_id, ({' + '.join(terms)}) AS simhash FROM "
        f"(SELECT doc_id, list_transform(list_distinct({tok_expr}), t -> {P.sql_h2('t')}) AS th "
        f"FROM documents) s"
    )


ORACLE_TEXT_SIMHASH = _sql_simhash(_T)


# (offset, width) partition of the 31 signature bits into 4 disjoint
# blocks. By pigeonhole, two signatures at hamming distance <= 3 agree
# EXACTLY on at least one of the 4 blocks, so the union of the 4
# block-equality joins has guaranteed recall for HAMMING_MAX = 3
# (Manku/Charikar simhash dedup). At 100 TB you'd widen the fingerprint
# to 64 bits (16-bit blocks => 65k keys/block, smaller buckets) — the
# plan shape below is unchanged, only the hash width grows.
_SIMHASH_BLOCKS = [(0, 8), (8, 8), (16, 8), (24, 7)]

# The executable 100 TB recipe: 63-bit fingerprint (the full
# non-negative long range — bit 63 stays clear so shifts, compares and
# bit_count agree between Spark longs and the oracle's BIGINT), four
# ~16-bit blocks => up to 65k keys per block, so each block-equality
# bucket at a given corpus size is ~256x smaller than with 8-bit keys
# and the candidate join fans out proportionally less. Same pigeonhole
# recall argument (4 blocks, hamming <= 3).
SIMHASH_WIDE_BITS = 63
_SIMHASH_WIDE_BLOCKS = [(0, 16), (16, 16), (32, 16), (48, 15)]


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= 3, 4-block rotation.

    Candidate generation runs at DISTINCT-SIGNATURE granularity, not doc
    granularity: explode each distinct signature into its 4 bit-blocks,
    self-join on (block_id, block_key) (recall guaranteed by the
    pigeonhole argument on ``_SIMHASH_BLOCKS``), verify
    popcount(xor) <= HAMMING_MAX once per signature PAIR, then expand
    surviving pairs back to doc pairs through two equi-joins against the
    (doc_id, simhash) table. On a shared-vocabulary corpus signatures
    cluster hard (measured sf0.1: 5,000 docs -> 2,072 distinct sigs, and
    doc-level blocking enumerated 121M candidate pairs at the 10x
    replica vs 17.5M at sig level), so this cuts both the join fan-out
    and the hamming evaluations ~7x, and — because each doc carries
    exactly one signature — the expansion emits every output pair
    exactly once with NO distinct over the (quadratic-sized) doc-pair
    result; the only distinct is over the much smaller sig-pair set.
    Same-signature groups (hamming 0) pair within the group via the
    sig_a = sig_b branch. Output semantics identical to the doc-level
    formulation (same oracle)."""
    return _simhash_pairs(_doc_simhash(spark, sf_dir), _SIMHASH_BLOCKS)


def q_dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale variant of ``dedup_simhash``: 63-bit fingerprint,
    ~16-bit blocks (``_SIMHASH_WIDE_BLOCKS``). The plan shape is
    IDENTICAL to the 31-bit query — only the hash width and block keys
    grow — which is exactly the claim the 31-bit docstring makes about
    the 100 TB recipe; this entry makes that claim executable and
    oracle-checked. Wider blocks cut candidate fan-out (65k keys/block
    vs 256), at the cost of computing 63 bit-vote folds per doc instead
    of 31 — a per-row compute/shuffle trade that favors the wide form as
    the corpus grows."""
    return _simhash_pairs(
        _doc_simhash(spark, sf_dir, SIMHASH_WIDE_BITS), _SIMHASH_WIDE_BLOCKS
    )


def _sig_pairs_of_distinct(sigs: DataFrame, block_spec) -> DataFrame:
    """The candidate-generation + hamming-verify stage of the simhash
    family at DISTINCT-SIGNATURE granularity: (sig_a, sig_b, hamming)
    with sig_a <= sig_b (the sig_a = sig_b row carries same-signature
    doc groups), over an ALREADY-DISTINCT ``simhash`` column ``sigs``.
    Shared by the pair expansion (``_simhash_pairs``, which passes the
    distinct signatures of its pinned doc table) and the pair-free
    cluster rollup (graph.q_dedup_simhash_clusters, whose signature set
    is a pinned groupBy(simhash) aggregate, distinct by construction —
    so it skips a second full exchange over the signature table). The
    two consume this SMALL set in opposite ways: one multiplies it into
    doc pairs, one rolls it into cluster accounting without ever
    materializing a doc pair."""
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk_id"),
                F.shiftright(F.col("simhash"), off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("blk_key"),
            )
            for i, (off, width) in enumerate(block_spec)
        ]
    )
    ex = sigs.select("simhash", F.explode(blocks).alias("b")).select(
        "simhash", F.col("b.blk_id").alias("blk_id"), F.col("b.blk_key").alias("blk_key")
    )
    # The exploded distinct-signature stream is tiny in BYTES (0.3 MB at
    # sf1*), so AQE coalesces the self-join's exchanges to one partition
    # — but the join's work is intra-block PAIR volume, which blows up
    # quadratically per block key (stage-accounted at sf1*: 41 s of CPU
    # in a single task). Pin the join key partitioning at the session's
    # parallelism: AQE sizes by input bytes, this stage's cost is
    # candidate pairs.
    ex = ex.repartition(
        sigs.sparkSession.sparkContext.defaultParallelism, "blk_id", "blk_key"
    )
    a, b = ex.alias("a"), ex.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    sig_pairs = (
        a.join(
            b,
            (F.col("a.blk_id") == F.col("b.blk_id"))
            & (F.col("a.blk_key") == F.col("b.blk_key"))
            & (F.col("a.simhash") <= F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )
    return sig_pairs


def _simhash_pairs(sh: DataFrame, block_spec) -> DataFrame:
    """Candidate generation + hamming verify at distinct-signature
    granularity (see ``q_dedup_simhash``), expanded back to doc pairs,
    for any (offset, width) block partition of the fingerprint."""
    sh = sh.cache()
    sig_pairs = _sig_pairs_of_distinct(sh.select("simhash").distinct(), block_spec)
    # The signature-pair set is tiny (distinct signatures only), so AQE
    # coalesces its exchange to ~one partition — but the doc-expansion
    # joins below MULTIPLY it into tens of millions of pair rows, and
    # that one task would emit the whole output serially (stage-accounted
    # at sf1*: 44 s of dedup_simhash_wide's 60 s wall was a single-task
    # stage reading 0.3 MB and writing 23.5M rows). AQE sizes partitions
    # by input bytes; this stage's cost is output rows — spread the
    # expansion across the session's parallelism explicitly.
    sig_pairs = sig_pairs.repartition(
        sh.sparkSession.sparkContext.defaultParallelism
    )
    x = sh.select(F.col("doc_id").alias("dx"), F.col("simhash").alias("sig_a"))
    y = sh.select(F.col("doc_id").alias("dy"), F.col("simhash").alias("sig_b"))
    return (
        sig_pairs.join(x, "sig_a")
        .join(y, "sig_b")
        .filter((F.col("sig_a") < F.col("sig_b")) | (F.col("dx") < F.col("dy")))
        .select(
            F.least("dx", "dy").alias("doc_a"),
            F.greatest("dx", "dy").alias("doc_b"),
            "hamming",
        )
    )


def _sql_simhash_blocks(block_spec=_SIMHASH_BLOCKS) -> str:
    parts = [
        f"SELECT doc_id, simhash, {i} AS blk_id, "
        f"(simhash >> {off}) & {(1 << width) - 1} AS blk_key FROM sh"
        for i, (off, width) in enumerate(block_spec)
    ]
    return " UNION ALL ".join(parts)


def _sql_dedup_simhash(bits: int, block_spec) -> str:
    return f"""
WITH sh AS ({_sql_simhash(_T, bits)}),
ex AS ({_sql_simhash_blocks(block_spec)})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM ex a JOIN ex b
  ON a.blk_id = b.blk_id AND a.blk_key = b.blk_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


ORACLE_DEDUP_SIMHASH = _sql_dedup_simhash(SIMHASH_BITS, _SIMHASH_BLOCKS)
ORACLE_DEDUP_SIMHASH_WIDE = _sql_dedup_simhash(
    SIMHASH_WIDE_BITS, _SIMHASH_WIDE_BLOCKS
)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (baseline path; LSH-bucketed path in similarity.py)
# ---------------------------------------------------------------------------


# Above this row count the driver-side broadcast build (~0.5 KB/row at
# 64-dim float64 => ~0.5 GB at the limit) would exceed a sane broadcast
# budget; switch to the LSH-bucketed candidate path, which never
# collects the table. The score matmul inside the broadcast path is
# independently blocked to kernels.SCORE_BLOCK_BYTES per step, so
# executor memory stays bounded across the whole 0..1M-row window.
DEDUP_EMB_BROADCAST_MAX_ROWS = 1_000_000

# The "true near-dup" band for dedup_eval_embedding's recall_high: pairs
# at cosine >= 0.9 are the near-identical documents a dedup pipeline
# exists to delete — measured separately from recall at the low
# COSINE_DUP threshold, because sign-LSH keeps close pairs together far
# more reliably than 66-degree-apart ones.
COSINE_NEAR_IDENTICAL = 0.9


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= COSINE_DUP.

    Auto-switches on build-side size (parquet count is metadata-only):

    - <= DEDUP_EMB_BROADCAST_MAX_ROWS: exact all-pairs via the broadcast
      + blocked-BLAS path (``_dedup_embedding_broadcast``).
    - larger: LSH-bucketed candidates (``_dedup_embedding_bucketed``) —
      no driver-side collect anywhere; same exact cosine verify, with the
      documented recall trade of sign-random-projection bucketing.

    That recall trade is MEASURED by ``dedup_eval_embedding`` (round-11
    verdict #1): vs the exact path the bucketed path recalls 0.88 of
    near-identical pairs (cosine >= 0.9, clustered space — the regime
    the auto-switch targets) but only 0.28 of all pairs at the
    COSINE_DUP=0.4 contract threshold on a clustered space and 0.02-0.04
    on the isotropic corpus; see that query's docstring for the full
    table and the deployment rule.

    The registered oracle is the exact all-pairs SQL, which is the
    contract of the broadcast path (the one exercised at test SFs); the
    bucketed path has its own oracle-checked entry
    (``dedup_embedding_bucketed``)."""
    raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # count BEFORE spread(): on the bare parquet scan this is the
    # empty-schema/row-group-metadata count; after repartition it would
    # be a full scan + round-robin shuffle job at plan-build time.
    if raw.count() > DEDUP_EMB_BROADCAST_MAX_ROWS:
        return _dedup_embedding_bucketed(spread(raw))
    return _dedup_embedding_broadcast(spark, spread(raw))


def _dedup_embedding_broadcast(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Exact all-pairs cosine >= COSINE_DUP, broadcast flavor.

    One fused pass, the idiomatic Spark brute-force pattern (r11
    optimization round — guide §1.2, §2.4, §4.2): broadcast the (small)
    embedding matrix to every executor and score each partition's rows
    against it with blocked float64 BLAS inside ``mapInPandas``
    (``kernels.cosine_blocks``); BLAS hits above the threshold less
    ``kernels.MARGIN`` (which absorbs the summation-order difference
    between BLAS and an ordered fold, so no true pair is lost) are then
    re-scored IN THE KERNEL with the exact sequential fold — bit-identical
    to the oracle's list_dot_product over DOUBLE[] — and emitted with the
    exact cosine at the exact threshold. The fused kernel needs a single
    corpus scan with no joins and no candidate materialization (per-pair
    exact-fold cost is O(output), and output IS the near-dup pair list).

    A null or non-finite vector raises ``ValueError`` naming its vec_id;
    a zero-norm vector's pairs are excluded, as the oracle's NULL cosine
    drops them (pinned by test_zero_norm_embedding_pairs_are_excluded).

    Memory contract: the broadcast side must fit executor memory (same
    as any broadcast join — ~0.5 GB at the 1M-row switch point), and the
    dense score matrix is BLOCKED over build-side rows so each step
    materializes at most ``kernels.SCORE_BLOCK_BYTES`` (256 MB)
    regardless of N — an unblocked (arrow_batch x N) matrix would be
    ~80 GB per 10k-row batch at N=1M."""
    pdf = emb.toPandas()  # small side — this IS the broadcast build, as in any broadcast join
    ids = pdf["vec_id"].to_numpy(dtype="int64")
    mat = kernels.matrix(ids, pdf["embedding"], "vec_id")
    bc = spark.sparkContext.broadcast((ids, mat))
    block_bytes = kernels.SCORE_BLOCK_BYTES

    def _pairs(batches):
        b_ids, b_mat = bc.value
        b_rows = kernels.FoldRows(b_mat)
        for pb in batches:
            a_ids = pb["vec_id"].to_numpy(dtype="int64")
            a_mat = kernels.matrix(a_ids, pb["embedding"], "vec_id")
            a_rows = kernels.FoldRows(a_mat)
            out_a, out_b, out_c = [], [], []
            for lo, s in kernels.cosine_blocks(a_mat, b_mat, block_bytes):
                lower = a_ids[:, None] < b_ids[None, lo : lo + s.shape[1]]
                hit = lower & (s >= COSINE_DUP - kernels.MARGIN)
                for i, j in zip(*np.nonzero(hit)):
                    i, j = int(i), lo + int(j)
                    cos = a_rows.cosine(i, b_rows, j)
                    if cos >= COSINE_DUP:
                        out_a.append(a_ids[i])
                        out_b.append(b_ids[j])
                        out_c.append(cos)
            yield pd.DataFrame(
                {"vec_a": np.asarray(out_a, dtype="int64"),
                 "vec_b": np.asarray(out_b, dtype="int64"),
                 "cos_sim": np.asarray(out_c, dtype="float64")}
            )

    return emb.mapInPandas(_pairs, schema="vec_a long, vec_b long, cos_sim double")


ORACLE_DEDUP_EMBEDDING = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= {COSINE_DUP}
"""


def _dedup_embedding_bucketed(emb: DataFrame) -> DataFrame:
    """LSH-bucketed near-dup scale path: sign-random-projection bucket on
    deterministic hyperplanes, self-join within bucket only, exact
    ordered-fold cosine verify. Fully distributed — no collect, no
    broadcast of the corpus; the shuffle key is the 1-byte-entropy bucket
    plus Spark's hash partitioning of it. Bucket count (2**N_PLANES)
    controls the candidate-volume/recall trade: near-dups split by a
    hyperplane are missed, which is the documented LSH contract."""
    from tiny_mapreduce_rpc_server_spark.operators.similarity import _lsh_bucket

    # zero-norm vectors: cosine undefined — oracle drops the NULL pair,
    # ANSI Spark would throw in the in-bucket cosine; exclude the rows
    # (they can never be part of a kept pair in either engine)
    eb = emb.filter(dot(F.col("embedding"), F.col("embedding")) > 0).withColumn(
        "bucket", _lsh_bucket(F.col("embedding"))
    )
    a = eb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket")
    b = eb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("bucket").alias("bucket_b"))
    cos = cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_DUP)
    )


def q_dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed scale path of ``dedup_embedding``, registered in its
    own right so the driver oracle-checks it (the hyperplanes are
    deterministic integer-derived literals, so the bucket assignment —
    and therefore the exact candidate set — is reproducible in SQL)."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return _dedup_embedding_bucketed(emb)


def _oracle_dedup_embedding_bucketed() -> str:
    from tiny_mapreduce_rpc_server_spark.operators.similarity import _sql_bucket

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eb AS (SELECT vec_id, v, {_sql_bucket("v")} AS bucket FROM e)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         AS cos_sim
FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= {COSINE_DUP}
"""


def q_dedup_eval_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the sign-LSH BUCKETED embedding-dedup path measured
    against the exact broadcast path — on BOTH the real (isotropic)
    corpus and a deterministically clustered derivation (round-11
    verdict #1: the bucketed path is the one ``q_dedup_embedding``'s
    auto-switch ALWAYS takes at 100 TB, and until this query its only
    oracle was implementation-equality, blind to the near-dup pairs the
    bucketing splits).

    Two rows (corpus = 'isotropic' | 'clustered'), each the exact
    pair-set vs bucketed pair-set confusion summary at TWO thresholds:
    the engine's COSINE_DUP=0.4 contract (n_exact/n_bucketed/n_common/
    recall) and the near-identical band cosine >= COSINE_NEAR_IDENTICAL
    =0.9 (n_exact_high/n_common_high/recall_high — the pairs a dedup
    pipeline exists to delete). Bucketed pairs are a SUBSET of exact
    pairs by construction (same exact-cosine verify on a candidate
    subset), so n_common == n_bucketed and precision is identically 1 —
    recall is the measured quantity.

    Measured (sf0.01 / sf0.1, N_PLANES=8):

    - isotropic recall 0.017 / 0.042 (1-of-59, 39-of-920); the corpus
      has ZERO cosine>=0.9 pairs, so recall_high is NULL there.
    - clustered recall 0.284 / 0.289 — most qualifying pairs in even a
      clustered space sit in the moderate-cosine band the hyperplanes
      split (a 0.4-cosine pair is ~66 degrees apart; each of 8 planes
      separates it with p ~ 0.37).
    - clustered recall_high 0.881 / 0.882 — near-identical pairs DO
      survive bucketing (at cosine ~0.99 each plane splits with
      p ~ 0.03), which is the regime the 100 TB auto-switch actually
      targets.

    Deployment rule: the bucketed path is an honest substitute for the
    broadcast path only for near-identical duplicates; a low-threshold
    sweep over an isotropic space must use banded MinHash (text) or the
    exact path. Mirrors the ``ann_eval_recall`` /
    ``ann_eval_recall_clustered`` bracket, but for the dedup candidate
    set instead of top-k neighbors."""
    from tiny_mapreduce_rpc_server_spark.operators.similarity import (
        clustered_eval_embeddings,
    )

    def eval_on(emb: DataFrame, label: str) -> DataFrame:
        exact = _dedup_embedding_broadcast(spark, emb).select(
            "vec_a", "vec_b", F.col("cos_sim").alias("cos_e")
        )
        buck = _dedup_embedding_bucketed(emb).select(
            "vec_a", "vec_b", F.lit(1).alias("in_b")
        )
        hi = F.col("cos_e") >= COSINE_NEAR_IDENTICAL
        hit = F.col("in_b").isNotNull()
        j = exact.join(buck, ["vec_a", "vec_b"], "full")
        return j.agg(
            F.lit(label).alias("corpus"),
            F.count("cos_e").alias("n_exact"),
            F.count("in_b").alias("n_bucketed"),
            F.count(F.when(F.col("cos_e").isNotNull() & hit, 1)).alias("n_common"),
            F.count(F.when(hi, 1)).alias("n_exact_high"),
            F.count(F.when(hi & hit, 1)).alias("n_common_high"),
        ).select(
            "corpus",
            "n_exact",
            "n_bucketed",
            "n_common",
            (F.col("n_common").cast("double") / F.col("n_exact")).alias("recall"),
            "n_exact_high",
            "n_common_high",
            F.when(
                F.col("n_exact_high") > 0,
                F.col("n_common_high").cast("double") / F.col("n_exact_high"),
            ).alias("recall_high"),
        )

    iso = spread(load_table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    clu = clustered_eval_embeddings(spark, sf_dir).localCheckpoint(eager=False)
    return eval_on(iso, "isotropic").unionAll(eval_on(clu, "clustered"))


def _oracle_dedup_eval_embedding() -> str:
    from tiny_mapreduce_rpc_server_spark.operators.similarity import (
        _sql_bucket,
        sql_clustered_eval_embeddings,
    )

    cos = (
        "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
        "* sqrt(list_dot_product(b.v, b.v)))"
    )

    def block(src: str, label: str) -> str:
        # src is referenced by both the all-pairs and the bucketed CTE:
        # MATERIALIZED stops DuckDB's 2^n CTE re-inlining
        return f"""
{label}_bkt AS (SELECT vec_id, v, {_sql_bucket("v")} AS bucket FROM {src}),
{label}_e AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb, {cos} AS c
  FROM {src} a JOIN {src} b ON a.vec_id < b.vec_id
  WHERE {cos} >= {COSINE_DUP}),
{label}_b AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM {label}_bkt a JOIN {label}_bkt b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {cos} >= {COSINE_DUP}),
{label}_r AS (
  SELECT '{label}' AS corpus,
         count(*) FILTER (WHERE e.va IS NOT NULL) AS n_exact,
         count(*) FILTER (WHERE b.va IS NOT NULL) AS n_bucketed,
         count(*) FILTER (WHERE e.va IS NOT NULL AND b.va IS NOT NULL)
           AS n_common,
         count(*) FILTER (WHERE e.va IS NOT NULL AND b.va IS NOT NULL)::DOUBLE
           / count(*) FILTER (WHERE e.va IS NOT NULL) AS recall,
         count(*) FILTER (WHERE e.c >= {COSINE_NEAR_IDENTICAL})
           AS n_exact_high,
         count(*) FILTER (WHERE e.c >= {COSINE_NEAR_IDENTICAL}
                          AND b.va IS NOT NULL) AS n_common_high,
         CASE WHEN count(*) FILTER (WHERE e.c >= {COSINE_NEAR_IDENTICAL}) > 0
              THEN count(*) FILTER (WHERE e.c >= {COSINE_NEAR_IDENTICAL}
                                    AND b.va IS NOT NULL)::DOUBLE
                   / count(*) FILTER (WHERE e.c >= {COSINE_NEAR_IDENTICAL})
              END AS recall_high
  FROM {label}_e e FULL JOIN {label}_b b ON e.va = b.va AND e.vb = b.vb)"""

    return f"""
WITH isotropic_src AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
clustered_src AS MATERIALIZED ({sql_clustered_eval_embeddings()}),
{block("isotropic_src", "isotropic")},
{block("clustered_src", "clustered")}
SELECT * FROM isotropic_r UNION ALL SELECT * FROM clustered_r
"""


# ---------------------------------------------------------------------------
# Spark-idiomatic scale path: pyspark.ml MinHashLSH (rows-only check)
# ---------------------------------------------------------------------------


def q_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH from pyspark.ml — the built-in, cluster-scale variant
    (approxSimilarityJoin). Not oracle-expressible (its hash family is
    Spark-internal), so the driver records a rows-only check; the
    portable-SQL variant above is the hash-matched one."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    ds = _doc_shingles(spark, sf_dir).filter(F.size("shingles") > 0)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(ds)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 1.0 - JACCARD_VERIFY, "jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.col("jaccard_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination check
# ---------------------------------------------------------------------------


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data hygiene: flag corpus documents sharing any 3-gram
    shingle with a held-out benchmark set (here: source='src0' plays the
    benchmark/eval corpus; everything else is training data).

    Shape: the benchmark shingle set is tiny relative to the corpus, so
    it BROADCASTS against the exploded training shingles — at 100 TB this
    is one corpus scan with a map-side hash probe, no fact-side shuffle
    except the final per-doc count (which partial-aggregates map-side).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # cache: the shingle computation feeds both the benchmark-set build
    # and the training-side probe — without it the corpus tokenizes
    # twice. The pin holds xxhash64(shingle) ARRAYS, not the strings
    # (r11 optimization round, same rewrite as _shingle_intersections):
    # hashing happens once at cache build, the cached rows shrink to
    # 8 bytes/shingle, and both branches explode longs. Probe keys are
    # the same 8-byte hashes as before (collision argument as in
    # q_dedup_ngram_jaccard).
    ds = (
        _doc_shingles(spark, sf_dir)
        .join(docs, "doc_id")
        .select(
            "doc_id",
            "source",
            F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs"),
        )
        .cache()
    )
    bench = (
        ds.filter(F.col("source") == "src0")
        .select(F.explode("hs").alias("s"))
        .distinct()
    )
    train = ds.filter(F.col("source") != "src0")
    ex = train.select("doc_id", F.explode("hs").alias("s"))
    shared = (
        ex.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    n_shared = F.coalesce("n_shared", F.lit(0))
    return (
        train.select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            n_shared.alias("n_shared"),
            (n_shared > 0).alias("contaminated"),
        )
    )


ORACLE_CONTAMINATION_CHECK = f"""
WITH ds AS ({_SQL_SHINGLES}),
d AS (SELECT ds.doc_id, shingles, source
      FROM ds JOIN documents USING (doc_id)),
bench AS (SELECT DISTINCT unnest(shingles) AS s FROM d WHERE source = 'src0'),
train AS (SELECT doc_id, shingles FROM d WHERE source <> 'src0'),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM train),
shared AS (SELECT doc_id, count(*) AS n_shared
           FROM ex JOIN bench USING (s) GROUP BY doc_id)
SELECT t.doc_id,
       COALESCE(n_shared, 0) AS n_shared,
       COALESCE(n_shared, 0) > 0 AS contaminated
FROM train t LEFT JOIN shared USING (doc_id)
"""


def q_dedup_eval_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline QA: recall/precision of the MinHash-LSH candidate path
    measured against the exact inverted-index Jaccard pairs — the
    monitoring query a production dedup pipeline runs when tuning band
    count or the verify threshold (a silent recall drop deletes the
    wrong documents at 100 TB, so this number ships with the pipeline).

    One full-outer join of the two pair sets (both deterministic; both
    independently oracle-checked elsewhere), then a single-row summary.
    The oracle recomputes BOTH algorithms in SQL, so the eval itself is
    exact, not a sampled estimate.
    """
    e = q_dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_e")
    )
    l = q_dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_l")
    )
    j = e.join(l, ["doc_a", "doc_b"], "full")
    return j.agg(
        F.count("in_e").alias("n_exact"),
        F.count("in_l").alias("n_lsh"),
        F.count(F.when(F.col("in_e").isNotNull() & F.col("in_l").isNotNull(), 1)).alias(
            "n_common"
        ),
    ).select(
        "n_exact",
        "n_lsh",
        "n_common",
        (F.col("n_common").cast("double") / F.col("n_exact")).alias("recall"),
        (F.col("n_common").cast("double") / F.col("n_lsh")).alias("precision"),
    )


def _oracle_dedup_eval_minhash() -> str:
    return f"""
WITH e AS (SELECT doc_a, doc_b FROM ({ORACLE_DEDUP_NGRAM_JACCARD})),
l AS (SELECT doc_a, doc_b FROM ({ORACLE_DEDUP_MINHASH_LSH})),
j AS (
  SELECT COALESCE(e.doc_a, l.doc_a) AS doc_a,
         (e.doc_a IS NOT NULL) AS in_e,
         (l.doc_a IS NOT NULL) AS in_l
  FROM e FULL JOIN l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
SELECT count(*) FILTER (WHERE in_e) AS n_exact,
       count(*) FILTER (WHERE in_l) AS n_lsh,
       count(*) FILTER (WHERE in_e AND in_l) AS n_common,
       count(*) FILTER (WHERE in_e AND in_l)::DOUBLE
         / count(*) FILTER (WHERE in_e) AS recall,
       count(*) FILTER (WHERE in_e AND in_l)::DOUBLE
         / count(*) FILTER (WHERE in_l) AS precision
FROM j
"""


CONTAIN_THRESHOLD = 0.5  # shingle containment: |A∩B| / min(|A|,|B|)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B| / min(|A|,|B|) —
    the quote/excerpt detector. Jaccard misses a short doc fully
    embedded in a long one (union is dominated by the long doc);
    containment is the right normalization for that case, and the pair
    additionally reports WHICH side is the contained one.

    Same scale shape as ``q_dedup_ngram_jaccard``: per-row shingling,
    DF-capped inverted index, 8-byte-hash equi-join, division only on
    the surviving candidate pairs. The two queries share the shingle
    scan; only the final normalization differs.
    """
    joined, _ = _shingle_intersections(spark, sf_dir)
    cont = F.col("i") / F.least(F.col("na"), F.col("nb"))
    return (
        joined.select(
            "doc_a",
            "doc_b",
            cont.alias("containment"),
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
        .filter(F.col("containment") >= CONTAIN_THRESHOLD)
    )


ORACLE_DEDUP_CONTAINMENT = f"""
WITH {_SQL_INTER_CTES}
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / least(sa.n, sb.n) AS containment,
       CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS contained_doc
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / least(sa.n, sb.n) >= {CONTAIN_THRESHOLD}
"""


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus forensics: which SOURCES duplicate each other? Near-dup
    pairs (exact shingle Jaccard >= verify threshold, same pipeline as
    q_dedup_ngram_jaccard) are rolled up into a source x source matrix —
    pair counts and mean jaccard per unordered source pair. The diagonal
    (within-source duplication) is the mirror/boilerplate signal; the
    off-diagonal reveals scrape-of-a-scrape lineage between feeds.

    Rollup cost is proportional to surviving PAIRS, not the corpus: two
    dimension-sized joins to fetch sources, one tiny aggregate."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    labeled = pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        F.least("sa", "sb").alias("source_x"),
        F.greatest("sa", "sb").alias("source_y"),
        "jaccard",
    )
    from tiny_mapreduce_rpc_server_spark.functions import davg

    return labeled.groupBy("source_x", "source_y").agg(
        F.count("*").alias("n_pairs"), davg("jaccard", "mean_jaccard")
    )


ORACLE_SOURCE_OVERLAP_MATRIX = f"""
WITH {_SQL_INTER_CTES},
pairs AS (
  SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(sa.n + sb.n - i) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= {JACCARD_VERIFY}),
labeled AS (
  SELECT least(da.source, db.source) AS source_x,
         greatest(da.source, db.source) AS source_y, jaccard
  FROM pairs
  JOIN documents da ON da.doc_id = doc_a
  JOIN documents db ON db.doc_id = doc_b)
SELECT source_x, source_y, count(*) AS n_pairs,
       CAST(sum(CAST(jaccard AS DECIMAL(38,6))) AS DOUBLE) / count(*)
         AS mean_jaccard
FROM labeled
GROUP BY 1, 2
"""


DEDUP_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "source_overlap_matrix",
        q_source_overlap_matrix,
        ORACLE_SOURCE_OVERLAP_MATRIX,
    ),
    QuerySpec(
        "dedup_containment",
        q_dedup_containment,
        ORACLE_DEDUP_CONTAINMENT,
        bench=True,
    ),
    QuerySpec(
        "dedup_eval_minhash",
        q_dedup_eval_minhash,
        _oracle_dedup_eval_minhash(),
    ),
    QuerySpec(
        "contamination_check",
        q_contamination_check,
        ORACLE_CONTAMINATION_CHECK,
        bench=True,
    ),
    QuerySpec("dedup_exact", q_dedup_exact, ORACLE_DEDUP_EXACT),
    QuerySpec("dedup_exact_hash", q_dedup_exact_hash, ORACLE_DEDUP_EXACT_HASH),
    QuerySpec("dedup_substring", q_dedup_substring, ORACLE_DEDUP_SUBSTRING),
    QuerySpec(
        "dedup_substring_anchored",
        q_dedup_substring_anchored,
        ORACLE_DEDUP_SUBSTRING_ANCHORED,
    ),
    QuerySpec("dedup_ngram_jaccard", q_dedup_ngram_jaccard, ORACLE_DEDUP_NGRAM_JACCARD, bench=True),
    QuerySpec("dedup_minhash_lsh", q_dedup_minhash_lsh, ORACLE_DEDUP_MINHASH_LSH, bench=True),
    QuerySpec("dedup_incremental", q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL),
    QuerySpec(
        "dedup_incremental_persisted",
        q_dedup_incremental_persisted,
        ORACLE_DEDUP_INCREMENTAL,
    ),
    QuerySpec("text_simhash", q_text_simhash, ORACLE_TEXT_SIMHASH),
    QuerySpec("dedup_simhash", q_dedup_simhash, ORACLE_DEDUP_SIMHASH),
    QuerySpec("dedup_simhash_wide", q_dedup_simhash_wide, ORACLE_DEDUP_SIMHASH_WIDE),
    QuerySpec("dedup_embedding", q_dedup_embedding, ORACLE_DEDUP_EMBEDDING, bench=True),
    QuerySpec(
        "dedup_embedding_bucketed",
        q_dedup_embedding_bucketed,
        _oracle_dedup_embedding_bucketed(),
    ),
    QuerySpec(
        "dedup_eval_embedding",
        q_dedup_eval_embedding,
        _oracle_dedup_eval_embedding(),
    ),
    QuerySpec("dedup_minhash_ml", q_dedup_minhash_ml, None),
]


# --- URL canonicalization dedup ([EXT]) -------------------------------

# Tracking parameters stripped by the canonicalizer (the CommonCrawl /
# scrape-pipeline convention: analytics junk that never changes content).
_URL_TRACKING_RE = r"^(utm_[^=]*|ref|fbclid|gclid)="


def canonicalize_url(url):
    """Canonical form of a URL column — the reusable library surface
    behind ``dedup_url_canonical`` (apply it to any real URL column):

      1. strip the fragment
      2. lowercase scheme + host
      3. strip the default port (443/https, 80/http), keep others
      4. strip a leading ``www.``
      5. drop tracking params (``_URL_TRACKING_RE``), SORT survivors,
         reassemble

    Guard rails (the contract on non-vanilla inputs):

    - no ``://`` present -> the RAW url is returned unchanged (a
      scheme-less string is not a URL this canonicalizer understands;
      silently "canonicalizing" it would corrupt it);
    - authority containing ``[`` (IPv6 literal) or ``@`` (userinfo) ->
      the authority passes through VERBATIM (no case fold, no port or
      www strip — the naive ``:`` split would mis-parse both), while
      fragment/tracking-param/param-sort canonicalization still applies.

    Pure built-in string expressions (split_part/lower/regexp/
    array_sort) — whole-stage codegen, no Python, shuffle-free.
    Idempotent, including both guard branches:
    canonicalize_url(canonicalize_url(u)) == canonicalize_url(u)
    (property-tested in tests/test_invariants.py).
    """
    u1 = F.split_part(url, F.lit("#"), F.lit(1))
    scheme = F.lower(F.split_part(u1, F.lit("://"), F.lit(1)))
    rest = F.split_part(u1, F.lit("://"), F.lit(2))
    authority = F.split_part(rest, F.lit("/"), F.lit(1))
    pathq = F.substring(rest, F.length(authority) + 1, F.lit(2147483647))
    host = F.lower(F.split_part(authority, F.lit(":"), F.lit(1)))
    port = F.split_part(authority, F.lit(":"), F.lit(2))
    host_n = F.regexp_replace(host, r"^www\.", "")
    path = F.split_part(pathq, F.lit("?"), F.lit(1))
    qs = F.split_part(pathq, F.lit("?"), F.lit(2))
    kept = F.array_join(
        F.array_sort(
            F.filter(F.split(qs, "&"), lambda x: ~x.rlike(_URL_TRACKING_RE))
        ),
        "&",
    )
    portpart = F.when(
        (port == "")
        | ((scheme == "https") & (port == "443"))
        | ((scheme == "http") & (port == "80")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    # IPv6 literals ([::1]:8080) and userinfo (user:pass@host) would
    # both mis-parse through the ':' split — pass the authority through
    # verbatim for them (ADVICE r7)
    authpart = F.when(
        authority.contains("[") | authority.contains("@"), authority
    ).otherwise(F.concat(host_n, portpart))
    canonical = F.concat(
        scheme,
        F.lit("://"),
        authpart,
        path,
        F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
    )
    return F.when(~url.contains("://"), url).otherwise(canonical)


def registrable_domain(url):
    """Registrable domain of a (canonical) URL column under the public
    suffix list — the PSL matching algorithm over an embedded ICANN
    rule subset (functions/psl.py; production swaps in the full
    ``public_suffix_list.dat`` via ``psl.load_psl_file``, everything
    else unchanged). Returns NULL — never '' — when the URL has no
    registrable domain: IP literals (v4 and bracketed v6), single-label
    hosts (``localhost``), bare public suffixes. Scheme-less inputs are
    read as ``authority[/...]`` (the sane parse of ``example.com/x``);
    userinfo is dropped before the host parse."""
    rest = F.when(
        url.contains("://"), F.split_part(url, F.lit("://"), F.lit(2))
    ).otherwise(url)
    authority = F.split_part(rest, F.lit("/"), F.lit(1))
    # userinfo: everything after the LAST '@' is the hostport
    hostport = F.element_at(F.split(authority, "@"), -1)
    host = F.lower(F.split_part(hostport, F.lit(":"), F.lit(1)))
    return F.when(
        hostport.contains("["), F.lit(None).cast("string")
    ).otherwise(psl.registrable_domain_of_host(host))


def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + duplicate accounting — the scrape-lineage
    dedup every crawl pipeline runs BEFORE fetching/processing content
    (company to ``source_overlap_matrix``'s content-level view).

    The documents table carries no URL column, so each doc derives a
    deterministic *messy* URL from (doc_id, source, lang) — uppercase
    schemes/hosts, default :443 ports, www prefixes, shuffled query
    params, tracking junk (utm_*/ref/fbclid), fragments — and the
    operator's substance is the canonicalizer:

      1. strip fragment
      2. lowercase scheme + host
      3. strip default port (443 for https, 80 for http), keep others
      4. strip a leading ``www.``
      5. drop tracking params, SORT the survivors, reassemble
      6. extract the registrable domain (public-suffix rule: one extra
         label before a multi-label suffix like ``co.uk``)

    Output: per registrable domain — n_urls, n_canonical (distinct after
    canonicalization), n_dupes, and the lexicographically-first canonical
    URL (pins the exact canonical strings in the value-hash).

    100 TB shape: every canonicalization step is a built-in string
    expression (split_part/lower/regexp/array_sort) — whole-stage
    codegen, zero Python, zero shuffle until the final rollup, which
    pre-aggregates on (domain, canonical) so a hot domain never funnels
    raw URLs through one reducer; the shuffle carries only the distinct
    canonical set (== the dedup output itself).

    No reference counterpart (SURVEY §2.11 — [EXT] training-pipeline
    operator).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    messy = _with_messy_url(docs)
    # the hot path uses the BROADCAST rule-table join form
    # (psl.with_registrable_domain): the column-expression cascade
    # inlines the rule sets into the plan (~1s fixed plan-build/codegen
    # cost, growing with the rule table), while the join form keeps the
    # rules in a 4-column broadcast relation — three broadcast hash
    # joins on the host's label tails, zero shuffle, rule-table size
    # independent. canonical_url is aliased into its own projection
    # first (expression-materialization rule) so the host parse
    # references a column, not 25 inlined copies of the canonicalizer.
    urls0 = messy.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canonical_url")
    )
    urls = psl.with_registrable_domain(
        urls0.withColumn("_host", _host_of_canonical()), "_host"
    ).drop("_host")
    per_canonical = urls.groupBy("registrable_domain", "canonical_url").agg(
        F.count("*").alias("n")
    )
    return per_canonical.groupBy("registrable_domain").agg(
        F.sum("n").alias("n_urls"),
        F.count("*").alias("n_canonical"),
        (F.sum("n") - F.count("*")).alias("n_dupes"),
        F.min("canonical_url").alias("sample_canonical"),
    )


def _host_of_canonical(col: str = "canonical_url"):
    """Lowercased host of an already-canonical URL column (IPv6-literal
    authorities map to '' — no registrable domain)."""
    rest = F.split_part(F.col(col), F.lit("://"), F.lit(2))
    authority = F.split_part(rest, F.lit("/"), F.lit(1))
    hostport = F.element_at(F.split(authority, "@"), -1)
    return F.when(hostport.contains("["), F.lit("")).otherwise(
        F.lower(F.split_part(hostport, F.lit(":"), F.lit(1)))
    )


def _with_messy_url(docs: DataFrame) -> DataFrame:
    """Deterministic *messy* URL per doc (the documents table carries no
    URL column): uppercase schemes/hosts, default :443 ports, www
    prefixes, real subdomains, shuffled query params, tracking junk,
    fragments — the raw-crawl shape the canonicalizer exists for."""
    d = F.col("doc_id")
    # host: per-source site, sometimes uppercased / www-prefixed / on a
    # real subdomain (blog. survives canonicalization; the
    # registrable-domain rollup still folds it into the site)
    host = F.concat(
        F.when(d % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.lit("blog.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(d % 3 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
    )
    return docs.withColumn(
        "url",
        F.concat(
            F.when(d % 5 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
            F.lit("://"),
            F.when(d % 7 == 0, F.upper(host)).otherwise(host),
            F.when(d % 11 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/article/"),
            (d % 4).cast("string"),
            # query string: the kept param is page=(doc_id%4); order and
            # tracking junk vary so canonicalization has real work
            F.when(d % 4 == 1, F.concat(F.lit("?utm_source=feed&page="), (d % 4).cast("string")))
            .when(d % 4 == 2, F.concat(F.lit("?sort=asc&page="), (d % 4).cast("string"), F.lit("&utm_campaign=c")))
            .when(d % 4 == 3, F.concat(F.lit("?ref="), d.cast("string"), F.lit("&page="), (d % 4).cast("string"), F.lit("&fbclid=x")))
            .otherwise(F.concat(F.lit("?page="), (d % 4).cast("string"))),
            F.when(d % 3 == 1, F.concat(F.lit("#sec-"), (d % 6).cast("string"))).otherwise(F.lit("")),
        ),
    )


# messy-URL CTE + canonicalization stages, shared by every URL-operator
# oracle (must stay in lockstep with _with_messy_url / canonicalize_url)
_SQL_MESSY_CTE = r"""messy AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'https' END)
         || '://'
         || (CASE WHEN doc_id % 7 = 0
             THEN upper((CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
                        || (CASE WHEN doc_id % 13 = 0 THEN 'blog.' ELSE '' END)
                        || source
                        || (CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END))
             ELSE (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
                  || (CASE WHEN doc_id % 13 = 0 THEN 'blog.' ELSE '' END)
                  || source
                  || (CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END)
             END)
         || (CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END)
         || '/article/' || CAST(doc_id % 4 AS VARCHAR)
         || (CASE
             WHEN doc_id % 4 = 1 THEN '?utm_source=feed&page=' || CAST(doc_id % 4 AS VARCHAR)
             WHEN doc_id % 4 = 2 THEN '?sort=asc&page=' || CAST(doc_id % 4 AS VARCHAR) || '&utm_campaign=c'
             WHEN doc_id % 4 = 3 THEN '?ref=' || CAST(doc_id AS VARCHAR) || '&page=' || CAST(doc_id % 4 AS VARCHAR) || '&fbclid=x'
             ELSE '?page=' || CAST(doc_id % 4 AS VARCHAR)
             END)
         || (CASE WHEN doc_id % 3 = 1 THEN '#sec-' || CAST(doc_id % 6 AS VARCHAR) ELSE '' END)
         AS url
  FROM documents)"""

# canonicalization stages p0..p5 + the canonical/registrable-domain
# projection (reads the `messy` CTE, yields the `urls` CTE)
_SQL_CANON_STAGES = r"""p0 AS (SELECT doc_id, split_part(url, '#', 1) AS u1 FROM messy),
p1 AS (
  SELECT doc_id, u1,
         lower(split_part(u1, '://', 1)) AS scheme,
         split_part(u1, '://', 2) AS rest
  FROM p0),
p2 AS (
  SELECT *, split_part(rest, '/', 1) AS authority,
         substring(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
  FROM p1),
p3 AS (
  SELECT *,
         lower(split_part(authority, ':', 1)) AS host,
         split_part(authority, ':', 2) AS port,
         split_part(pathq, '?', 1) AS path,
         split_part(pathq, '?', 2) AS qs
  FROM p2),
p4 AS (
  SELECT *,
         regexp_replace(host, '^www\.', '') AS host_n,
         array_to_string(
           list_sort(list_filter(str_split(qs, '&'),
                     x -> NOT regexp_matches(x, '^(utm_[^=]*|ref|fbclid|gclid)='))),
           '&') AS kept,
         (CASE WHEN port = ''
                 OR (scheme = 'https' AND port = '443')
                 OR (scheme = 'http' AND port = '80')
               THEN '' ELSE ':' || port END) AS portpart
  FROM p3),
p5 AS (SELECT *, str_split(host_n, '.') AS hlabels FROM p4),
urls AS (
  SELECT doc_id,
         scheme || '://' || host_n || portpart || path
           || (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) AS canonical_url,
         """ + psl.sql_registrable_domain("hlabels", "len(hlabels)") + r""" AS registrable_domain
  FROM p5)"""

ORACLE_DEDUP_URL_CANONICAL = (
    "WITH " + _SQL_MESSY_CTE + ",\n" + _SQL_CANON_STAGES + r""",
per_canonical AS (
  SELECT registrable_domain, canonical_url, count(*) AS n
  FROM urls GROUP BY registrable_domain, canonical_url)
SELECT registrable_domain,
       sum(n)::BIGINT AS n_urls,
       count(*)::BIGINT AS n_canonical,
       (sum(n) - count(*))::BIGINT AS n_dupes,
       min(canonical_url) AS sample_canonical
FROM per_canonical
GROUP BY registrable_domain
"""
)

DEDUP_QUERIES.append(
    QuerySpec(
        "dedup_url_canonical",
        q_dedup_url_canonical,
        ORACLE_DEDUP_URL_CANONICAL,
        bench=True,
    )
)


# --- domain blocklist filter ([EXT]) ----------------------------------

# Blocked registrable domains (the crawl-pipeline convention: blocklists
# name REGISTRABLE domains, and a block covers every subdomain —
# blog.src3.com falls with src3.com). One entry never matches: the
# accounting must prove absent domains block nothing.
BLOCKLIST_DOMAINS = ["src3.com", "src7.co.uk", "src12.com", "spam.example"]


def q_filter_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering — the source-hygiene gate a crawl
    pipeline runs before any content processing (licensing takedowns,
    spam domains, opt-out lists).

    Semantics: a blocklist entry is a REGISTRABLE domain (PSL rules, so
    ``src3.com`` also blocks ``blog.src3.com`` and ``www.src3.com`` —
    subdomain folding is the whole point of matching at the registrable
    level, not the raw host). Docs derive the same deterministic messy
    URL as ``dedup_url_canonical``; each is canonicalized, its
    registrable domain extracted via the broadcast PSL rule-table join,
    then LEFT-joined against the broadcast blocklist.

    Output pins both sides of the filter: per registrable domain —
    blocked flag, n_docs, n_hosts (distinct canonical hosts folded into
    the domain, proving subdomain coverage), sample_host. The kept
    corpus is exactly the ``NOT blocked`` rows.

    100 TB shape: canonicalization + host parse are whole-stage-codegen
    string exprs; PSL and blocklist are two broadcast joins (a
    million-entry blocklist is ~30 MB — broadcastable; past that it
    becomes one more shuffle join on the domain key); the rollup
    pre-aggregates on (domain, host) so a hot domain never funnels raw
    rows through one reducer.

    No reference counterpart (SURVEY §2.11 — [EXT] training-pipeline
    operator).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    urls0 = _with_messy_url(docs).select(
        "doc_id", canonicalize_url(F.col("url")).alias("canonical_url")
    )
    hosts = psl.with_registrable_domain(
        urls0.withColumn("host", _host_of_canonical()), "host"
    )
    bl = spark.createDataFrame(
        [(d,) for d in BLOCKLIST_DOMAINS], "blocked_domain string"
    )
    flagged = hosts.join(
        F.broadcast(bl),
        F.col("registrable_domain") == F.col("blocked_domain"),
        "left",
    ).select(
        "registrable_domain",
        "host",
        F.col("blocked_domain").isNotNull().alias("blocked"),
    )
    per_host = flagged.groupBy("registrable_domain", "blocked", "host").agg(
        F.count("*").alias("n")
    )
    return per_host.groupBy("registrable_domain", "blocked").agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_hosts"),
        F.min("host").alias("sample_host"),
    )


_SQL_BLOCKLIST = ", ".join(f"('{d}')" for d in BLOCKLIST_DOMAINS)

ORACLE_FILTER_DOMAIN_BLOCKLIST = (
    "WITH " + _SQL_MESSY_CTE + ",\n" + _SQL_CANON_STAGES + f""",
bl(blocked_domain) AS (VALUES {_SQL_BLOCKLIST}),
flagged AS (
  SELECT u.registrable_domain, p5.host_n AS host,
         bl.blocked_domain IS NOT NULL AS blocked
  FROM urls u
  JOIN p5 USING (doc_id)
  LEFT JOIN bl ON u.registrable_domain = bl.blocked_domain),
per_host AS (
  SELECT registrable_domain, blocked, host, count(*) AS n
  FROM flagged GROUP BY 1, 2, 3)
SELECT registrable_domain, blocked,
       sum(n)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_hosts,
       min(host) AS sample_host
FROM per_host
GROUP BY registrable_domain, blocked
"""
)

DEDUP_QUERIES.append(
    QuerySpec(
        "filter_domain_blocklist",
        q_filter_domain_blocklist,
        ORACLE_FILTER_DOMAIN_BLOCKLIST,
    )
)
