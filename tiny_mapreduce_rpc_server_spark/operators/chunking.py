"""Context-window chunking + tokenizer-training statistics.

[EXT beyond the reference — SURVEY §2 has no text surface at all; these
are the two missing halves of the LLM-prep story around the existing
``sampling.sequence_packing`` (which packs whole documents *up* to a
token budget): ``doc_chunking`` splits documents *down* into overlapping
context windows, and ``bpe_pair_stats`` computes the adjacent-pair
frequency table that one merge step of byte-pair-encoding tokenizer
training consumes.]

Scale shape:

- ``doc_chunking`` is a per-row ``sequence``/``explode`` over token
  arrays — no shuffle at all; output rows ≈ n_tokens/stride per doc.
  At 100 TB the chunker runs map-side and streams straight into a
  partitioned sink; chunk ids are derived (doc_id, start), so the op is
  deterministic and restart-safe.
- ``bpe_pair_stats`` is explode → groupBy(pair) → count: one shuffle
  whose key space is bounded by the alphabet squared (a few thousand
  keys for ASCII text), so the partial/final HashAggregate collapses
  almost everything map-side. This is the exact aggregation profile of
  real BPE trainer counting passes at corpus scale.

Both stay entirely inside whole-stage codegen (array expressions, no
UDF). Chunk sizes are module constants scaled to the synthetic docs
(~55 tokens); production values (512/448 etc.) are a config change, not
a plan change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import portable as P
from tiny_mapreduce_rpc_server_spark.sources import load_table, spread
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

# Window of CHUNK_TOKENS tokens every CHUNK_STRIDE tokens (overlap =
# CHUNK_TOKENS - CHUNK_STRIDE), the sliding-window rule HF tokenizers'
# return_overflowing_tokens uses: starts at every multiple of the stride
# below n_tokens, short tail windows included.
CHUNK_TOKENS = 24
CHUNK_STRIDE = 16

# Top-K adjacent pairs reported by the BPE counting pass (deterministic
# tie-break on the pair string itself).
BPE_TOP_PAIRS = 30


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunks of every document.

    Emits one row per (doc, window start): ``chunk_id`` = start/stride,
    the chunk text, and its token count. Pure map-side — the sequence of
    starts and the token slice are row-local array expressions.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    # token array materialized once per row (projection boundary keeps
    # the split from being re-evaluated per reference)
    sized = docs.select(
        "doc_id", P.tokens(F.col("text")).alias("t")
    ).select("doc_id", "t", F.size("t").alias("n"))
    ch = sized.where(F.col("n") > 0).select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("t"), F.col("start") + 1, F.lit(CHUNK_TOKENS))
    return ch.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


ORACLE_DOC_CHUNKING = f"""
WITH sized AS (
  SELECT doc_id, t, len(t) AS n
  FROM (SELECT doc_id, {P.sql_tokens("text")} AS t FROM documents)
  WHERE len(t) > 0
)
SELECT doc_id,
       (start // {CHUNK_STRIDE})::INT AS chunk_id,
       len(list_slice(t, start + 1, start + {CHUNK_TOKENS}))::INT AS n_chunk_tokens,
       array_to_string(list_slice(t, start + 1, start + {CHUNK_TOKENS}), ' ') AS chunk_text
FROM sized, UNNEST(range(0, n, {CHUNK_STRIDE})) AS u(start)
"""


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies (one BPE merge
    counting pass), top-{K} by count with a deterministic tie-break.

    Words of length < 2 contribute no pairs (guarded explicitly — Spark's
    ``sequence(1, 0)`` would otherwise produce a *descending* sequence).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(F.explode(P.tokens(F.col("text"))).alias("w")).where(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


ORACLE_BPE_PAIR_STATS = f"""
WITH words AS (
  SELECT unnest({P.sql_tokens("text")}) AS w FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i::INT, 2))) AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, count(*) AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {BPE_TOP_PAIRS}
"""


# Number of BPE merge rounds trained by q_bpe_train_merges. Fixed and
# small so the oracle can unroll the same loop as chained CTEs.
BPE_MERGE_ROUNDS = 6

# Single-task trainer gate (r12, same pattern as graph.CC_LOCAL_MAX_EDGES):
# below this many word TYPES the whole greedy merge loop runs as ONE
# executor-side kernel (_bpe_train_local) instead of BPE_MERGE_ROUNDS
# driver-round argmax jobs — the per-round scheduler floor (~0.3-0.4 s)
# dominated the benched trainer, whose type table is thousands of rows.
# The kernel maintains pair counts INCREMENTALLY (retract/re-add only the
# words containing the merged pair — the same delta rule as the
# distributed _bpe_train, which bpe_train_scaled proves equal to full
# recount), so its cost is ~1.3x one counting pass over the type table;
# at the gate that is a few hundred ms and well under the distributed
# loop's 6-round scheduler cost. Above the gate — real-corpus
# vocabularies are word TYPES, which can reach tens of millions — the
# distributed loop (_bpe_train) runs.
BPE_LOCAL_MAX_TYPES = 200_000

# Symbol-boundary markers for the merge-string representation. A word is
# stored as "[t][h][e]"; merging (l, r) is then the LITERAL replacement
# "[l][r]" -> "[lr]", whose occurrences can never share characters, so
# both engines' left-to-right non-overlapping replace() implements exactly
# the greedy merge rule BPE trainers use (for "a a a", one merge of (a,a)
# yields [aa, a], not [aa, aa]).
_BPE_L, _BPE_R = "[", "]"

# the merge table every trainer returns, one row per merge step
_BPE_MERGES_SCHEMA = (
    "step int, lhs string, rhs string, merged string, pair_count bigint"
)


def _bpe_word_freq(spark: SparkSession, sf_dir: str):
    """(word, count) over the corpus — the table real BPE trainers build
    ONCE so the merge loop runs over word TYPES, not the 100 TB corpus.
    Words containing the boundary markers are excluded (identically in
    the oracle) so the bracket representation stays unambiguous."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(P.tokens(F.lower(F.col("text")))).alias("w"))
        .where(~F.col("w").rlike(r"[\[\]]"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def _bpe_vocab0(wf: DataFrame) -> DataFrame:
    """Initial symbol table: every word as its bracket representation."""
    return wf.select(
        "w",
        F.regexp_replace("w", "(.)", f"{_BPE_L}$1{_BPE_R}").alias("s"),
        "cnt",
    )


def _bpe_train_local(vocab: DataFrame, mode: str) -> DataFrame:
    """The greedy merge loop in ONE executor task over a SMALL (gated)
    word-type table — the same single-task pattern as graph._cc_local.

    Exactness vs the distributed loop: counts are Python ints (exact,
    and equal to the long sums), the argmax tie-break is min over
    (-total, (lhs, rhs)) = (count DESC, lhs ASC, rhs ASC) with Python
    code-point string order = Spark UTF8 binary order, and
    ``str.replace`` is the same left-to-right non-overlapping rule as
    Spark's ``replace`` and DuckDB's (module constants _BPE_L/_BPE_R
    make occurrences non-overlapping by construction). Pair counts are
    maintained incrementally — retract the affected words' old pairs,
    re-add their new ones, DROP zero entries (a recount would not
    contain them) — which is the delta rule ``q_bpe_train_scaled``
    certifies equal to full recounting via the shared oracle.

    ``mode``: "merges" yields the merge table (the q_bpe_train_merges
    output contract); "vocab" yields the final (w, s, cnt) symbol table
    (what q_bpe_encode aggregates)."""
    import pandas as pd

    def pairs_of(s: str):
        sym = s[1:-1].split(_BPE_R + _BPE_L)
        return [(sym[i], sym[i + 1]) for i in range(len(sym) - 1)]

    def kernel(batches):
        ws: list = []
        ss: list = []
        cs: list = []
        for pdf in batches:
            ws.extend(pdf["w"])
            ss.extend(pdf["s"])
            cs.extend(int(c) for c in pdf["cnt"])
        tot: dict = {}
        for s, c in zip(ss, cs):
            for p in pairs_of(s):
                tot[p] = tot.get(p, 0) + c
        merges: list[tuple[int, str, str, str, int]] = []
        for step in range(1, BPE_MERGE_ROUNDS + 1):
            if not tot:
                break
            (lhs, rhs), total = min(
                tot.items(), key=lambda kv: (-kv[1], kv[0])
            )
            merges.append((step, lhs, rhs, lhs + rhs, total))
            pat = f"{_BPE_L}{lhs}{_BPE_R}{_BPE_L}{rhs}{_BPE_R}"
            rep = f"{_BPE_L}{lhs}{rhs}{_BPE_R}"
            for i, s in enumerate(ss):
                if pat not in s:
                    continue
                c = cs[i]
                for p in pairs_of(s):
                    q = tot[p] - c
                    if q > 0:
                        tot[p] = q
                    else:
                        del tot[p]
                s2 = s.replace(pat, rep)
                ss[i] = s2
                for p in pairs_of(s2):
                    tot[p] = tot.get(p, 0) + c
        if mode == "merges":
            yield pd.DataFrame(
                merges,
                columns=["step", "lhs", "rhs", "merged", "pair_count"],
            )
        else:
            yield pd.DataFrame({"w": ws, "s": ss, "cnt": cs})

    schema = _BPE_MERGES_SCHEMA if mode == "merges" else "w string, s string, cnt bigint"
    return vocab.coalesce(1).mapInPandas(kernel, schema)


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training: ``BPE_MERGE_ROUNDS`` greedy merges.

    The classic trainer loop (Sennrich et al. 2016), Spark-shaped:

    - ONE corpus pass builds the (word, count) table; it is materialized
      (localCheckpoint) and every round runs over word types weighted by
      count — the standard trick that makes BPE training
      corpus-size-independent after the first pass.
    - Below ``BPE_LOCAL_MAX_TYPES`` word types the whole merge loop runs
      as one executor-side kernel (``_bpe_train_local``) — one job
      instead of one argmax job per round; the gate count reads the
      partitions the localCheckpoint just materialized.
    - Above the gate the distributed pair-delta loop (``_bpe_train``)
      runs: the argmax winner of a maintained pair-count table — an
      aggregated SCALAR, like a k-means loss — is collected each round
      and folded into the next round's plan as literals.
    - Ties break on (count DESC, lhs ASC, rhs ASC) so training is fully
      deterministic; counts are exact integers. Both paths implement
      exactly this rule (same oracle).

    Output: one row per merge step — the learned merge table.
    """
    wf = _bpe_word_freq(spark, sf_dir).localCheckpoint(eager=False)
    if wf.count() <= BPE_LOCAL_MAX_TYPES:
        return _bpe_train_local(_bpe_vocab0(wf), "merges")
    _, merges = _bpe_train(wf)
    return spark.createDataFrame(merges, _BPE_MERGES_SCHEMA)


def _bpe_pairs_weighted(df: DataFrame, sign: int = 1):
    """(lhs, rhs, total) adjacent-symbol pair counts of a (s, cnt)
    symbol table, weighted by ``sign * cnt`` — the building block of the
    pair-delta trainer (negative sign retracts a word's old pairs). Words
    of one symbol have no pair."""
    sym = F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\]\[")
    pairs = df.where(F.size(sym) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(sym) - 1),
                lambda i: F.struct(
                    F.element_at(sym, i).alias("lhs"),
                    F.element_at(sym, i + 1).alias("rhs"),
                ),
            )
        ).alias("p"),
        "cnt",
    )
    return pairs.groupBy("p.lhs", "p.rhs").agg(
        F.sum(F.col("cnt") * F.lit(sign)).alias("total")
    )


def _bpe_train(wf: DataFrame):
    """The distributed merge loop over a (w, cnt) word-type table, with
    INCREMENTAL pair counts. Returns the final vocab DataFrame (w, s,
    cnt) and the merge list.

    The (lhs, rhs, total) pair-count table is maintained across rounds
    (Sennrich et al.'s incremental counting, the shape HF tokenizers use
    in RAM — here a distributed table):

    - each round's aggregation touches only the AFFECTED word types
      (those whose symbol string contains the merged pair) — retract
      their old pairs with negative weights, add their new pairs
      positively, fold into the running table (union + partial-agg +
      positive filter);
    - the argmax winner is a 1-row collect over the pair table, which is
      vocabulary-sized, never corpus- or type-table-sized;
    - per-round localCheckpoint keeps both the pair table's and the
      vocab's lineage O(1) deep (without it, round k replays rounds
      1..k-1 — the same trap as the CC loop).

    Exactness: deltas recount the affected words' WHOLE strings (not
    local edits), so the maintained table equals the from-scratch
    aggregation after every round, integer-exact, identical tie-breaks
    (count DESC, lhs ASC, rhs ASC)."""
    vocab = _bpe_vocab0(wf).localCheckpoint(eager=False)
    pc = _bpe_pairs_weighted(vocab).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, BPE_MERGE_ROUNDS + 1):
        win = pc.orderBy(F.desc("total"), "lhs", "rhs").limit(1).collect()
        if not win:
            break
        lhs, rhs, total = win[0]["lhs"], win[0]["rhs"], win[0]["total"]
        merges.append((step, lhs, rhs, lhs + rhs, int(total)))
        pat = F.lit(f"{_BPE_L}{lhs}{_BPE_R}{_BPE_L}{rhs}{_BPE_R}")
        rep = F.lit(f"{_BPE_L}{lhs}{rhs}{_BPE_R}")
        affected = vocab.where(
            F.col("s").contains(f"{_BPE_L}{lhs}{_BPE_R}{_BPE_L}{rhs}{_BPE_R}")
        )
        new_aff = affected.withColumn("s", F.replace(F.col("s"), pat, rep))
        deltas = _bpe_pairs_weighted(affected, -1).unionByName(
            _bpe_pairs_weighted(new_aff, 1)
        )
        pc = (
            pc.unionByName(deltas)
            .groupBy("lhs", "rhs")
            .agg(F.sum("total").alias("total"))
            .where(F.col("total") > 0)
            .localCheckpoint(eager=False)
        )
        vocab = vocab.withColumn(
            "s", F.replace(F.col("s"), pat, rep)
        ).localCheckpoint(eager=False)
    return vocab, merges


def q_bpe_train_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training by the distributed pair-delta loop (``_bpe_train``)
    at every corpus size — the trainer real (10k+ merge) runs need, run
    here without ``q_bpe_train_merges``'s single-task gate. Same output
    contract, same oracle (an unrolled full recount per round), so the
    hash comparison certifies delta == full recount.

    A full recount re-aggregates the adjacent pairs of EVERY word type
    per round (cost ~ total symbol volume x merges); the delta loop's
    aggregate cost over a run is O(total pair-delta volume) ~= O(initial
    symbol volume) — the difference between quadratic and near-linear
    for a 10k-merge tokenizer. Measured at the sf1* replica (310 word
    types — a synthetic-vocab fixture) against a per-round recount:
    WALL-CLOCK is equal (a 48-merge run: 23.4 s recount vs 24.0 s delta;
    both are scheduler-round-bound at this tiny type-table size), but
    the per-round aggregation VOLUME — the term that grows with a real
    corpus — shrinks from 100% of types per round to the affected
    fraction: 16% at round 1, 6% at round 12, 3% at round 24+. The
    48-merge tables were identical."""
    wf = _bpe_word_freq(spark, sf_dir).cache()
    try:
        _, merges = _bpe_train(wf)
        return spark.createDataFrame(merges, _BPE_MERGES_SCHEMA)
    finally:
        wf.unpersist()


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the trained BPE merges and report the
    compression: total corpus tokens after merging vs characters before,
    weighted by word frequency — the fertility/compression numbers a
    tokenizer ships with.

    The encode itself is the trained vocab table (word type -> final
    symbol segmentation); a corpus-scale encode is then a broadcast join
    of that table onto the token stream, so the expensive part stays
    vocabulary-sized. Aggregates are integer-exact; the single
    chars-per-token division is one IEEE op. The trainer is the same
    size-gated loop as q_bpe_train_merges (single-task kernel under
    BPE_LOCAL_MAX_TYPES word types, ``_bpe_train`` above)."""
    wf = _bpe_word_freq(spark, sf_dir).localCheckpoint(eager=False)
    if wf.count() <= BPE_LOCAL_MAX_TYPES:
        vocab = _bpe_train_local(_bpe_vocab0(wf), "vocab")
    else:
        vocab, _ = _bpe_train(wf)
    sym = F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\]\[")
    row = (
        vocab.select(
            "cnt",
            F.length("w").alias("nc"),
            F.size(sym).alias("n_syms"),
        )
        .agg(
            F.count("*").alias("n_word_types"),
            F.sum("cnt").alias("total_words"),
            F.sum(F.col("nc") * F.col("cnt")).alias("total_chars"),
            F.sum(F.col("n_syms") * F.col("cnt")).alias("total_tokens"),
        )
        .collect()[0]
    )
    out = spark.createDataFrame(
        [
            (
                row["n_word_types"],
                row["total_words"],
                row["total_chars"],
                row["total_tokens"],
            )
        ],
        "n_word_types bigint, total_words bigint, total_chars bigint,"
        " total_tokens bigint",
    )
    return out.withColumn(
        "chars_per_token", F.col("total_chars") / F.col("total_tokens")
    )


def _bpe_ctes() -> str:
    """Unroll the identical merge loop as chained CTEs (shared by the
    train and encode oracles; ``w`` rides along for the encode's
    per-word accounting)."""
    ctes = [
        "words AS (SELECT unnest({toks}) AS w FROM documents)".format(
            toks=P.sql_tokens("lower(text)")
        ),
        "wf AS (SELECT w, count(*) AS cnt FROM words"
        " WHERE NOT regexp_matches(w, '[\\[\\]]') GROUP BY w)",
        "v0 AS (SELECT w, regexp_replace(w, '(.)', '[\\1]', 'g') AS s, cnt FROM wf)",
    ]
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        ctes.append(
            f"c{r} AS (SELECT sym[i] AS lhs, sym[i+1] AS rhs, sum(cnt) AS total"
            f" FROM (SELECT string_split(substr(s, 2, length(s) - 2), '][') AS sym,"
            f" cnt FROM v{r - 1}) t, UNNEST(range(1, len(sym))) AS u(i)"
            f" GROUP BY 1, 2)"
        )
        ctes.append(
            f"w{r} AS (SELECT lhs, rhs, total FROM c{r}"
            f" ORDER BY total DESC, lhs, rhs LIMIT 1)"
        )
        ctes.append(
            f"v{r} AS (SELECT w, replace(s, '[' || lhs || '][' || rhs || ']',"
            f" '[' || lhs || rhs || ']') AS s, cnt FROM v{r - 1}, w{r})"
        )
    return "WITH " + ",\n".join(ctes)


def _bpe_train_oracle() -> str:
    steps = " UNION ALL ".join(
        f"SELECT {r} AS step, lhs, rhs, lhs || rhs AS merged,"
        f" total AS pair_count FROM w{r}"
        for r in range(1, BPE_MERGE_ROUNDS + 1)
    )
    return (
        _bpe_ctes()
        + "\nSELECT CAST(step AS INT) AS step, lhs, rhs, merged,"
        + " CAST(pair_count AS BIGINT) AS pair_count FROM ("
        + steps
        + ") z"
    )


ORACLE_BPE_TRAIN_MERGES = _bpe_train_oracle()

ORACLE_BPE_ENCODE = (
    _bpe_ctes()
    + f"""
SELECT count(*) AS n_word_types,
       CAST(sum(cnt) AS BIGINT) AS total_words,
       CAST(sum(length(w) * cnt) AS BIGINT) AS total_chars,
       CAST(sum(len(string_split(substr(s, 2, length(s) - 2), '][')) * cnt)
            AS BIGINT) AS total_tokens,
       CAST(sum(length(w) * cnt) AS BIGINT)
         / CAST(sum(len(string_split(substr(s, 2, length(s) - 2), '][')) * cnt)
                AS BIGINT) AS chars_per_token
FROM v{BPE_MERGE_ROUNDS}
"""
)


CHUNKING_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "doc_chunking",
        q_doc_chunking,
        ORACLE_DOC_CHUNKING,
    ),
    QuerySpec(
        "bpe_pair_stats",
        q_bpe_pair_stats,
        ORACLE_BPE_PAIR_STATS,
    ),
    QuerySpec(
        "bpe_train_merges",
        q_bpe_train_merges,
        ORACLE_BPE_TRAIN_MERGES,
        bench=True,
    ),
    QuerySpec(
        "bpe_train_scaled",
        q_bpe_train_scaled,
        ORACLE_BPE_TRAIN_MERGES,
    ),
    QuerySpec(
        "bpe_encode",
        q_bpe_encode,
        ORACLE_BPE_ENCODE,
    ),
]
