"""[EXT] Text analysis over the documents table.

No reference counterpart (the reference's only text operation is splitting
lines — ``LineRecordReader.h:96-119``); these are the text-pipeline
operators a training-data pipeline needs: token statistics, quality
scoring, language-ID heuristics, document fingerprinting.

Everything is built-in column expressions (whole-stage codegen, no UDFs),
so each operator scales linearly with a parquet scan: no shuffle except
the final per-doc aggregation, which groups on doc_id — already unique,
so partial aggregation collapses it map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import portable as P
from tiny_mapreduce_rpc_server_spark.sources import load_table, spread
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec

# shared token-class regex for the BPE-ish tokenizer count
_RE_TOKEN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

STOPWORDS = ("the", "a", "of", "to", "in", "and", "is", "on")

# language marker words -> predicted language (argmax, ties broken by the
# fixed CASE order en < de < es < fr < zh; all-zero scores -> 'und')
LANG_MARKERS = {
    "en": ("the", "a", "is", "and", "of"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "es", "y"),
    "fr": ("le", "la", "les", "est", "et"),
    "zh": ("de", "shi", "he", "zai", "le"),
}


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens, distinct tokens, a
    BPE-ish regex token count, and character length."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # token array materialized once per row (multiple references keep the
    # projection boundary — see dedup._doc_shingles)
    d = docs.select(
        "doc_id",
        P.tokens(F.col("text")).alias("t"),
        F.regexp_count(F.col("text"), F.lit(_RE_TOKEN)).alias("n_re_tokens"),
        F.length("text").alias("n_chars_actual"),
    )
    return d.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
        "n_re_tokens",
        "n_chars_actual",
    )


ORACLE_TOKEN_STATS = f"""
SELECT doc_id,
       len({P.sql_tokens("text")}) AS n_tokens,
       len(list_distinct({P.sql_tokens("text")})) AS n_distinct,
       len(regexp_extract_all(text, '{_RE_TOKEN}')) AS n_re_tokens,
       length(text) AS n_chars_actual
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword/distinctness ratios combined into
    a single score — the cheap heuristics used to filter web corpora."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # stage-wise materialization: tokens once per row, then the counts
    # once, then the ratios — the single-projection form re-inlined the
    # tokenizer into every count and every ratio reference
    d = docs.select(
        "doc_id",
        P.tokens(F.col("text")).alias("t"),
        F.length("text").alias("n_chars"),
    )
    m = d.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.size(F.filter(F.col("t"), lambda w: w.isin(*STOPWORDS))).alias("n_stop"),
        F.size(F.array_distinct("t")).alias("n_dist"),
        "n_chars",
    )
    n_tok = F.col("n_tok")
    avg_len = F.col("n_chars").cast("double") / n_tok
    stop_ratio = F.col("n_stop").cast("double") / n_tok
    dist_ratio = F.col("n_dist").cast("double") / n_tok
    score = stop_ratio * 0.25 + dist_ratio * 0.5 + F.least(avg_len / 10.0, F.lit(1.0)) * 0.25
    return m.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        dist_ratio.alias("distinct_ratio"),
        avg_len.alias("avg_token_len"),
        score.alias("quality"),
    )


_T = P.sql_tokens("text")
ORACLE_QUALITY_SCORE = f"""
WITH t AS (
  SELECT doc_id,
         len({_T}) AS n_tokens,
         len(list_filter({_T}, w -> w IN ({_sql_list(STOPWORDS)}))) AS n_stop,
         len(list_distinct({_T})) AS n_dist,
         length(text) AS n_chars
  FROM documents)
SELECT doc_id, n_tokens,
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(n_dist AS DOUBLE) / n_tokens AS distinct_ratio,
       CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
       (CAST(n_stop AS DOUBLE) / n_tokens) * 0.25
         + (CAST(n_dist AS DOUBLE) / n_tokens) * 0.5
         + least((CAST(n_chars AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.25 AS quality
FROM t
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic; output is the confusion matrix
    against the labeled ``lang`` column."""
    docs = spread(load_table(spark, sf_dir, "documents"))

    def _in_set(ws: tuple[str, ...]):
        # closure factory: a default arg (lambda w, ws=ws: ...) would make
        # PySpark's lambda introspection think this is a 2-ary function
        return lambda w: w.isin(*ws)

    # two materialization stages: the token array once per row, then the
    # five marker scores once — the argmax conditions below reference each
    # score ~5 times, which would otherwise re-inline tokenize+filter into
    # every comparison (~50 evaluations per row)
    toked = docs.select("lang", P.tokens(F.col("text")).alias("t"))
    scored = toked.select(
        "lang",
        *[
            F.size(F.filter(F.col("t"), _in_set(ws))).alias(f"s_{lang}")
            for lang, ws in LANG_MARKERS.items()
        ],
    )
    scores = {lang: F.col(f"s_{lang}") for lang in LANG_MARKERS}
    # argmax with ties won by the earlier language in LANG_MARKERS order:
    # lang wins if score>0, strictly beats every earlier lang, and >= later
    order = list(LANG_MARKERS)
    pred = F.lit("und")
    for lang in reversed(order):
        cond = scores[lang] > 0
        for o in order:
            if order.index(o) < order.index(lang):
                cond = cond & (scores[lang] > scores[o])
            elif o != lang:
                cond = cond & (scores[lang] >= scores[o])
        pred = F.when(cond, lang).otherwise(pred)
    return (
        scored.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


def _sql_lang_scores() -> str:
    cols = ",\n         ".join(
        f"len(list_filter({_T}, w -> w IN ({_sql_list(ws)}))) AS s_{lang}"
        for lang, ws in LANG_MARKERS.items()
    )
    return cols


def _sql_lang_pred() -> str:
    order = list(LANG_MARKERS)
    whens = []
    for lang in order:
        conds = [f"s_{lang} > 0"]
        for o in order:
            if order.index(o) < order.index(lang):
                conds.append(f"s_{lang} > s_{o}")
            elif o != lang:
                conds.append(f"s_{lang} >= s_{o}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


ORACLE_LANG_ID = f"""
WITH s AS (
  SELECT doc_id, lang,
         {_sql_lang_scores()}
  FROM documents)
SELECT lang, {_sql_lang_pred()} AS pred_lang, count(*) AS n
FROM s GROUP BY 1, 2
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional document fingerprint: order-sensitive weighted sum of
    token hashes (a rolling-hash-style signature; equal fingerprints =>
    near-certain duplicate content *in the same order*)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = P.tokens(F.col("text"))
    terms = F.transform(
        toks, lambda w, i: P.h1(w) * (((i + 1) * F.lit(P.C1)) % 997 + 1)
    )
    # modulo folded into the fold: the accumulator stays < M31 and each
    # step < 2^42, so the int64 never wraps — congruent (mod M31) to the
    # oracle's exact HUGEINT sum for documents of ANY length, where a
    # plain long sum would silently wrap past ~4M tokens.
    fp = F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: (a + x) % P.M31)
    return docs.select("doc_id", fp.alias("fingerprint"))


ORACLE_FINGERPRINT = f"""
WITH t AS (
  SELECT doc_id,
         unnest({_T}) AS w,
         unnest(range(1, len({_T})+1)) AS p
  FROM documents)
SELECT doc_id,
       CAST(COALESCE(sum({P.sql_h1("w")} * ((p*{P.C1}) % 997 + 1)), 0) % {P.M31}
            AS BIGINT) AS fingerprint
FROM t GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Repetition filter (Gopher-style quality rule)
# ---------------------------------------------------------------------------


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals + keep/drop flag (Gopher-style):
    duplicate-word fraction, top-word fraction, duplicate-bigram fraction.

    All list expressions — per-row, shuffle-free, whole-stage codegen.
    The top-word frequency is a single O(n log n) pass: sort the token
    array, then the longest equal-run length IS the top word's count —
    one ``aggregate`` fold, no O(distinct x tokens) rescan and no
    explode/groupBy shuffle. ``bigrams`` is aliased into its own
    projection before being referenced twice (expression-materialization
    rule), so the array is built once per row. Thresholds: keep iff
    dup_word_frac <= 0.5 AND top_word_frac <= 0.3 AND
    dup_2gram_frac <= 0.35."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = P.tokens(F.lower(F.col("text")))
    d = docs.select("doc_id", t.alias("t"))
    n = F.size("t")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at("t", i), F.lit(" "), F.element_at("t", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    # Longest run in the sorted array == max term frequency. prev starts
    # NULL so the first element always opens a run of 1 (tokens are
    # non-empty strings, but NULL-compare is the safe sentinel anyway).
    def _run(acc, x):
        r = F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            r.alias("run"),
            F.greatest(acc["best"], r).alias("best"),
        )

    max_freq = F.aggregate(
        F.array_sort("t"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _run,
        lambda acc: acc["best"],
    )
    d = d.select(
        "doc_id",
        n.alias("n_words"),
        F.size(F.array_distinct("t")).alias("nd"),
        bigrams.alias("bg"),
        max_freq.alias("max_freq"),
    )
    d = d.select(
        "doc_id",
        "n_words",
        "nd",
        F.size("bg").alias("n2"),
        F.size(F.array_distinct("bg")).alias("n2d"),
        "max_freq",
    )
    dup_word = F.when(
        F.col("n_words") > 0,
        (F.col("n_words") - F.col("nd")) / F.col("n_words"),
    ).otherwise(F.lit(0.0))
    top_word = F.when(
        F.col("n_words") > 0, F.col("max_freq") / F.col("n_words")
    ).otherwise(F.lit(0.0))
    dup_bi = F.when(
        F.col("n2") > 0, (F.col("n2") - F.col("n2d")) / F.col("n2")
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        "n_words",
        dup_word.alias("dup_word_frac"),
        top_word.alias("top_word_frac"),
        dup_bi.alias("dup_2gram_frac"),
        (
            (dup_word <= 0.5) & (top_word <= 0.3) & (dup_bi <= 0.35)
        ).alias("keep"),
    )


_TL = P.sql_tokens("lower(text)")

ORACLE_REPETITION_FILTER = f"""
WITH d AS (SELECT doc_id, {_TL} AS t FROM documents),
m AS (
  SELECT doc_id,
         len(t) AS n_words,
         len(list_distinct(t)) AS nd,
         CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END AS n2,
         CASE WHEN len(t) >= 2 THEN len(list_distinct(
           list_transform(generate_series(1, len(t)-1),
                          i -> t[i] || ' ' || t[i+1])))
         ELSE 0 END AS n2d,
         list_max(list_transform(list_distinct(t),
                                 w -> len(list_filter(t, x -> x = w))))
           AS max_freq
  FROM d)
SELECT doc_id, n_words,
       CASE WHEN n_words > 0 THEN (n_words - nd) / n_words ELSE 0.0 END
         AS dup_word_frac,
       CASE WHEN n_words > 0 THEN max_freq / n_words ELSE 0.0 END
         AS top_word_frac,
       CASE WHEN n2 > 0 THEN (n2 - n2d) / n2 ELSE 0.0 END AS dup_2gram_frac,
       (CASE WHEN n_words > 0 THEN (n_words - nd) / n_words ELSE 0.0 END) <= 0.5
       AND (CASE WHEN n_words > 0 THEN max_freq / n_words ELSE 0.0 END) <= 0.3
       AND (CASE WHEN n2 > 0 THEN (n2 - n2d) / n2 ELSE 0.0 END) <= 0.35
         AS keep
FROM m
"""


# ---------------------------------------------------------------------------
# BM25-style retrieval scoring
# ---------------------------------------------------------------------------

# fixed "query" for the retrieval operator
BM25_TERMS = ("hash", "join", "vector")
_BM25_K1 = 1.2


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style lexical retrieval: score every document against a fixed
    term set and return the matches.

    The idf factor uses the BM25 ratio (N - df + 0.5)/(df + 0.5) WITHOUT
    the log — +,*,/ are correctly-rounded IEEE ops, so the score is
    bit-identical across engines, while log/ln may differ in the last ulp
    between libm implementations. Ranking order is unchanged (the map is
    monotone).

    Shape: per-doc tf's are list expressions (no shuffle); corpus stats
    (N, df per term) are ONE aggregate row broadcast back over the scan —
    at 100 TB that's two corpus scans and a scalar broadcast, no
    fact-side shuffle at all."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = P.tokens(F.lower(F.col("text")))
    def _eq(w: str):
        # closure factory: a `lambda x, w=w:` default arg would make PySpark's
        # lambda-arity introspection pass the element INDEX as the 2nd arg
        return lambda x: x == F.lit(w)

    tf_cols = [
        F.size(F.filter(t, _eq(w))).alias(f"tf_{i}")
        for i, w in enumerate(BM25_TERMS)
    ]
    d = docs.select("doc_id", *tf_cols)
    stats = d.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    scored = d.join(F.broadcast(stats))
    score = None
    for i in range(len(BM25_TERMS)):
        tf, df = F.col(f"tf_{i}"), F.col(f"df_{i}")
        term = (
            tf
            * (F.col("n_docs") - df + 0.5)
            / (df + 0.5)
            / (tf + _BM25_K1)
        )
        score = term if score is None else score + term
    return (
        scored.select("doc_id", score.alias("score"))
        .filter(F.col("score") > 0)
    )


def _sql_bm25() -> str:
    tl = P.sql_tokens("lower(text)")
    tf_exprs = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{w}')) AS tf_{i}"
        for i, w in enumerate(BM25_TERMS)
    )
    df_exprs = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    score = " + ".join(
        f"tf_{i} * (n_docs - df_{i} + 0.5) / (df_{i} + 0.5) / (tf_{i} + {_BM25_K1})"
        for i in range(len(BM25_TERMS))
    )
    return f"""
WITH d0 AS (SELECT doc_id, {tl} AS t FROM documents),
d AS (SELECT doc_id,
         {tf_exprs}
      FROM d0),
stats AS (SELECT count(*) AS n_docs, {df_exprs} FROM d)
SELECT doc_id, {score} AS score
FROM d, stats
WHERE {score} > 0
"""


ORACLE_BM25_SEARCH = _sql_bm25()


# ---------------------------------------------------------------------------
# TF-IDF top terms (inverted-index shape)
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms, with the term-frequency histogram
    computed ROW-LOCALLY (sorted-run fold over the token array, the
    q_char_entropy trick) so the corpus is exchanged exactly twice: once
    hashed by term for the document-frequency window, once hashed by
    doc_id for the top-k window.

    Round-7 re-plan (stage-accounted at sf1*): the original inverted-
    index shape — explode -> (doc_id, w) hash agg -> df agg -> term join
    -> scalar broadcast join -> top-k window — carried three corpus-row
    exchanges plus a join and a separate count job, and its tokenize
    stage showed executorRunTime >> cpuTime (exchange stalls). Computing
    tf inside the row (array_sort + run boundaries, all codegen'd array
    expressions) eliminates the (doc_id, w) exchange AND the df join
    (A/B at sf1*, best-of-3: 4.45 s -> 2.84 s). n_docs is a
    metadata-only count on the bare parquet scan at plan-build time
    (same eager-scalar contract as dedup_embedding's build-side gate).

    Round-8 re-plan (ADVICE r7): round 7 computed df as an unbounded
    window count partitioned by term, which funnels a ubiquitous term's
    ENTIRE posting list (~N rows for a stopword) through one window
    task — and AQE can skew-split a join's partitions but never a
    window's. df now partial-aggregates map-side (groupBy(w): the
    shuffle carries one pre-combined row per term per map partition,
    hot terms included) and joins back BROADCAST when the pinned
    vocabulary (``_bounded_broadcast``) measures under the broadcast
    threshold — zero pairs-by-term shuffle at all. Above it the join
    degrades to a shuffled one, where AQE's skew-join split handles the
    hot probe partitions the window form could not. The pinned pairs
    subtree feeds both the df aggregate and the probe side, so
    tokenization runs once.

    The idf factor is the raw ratio N/df WITHOUT the log (monotone in
    the true idf, and +,*,/ are correctly-rounded IEEE ops => bit-exact
    across engines; see q_bm25_search)."""
    from pyspark.sql import Window

    from tiny_mapreduce_rpc_server_spark.operators.dedup import _bounded_broadcast

    raw = load_table(spark, sf_dir, "documents")
    # metadata-only on the bare scan (before spread's repartition)
    n_docs = raw.count()
    docs = spread(raw)
    toked = (
        docs.select("doc_id", F.array_sort(P.tokens(F.col("text"))).alias("st"))
        .withColumn("n", F.size("st"))
        .where(F.col("n") > 0)
    )
    # run starts: positions where the sorted token changes
    starts = F.filter(
        F.sequence(F.lit(0), F.col("n") - 1),
        lambda i: (i == 0) | (F.get(F.col("st"), i) != F.get(F.col("st"), i - 1)),
    )
    t = toked.withColumn("starts", starts).withColumn("k", F.size("starts"))
    # (term, tf) per run: tf = next run start (or n) - this run start
    runs = F.transform(
        F.sequence(F.lit(0), F.col("k") - 1),
        lambda j: F.struct(
            F.get(F.col("st"), F.get(F.col("starts"), j)).alias("w"),
            (
                F.when(j < F.col("k") - 1, F.get(F.col("starts"), j + 1)).otherwise(
                    F.col("n")
                )
                - F.get(F.col("starts"), j)
            )
            .cast("long")
            .alias("tf"),
        ),
    )
    pairs = (
        t.select("doc_id", F.explode(runs).alias("r")).select(
            "doc_id", F.col("r.w").alias("w"), F.col("r.tf").alias("tf")
        )
        .cache()
    )
    dfreq = pairs.groupBy("w").agg(F.count("*").alias("df"))
    scored = pairs.join(_bounded_broadcast(dfreq), "w")
    score = (
        F.col("tf").cast("double")
        * F.lit(float(n_docs))
        / F.col("df").cast("double")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("w"))
    return (
        scored.select("doc_id", "w", "tf", "df", score.alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", F.col("rnk").cast("int").alias("rnk"), F.col("w").alias("term"), "tf", "df", "score")
    )


ORACLE_TF_IDF = f"""
WITH ex AS (SELECT doc_id, unnest({_T}) AS w FROM documents),
tf AS (SELECT doc_id, w, count(*) AS tf FROM ex GROUP BY 1, 2),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.w, tf, df,
         CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
  FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN stats),
ranked AS (
  SELECT doc_id, w, tf, df, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w ASC) AS rnk
  FROM scored)
SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, w AS term, tf, df, score
FROM ranked WHERE rnk <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# PII redaction (regex scrubbing — training-data hygiene)
# ---------------------------------------------------------------------------

# deliberately lookaround-free so Java regex (Spark) and RE2 (DuckDB)
# agree on every match
_RE_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_RE_IP = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
_RE_PHONE = "\\d{3}-\\d{3}-\\d{4}"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails, IPv4s, and phone numbers.

    The synthetic corpus carries no PII, so each document is salted with
    a deterministic email/IP/phone (derived from doc_id) before
    scrubbing — proving the patterns both MATCH (counts are nonzero and
    exact) and REPLACE (the digest is over the redacted text). Per-row
    regex work, shuffle-free; at 100 TB this is a pure map over the
    corpus scan. Replacement order (email -> ip -> phone) is fixed so
    overlapping matches resolve identically in any engine."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256), F.lit(".7"),
        # 3-3-4 digit shape so the salt actually matches _RE_PHONE
        # (guarded by test_pii_salts_actually_match: n_phones >= 1)
        F.lit(" tel 415-555-01"), F.format_string("%02d", (F.col("doc_id") % 100).cast("int")),
    )
    d = docs.select("doc_id", salted.alias("s"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("s"), _RE_EMAIL, "<EMAIL>"),
            _RE_IP, "<IP>",
        ),
        _RE_PHONE, "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(F.col("s"), F.lit(_RE_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("s"), F.lit(_RE_IP)).alias("n_ips"),
        F.regexp_count(F.col("s"), F.lit(_RE_PHONE)).alias("n_phones"),
        F.sha2(red.cast("binary"), 256).alias("redacted_digest"),
        F.length(red).alias("redacted_len"),
    )


ORACLE_PII_REDACT = f"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com'
              || ' from 10.0.' || (doc_id % 256) || '.7'
              || ' tel 415-555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0') AS s
  FROM documents),
r AS (
  SELECT doc_id, s,
         regexp_replace(
           regexp_replace(
             regexp_replace(s, '{_RE_EMAIL}', '<EMAIL>', 'g'),
             '{_RE_IP}', '<IP>', 'g'),
           '{_RE_PHONE}', '<PHONE>', 'g') AS red
  FROM d)
SELECT doc_id,
       len(regexp_extract_all(s, '{_RE_EMAIL}')) AS n_emails,
       len(regexp_extract_all(s, '{_RE_IP}')) AS n_ips,
       len(regexp_extract_all(s, '{_RE_PHONE}')) AS n_phones,
       sha256(red) AS redacted_digest,
       length(red) AS redacted_len
FROM r
"""


# ---------------------------------------------------------------------------
# Bigram language-model counts (the classic MapReduce corpus workload)
# ---------------------------------------------------------------------------

NGRAM_TOP_K = 3


def _bigram_pairs(tc, combine):
    """Adjacent-token pairs of token-array column ``tc``, combined by
    ``combine(x, y)`` (struct or "x y" string); [] for docs with < 2
    tokens. Single owner of the zip_with/slice construction every
    bigram oracle mirrors as t[i] / t[i+1].

    The untyped empty array in ``otherwise`` unifies with whatever the
    combiner produces (struct or string)."""
    n = F.size(tc)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(tc, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(tc, 2, F.greatest(n - 1, F.lit(0))),
            combine,
        ),
    ).otherwise(F.array())




def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts + per-first-word top-3 continuations — the
    n-gram LM table every classic MapReduce paper builds, Spark-first:
    per-row bigram arrays (no shuffle), ONE explode->hash-aggregate for
    the counts (partial-aggregated map-side), and a bounded top-k window
    per first word. Ties break on the continuation string so the result
    is deterministic."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    toked = docs.select(P.tokens(F.lower(F.col("text"))).alias("t"))
    tc = F.col("t")
    bigrams = _bigram_pairs(
        tc, lambda x, y: F.struct(x.alias("w1"), y.alias("w2"))
    )
    ex = toked.select(F.explode(bigrams).alias("bg")).select("bg.w1", "bg.w2")
    counts = ex.groupBy("w1", "w2").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("w1").orderBy(F.desc("cnt"), F.asc("w2"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= NGRAM_TOP_K)
        .select("w1", F.col("rnk").cast("int").alias("rnk"), "w2", "cnt")
    )


ORACLE_BIGRAM_LM = f"""
WITH d AS (SELECT {P.sql_tokens("lower(text)")} AS t FROM documents),
bg AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i FROM d WHERE len(t) >= 2)),
counts AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
ranked AS (
  SELECT w1, w2, cnt,
         row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2 ASC) AS rnk
  FROM counts)
SELECT w1, CAST(rnk AS INTEGER) AS rnk, w2, cnt
FROM ranked WHERE rnk <= {NGRAM_TOP_K}
"""


# a bigram is "common" at >= this corpus count; occurrences of rarer
# bigrams count toward a document's novelty fraction
NOVELTY_COMMON_MIN = 3


def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of bigram OCCURRENCES whose
    corpus-wide count is below ``NOVELTY_COMMON_MIN`` — high novelty =
    unusual phrasing (or noise), low = boilerplate. The complement of a
    contamination check, against the corpus itself.

    Scale shape: the long tail of RARE bigrams is enormous, but the
    COMMON head (count >= threshold) is bounded by total_occurrences /
    threshold — so join occurrences against the head, not the tail, and
    count misses. The join is declared unhinted: AQE broadcasts the head
    while it fits and degrades to a hash join on the bigram key beyond
    that. Per-doc aggregation partial-aggregates map-side (doc_id
    grouping). Docs with < 2 tokens have no bigrams and are excluded
    (same rule as the oracle)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", P.tokens(F.lower(F.col("text"))).alias("t"))
    tc = F.col("t")
    bigrams = _bigram_pairs(tc, lambda x, y: F.concat(x, F.lit(" "), y))
    # Key the occurrence stream on xxhash64(bigram) instead of the
    # bigram string (r11 optimization round): the head aggregate's
    # map-side-combined shuffle then carries 8-byte keys instead of
    # ~15-byte strings, and the head join probes on longs. Same
    # accepted-collision contract as dedup_ngram_jaccard (the oracle
    # groups the strings). NOT pinned: one row per corpus token makes
    # the stream corpus-scale — caching it would be the 100 TB hazard
    # the boilerplate pin rule warns about (its seg stream is 1/32 of
    # tokens; this one is 1:1), so the tokenize runs once per consumer.
    occ = toked.select(
        "doc_id",
        F.explode(F.transform(bigrams, lambda bg: F.xxhash64(bg))).alias("bg"),
    )
    head = (
        occ.groupBy("bg")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= NOVELTY_COMMON_MIN)
    )
    joined = occ.join(head, "bg", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count("cnt").alias("n_common"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_common",
            (
                (F.col("n_bigrams") - F.col("n_common")) / F.col("n_bigrams")
            ).alias("novelty"),
        )
    )


ORACLE_NOVELTY = f"""
WITH d AS (SELECT doc_id, {P.sql_tokens("lower(text)")} AS t FROM documents),
occ AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM d WHERE len(t) >= 2)),
head AS (
  SELECT bg, count(*) AS cnt FROM occ GROUP BY bg
  HAVING count(*) >= {NOVELTY_COMMON_MIN})
SELECT o.doc_id,
       count(*) AS n_bigrams,
       count(h.cnt) AS n_common,
       (count(*) - count(h.cnt)) / count(*) AS novelty
FROM occ o LEFT JOIN head h USING (bg)
GROUP BY o.doc_id
"""


# the synthetic corpus draws from a ~31-word vocabulary, so the curve's
# cut points sit inside it; real corpora would use 2^several-k cuts
_VOCAB_CUTS = (5, 10, 20)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all corpus token
    OCCURRENCES is covered by the top-N vocabulary — the sizing table
    for tokenizer/vocab decisions (coverage vs OOV rate).

    Shape: the corpus-sized work is one wordcount (explode + hash
    aggregate, partial map-side); ranking and the cumulative sum are
    windows over the VOCABULARY (distinct tokens), which is orders of
    magnitude smaller than the corpus and the standard place for a
    single-ordering window. Rank ties break on the token string, so the
    curve is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(P.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("w"))
    ranked = counts.select(
        "w",
        "cnt",
        F.row_number().over(w).alias("rank"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        ranked.filter(F.col("rank").isin(*_VOCAB_CUTS))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").alias("vocab_size"),
            F.col("cum").alias("covered_tokens"),
            "total",
            (F.col("cum").cast("double") / F.col("total")).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


ORACLE_VOCAB_COVERAGE = f"""
WITH toks AS (
  SELECT unnest({P.sql_tokens("lower(text)")}) AS w FROM documents),
counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
ranked AS (
  SELECT w, cnt,
         row_number() OVER (ORDER BY cnt DESC, w ASC) AS rank,
         (sum(cnt) OVER (ORDER BY cnt DESC, w ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
  FROM counts),
total AS (SELECT sum(cnt)::BIGINT AS total FROM counts)
SELECT rank AS vocab_size, cum AS covered_tokens, total,
       cum::DOUBLE / total AS coverage
FROM ranked CROSS JOIN total
WHERE rank IN {_VOCAB_CUTS}
ORDER BY vocab_size
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card: document count, language count,
    language-distribution Gini impurity, and exact mean length — the
    one-page summary a data-curation run publishes per ingest source.

    Gini impurity (1 - sum p_i^2) is used instead of entropy because its
    algebra is rational: computed as 1 - (sum c_i^2) / n^2, the integer
    sums are exact and the single division is the only float op — no ln
    (libm-divergent) and no float summation order to pin. Two hash
    aggregates, both partial map-side; nothing exceeds (source, lang)
    granularity after the first."""
    docs = load_table(spark, sf_dir, "documents")
    # single scan: the char sum rides along the (source, lang) aggregate
    # and re-sums per source — no second scan, no join
    by_lang = docs.groupBy("source", "lang").agg(
        F.count("*").alias("c"), F.sum("n_chars").alias("ch")
    )
    per_source = by_lang.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_langs"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
        F.sum("ch").alias("sum_chars"),
    )
    gini = F.lit(1.0) - F.col("sum_c2").cast("double") / (
        F.col("n_docs") * F.col("n_docs")
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_langs",
        gini.alias("lang_gini"),
        (F.col("sum_chars").cast("double") / F.col("n_docs")).alias("avg_chars"),
    ).orderBy("source")


ORACLE_CORPUS_REPORT = """
WITH by_lang AS (
  SELECT source, lang, count(*) AS c, sum(n_chars)::BIGINT AS ch
  FROM documents GROUP BY source, lang),
per_source AS (
  SELECT source,
         sum(c)::BIGINT AS n_docs,
         count(*) AS n_langs,
         sum(c * c)::BIGINT AS sum_c2,
         sum(ch)::BIGINT AS sum_chars
  FROM by_lang GROUP BY source)
SELECT source, n_docs, n_langs,
       1.0 - sum_c2::DOUBLE / (n_docs * n_docs) AS lang_gini,
       sum_chars::DOUBLE / n_docs AS avg_chars
FROM per_source
ORDER BY source
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon character entropy (nats) over the first
    ``LN_MAX`` chars — the classic gibberish/boilerplate detector
    (near-zero entropy = repeated filler, very high = random bytes),
    alongside the token-level signals in ``q_quality_score``. Prefix
    sampling is deliberate: quality classifiers score a bounded prefix,
    which also bounds per-row work at corpus scale.

    Shuffle-free map: the JVM side only cuts the prefix (code-point
    substring, column-pruned scan); the per-char histogram + entropy
    fold runs in an Arrow ``mapInPandas`` kernel. Round-7 re-plan: the
    original all-expression version (array_sort + struct-accumulator
    ``aggregate`` fold) was exact but interpreted — stage-accounted at
    ~8 us/char, 160 s of executor CPU at sf1* (the fold dominates the
    query end to end). The kernel reproduces the SAME arithmetic at
    numpy speed (~50x less CPU, 11.1 s -> ~1.5 s wall at sf1*):

    - chars via utf-32 decode -> uint32 code points; numpy sorts them in
      code-point order == Spark's binary sort of single-char strings ==
      DuckDB's list_sort;
    - per-run terms ``n_i * ln(n_i)`` read ln from the SAME Python
      ``_LN_TABLE`` constants the DuckDB oracle's SQL LUT is generated
      from, each term one double multiply
      (identical rounding);
    - the run terms are summed SEQUENTIALLY in sorted order via
      ``np.cumsum`` (cumsum output is by definition the left-bracketed
      prefix chain ((0+t1)+t2)+..., bit-identical to the JVM fold and
      the oracle's list fold — a plain np.sum would pairwise-sum and
      drift in the last ulp);
    - entropy = lut[n] - s/n, one division, same ops both engines.
    """
    import numpy as np
    import pandas as pd

    lut = np.empty(P.LN_MAX + 1, dtype="float64")
    lut[0] = 0.0
    lut[1:] = P._LN_TABLE

    docs = spread(load_table(spark, sf_dir, "documents"))
    pref = docs.select(
        "doc_id", F.substring(F.col("text"), 1, P.LN_MAX).alias("p")
    ).where(F.length("p") > 0)

    def _entropy(batches):
        for pb in batches:
            n_rows = len(pb)
            out_n = np.empty(n_rows, dtype="int32")
            out_d = np.empty(n_rows, dtype="int32")
            out_e = np.empty(n_rows, dtype="float64")
            for i, txt in enumerate(pb["p"]):
                cs = np.frombuffer(txt.encode("utf-32-le"), dtype=np.uint32)
                n = len(cs)
                _, counts = np.unique(cs, return_counts=True)
                terms = counts.astype("float64") * lut[counts]
                s = float(np.cumsum(terms)[-1])
                out_n[i] = n
                out_d[i] = len(counts)
                out_e[i] = lut[n] - s / float(n)
            yield pd.DataFrame(
                {
                    "doc_id": pb["doc_id"].to_numpy(),
                    "n_chars_actual": out_n,
                    "n_distinct_chars": out_d,
                    "entropy_nats": out_e,
                }
            )

    return pref.mapInPandas(
        _entropy,
        "doc_id long, n_chars_actual int, n_distinct_chars int, "
        "entropy_nats double",
    )


ORACLE_CHAR_ENTROPY = f"""
WITH d AS (
  SELECT doc_id,
         list_sort(regexp_split_to_array(substr(text, 1, {P.LN_MAX}), '')) AS cs,
         {P.sql_ln_lut()} AS lut
  FROM documents),
m AS (
  SELECT doc_id, len(cs)::INT AS n, lut[len(cs)] AS ln_n,
         list_transform(list_sort(list_distinct(cs)),
                        c -> len(list_filter(cs, x -> x = c))) AS counts,
         lut
  FROM d WHERE len(cs) > 0),
e AS (
  SELECT doc_id, n, ln_n, len(counts)::INT AS nd,
         list_reduce(list_transform(counts,
                                    k -> k::DOUBLE * lut[k]),
                     (a, b) -> a + b) AS s
  FROM m)
SELECT doc_id, n AS n_chars_actual, nd AS n_distinct_chars,
       ln_n - s / n::DOUBLE AS entropy_nats
FROM e
"""


def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass corpus filtering against a GLOBAL percentile: pass 1
    computes the exact corpus-wide 10th percentile of the quality score,
    pass 2 reports, per source, how many documents fall below it and the
    per-source effective cutoff (min surviving / max dropped quality) —
    the relative-threshold trim ("drop the worst decile") that
    absolute-threshold filters can't express. The boundary stats are
    min/max (order-independent, bit-exact); a mean here would need a
    double→decimal cast, whose rounding of full-precision doubles is
    NOT engine-portable (Spark rounds the shortest repr, DuckDB the
    binary expansion).

    Shape: the threshold is a 1-row aggregate broadcast back over the
    scored scan (cross join, no driver-side collect); scoring reuses
    ``q_quality_score``'s plan via an equi-join on doc_id. At 100 TB the
    exact percentile pass becomes approx_percentile with a documented
    error bound — same plan shape, sketchable aggregate.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    qual = q_quality_score(spark, sf_dir).select("doc_id", "quality")
    j = docs.select("doc_id", "source").join(qual, "doc_id")
    thr = j.agg(F.expr("percentile(quality, 0.10)").alias("p10"))
    j = j.crossJoin(F.broadcast(thr))
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("quality") < F.col("p10"), 1)).alias(
                "n_dropped"
            ),
            F.min(
                F.when(F.col("quality") >= F.col("p10"), F.col("quality"))
            ).alias("min_kept_quality"),
            F.max(
                F.when(F.col("quality") < F.col("p10"), F.col("quality"))
            ).alias("max_dropped_quality"),
        )
        .orderBy("source")
    )


def _oracle_quality_percentile_filter() -> str:
    return f"""
WITH q AS (SELECT doc_id, quality FROM ({ORACLE_QUALITY_SCORE})),
j AS (
  SELECT d.source, q.quality
  FROM documents d JOIN q ON d.doc_id = q.doc_id),
thr AS (SELECT quantile_cont(quality, 0.10) AS p10 FROM j)
SELECT source, count(*) AS n_docs,
       count(*) FILTER (WHERE quality < p10) AS n_dropped,
       min(CASE WHEN quality >= p10 THEN quality END) AS min_kept_quality,
       max(CASE WHEN quality < p10 THEN quality END) AS max_dropped_quality
FROM j, thr
GROUP BY source
ORDER BY source
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the cleaning pass every corpus
    goes through before dedup/tokenization: lowercase, strip
    non-alphanumerics, collapse whitespace runs, trim. Emits the
    normalized text plus change accounting (chars removed, whether the
    doc changed at all) so the pipeline can monitor how destructive the
    pass is per batch.

    Pure per-row string expressions (no shuffle). Exactness notes: the
    punct-strip character class is written explicitly ([^a-z0-9 ])
    rather than via POSIX classes, because Java regex and RE2 disagree
    on [[:punct:]] membership; Spark's regexp_replace is global by
    default where DuckDB needs the 'g' flag.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    t1 = F.lower(F.col("text"))
    d = docs.select("doc_id", F.col("text"), t1.alias("t1"))
    d = d.select(
        "doc_id",
        "text",
        "t1",
        F.regexp_replace(F.col("t1"), "[^a-z0-9 ]", "").alias("t2"),
    )
    d = d.select(
        "doc_id",
        "text",
        "t1",
        "t2",
        F.trim(F.regexp_replace(F.col("t2"), " +", " ")).alias("norm"),
    )
    return d.select(
        "doc_id",
        F.col("norm").alias("norm_text"),
        F.length("norm").alias("norm_len"),
        (F.length("t1") - F.length("t2")).alias("n_stripped"),
        (F.col("text") != F.col("norm")).alias("changed"),
    )


ORACLE_TEXT_NORMALIZE = """
WITH d AS (
  SELECT doc_id, text, lower(text) AS t1,
         regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t2
  FROM documents),
n AS (
  SELECT doc_id, text, t1, t2,
         trim(regexp_replace(t2, ' +', ' ', 'g')) AS norm
  FROM d)
SELECT doc_id,
       norm AS norm_text,
       length(norm)::INT AS norm_len,
       (length(t1) - length(t2))::INT AS n_stripped,
       text <> norm AS changed
FROM n
"""


TEXT_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "text_normalize",
        q_text_normalize,
        ORACLE_TEXT_NORMALIZE,
    ),
    QuerySpec(
        "quality_percentile_filter",
        q_quality_percentile_filter,
        _oracle_quality_percentile_filter(),
    ),
    QuerySpec(
        "text_char_entropy",
        q_char_entropy,
        ORACLE_CHAR_ENTROPY,
    ),
    QuerySpec(
        "corpus_report",
        q_corpus_report,
        ORACLE_CORPUS_REPORT,
    ),
    QuerySpec(
        "text_vocab_coverage",
        q_vocab_coverage,
        ORACLE_VOCAB_COVERAGE,
    ),
    QuerySpec(
        "text_bm25_search",
        q_bm25_search,
        ORACLE_BM25_SEARCH,
    ),
    QuerySpec(
        "text_repetition_filter",
        q_repetition_filter,
        ORACLE_REPETITION_FILTER,
        bench=True,
    ),
    QuerySpec("text_token_stats", q_token_stats, ORACLE_TOKEN_STATS, bench=True),
    QuerySpec("text_quality_score", q_quality_score, ORACLE_QUALITY_SCORE),
    QuerySpec("text_lang_id", q_lang_id, ORACLE_LANG_ID),
    QuerySpec("text_fingerprint", q_fingerprint, ORACLE_FINGERPRINT),
    QuerySpec("text_tf_idf", q_tf_idf, ORACLE_TF_IDF, bench=True),
    QuerySpec("text_pii_redact", q_pii_redact, ORACLE_PII_REDACT),
    QuerySpec("text_bigram_lm", q_bigram_lm, ORACLE_BIGRAM_LM, bench=True),
    QuerySpec("text_novelty", q_novelty, ORACLE_NOVELTY, bench=True),
]


def q_vocab_arrival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary arrival curve (the Heaps-law measurement): how many
    NEVER-SEEN-BEFORE bigram types first appear in each tenth of the corpus,
    reading documents in doc_id order — the growth curve that says
    whether a tokenizer's vocabulary budget has saturated or the corpus
    keeps minting new types (and therefore whether more data buys
    coverage). Complements text_vocab_coverage (static top-N coverage)
    with the dynamic arrival view.

    Shape: one explode + one hash aggregate computes each type's FIRST
    document (min doc_id per token — partial map-side); bucketing into
    deciles rides a 1-row broadcast of the max doc id; the cumulative
    sum runs over the 10-row decile table. Nothing after the first
    aggregate is corpus-sized."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    # bigram TYPES: the synthetic unigram vocabulary (~31 words) saturates
    # in the first decile, so the curve is measured over bigrams, whose
    # type space keeps minting — the same switch a real pipeline makes
    # when unigram vocab saturates
    toked = docs.select("doc_id", P.tokens(F.lower(F.col("text"))).alias("t"))
    tc = F.col("t")
    bigrams = _bigram_pairs(tc, lambda x, y: F.concat(x, F.lit(" "), y))
    tok = toked.select("doc_id", F.explode(bigrams).alias("w"))
    first = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    mx = docs.agg(F.max("doc_id").alias("max_doc"))
    # integer division: DuckDB's double->int cast ROUNDS while Spark's
    # truncates, so the bucket must never touch a float
    b = first.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.expr("first_doc * 10 DIV (max_doc + 1)"), F.lit(9).cast("bigint")
        )
        .cast("int")
        .alias("decile")
    )
    per = b.groupBy("decile").agg(F.count("*").alias("n_new_types"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "decile",
        "n_new_types",
        F.sum("n_new_types").over(w).alias("vocab_size"),
    )


ORACLE_VOCAB_ARRIVAL = f"""
WITH d AS (SELECT doc_id, {P.sql_tokens("lower(text)")} AS t FROM documents),
tok AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM d WHERE len(t) >= 2)),
first AS (SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w),
mx AS (SELECT max(doc_id) AS max_doc FROM documents),
b AS (
  SELECT CAST(least(first_doc * 10 // (max_doc + 1), 9) AS INT) AS decile
  FROM first, mx),
per AS (SELECT decile, count(*) AS n_new_types FROM b GROUP BY decile)
SELECT decile, n_new_types,
       CAST(sum(n_new_types) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_size
FROM per
"""

TEXT_QUERIES.append(
    QuerySpec(
        "vocab_arrival_curve",
        q_vocab_arrival_curve,
        ORACLE_VOCAB_ARRIVAL,
    )
)


# Boilerplate segment = BOILER_SEG_WORDS consecutive tokens (the unit a
# line would be in a corpus with line structure; the synthetic docs are
# flat word streams, so the unit is positional like doc_chunking's).
# A segment is boilerplate within a source when it appears in >=
# BOILER_MIN_DOCS distinct documents of that source (the CCNet /
# RefinedWeb rule: dedup the repeated nav/footer fragments a crawler
# re-captures across a site's pages, keep the unique prose).
BOILER_SEG_WORDS = 3
BOILER_MIN_DOCS = 2


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (CCNet-style): strip the text
    segments that repeat across >= BOILER_MIN_DOCS documents of the same
    source, emit each doc's rewritten text plus removal accounting.

    Scale shape — the corpus text is NEVER shuffled:
    1. segment key stream: explode each doc into (doc_id, seg_id,
       xxhash64(source, seg_text)) — 8-byte keys + ids only, the
       segment text stays row-local and is re-derived later;
    2. boilerplate keys: groupBy (source, seg_key) countDistinct(doc_id)
       >= threshold — partial agg map-side, shuffle carries hashes;
    3. per-doc hit list: semi-join the key stream to the boilerplate
       keys (equi-join on the hash), collect each doc's boilerplate
       seg_ids into one array row — small, proportional to the
       boilerplate actually found, not the corpus;
    4. rewrite row-locally: left-join the hit arrays back to documents
       on doc_id (AQE broadcasts the hit side when it is small; no
       forced hint — it grows with duplication, not SF) and rebuild the
       clean text from the token array by skipping flagged segments.
    The only full-width data movement is the parquet scan itself; at
    100 TB the shuffles carry ~16 bytes per segment and the join output
    is bounded by the true boilerplate volume.

    No reference counterpart (SURVEY §2.11 — [EXT] training-pipeline
    operator). Oracle joins on the segment text itself where the engine
    joins on xxhash64 — same accepted-collision contract as
    dedup_ngram_jaccard.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sized = docs.select(
        "doc_id", "source", P.tokens(F.col("text")).alias("t")
    ).select("doc_id", "source", "t", F.size("t").alias("n"))
    sized = sized.where(F.col("n") > 0)

    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(BOILER_SEG_WORDS))
    seg_text = F.array_join(
        F.slice(F.col("t"), F.col("start") + 1, F.lit(BOILER_SEG_WORDS)), " "
    )
    # (1) key stream: hashes + ids only, no text leaves the row
    seg = sized.select(
        "doc_id", "source", "t", F.explode(starts).alias("start")
    ).select(
        "doc_id",
        "source",
        (F.col("start") / BOILER_SEG_WORDS).cast("int").alias("seg_id"),
        F.xxhash64("source", seg_text).alias("seg_key"),
    )
    # The key stream feeds TWO consumers (the boilerplate agg and the
    # hits semi-join) and the tokenize subtree feeds a third (the final
    # rewrite). Pin the key stream — 16 bytes/row of ids + hashes, NOT
    # the corpus text — so scan+tokenize runs twice (seg materialization
    # + rewrite) instead of three times; pinning `sized` instead would
    # cache corpus-sized token arrays, a 100 TB hazard. Released by
    # QuerySpec.run.
    seg = seg.cache()
    # (2) boilerplate keys: appears in >= threshold distinct docs of a source
    boiler = (
        seg.groupBy("source", "seg_key")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("source", "seg_key")
    )
    # (3) per-doc boilerplate seg_id array (small: only actual hits)
    hits = (
        seg.join(boiler, ["source", "seg_key"], "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("seg_id")).alias("boiler_ids"))
    )
    # (4) row-local rewrite: skip flagged segments, rebuild the text
    flagged = sized.join(hits, "doc_id", "left").select(
        "doc_id",
        "t",
        "n",
        F.coalesce(F.col("boiler_ids"), F.array().cast("array<int>")).alias(
            "boiler_ids"
        ),
    )
    kept = F.filter(
        starts,
        lambda s: ~F.array_contains(
            F.col("boiler_ids"), (s / BOILER_SEG_WORDS).cast("int")
        ),
    )
    clean = F.array_join(
        F.flatten(
            F.transform(
                kept,
                lambda s: F.slice(F.col("t"), s + 1, F.lit(BOILER_SEG_WORDS)),
            )
        ),
        " ",
    )
    n_segments = F.size(starts).cast("bigint")
    n_boiler = F.size("boiler_ids").cast("bigint")
    return flagged.select(
        "doc_id",
        n_segments.alias("n_segments"),
        n_boiler.alias("n_boiler"),
        F.expr(
            f"CAST(100 * size(boiler_ids) DIV size(sequence(0, n - 1, {BOILER_SEG_WORDS})) AS BIGINT)"
        ).alias("boiler_pct"),
        clean.alias("clean_text"),
    )


ORACLE_BOILERPLATE_REMOVAL = f"""
WITH sized AS (
  SELECT doc_id, source, t, len(t) AS n
  FROM (SELECT doc_id, source, {P.sql_tokens("text")} AS t FROM documents)
  WHERE len(t) > 0),
seg AS (
  SELECT doc_id, source, (start // {BOILER_SEG_WORDS})::INT AS seg_id,
         array_to_string(
           list_slice(t, start + 1, start + {BOILER_SEG_WORDS}), ' ') AS seg_text
  FROM sized, UNNEST(range(0, n, {BOILER_SEG_WORDS})) AS u(start)),
boiler AS (
  SELECT source, seg_text
  FROM seg GROUP BY source, seg_text
  HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}),
flagged AS (
  SELECT s.doc_id, s.seg_id, s.seg_text,
         (b.seg_text IS NOT NULL) AS is_boiler
  FROM seg s
  LEFT JOIN boiler b ON s.source = b.source AND s.seg_text = b.seg_text)
SELECT doc_id,
       count(*)::BIGINT AS n_segments,
       sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
       ((100 * sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)) // count(*))::BIGINT
         AS boiler_pct,
       coalesce(string_agg(CASE WHEN NOT is_boiler THEN seg_text END,
                           ' ' ORDER BY seg_id), '') AS clean_text
FROM flagged
GROUP BY doc_id
"""

TEXT_QUERIES.append(
    QuerySpec(
        "boilerplate_removal",
        q_boilerplate_removal,
        ORACLE_BOILERPLATE_REMOVAL,
        bench=True,
    )
)


# ---------------------------------------------------------------------------
# CCNet-style LM quality buckets (integer surprisal proxy — no libm)
# ---------------------------------------------------------------------------

LM_SCALE = 1_000_000  # surprisal proxy resolution
LM_BUCKETS = 3  # CCNet's head / middle / tail
# Range partitions for the tercile-rank pass. Like _SORT_FILES this is
# sort parallelism — sized to cores locally, to data/task-size targets
# on a cluster (the boundaries come from approxQuantile literals, so
# raising it never changes results).
_LM_RANGE_PARTS = 32


def q_text_lm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing (Wenzek et al. 2020): score each
    document by how SURPRISING its bigrams are under the corpus's own
    bigram LM, then split the corpus into head / middle / tail terciles
    — the curation step that keeps fluent text and quarantines noise.

    Exactness: true perplexity needs log(), and libm log differs across
    engines in the last ulp — so the score is the MONOTONE integer
    proxy ``(c_prefix * LM_SCALE) DIV c_bigram`` per bigram occurrence
    (the reciprocal conditional frequency, = exp(surprisal) scaled),
    summed and divided by the doc's bigram count with truncating
    integer DIV. Every step is exact integer arithmetic, so both
    engines agree bit-for-bit and the bucket boundaries (ntile over
    (score, doc_id)) are deterministic.

    Output: per bucket (1 = most fluent) — n_docs, min/max/decimal-mean
    score, min doc_id. Docs with < 2 tokens have no bigrams and no LM
    evidence; they are excluded (a real pipeline routes them to a
    length filter first — text_quality_score's job).

    100 TB shape: one corpus tokenize -> explode (no shuffle), the
    bigram count table via map-side partial agg, prefix counts rolled
    up FROM the bigram table (never a second corpus pass), two
    AQE-managed joins back on the (w1, w2) / (w1) keys, per-doc agg
    partial-aggregated on doc_id. Tercile assignment is the terasort
    machinery (``q_total_order_sort``), NOT a global ntile window —
    round 8 shipped ``ntile(3) OVER (ORDER BY score)`` and the verdict
    flagged it as the engine's last corpus-cardinality single-task
    funnel. The re-plan reproduces ntile's exact ``(score, doc_id)``
    tie order without any single-partition exchange:

    1. pin the per-doc (doc_id, score) table (two longs/doc);
    2. derive ``_LM_RANGE_PARTS - 1`` score boundaries with
       ``approxQuantile`` and freeze them into LITERALS, so the range
       id ``pid`` is a pure deterministic function of the row (no
       reliance on re-sampled ``repartitionByRange`` boundaries being
       stable across the two passes). Boundary error only skews range
       SIZES, never rank correctness; equal scores always share a pid,
       so the worst imbalance is the largest score-tie group — the
       same bound the hot-key-safe tf-idf accepts;
    3. per-range counts (≤ ``_LM_RANGE_PARTS`` rows to the driver —
       the bounded-driver-step pattern of BPE's argmax) give each
       range its global rank OFFSET;
    4. ``row_number() OVER (PARTITION BY pid ORDER BY score, doc_id)``
       + offset = the exact global rank, computed at full width;
    5. the ntile bucket is closed-form in (rank, N, k): the first
       ``N mod k`` buckets take ``N div k + 1`` rows — integer
       arithmetic, bit-identical to the oracle's ntile.

    Cost: 2 extra bounded jobs (quantile + counts) on the pinned
    per-doc table; the expensive bigram joins run once.

    No reference counterpart (SURVEY §2.11 — [EXT]).
    """
    from tiny_mapreduce_rpc_server_spark.functions import davg

    docs = spread(load_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", P.tokens(F.lower(F.col("text"))).alias("t"))
    tc = F.col("t")
    bigrams = _bigram_pairs(
        tc, lambda x, y: F.struct(x.alias("w1"), y.alias("w2"))
    )
    ex = toked.select("doc_id", F.explode(bigrams).alias("bg")).select(
        "doc_id", "bg.w1", "bg.w2"
    )
    cbg = ex.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    c1 = cbg.groupBy("w1").agg(F.sum("c_bg").alias("c_w1"))
    scored = (
        ex.join(cbg, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.expr(
                f"sum(c_w1 * CAST({LM_SCALE} AS BIGINT) DIV c_bg) DIV count(*)"
            ).alias("score")
        )
    )
    pinned = scored.cache()
    # step 2: frozen literal boundaries (balance only — never rank)
    probs = [i / _LM_RANGE_PARTS for i in range(1, _LM_RANGE_PARTS)]
    bnds = sorted(set(pinned.stat.approxQuantile("score", probs, 0.001)))
    pid = F.lit(0)
    for b in bnds:
        pid = pid + (F.col("score") > F.lit(int(b))).cast("int")
    ranged = pinned.withColumn("pid", pid)
    # step 3: per-range counts -> global rank offsets (≤ _LM_RANGE_PARTS
    # rows through the driver)
    cnt_rows = sorted(
        (r["pid"], r["c"])
        for r in ranged.groupBy("pid").agg(F.count("*").alias("c")).collect()
    )
    n_total = sum(c for _, c in cnt_rows)
    offsets, acc = {}, 0
    for p_id, c in cnt_rows:
        offsets[p_id] = acc
        acc += c
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    # step 4: exact global rank at full parallelism
    w = Window.partitionBy("pid").orderBy(F.asc("score"), F.asc("doc_id"))
    rn = F.row_number().over(w) + F.element_at(off_map, F.col("pid"))
    # step 5: closed-form ntile — first (N mod k) buckets get (N div k)+1
    q, r = divmod(n_total, LM_BUCKETS)
    bucketed = ranged.withColumn("rn", rn.cast("long")).withColumn(
        "bucket",
        F.expr(
            f"CAST(CASE WHEN rn <= {r * (q + 1)} THEN (rn - 1) DIV {q + 1} "
            f"ELSE {r} + (rn - 1 - {r * (q + 1)}) DIV {max(q, 1)} "
            f"END + 1 AS INT)"
        ),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
        davg("score", "mean_score"),
        F.min("doc_id").alias("sample_doc"),
    )


ORACLE_TEXT_LM_QUALITY = f"""
WITH d AS (SELECT doc_id, {P.sql_tokens("lower(text)")} AS t FROM documents),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM d WHERE len(t) >= 2)),
cbg AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c_bg) AS c_w1 FROM cbg GROUP BY 1),
scored AS (
  SELECT doc_id,
         (sum((c_w1 * {LM_SCALE}::BIGINT) // c_bg) // count(*))::BIGINT AS score
  FROM bg JOIN cbg USING (w1, w2) JOIN c1 USING (w1)
  GROUP BY doc_id),
bucketed AS (
  SELECT doc_id, score,
         ntile({LM_BUCKETS}) OVER (ORDER BY score ASC, doc_id ASC) AS bucket
  FROM scored)
SELECT bucket, count(*) AS n_docs,
       min(score) AS min_score, max(score) AS max_score,
       CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mean_score,
       min(doc_id) AS sample_doc
FROM bucketed
GROUP BY bucket
"""

TEXT_QUERIES.append(
    QuerySpec(
        "text_lm_quality_filter",
        q_text_lm_quality_filter,
        ORACLE_TEXT_LM_QUALITY,
    )
)
