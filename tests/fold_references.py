"""Spark-expression references for the package's Arrow kernels.

Each kernel in the package computes exact integer math that was first
written as Spark higher-order-function folds (``transform``,
``aggregate``, ``zip_with``). Those folds are CodegenFallback, so the
package no longer runs them, but they stay the definition the kernels
are pinned against, bit for bit:

- ``minhash_fold`` for ``dedup._minhash_kernel``;
- ``P.h2`` per token + ``simhash_fold`` for ``dedup._simhash_kernel``;
- ``py_h1`` is the pure-Python ``portable.h1`` for driver-side checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import portable as P
from tiny_mapreduce_rpc_server_spark.operators.dedup import N_HASHES


def py_h1(s: str) -> int:
    """Python twin of ``portable.h1``: ``F.split(s, "")`` splits per
    code point and ``F.ascii`` returns the code point, as ``ord`` does
    on a Python ``str``."""
    return (
        sum(ord(c) * (((i + 1) * P.C1 + P.C2) % P.M1) for i, c in enumerate(s))
        % P.M2
    )


# ---------------------------------------------------------------------------
# minhash
# ---------------------------------------------------------------------------


def perm(i: int, x) -> F.Column:
    """``perm_i(x) = (a_i*x + b_i) mod M2`` as a Spark expression."""
    a, b = P.perm_coeffs(i)
    return (F.lit(a) * x + b) % P.M2


def minhash_sig_col(th) -> F.Column:
    """All N_HASHES minhash minima in ONE fold over the token-hash array:
    an N_HASHES-wide accumulator updated per element (``acc[i] =
    least(acc[i], perm_i(x))``). Init is M2 (every perm value is ``% M2``
    < M2, so it acts as +inf); a doc with zero shingles folds to all-M2,
    and a null element is skipped because ``least`` ignores nulls.
    ``th`` must be a column reference (CollapseProject)."""
    return F.aggregate(
        th,
        F.array_repeat(F.lit(P.M2).cast("long"), N_HASHES),
        lambda acc, x: F.zip_with(
            acc,
            F.array(*[perm(i, x) for i in range(N_HASHES)]),
            lambda m, p: F.least(m, p),
        ),
    )


def minhash_fold(ds: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15) of a (doc_id, shingles) table: ``P.h1`` per
    shingle in its own projection, then the one-pass minima fold."""
    th = F.transform(F.col("shingles"), lambda s: P.h1(s))
    sigs = ds.select("doc_id", th.alias("th"))
    staged = sigs.select("doc_id", minhash_sig_col(F.col("th")).alias("mhs"))
    return staged.select(
        "doc_id",
        *[F.element_at("mhs", i + 1).alias(f"mh{i}") for i in range(N_HASHES)],
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash_ones_col(th, bits: int) -> F.Column:
    """Per-bit ONE-counts of a token-hash array in a SINGLE pass: a
    ``bits``-wide counter array folded once over ``th`` (``acc[j] +=
    bit_j(x)``). ``th`` must be a column reference (it is referenced by
    the fold and by ``size``; CollapseProject keeps a twice-referenced
    non-cheap expression in its own projection)."""
    return F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, x: F.zip_with(
            acc,
            F.array(*[x.bitwiseAND(F.lit(1 << j)) for j in range(bits)]),
            lambda a, b: a + F.when(b != F.lit(0), 1).otherwise(0),
        ),
    )


def simhash_from_ones(ones, n, bits: int) -> F.Column:
    """Fingerprint from per-bit one-counts: bit j set iff the (+-1) vote
    sum is positive — ``sum_votes_j = 2*ones[j] - n > 0  <=>  2*ones[j] >
    n``, exact integer math, as the SQL oracle's ``list_sum`` votes.
    ``ones`` must be a column reference: it is read ``bits`` times, which
    keeps CollapseProject from inlining (and recomputing) the fold.
    ``bits`` is capped at 63 so the fingerprint stays in the
    non-negative long range."""
    assert 0 < bits <= 63, bits
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(
            2 * F.element_at(ones, j + 1) > n, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return out


def simhash_fold(hashed: DataFrame, bits: int) -> DataFrame:
    """(doc_id, simhash) from a (doc_id, th) token-hash table via the
    one-pass fold: the one-count array in its own projection, then the
    threshold/assemble step on top."""
    staged = hashed.select(
        "doc_id",
        F.size("th").cast("long").alias("n_th"),
        simhash_ones_col(F.col("th"), bits).alias("ones"),
    )
    return staged.select(
        "doc_id",
        simhash_from_ones(F.col("ones"), F.col("n_th"), bits).alias("simhash"),
    )
