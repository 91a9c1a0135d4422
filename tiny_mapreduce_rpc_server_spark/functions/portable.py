"""Engine-portable deterministic hashing.

Dedup / fingerprint / LSH operators need hash functions that the DuckDB
oracle can recompute EXACTLY. Spark's ``F.hash`` (murmur3) and ``F.xxhash64``
don't exist in other engines, so we define arithmetic hashes over character
codes — pure integer math every SQL engine evaluates identically.

Definitions (all integer, exact):

  H(w)      = sum_p ascii(w[p]) * ((p*C1 + C2) mod M1)   p = 1-based char pos
  h1(w)     = H(w) mod M2                                 (~20-bit token hash)
  h2(w)     = (h1(w)*C1 + 911) mod M31                    (31-bit, for simhash)
  perm_i(x) = (a_i*x + b_i) mod M2                        (minhash permutations)
              a_i = 2i+3,  b_i = (i^2*7919 + 31) mod M2

Spark evaluates these via higher-order array functions (JVM-side, no UDF);
the DuckDB SQL strings below are generated from the SAME Python constants,
so the two can't drift apart.

Scale note: the higher-order array functions (``transform``,
``aggregate``) are CodegenFallback: Spark interprets them element by
element, outside whole-stage codegen. Where a per-token hash is a hot
path, a vectorized Arrow kernel computes the same integers instead
(``kernels.h1``; ``dedup._minhash_kernel`` for the minhash minima,
``dedup._simhash_kernel`` for h2 and the simhash votes), pinned bit for
bit against these expressions.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

C1 = 2654435761
C2 = 12345
M1 = 999983
M2 = 1000003
M31 = 2147483647

# Portable natural log over small integer inputs: Java's Math.log and
# glibc's log() disagree in the last ulp on ~2% of small-int inputs
# (e.g. ln(3)), so any oracle-exact entropy/likelihood statistic must
# NOT call the engines' ln directly. Both sides instead index this
# table, generated once here from Python's libm — the same
# constants-shared-by-construction pattern as the hashes above.
LN_MAX = 512
_LN_TABLE = tuple(math.log(k) for k in range(1, LN_MAX + 1))


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def tokens(col: Column) -> Column:
    """Non-empty whitespace tokens of a string column."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != "")


def char_hash(col: Column) -> Column:
    """H(w): exact bigint char-weighted sum."""
    weighted = F.transform(
        F.split(col, ""),
        lambda ch, i: F.ascii(ch) * (((i + 1) * F.lit(C1) + C2) % M1),
    )
    return F.aggregate(
        F.filter(weighted, lambda x: x.isNotNull()),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def h1(col: Column) -> Column:
    return char_hash(col) % M2


def h2(col: Column) -> Column:
    return (h1(col) * C1 + 911) % M31


def perm_coeffs(i: int) -> tuple[int, int]:
    return 2 * i + 3, (i * i * 7919 + 31) % M2


# ---------------------------------------------------------------------------
# DuckDB side (SQL text generated from the same constants)
# ---------------------------------------------------------------------------


def sql_tokens(expr: str) -> str:
    return f"list_filter(regexp_split_to_array({expr}, '\\s+'), w -> w <> '')"


def sql_char_hash(expr: str) -> str:
    return (
        f"list_sum(list_transform(range(1, length({expr})+1), "
        f"p -> ascii(substr({expr}, p::INT, 1)) * ((p*{C1} + {C2}) % {M1})))::BIGINT"
    )


def sql_h1(expr: str) -> str:
    return f"({sql_char_hash(expr)} % {M2})"


def sql_h2(expr: str) -> str:
    return f"(({sql_h1(expr)} * {C1} + 911) % {M31})"


def sql_perm(i: int, expr: str) -> str:
    a, b = perm_coeffs(i)
    return f"(({a} * {expr} + {b}) % {M2})"


def sql_ln_lut() -> str:
    """``_LN_TABLE`` as a DuckDB list literal: ``lut[k]`` == ln(k) for
    1 <= k <= LN_MAX. repr() is the shortest round-trip form; the
    ``e0`` suffix is load-bearing — DuckDB parses a bare decimal literal
    as DECIMAL(p,s) (losing the last ulp), but an exponent-form literal
    as DOUBLE (exact bits back)."""
    return "[" + ", ".join(f"{v!r}e0" for v in _LN_TABLE) + "]"
