"""Column-expression helpers shared across operators.

Everything here stays JVM-side (built-in ``pyspark.sql.functions`` only —
no Python UDFs) so expressions remain inside whole-stage codegen.

Determinism note: the driver's correctness gate hash-compares our results
against a DuckDB oracle. Floating-point *sums* are order-dependent, and
Spark's partial/final aggregation order is nondeterministic, so any
``sum(double)`` could differ from DuckDB in the last ulp and fail an exact
hash. We therefore sum doubles through a fixed-scale decimal (exact,
order-independent) and cast the total back to double. This is also the
right call at 100 TB: decimal sums don't accumulate error across billions
of rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact aggregation
# ---------------------------------------------------------------------------

# Scale chosen to exactly represent the synthetic data's doubles (money-ish
# values with few significant decimals) while leaving ~20 integer digits of
# headroom for 100 TB-scale sums.
_SUM_DECIMAL = "decimal(38,6)"


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent, oracle-exact sum of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_SUM_DECIMAL)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Oracle-exact average: exact decimal sum divided by count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_SUM_DECIMAL)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


# ---------------------------------------------------------------------------
# timestamps
# ---------------------------------------------------------------------------


def ntz_diff_us(start: Column | str, end: Column | str) -> Column:
    """Exact microseconds from ``start`` to ``end`` (TIMESTAMP_NTZ),
    timezone-free.

    The ONLY tz-free microsecond arithmetic Spark offers on NTZ values
    is interval subtraction: ``end - start`` on two NTZ columns is pure
    wall-clock (verified under a DST-gap timestamp with the session tz
    set to America/New_York). Both ``unix_micros(ts.cast('timestamp'))``
    AND — surprisingly — ``timestampdiff(MICROSECOND, a, b)`` route
    through the session timezone (timestampdiff converts NTZ operands to
    instants first, so a diff spanning a DST transition is off by the
    offset change), diverging from DuckDB's tz-free ``epoch_us`` on any
    non-UTC machine. The interval is cast through DECIMAL seconds (exact
    — the physical payload is integer micros) to integer microseconds.
    """
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    return ((e - s).cast("decimal(30,6)") * 1000000).cast("long")


def ntz_epoch_us(col: Column | str) -> Column:
    """Epoch microseconds of a TIMESTAMP_NTZ column, timezone-free —
    matches DuckDB's ``epoch_us`` on naive timestamps on ANY machine
    (see ``ntz_diff_us`` for why the obvious formulations don't)."""
    return ntz_diff_us(F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), col)


def ntz_epoch_s(col: Column | str) -> Column:
    """Floor epoch SECONDS of a TIMESTAMP_NTZ column, timezone-free —
    matches DuckDB's ``epoch_us(ts) // 1000000``. Pure long arithmetic:
    subtract the floor-mod microsecond remainder, then divide (the
    dividend is exactly divisible and < 2^53, so the double division is
    exact). ``unix_timestamp`` is NOT a substitute — it routes the NTZ
    value through the session timezone."""
    us = ntz_epoch_us(col)
    return ((us - F.pmod(us, F.lit(1_000_000))) / F.lit(1_000_000)).cast("long")


def instant_as_ntz(col: Column | str) -> Column:
    """TIMESTAMP (instant) -> TIMESTAMP_NTZ carrying the instant's UTC
    wall-clock, timezone-free. A plain cast renders the instant in the
    SESSION timezone; this goes through unix_micros (instant -> epoch
    micros, tz-free) and the tz-free micros->NTZ builder, so the result
    is the same on any machine. The inverse of ``ntz_as_instant``."""
    c = F.col(col) if isinstance(col, str) else col
    return ntz_from_micros(F.unix_micros(c))


def ntz_as_instant(col: Column | str) -> Column:
    """TIMESTAMP_NTZ -> TIMESTAMP holding the instant whose UTC
    wall-clock equals the naive value, timezone-free. A plain cast
    interprets the naive value in the SESSION timezone (shifting it by
    the zone offset, non-uniformly across DST transitions); this
    reinterprets it as UTC via tz-free epoch micros. Needed where Spark
    requires a TIMESTAMP — e.g. streaming event time: watermarks reject
    NTZ ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE], Spark 4.1) — while the
    oracle works in naive time."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_micros(ntz_epoch_us(c))


def ntz_from_micros(us: Column) -> Column:
    """Epoch microseconds -> TIMESTAMP_NTZ, timezone-free (the inverse of
    ``ntz_epoch_us``). ``timestamp_micros`` is NOT a substitute: it
    yields a session-tz TIMESTAMP, and casting that to NTZ converts
    through the session timezone. Split into whole days + sub-day
    remainder so the double seconds argument of ``make_dt_interval``
    stays < 86400e6 microseconds — exactly representable, round-trip
    safe at microsecond resolution."""
    rem = F.pmod(us, F.lit(86_400_000_000))
    days = ((us - rem) / F.lit(86_400_000_000)).cast("long")
    return F.lit("1970-01-01 00:00:00").cast("timestamp_ntz") + F.make_dt_interval(
        days, F.lit(0), F.lit(0), rem / F.lit(1_000_000)
    )


# ---------------------------------------------------------------------------
# vector math (array<float|double> columns) — built-ins, no UDF
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Ordered-fold dot product: deterministic left-to-right double sum.

    ``F.aggregate`` folds the array sequentially, so the summation order is
    fixed by element order — reproducible bit-for-bit by any oracle that
    also folds in order (DuckDB's list_dot_product over DOUBLE[]).
    """
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sq_dist(a: Column, b: Column) -> Column:
    """Ordered-fold squared L2: each ``(x - y) * (x - y)`` rounded, then
    summed left to right from 0.0 — bit-identical to DuckDB's
    list_dot_product of the difference list with itself."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
