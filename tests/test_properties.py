"""Property-based tests (hypothesis) for the pure-Python building blocks.

These need no SparkSession, so hypothesis can hammer hundreds of random
cases per second: the BMP codec behind multimodal_decode, and the
linefile reader's split planner + straddle rule — the reference's core
input contract (LineRecordReader.h:14-119), which must lose and
duplicate nothing for ANY content and ANY split size. The SemDeDup
kernel tests sit here too; ``test_exact_nearest_edge_rows`` is the one
that needs the session, because its kernel runs inside mapInPandas.
"""

from __future__ import annotations

import os
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from tiny_mapreduce_rpc_server_spark.operators.multimodal import (
    _bmp_decode_py,
    _bmp_encode,
)
from tiny_mapreduce_rpc_server_spark.sources.linefile import LineFileReader


@given(
    w=st.integers(min_value=1, max_value=200),
    h=st.integers(min_value=1, max_value=100),
    color=st.integers(min_value=0, max_value=255),
)
def test_bmp_codec_roundtrip(w, h, color):
    got_w, got_h, got_mean = _bmp_decode_py(_bmp_encode(w, h, color))
    assert (got_w, got_h) == (w, h)
    assert got_mean == float(color)  # solid fill => exact mean


_LINE_ALPHABET = st.characters(
    codec="utf-8", exclude_characters="\n\r", categories=("L", "N", "P", "Zs")
)


@given(
    lines=st.lists(st.text(alphabet=_LINE_ALPHABET, max_size=30), max_size=20),
    split_size=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_linefile_straddle_rule_exact_for_any_split_size(lines, split_size):
    """Every line is read exactly once, by the split where it STARTS,
    with its true byte offset — for arbitrary content (incl. empty lines
    and multibyte UTF-8) and arbitrary split sizes down to 1 byte."""
    data = "".join(line + "\n" for line in lines).encode("utf-8")
    with tempfile.NamedTemporaryFile(delete=False) as fh:
        fh.write(data)
        path = fh.name
    try:
        reader = LineFileReader({"path": path, "split_size": str(split_size)})
        records = []
        for part in reader.partitions():
            records.extend(reader.read(part))
    finally:
        os.unlink(path)

    # expected: (byte offset of line start, line)
    expected, pos = [], 0
    for line in lines:
        expected.append((pos, line))
        pos += len(line.encode("utf-8")) + 1
    assert records == expected


@given(
    st.integers(min_value=0, max_value=1023),
    st.integers(min_value=0, max_value=1023),
)
@settings(max_examples=200, deadline=None)
def test_zorder_expression_interleaves_exactly(x, y):
    """The generated SQL z-expression must equal the reference bit
    interleave (x in even bits, y in odd bits) and be injective — checked
    by deinterleaving back to (x, y). Evaluated through DuckDB so the
    exact SQL text both engines run is what's tested."""
    import duckdb

    from tiny_mapreduce_rpc_server_spark.sources.formats import _Z_BITS, _z_expr

    (z,) = duckdb.sql(
        f"SELECT {_z_expr(str(x), str(y))}"
    ).fetchone()
    ref = 0
    for i in range(_Z_BITS):
        ref |= ((x >> i) & 1) << (2 * i)
        ref |= ((y >> i) & 1) << (2 * i + 1)
    assert z == ref
    back_x = sum(((z >> (2 * i)) & 1) << i for i in range(_Z_BITS))
    back_y = sum(((z >> (2 * i + 1)) & 1) << i for i in range(_Z_BITS))
    assert (back_x, back_y) == (x, y)


def test_cluster_rollup_drops_zero_norm():
    """Zero-norm contract (settled round 7; kernel fused in the r11
    optimization round): a zero-norm vector's cosine is undefined — the
    DuckDB oracle's division by zero yields NULL and ``NULL >= t`` DROPS
    the pair, while ANSI Spark (the driver's vanilla default) would
    THROW if such a pair were cosine'd. The fused kernel's NaN BLAS
    scores (0 * inf) compare False against both the margin and the
    certainty band, so a zero-norm row is never dropped and never
    reaches the exact fold — matching the oracle and never tripping
    ANSI division. A null or NaN vector raises instead, naming its
    vec_id."""
    import math

    import pandas as pd
    import pytest

    from tiny_mapreduce_rpc_server_spark.operators.ml import (
        SEMANTIC_DUP,
        _cluster_rollup,
    )

    fn = _cluster_rollup()
    pdf = pd.DataFrame(
        {"vec_id": [1, 2, 3, 4],
         "v": [[0.0, 0.0], [1.0, 0.0], [-1.0, 0.0], [1.0, 1e-9]]}
    )
    out = fn((7,), pdf)
    assert list(out["cluster"]) == [7]
    assert list(out["n_members"]) == [4]
    # exactly one drop: vec 4 (near-parallel to lower-id vec 2). The
    # zero-norm vec 1 pairs with nothing (would otherwise drop 2, 3 and
    # 4 if its NaN scores leaked through), and the anti-parallel (2, 3)
    # pair is a normal BLAS reject.
    assert list(out["n_dropped"]) == [1]
    assert list(out["n_kept"]) == [3]
    # a null or NaN vector has no cosine: it raises, naming its vec_id
    for bad, msg in ((None, "null"), ([math.nan, 0.0], "non-finite")):
        with pytest.raises(ValueError, match=f"vec_id 5 has a {msg} vector"):
            fn((7,), pd.concat([pdf, pd.DataFrame({"vec_id": [5], "v": [bad]})]))


def test_cluster_rollup_uncertainty_band_exact_fold():
    """The fused kernel's certainty-band shortcut must agree with the
    exact sequential fold AT the threshold: a pair whose exact cosine is
    exactly SEMANTIC_DUP (inside the 2e-9 uncertainty band, where BLAS
    cannot decide) is dropped by the >= contract, and a pair just below
    the band is kept."""
    import pandas as pd

    from tiny_mapreduce_rpc_server_spark.operators.ml import (
        SEMANTIC_DUP,
        _cluster_rollup,
    )

    import math

    fn = _cluster_rollup()
    # v2 is built so its exact-fold cosine against v1 lands within a few
    # ulps of the threshold (2/5 up to norm rounding): the BLAS score
    # falls inside the [t-1e-9, t+1e-9) uncertainty band and the exact
    # fold decides. The test computes the expected verdict with the SAME
    # reference fold (sequential products/adds, correctly-rounded
    # sqrt/multiply/divide — the oracle's list_dot_product semantics) so
    # it is robust to the rounding direction of sqrt(21)**2.
    v1, v2 = [1.0, 0.0], [2.0, math.sqrt(21.0)]

    def fold_cos(a, b):
        d = na = nb = 0.0
        for x, y in zip(a, b):
            d += x * y
        for x in a:
            na += x * x
        for x in b:
            nb += x * x
        return d / (math.sqrt(na) * math.sqrt(nb))

    assert abs(fold_cos(v1, v2) - SEMANTIC_DUP) < 1e-12  # in the band
    expected = 1 if fold_cos(v1, v2) >= SEMANTIC_DUP else 0
    pdf = pd.DataFrame(
        {"vec_id": [1, 2, 3],
         # vec 3 sits far below the band: kept
         "v": [v1, v2, [-1.0, 0.0]]}
    )
    out = fn((0,), pdf)
    assert list(out["n_members"]) == [3]
    assert list(out["n_dropped"]) == [expected], out
    assert list(out["n_kept"]) == [3 - expected]


def test_exact_nearest_edge_rows(spark):
    """``_exact_nearest`` is the one nearest-centroid kernel of the
    SemDeDup queries: top-n by (exact sequential-fold distance, cluster
    id), min(n, K) rows per vector, nothing without centroids — and a
    null or non-finite vector or centroid raises, naming its id, instead
    of taking a cluster (or silently vanishing)."""
    import math

    import pandas as pd
    import pytest

    from tests.conftest import SF_ORACLE
    from tiny_mapreduce_rpc_server_spark.operators.ml import (
        _embeddings,
        _exact_nearest,
        _seeds,
    )

    def nearest(vecs, cents, n):
        emb = spark.createDataFrame(vecs, "vec_id long, v array<double>")
        cdf = pd.DataFrame(
            {"cluster": [c for c, _ in cents], "cv": [cv for _, cv in cents]}
        )
        return _exact_nearest(spark, emb, cdf, n).collect()

    def pairs(rows):
        return sorted((r.vec_id, r.cluster) for r in rows)

    vecs = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
    # centroids 3 and 5 are identical (exact tie); given out of order
    cents = [(5, [1.0, 0.0]), (9, [0.0, 2.0]), (3, [1.0, 0.0])]
    one = nearest(vecs, cents, 1)
    assert pairs(one) == [(1, 3), (2, 9)]
    assert {r.vec_id: list(r.v) for r in one} == dict(vecs)
    assert pairs(nearest(vecs, cents, 2)) == [(1, 3), (1, 5), (2, 3), (2, 9)]
    # n > K: every centroid, once per vector
    assert pairs(nearest(vecs, cents, 5)) == [
        (v, c) for v in (1, 2) for c in (3, 5, 9)
    ]
    assert nearest(vecs, [], 1) == []

    with pytest.raises(Exception, match="vec_id 7 has a non-finite vector"):
        nearest(vecs + [(7, [math.nan, 0.0])], cents, 1)
    with pytest.raises(Exception, match="vec_id 8 has a null vector"):
        nearest(vecs + [(8, None)], cents, 2)
    with pytest.raises(ValueError, match="cluster 4 has a non-finite vector"):
        nearest(vecs, cents + [(4, [0.0, math.inf])], 1)
    with pytest.raises(ValueError, match="cluster 4 has a non-finite vector"):
        nearest(vecs, cents + [(4, [math.nan, 0.0])], 1)

    # the real corpus: n=2 is the two nearest seeds of a brute-force
    # sequential fold over every seed, and n=1 the nearer of those two
    emb = _embeddings(spark, SF_ORACLE)
    seeds = _seeds(emb).toPandas()
    ref = {}
    for r in emb.collect():
        scored = []
        for cid, cv in zip(seeds["cluster"], seeds["cv"]):
            s = 0.0
            for x, y in zip(r.v, cv):
                s += (x - y) * (x - y)
            scored.append((s, int(cid)))
        ref[r.vec_id] = [cid for _, cid in sorted(scored)[:2]]
    one = {r.vec_id: r.cluster for r in _exact_nearest(spark, emb, seeds).collect()}
    two = {}
    for r in _exact_nearest(spark, emb, seeds, 2).collect():
        two.setdefault(r.vec_id, []).append(r.cluster)
    assert len(ref) > 100 and len(seeds) >= 2
    assert {v: sorted(c) for v, c in two.items()} == {
        v: sorted(c) for v, c in ref.items()
    }
    assert one == {v: c[0] for v, c in ref.items()}


@given(
    n=st.integers(min_value=0, max_value=10_000),
    k=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=300, deadline=None)
def test_closed_form_ntile_matches_sql_spec(n, k):
    """The round-9 lm-quality re-plan assigns ntile buckets in closed
    form from (rank, N, k) instead of a global window. Property: for
    any N and k, the formula reproduces the SQL-standard ntile spec —
    the first N mod k buckets take ceil(N/k) rows, the rest floor(N/k);
    buckets are dense, non-decreasing, and sized exactly."""
    q, r = divmod(n, k)

    def bucket(rn: int) -> int:
        # the exact expression q_text_lm_quality_filter compiles
        if rn <= r * (q + 1):
            return (rn - 1) // (q + 1) + 1
        return r + (rn - 1 - r * (q + 1)) // max(q, 1) + 1

    buckets = [bucket(rn) for rn in range(1, n + 1)]
    assert buckets == sorted(buckets)
    from collections import Counter

    sizes = Counter(buckets)
    # SQL spec: first (n mod k) buckets have q+1 rows, the rest q
    for b in range(1, min(k, n) + 1 if q == 0 else k + 1):
        want = (q + 1) if b <= r else q
        if want:
            assert sizes[b] == want, (n, k, b, sizes[b], want)
    # no bucket beyond k, no gaps among used buckets
    if n:
        used = sorted(sizes)
        assert used[0] == 1 and used[-1] <= k
        assert used == list(range(1, used[-1] + 1))


def _psl_reference(host: str, rules: dict) -> "str | None":
    """Independent pure-Python PSL matcher (publicsuffix.org algorithm)
    for cross-checking the Spark/DuckDB implementations: longest
    matching rule wins, exception beats wildcard beats exact, unlisted
    TLD -> 1-label default; NULL for IPs / bare suffixes / 1-label.

    Shared convention (ADVICE r9): like the cascade under test, this
    reference treats a wildcard rule's PARENT as a public suffix (host
    == parent of a listed ``*.parent`` -> NULL) — the publicsuffix.org
    test-suite behavior, not the literal longest-MATCHING-rule reading.
    The cross-check therefore pins consistency within that convention
    and cannot detect deviations of the wildcard-parent class; the
    convention itself is documented in psl.py's scope notes."""
    import re as _re

    if _re.match(r"^(\d{1,3}(\.\d{1,3}){3}|\[.*\])$", host) or host == "":
        return None
    labels = host.split(".")
    n = len(labels)
    slen = 1
    # exceptions first (suffix = name minus leftmost label)
    for k in (2, 3):
        if n >= k and ".".join(labels[-k:]) in rules["exc"]:
            slen = k - 1
            break
    else:
        if n >= 3 and ".".join(labels[-3:]) in rules["exact"]:
            slen = 3
        elif n >= 2 and ".".join(labels[-2:]) in rules["wild"]:
            slen = 3
        elif n >= 2 and ".".join(labels[-2:]) in rules["exact"]:
            slen = 2
        elif n >= 1 and labels[-1] in rules["wild"]:
            slen = 2
    if n <= slen:
        return None
    return ".".join(labels[-(slen + 1):])


def test_psl_implementations_match_reference_on_random_rules(spark):
    """Property (fixed seeds, batched into one Spark job per form): for
    randomized rule tables in the official PSL format and hosts built
    from those rules, the column-expression form, the broadcast-join
    form, and the DuckDB SQL generator all equal an independent
    pure-Python reference implementation of the publicsuffix.org
    algorithm."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from tiny_mapreduce_rpc_server_spark.functions import psl

    rng = random.Random(20260816)
    tlds = [f"t{i}" for i in range(30)]
    exact2 = [f"co{i}.{rng.choice(tlds)}" for i in range(40)]
    exact3 = [f"k{i}.{rng.choice(exact2)}" for i in range(10)]
    wild = [f"w{i}" for i in range(8)] + [f"p{i}.{rng.choice(tlds)}" for i in range(6)]
    exc = [f"city.{w}" for w in wild[:6]]
    text = "\n".join(
        tlds + exact2 + exact3 + [f"*.{w}" for w in wild] + [f"!{e}" for e in exc]
    )
    parsed = psl._parse_psl(text)
    rules = {k: set(v) for k, v in parsed.items()}

    hosts = []
    pool = tlds + exact2 + exact3 + wild + exc + ["unlisted"]
    for _ in range(300):
        base = rng.choice(pool)
        depth = rng.randint(0, 3)
        prefix = ".".join(f"x{rng.randint(0, 9)}" for _ in range(depth))
        hosts.append(f"{prefix}.{base}" if prefix else base)
    hosts += ["127.0.0.1", "localhost", ""]
    hosts = sorted(set(h for h in hosts if h))

    want = {h: _psl_reference(h, rules) for h in hosts}

    df = spark.createDataFrame([(h,) for h in hosts], ["h"])
    expr_got = {
        r.h: r.r
        for r in df.select(
            "h", psl.registrable_domain_of_host(F.col("h"), parsed).alias("r")
        ).collect()
    }
    assert expr_got == want, {
        h: (expr_got[h], want[h]) for h in hosts if expr_got[h] != want[h]
    }
    join_got = {
        r.h: r.registrable_domain
        for r in psl.with_registrable_domain(df, "h", parsed=parsed).collect()
    }
    assert join_got == want, {
        h: (join_got[h], want[h]) for h in hosts if join_got[h] != want[h]
    }
    con = duckdb.connect()
    duck_expr = psl.sql_registrable_domain("hlabels", "len(hlabels)", parsed)
    duck_got = dict(
        con.execute(
            "SELECT h, " + duck_expr + " FROM (SELECT h, str_split(h, '.') AS "
            "hlabels FROM (SELECT unnest($1) AS h))",
            [hosts],
        ).fetchall()
    )
    assert duck_got == want, {
        h: (duck_got[h], want[h]) for h in hosts if duck_got[h] != want[h]
    }
