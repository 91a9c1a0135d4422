"""Worker-side numerics of the package's Arrow and pandas kernels.

The dedup and SemDeDup kernels (``dedup._minhash_kernel``,
``dedup._simhash_kernel``, ``dedup._dedup_embedding_broadcast``,
``ml._cluster_rollup``, ``ml._exact_nearest``) must reproduce, bit for
bit, integers and doubles that the DuckDB oracle computes with
sequential folds. They share one numerical policy, kept here:

- list columns arrive as Arrow arrays and are processed as one flat
  value buffer cut into per-row segments (``list_column``);
- token hashes are the portable ``h1`` of ``functions/portable.py``,
  computed per code point over the flat string buffer (``h1``);
- vectors enter as a float64 matrix, and a null or non-finite vector
  raises ``ValueError`` naming its id (``matrix``): it has no defined
  distance, and the oracle would either raise or decide it differently;
- BLAS scores each block of at most ``SCORE_BLOCK_BYTES`` bytes
  (``cosine_blocks``), and any decision within ``MARGIN`` of a
  threshold is taken on the exact left-to-right fold (``fold_dot``,
  ``fold_sq_dist``, ``FoldRows``), the order of Spark's ``F.aggregate``
  and DuckDB's ``list_dot_product``.

Each kernel keeps its own decision logic; nothing here branches on its
caller. The helpers are module-level so a kernel closure pickles them
by reference: Python workers import this module from the package.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from tiny_mapreduce_rpc_server_spark.functions import portable as P

# BLAS cosine vs the ordered fold: float64 dot error ~d*eps*|a||b|, so
# after normalization the cosine error is <= ~3*d*eps ~= 4e-14 at d=64.
# A score this far from a threshold decides it; the margin holds to
# d ~ 1e6 (widen it proportionally for wider embeddings).
MARGIN = 1e-9

# Dense score block cap: 256 MB of float64 per BLAS step. Kernels read
# it when they are built on the driver, so a test can shrink it to force
# the multi-block path at small SFs.
SCORE_BLOCK_BYTES = 1 << 28


# ---------------------------------------------------------------------------
# Arrow list intake and the token hash
# ---------------------------------------------------------------------------


class ListColumn(NamedTuple):
    """An Arrow list column as one flat value array cut into segments."""

    values: pa.Array  # every element of every row; null rows add none
    null_values: np.ndarray  # bool per element of ``values``
    lens: np.ndarray  # int64 element count per row, 0 for a null row
    nz: np.ndarray  # the rows with at least one element
    seg: np.ndarray  # start of each ``nz`` row in ``values`` (reduceat)
    null_rows: np.ndarray  # bool per row


def list_column(col: pa.Array) -> ListColumn:
    lens = pc.list_value_length(col).fill_null(0).to_numpy().astype(np.int64)
    nz = np.flatnonzero(lens)
    values = col.flatten()
    return ListColumn(
        values,
        values.is_null().to_numpy(zero_copy_only=False),
        lens,
        nz,
        np.concatenate(([0], np.cumsum(lens[nz])[:-1])),
        col.is_null().to_numpy(zero_copy_only=False),
    )


def h1(vals: pa.Array) -> np.ndarray:
    """``portable.h1`` of every string of an Arrow string array (a null
    string: any value), as int64.

    ``h1`` is the char-weighted sum of ``F.split(s, "")`` + ``F.ascii``,
    which is per code point. An all-ASCII buffer is summed byte by
    byte; any other is decoded to code points first (UTF-32, so a
    character outside the BMP is one element, as in Spark, not two
    UTF-16 units). An empty string hashes to 0. Sums and remainders use
    int64 with truncating ``fmod``, the JVM's ``long`` arithmetic."""
    wide = pa.types.is_large_string(vals.type)
    offs = np.frombuffer(vals.buffers()[1], np.int64 if wide else np.int32)
    offs = offs[vals.offset : vals.offset + len(vals) + 1].astype(np.int64)
    buf = vals.buffers()[2]
    if buf is None or offs[-1] == offs[0]:
        return np.zeros(len(vals), np.int64)
    data = np.frombuffer(buf, np.uint8)[offs[0] : offs[-1]]
    offs = offs - offs[0]
    if data.max() >= 128:
        starts = np.concatenate(([0], np.cumsum((data & 0xC0) != 0x80)))
        offs = starts[offs]
        data = np.frombuffer(data.tobytes().decode("utf-8").encode("utf-32-le"), "<u4")
    lens = np.diff(offs)
    pos = np.arange(len(data)) - np.repeat(offs[:-1], lens)
    w = (np.arange(1, lens.max() + 1, dtype=np.int64) * P.C1 + P.C2) % P.M1
    cum = np.concatenate(([0], np.cumsum(data.astype(np.int64) * w[pos])))
    return np.fmod(cum[offs[1:]] - cum[offs[:-1]], P.M2)


# ---------------------------------------------------------------------------
# vectors: matrix intake, blocked BLAS screen, exact ordered folds
# ---------------------------------------------------------------------------


def matrix(keys, vecs, what: str) -> np.ndarray:
    """The float64 matrix of ``vecs``, one row per key. A null vector or
    one with a null, NaN or infinite element raises ``ValueError``
    naming ``what`` and its key."""
    rows = []
    for key, x in zip(keys, vecs):
        if x is None:
            raise ValueError(f"{what} {key} has a null vector")
        rows.append(np.asarray(x, dtype="float64"))
    if not rows:
        return np.empty((0, 1), dtype="float64")
    mat = np.array(rows)
    bad = ~np.isfinite(mat).all(axis=1)
    if bad.any():
        raise ValueError(f"{what} {keys[bad.argmax()]} has a non-finite vector")
    return mat


def cosine_blocks(a: np.ndarray, b: np.ndarray, block_bytes: int):
    """Yield ``(lo, scores)``: the BLAS cosine of every row of ``a``
    against rows ``lo:lo + scores.shape[1]`` of ``b``, each block at
    most ``block_bytes`` of float64. A zero-norm row scores NaN, which
    compares False against any threshold: its cosine is undefined, and
    the oracle's NULL cosine drops the pair too."""
    if not len(a):
        return
    with np.errstate(invalid="ignore", divide="ignore"):
        a_inv = 1.0 / np.sqrt((a * a).sum(axis=1))
        b_inv = 1.0 / np.sqrt((b * b).sum(axis=1))
    step = max(1, block_bytes // (8 * len(a)))
    for lo in range(0, len(b), step):
        with np.errstate(invalid="ignore", divide="ignore"):
            s = (a @ b[lo : lo + step].T) * a_inv[:, None] * b_inv[None, lo : lo + step]
        yield lo, s


def fold_dot(a: list, b: list) -> float:
    d = 0.0
    for x, y in zip(a, b):
        d += x * y
    return d


def fold_sq_dist(a: list, b: list) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return s


class FoldRows:
    """The rows of a float64 matrix for the exact folds: each row's
    Python list and fold norm are built on first use, so only rows that
    reach a fold pay for them."""

    def __init__(self, mat: np.ndarray):
        self.mat = mat
        self._rows: dict[int, list] = {}
        self._norms: dict[int, float] = {}

    def row(self, i: int) -> list:
        r = self._rows.get(i)
        if r is None:
            r = self._rows[i] = self.mat[i].tolist()
        return r

    def norm(self, i: int) -> float:
        n = self._norms.get(i)
        if n is None:
            r = self.row(i)
            n = self._norms[i] = math.sqrt(fold_dot(r, r))
        return n

    def cosine(self, i: int, other: FoldRows, j: int) -> float:
        """Exact cosine of row ``i`` against row ``j`` of ``other``:
        correctly rounded sqrt, multiply and divide over the folds, as
        the oracle computes it."""
        return fold_dot(self.row(i), other.row(j)) / (self.norm(i) * other.norm(j))
