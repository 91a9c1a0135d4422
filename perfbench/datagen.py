"""Seeded text corpus for the ``mapreduce_textio`` workload.

``write_corpus`` writes Zipf-distributed words, repeated lines and empty
lines, split over several files. It is a pure function of its
arguments: the same seed and sizes give byte-identical files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np


def write_corpus(
    out_dir: str, seed: int, total_bytes: int, n_files: int = 4, vocab: int = 200_000
) -> str:
    """Write ``n_files`` text files of about ``total_bytes`` in all and
    return the SHA-256 digest of their contents.

    Words are drawn from a Zipf law (rank ``r`` has weight ``1/r``) over
    ``vocab`` random lowercase words; a line holds 1-16 words. One line in 20 repeats one of 100
    stock lines and one in 50 is empty, so the line-count job has both
    duplicate and distinct keys."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    wlen = rng.integers(2, 11, vocab)
    chars = letters[rng.integers(0, 26, int(wlen.sum()))].tobytes().decode()
    cut = np.concatenate([[0], np.cumsum(wlen)])
    words = np.array([chars[cut[i] : cut[i + 1]] for i in range(vocab)])
    weight = 1.0 / np.arange(1, vocab + 1)
    weight /= weight.sum()
    stock = [" ".join(words[rng.integers(0, 50, 4)]) for _ in range(100)]
    digest = hashlib.sha256()
    per_file = total_bytes // n_files
    for f in range(n_files):
        lines: list[str] = []
        size = 0
        while size < per_file:
            n = 4096
            lens = rng.integers(1, 17, n)
            toks = words[rng.choice(vocab, int(lens.sum()), p=weight)]
            kind = rng.random(n)
            pick = rng.integers(0, len(stock), n)
            ends = np.cumsum(lens)
            for j in range(n):
                if kind[j] < 0.02:
                    line = ""
                elif kind[j] < 0.07:
                    line = stock[pick[j]]
                else:
                    line = " ".join(toks[ends[j] - lens[j] : ends[j]])
                lines.append(line)
                size += len(line) + 1
        data = ("\n".join(lines) + "\n").encode()
        digest.update(data)
        with open(os.path.join(out_dir, f"part-{f:05d}.txt"), "wb") as fh:
            fh.write(data)
    return digest.hexdigest()
