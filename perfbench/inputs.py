"""Seeded synthetic inputs: a dense corpus with planted near-copies, a
disjoint query pool and a pool of rows to append.

Everything is a pure function of the seed: the same seed gives
byte-identical arrays.  The program under test receives only
these inputs (as Arrow-backed DataFrames); the oracle reads the same
arrays.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

N = 12_000            # corpus rows, planted copies included
DIM = 64
N_CENTERS = 32        # Gaussian-mixture components
CENTER_SCALE = 0.5
DUP_FRAC = 0.02       # share of corpus rows that are planted copies
DUP_NOISE = 0.02      # per-coordinate noise of a copy
N_QUERIES = 4_000     # dense query pool
N_APPEND = 1_200      # rows one ivf_flat.add call appends

#: the mixture's components are the same for every seed; ``--seed`` draws
#: the points, so recall differs between seeds by sampling alone
CENTERS_SEED = 0


@dataclass(frozen=True)
class Inputs:
    corpus: np.ndarray        # (N, DIM) float32, row i has id i
    dup_pairs: np.ndarray     # (m, 2) int64 ids: (original, planted copy)
    queries: np.ndarray       # (N_QUERIES, DIM) float32, row i has query_id i
    append: np.ndarray        # (N_APPEND, DIM) float32


def _mixture(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    labels = rng.integers(0, len(centers), n)
    noise = rng.standard_normal((n, centers.shape[1]), dtype=np.float32)
    return centers[labels] + noise


def generate(seed: int) -> Inputs:
    centers = np.random.default_rng(CENTERS_SEED).standard_normal((N_CENTERS, DIM))
    centers = (centers * CENTER_SCALE).astype(np.float32)
    rng = np.random.default_rng(seed)

    # corpus: originals from the mixture, then near-copies of a random
    # subset, then one shuffle so copies sit at random ids.  A copy's
    # cosine to its original is ~1 - DUP_NOISE²·DIM/2; unrelated rows of
    # one component sit near CENTER_SCALE²/(1+CENTER_SCALE²) = 0.2, far
    # below any dedup eps the workloads use.
    n_dup = int(round(N * DUP_FRAC))
    n_orig = N - n_dup
    orig = _mixture(rng, centers, n_orig)
    src = rng.choice(n_orig, size=n_dup, replace=False)
    copies = orig[src] + DUP_NOISE * rng.standard_normal((n_dup, DIM), dtype=np.float32)
    rows = np.concatenate([orig, copies])
    perm = rng.permutation(N)            # perm[new_id] = old row
    corpus = np.ascontiguousarray(rows[perm])
    new_id = np.empty(N, dtype=np.int64)
    new_id[perm] = np.arange(N)
    dup_pairs = np.stack([new_id[src], new_id[n_orig + np.arange(n_dup)]], axis=1)

    queries = _mixture(rng, centers, N_QUERIES)
    append = _mixture(rng, centers, N_APPEND)

    return Inputs(
        corpus=corpus,
        dup_pairs=dup_pairs,
        queries=queries.astype(np.float32),
        append=append.astype(np.float32),
    )
