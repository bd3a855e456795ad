"""Exact numpy oracle and result checks.

The oracle never ranks the program's answers against a fixed top-k list.
It keeps, per query, the exact k-th best value; a returned neighbour
counts as a hit when its own exact value is at least as good as that
threshold (within ``TOL``), so ties at the k-th place are accepted.  The
distance the program reports for each neighbour must match that exact
value (within ``DIST_TOL``), so wrong or degraded distances fail the op
even when the ids are right.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

TOL = 1e-6      # relative tolerance between Spark's float64 sums and numpy's
DIST_TOL = 1e-4  # relative tolerance of a reported distance; covers float32 kernels


class CheckError(Exception):
    """A malformed result: missing queries, too many rows, unsorted ranks,
    unknown or repeated ids, or reported distances off the exact ones."""


# -- dense L2 (squared, as the engine reports it) ---------------------------

def sq_norms(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float64)
    return np.einsum("ij,ij->i", m, m)


def kth_l2(base: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact k-th smallest squared L2 distance of every query to ``base``."""
    block = 1024
    b = base.astype(np.float64)
    bn = sq_norms(b)
    out = np.empty(len(queries))
    for s in range(0, len(queries), block):
        q = queries[s:s + block].astype(np.float64)
        d = bn[None, :] + sq_norms(q)[:, None] - 2.0 * (q @ b.T)
        out[s:s + block] = np.partition(d, k - 1, axis=1)[:, k - 1]
    return out


def pair_l2(base: np.ndarray, queries: np.ndarray, qpos: np.ndarray, bpos: np.ndarray) -> np.ndarray:
    diff = queries[qpos].astype(np.float64) - base[bpos].astype(np.float64)
    return np.einsum("ij,ij->i", diff, diff)


def check_distances(reported: np.ndarray, exact: np.ndarray) -> None:
    """Raise unless every reported distance matches the exact squared L2
    distance of its (query, neighbour) pair."""
    err = np.abs(reported - exact)
    bad = err > DIST_TOL * np.maximum(1.0, np.abs(exact))
    if bad.any():
        i = int(np.argmax(bad))
        raise CheckError(f"{int(bad.sum())} reported distances off the exact ones, "
                         f"e.g. {reported[i]!r} for {exact[i]!r}")


def knn_hits(reported: np.ndarray, exact: np.ndarray, kth: np.ndarray) -> int:
    """Check the reported distances, then count the neighbours whose exact
    distance is within the exact k-th distance of their query (ties at
    the k-th place count)."""
    check_distances(reported, exact)
    return int((exact <= kth * (1 + TOL) + 1e-9).sum())


# -- semantic duplicates ----------------------------------------------------

def has_near_dup(corpus: np.ndarray, ids: np.ndarray, eps: float) -> np.ndarray:
    """For each id, whether another corpus row sits at cosine > eps."""
    x = corpus.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    c = x[ids] @ x.T
    c[np.arange(len(ids)), ids] = -1.0
    return (c > eps).any(axis=1)


# -- result checks ------------------------------------------------------------

def check_topk(tbl: pa.Table, k: int, expect_qids: np.ndarray, n_ids: int) -> None:
    """Shape checks on a ``(query_id, neighbor_id, distance, rank)`` top-k
    result: every expected query present, at most k rows per query, ranks
    1..m, distances ascending by rank, ids known and unique per query."""
    if tbl.num_rows == 0:
        raise CheckError("empty result")
    # sort the long-form rows by (query, rank) and split them per query
    order = np.lexsort((tbl.column("rank").to_numpy(), tbl.column("query_id").to_numpy()))
    keys = tbl.column("query_id").to_numpy()[order]
    ids = tbl.column("neighbor_id").to_numpy()[order]
    ranks = tbl.column("rank").to_numpy()[order]
    dist = tbl.column("distance").to_numpy()[order].astype(np.float64)
    bounds = np.flatnonzero(np.diff(keys)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(keys)]])
    got = keys[starts]
    missing = np.setdiff1d(expect_qids, got)
    if len(missing):
        raise CheckError(f"{len(missing)} query ids missing, e.g. {missing[:3].tolist()}")
    extra = np.setdiff1d(got, expect_qids)
    if len(extra):
        raise CheckError(f"{len(extra)} unexpected query ids, e.g. {extra[:3].tolist()}")
    if (ids < 0).any() or (ids >= n_ids).any():
        raise CheckError("neighbour id outside the indexed id range")
    counts = ends - starts
    if counts.max() > k:
        raise CheckError(f"{int(counts.max())} rows for one query, k={k}")
    pos = np.arange(len(keys)) - np.repeat(starts, counts) + 1
    if not np.array_equal(ranks, pos):
        raise CheckError("ranks are not 1..m within a query")
    falls = np.diff(dist) < -TOL * np.abs(dist[1:]) - 1e-9
    if (falls & (np.diff(keys) == 0)).any():
        raise CheckError("distances not ascending by rank")
    pairs = keys * (n_ids + 1) + ids
    if len(np.unique(pairs)) != len(pairs):
        raise CheckError("duplicate neighbour within a query")
