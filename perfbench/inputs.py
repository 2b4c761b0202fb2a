"""Workload inputs, the brute-force oracle and the output checks.

Every vector is a pure function of ``(seed, id)``: each row draws from its
own ``numpy`` generator seeded with ``[seed, stream, id]``, as the
``points_emnist_like`` fixture generator does, so any id range regenerates
identically and the driver-side oracle sees exactly the rows Spark sees.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# Stream tags keep the centre draws and the per-row draws independent.
_CENTRES, _ROWS = 1, 2


def emnist_like(seed: int, ids: np.ndarray, dim: int = 784) -> np.ndarray:
    """FIXTURES ``points_emnist_like``: even ids Uniform(0,1)^dim, odd ids
    one of 10 Gaussian clusters (sigma 0.1) around Uniform(0,1)^dim centres."""
    centres = np.random.default_rng([seed, _CENTRES]).uniform(0, 1, (10, dim))
    out = np.empty((len(ids), dim))
    for row, i in enumerate(ids):
        rng = np.random.default_rng([seed, _ROWS, int(i)])
        if i % 2 == 0:
            out[row] = rng.uniform(0, 1, dim)
        else:
            out[row] = centres[i % 10] + rng.normal(0, 0.1, dim)
    return out


def clustered(seed: int, ids: np.ndarray, dim: int = 16, n_clusters: int = 64) -> np.ndarray:
    """FIXTURES ``points_clustered`` shape: isotropic N(centre, 1) clusters
    around Uniform(-50, 50)^dim centres; id ``i`` belongs to cluster
    ``i % n_clusters``."""
    centres = np.random.default_rng([seed, _CENTRES]).uniform(-50, 50, (n_clusters, dim))
    out = np.empty((len(ids), dim))
    for row, i in enumerate(ids):
        rng = np.random.default_rng([seed, _ROWS, int(i)])
        out[row] = centres[i % n_clusters] + rng.normal(0, 1.0, dim)
    return out


def tiny(seed: int, ids: np.ndarray) -> np.ndarray:
    """FIXTURES ``points_tiny`` for ids 0-11: three 4-point clusters at
    (0,0), (100,0) and (0,100) with offsets {(0,0),(1,0),(0,1),(1,1)}.
    Later ids repeat the pattern shifted by 0.125 per block of 12, so no
    two ids share a vector. Ignores the seed."""
    centres = np.array([[0.0, 0.0], [100.0, 0.0], [0.0, 100.0]])
    offsets = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    return np.array([centres[(i // 4) % 3] + offsets[i % 4] + 0.125 * (i // 12) for i in ids])


@dataclass(frozen=True)
class Points:
    ids: np.ndarray
    feats: np.ndarray


def make_points(gen, seed: int, start: int, n: int) -> Points:
    ids = np.arange(start, start + n, dtype=np.int64)
    return Points(ids, gen(seed, ids))


def exact_topk(stored: Points, queries: np.ndarray, k: int, exclude_self: bool) -> np.ndarray:
    """FIXTURES ``knn_oracle``: for each query row the ids of the k stored
    points with the highest ``1/(1+L2)``, ties by ascending id. All points
    share one ``partition``, so every pair is eligible. With
    ``exclude_self`` query row ``r`` is stored row ``r`` and never its own
    neighbour."""
    out = np.empty((len(queries), k), dtype=np.int64)
    for r, q in enumerate(queries):
        sim = 1.0 / (1.0 + np.sqrt(((stored.feats - q) ** 2).sum(axis=1)))
        if exclude_self:
            sim[r] = -np.inf
        order = np.lexsort((stored.ids, -sim))
        out[r] = stored.ids[order[:k]]
    return out


def recall(found: dict[int, list[int]], query_ids: np.ndarray, exact: np.ndarray) -> float:
    """Share of the oracle's neighbours that the result also lists."""
    hits = sum(len(set(found.get(int(q), ())) & set(row.tolist())) for q, row in zip(query_ids, exact))
    return hits / exact.size


def check_graph(ids: list, neighbors: list, expected_ids: np.ndarray, k: int) -> dict[int, list[int]]:
    """Graph invariants: one row per input id, at most ``k`` neighbours,
    no self-edges, neighbours drawn from the input, similarity in (0, 1]
    sorted descending with ties by ascending id. Returns id -> neighbour
    ids; raises ``AssertionError`` naming the first violation."""
    if len(ids) != len(set(ids)) or set(ids) != set(expected_ids.tolist()):
        raise AssertionError(f"graph rows {len(ids)} do not match the {len(expected_ids)} input ids")
    valid = set(ids)
    found = {}
    for i, nbs in zip(ids, neighbors):
        if nbs is None:
            raise AssertionError(f"id {i}: null neighbours for an active point")
        if len(nbs) > k:
            raise AssertionError(f"id {i}: {len(nbs)} neighbours > k={k}")
        keys = [(-n["similarity"], n["id"]) for n in nbs]
        if keys != sorted(keys):
            raise AssertionError(f"id {i}: neighbours not sorted by similarity desc, id asc")
        for n in nbs:
            if n["id"] == i or n["id"] not in valid or not 0.0 < n["similarity"] <= 1.0:
                raise AssertionError(f"id {i}: bad neighbour {n}")
        found[i] = [n["id"] for n in nbs]
    return found


def check_search(rows: dict[str, list], stored_ids: np.ndarray, query_ids: np.ndarray, k: int) -> dict[int, list[int]]:
    """Probe invariants: every query answered with 1..k distinct stored ids,
    ranks 1..n in order, similarity in (0, 1] non-increasing. Returns
    query id -> neighbour ids in rank order."""
    by_q: dict[int, list[tuple]] = {}
    for q, nb, rank, sim in zip(rows["query_id"], rows["nb_id"], rows["rank"], rows["sim"]):
        by_q.setdefault(q, []).append((rank, nb, sim))
    if set(by_q) != set(query_ids.tolist()):
        raise AssertionError(f"{len(by_q)} of {len(query_ids)} queries answered")
    valid = set(stored_ids.tolist())
    found = {}
    for q, hits in by_q.items():
        hits.sort()
        ranks, nbs, sims = zip(*hits)
        if not 0 < len(hits) <= k or list(ranks) != list(range(1, len(hits) + 1)):
            raise AssertionError(f"query {q}: ranks {ranks}")
        if len(set(nbs)) != len(nbs) or not set(nbs) <= valid:
            raise AssertionError(f"query {q}: neighbours {nbs} not distinct stored ids")
        if any(not 0.0 < s <= 1.0 for s in sims) or list(sims) != sorted(sims, reverse=True):
            raise AssertionError(f"query {q}: similarities {sims}")
        found[q] = list(nbs)
    return found
