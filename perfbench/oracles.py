"""Expected outputs, computed on the driver from the collected input.

Nothing here calls the engine's operators: scores come from numpy power
iterations, components from union-find, motif counts from adjacency
sets and closed forms.  Label propagation uses the engine's single-node
``lpa_oracle``, a separate pure-Python implementation of the same rule.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd


def index_edges(src: np.ndarray, dst: np.ndarray):
    """``(ids, s, d)``: sorted distinct endpoint ids and the edge
    endpoints as positions into ``ids``."""
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(
    s: np.ndarray,
    d: np.ndarray,
    n: int,
    tol: float = 1e-6,
    max_iter: int = 100,
    fixed_iterations: int | None = None,
) -> np.ndarray:
    """networkx PageRank semantics with damping 0.85: uniform teleport
    and dangling distribution, stop when the L1 change is below
    ``n * tol``."""
    alpha = 0.85
    out_deg = np.bincount(s, minlength=n).astype(float)
    share = 1.0 / out_deg[s]
    dangling = out_deg == 0
    p = np.full(n, 1.0 / n)
    x = p.copy()
    for _ in range(fixed_iterations or max_iter):
        last = x
        gathered = np.bincount(d, weights=last[s] * share, minlength=n)
        x = alpha * (gathered + last[dangling].sum() * p) + (1 - alpha) * p
        if fixed_iterations is None and np.abs(x - last).sum() < n * tol:
            return x
    if fixed_iterations is None:
        raise RuntimeError(f"PageRank did not converge in {max_iter} rounds")
    return x


def eigenvector(s: np.ndarray, d: np.ndarray, n: int, iterations: int) -> np.ndarray:
    """``iterations`` rounds of ``x <- (x + A^T x) / ||x + A^T x||_2``
    from the uniform start (networkx's recurrence)."""
    x = np.full(n, 1.0 / n)
    for _ in range(iterations):
        y = x + np.bincount(d, weights=x[s], minlength=n)
        norm = np.sqrt((y * y).sum())
        x = y / (norm if norm else 1.0)
    return x


def components(ids: np.ndarray, s: np.ndarray, d: np.ndarray) -> dict:
    """Vertex id -> smallest vertex id of its undirected component."""
    parent = list(range(len(ids)))

    def find(v: int) -> int:
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in zip(s.tolist(), d.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # ids are sorted, so the smaller position is the smaller id
            parent[max(ra, rb)] = min(ra, rb)
    id_list = ids.tolist()
    return {v: id_list[find(i)] for i, v in enumerate(id_list)}


def adjacency(src: np.ndarray, dst: np.ndarray) -> tuple[dict, dict]:
    succ: dict = defaultdict(set)
    pred: dict = defaultdict(set)
    for a, b in zip(src.tolist(), dst.tolist()):
        succ[a].add(b)
        pred[b].add(a)
    return succ, pred


def directed_two_paths(succ: dict, pred: dict) -> int:
    """Injective ``a -> b -> c`` matches on a loop-free digraph:
    sum over b of in(b) * out(b), minus the ``a -> b -> a`` walks, one
    per arc whose reverse arc exists."""
    walks = sum(len(pred[b]) * len(succ[b]) for b in succ if b in pred)
    reciprocal = sum(1 for a in succ for b in succ[a] if a in succ.get(b, ()))
    return walks - reciprocal


def directed_three_cycles(succ: dict, pred: dict, starts=None) -> int:
    """Injective ``a -> b -> c -> a`` matches with ``a`` in ``starts``
    (all vertices when None); on a loop-free digraph this is the number
    of closed 3-walks from those vertices."""
    total = 0
    for a in succ if starts is None else starts:
        into_a = pred.get(a)
        if not into_a:
            continue
        for b in succ.get(a, ()):
            total += len(succ.get(b, set()) & into_a)
    return total


def undirected_triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Distinct triangles of the undirected simple graph of the arcs."""
    nbrs: dict = defaultdict(set)
    for a, b in zip(src.tolist(), dst.tolist()):
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    per_edge = sum(len(nbrs[a] & nbrs[b]) for a in nbrs for b in nbrs[a] if a < b)
    return per_edge // 3


def derived_edges(turns: pd.DataFrame) -> dict:
    """``(src, dst) -> weight`` of the transcripts link graph: reply arcs
    between consecutive turns of a conversation plus role -> tool
    invoke arcs, collapsed to one weighted arc per pair."""
    t = turns.sort_values(["conv_id", "turn_idx"])
    who = "role:" + t["role"]
    nxt = who.groupby(t["conv_id"]).shift(-1)
    reply = pd.DataFrame({"src": who, "dst": nxt}).dropna()
    used = t["tool"].notna()
    invoke = pd.DataFrame({"src": who[used], "dst": "tool:" + t.loc[used, "tool"]})
    both = pd.concat([reply, invoke])
    return {k: int(v) for k, v in both.groupby(["src", "dst"]).size().items()}
