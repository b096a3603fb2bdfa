"""Independent sequential oracles for every benchmarked call.

Each oracle works on the NumPy edge arrays the input generator produced,
never on engine output, and each ``check_*`` compares one collected
kernel result with its oracle. A check returns ``None`` on a match and a
one-line reason otherwise.

- PageRank: NumPy power iteration with the kernel's stopping rule
  (max |delta r| < tol), compared with allclose at the same tolerance.
- CC: union-find, min-id labels, exact. LPA: k rounds of min-label, exact.
- Triangles: degree-oriented adjacency intersection, exact.
- BFS and SSSP: queue BFS and capped Dijkstra, exact.
- BCC: the NetworkX biconnected-components/bridges summary row, exact.
- SCC: NetworkX strongly connected components as min-id labels, exact.
"""

from __future__ import annotations

import heapq
import pickle
import sys
from collections import deque

import networkx as nx
import numpy as np

DAMPING = 0.85  # kernels.pagerank's default
# The benchmarked calls' parameters, shared by the calls and their oracles.
PAGERANK_TOL = 1e-6
LPA_ROUNDS = 5  # label_propagation's and CheckpointedLabelPropagation's default
BFS_MAX_DEPTH = 30  # kernels.bfs default
SSSP_CAP = 40  # kernels.sssp_rho_stepping default
SOURCE = 0


def pagerank(n: int, edges: np.ndarray, tol: float) -> np.ndarray:
    """Power iteration with dangling mass spread uniformly, as the kernel."""
    src, dst = edges[:, 0], edges[:, 1]
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    while True:
        contrib = np.bincount(dst, weights=rank[src] / out_deg[src], minlength=n)
        new = (1.0 - DAMPING) / n + DAMPING * (contrib + rank[dangling].sum() / n)
        delta = np.abs(new - rank).max()
        rank = new
        if delta < tol:
            return rank


def components(n: int, sym: np.ndarray) -> np.ndarray:
    """Union-find over the symmetric edges; label = min id of the component."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in sym.tolist():
        ru, rv = find(u), find(v)
        if ru != rv:
            # the smaller root wins, so every root is its component's min id
            parent[max(ru, rv)] = min(ru, rv)
    return np.array([find(x) for x in range(n)], dtype=np.int64)


def min_label_rounds(n: int, sym: np.ndarray, rounds: int) -> np.ndarray:
    """Synchronous min-label propagation: min id in the closed k-hop ball."""
    label = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        new = label.copy()
        np.minimum.at(new, sym[:, 1], label[sym[:, 0]])
        label = new
    return label


def triangles(n: int, sym: np.ndarray) -> int:
    """Exact triangle count: orient each edge from low to high (deg, id)."""
    deg = np.bincount(sym[:, 0], minlength=n)
    key = deg * n + np.arange(n)
    fwd = sym[key[sym[:, 0]] < key[sym[:, 1]]]
    out: list[set[int]] = [set() for _ in range(n)]
    for u, v in fwd.tolist():
        out[u].add(v)
    return sum(len(out[u] & out[v]) for u, v in fwd.tolist())


def _adjacency(n: int, sym: np.ndarray) -> list[list[int]]:
    adj: list[list[int]] = [[] for _ in range(n)]
    for u, v in sym.tolist():
        adj[u].append(v)
    return adj


def bfs(n: int, sym: np.ndarray, source: int, max_depth: int) -> dict[int, int]:
    """Hop distance of every vertex within ``max_depth`` hops of ``source``."""
    adj = _adjacency(n, sym)
    dist = {source: 0}
    queue = deque([source])
    while queue:
        u = queue.popleft()
        if dist[u] == max_depth:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                queue.append(v)
    return dist


def dijkstra(
    n: int, sym: np.ndarray, weights: np.ndarray, source: int, cap: int
) -> dict[int, int]:
    """Shortest distances no larger than ``cap``."""
    adj: list[list[tuple[int, int]]] = [[] for _ in range(n)]
    for (u, v), w in zip(sym.tolist(), weights.tolist()):
        adj[u].append((v, w))
    dist = {source: 0}
    heap = [(0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for v, w in adj[u]:
            nd = d + w
            if nd <= cap and nd < dist.get(v, cap + 1):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def bcc_summary(n: int, sym: np.ndarray) -> tuple:
    """(n_cc, n_bcc, largest_bcc_edges, n_bridges) via NetworkX."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(sym[sym[:, 0] < sym[:, 1]].tolist())
    sizes = [len(c) for c in nx.biconnected_component_edges(g)]
    n_bridges = sum(1 for _ in nx.bridges(g))
    return (
        nx.number_connected_components(g),
        len(sizes),
        max(sizes) if sizes else None,
        n_bridges if sizes else None,
    )


def scc(n: int, edges: np.ndarray) -> np.ndarray:
    """Strongly connected components as min-id labels via NetworkX."""
    g = nx.DiGraph()
    g.add_nodes_from(range(n))
    g.add_edges_from(edges.tolist())
    label = np.empty(n, dtype=np.int64)
    for comp in nx.strongly_connected_components(g):
        members = np.fromiter(comp, dtype=np.int64)
        label[members] = members.min()
    return label


# -- checks --------------------------------------------------------------


def _dense(n: int, ids: np.ndarray, values: np.ndarray, what: str):
    """Scatter an (id, value) result into an n-array; None if ids are wrong."""
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        return None, f"{what}: {len(ids)} rows, expected ids 0..{n - 1} once each"
    out = np.empty(n, dtype=values.dtype)
    out[ids] = values
    return out, None


def check_close(n: int, ids, values, want: np.ndarray, atol: float, what: str):
    got, err = _dense(n, np.asarray(ids), np.asarray(values, np.float64), what)
    if err:
        return err
    bad = np.abs(got - want) > atol
    if bad.any():
        i = int(np.argmax(bad))
        return f"{what}: {int(bad.sum())} values off by > {atol}, e.g. id {i}: {got[i]} vs {want[i]}"
    return None


def check_labels(n: int, ids, labels, want: np.ndarray, what: str):
    got, err = _dense(n, np.asarray(ids), np.asarray(labels, np.int64), what)
    if err:
        return err
    bad = got != want
    if bad.any():
        i = int(np.argmax(bad))
        return f"{what}: {int(bad.sum())} labels differ, e.g. id {i}: {got[i]} vs {want[i]}"
    return None


def check_dist(ids, dists, want: dict[int, int], what: str):
    got = dict(zip(np.asarray(ids).tolist(), np.asarray(dists).tolist()))
    if got != want:
        diff = set(got.items()) ^ set(want.items())
        return f"{what}: {len(got)} rows vs {len(want)} expected, {len(diff)} differ"
    return None


def check_equal(got, want, what: str):
    if got != want:
        return f"{what}: {got} vs {want}"
    return None


def answers(keys: list[str], n: int, edges, sym, weights) -> dict:
    """The oracles' answers for the given keys, with the calls' parameters."""
    funcs = {
        "pagerank": lambda: pagerank(n, edges, PAGERANK_TOL),
        "cc": lambda: components(n, sym),
        "lpa": lambda: min_label_rounds(n, sym, LPA_ROUNDS),
        "triangles": lambda: triangles(n, sym),
        "bfs": lambda: bfs(n, sym, SOURCE, BFS_MAX_DEPTH),
        "sssp": lambda: dijkstra(n, sym, weights, SOURCE, SSSP_CAP),
        "bcc": lambda: bcc_summary(n, sym),
        "scc": lambda: scc(n, edges),
    }
    return {k: funcs[k]() for k in dict.fromkeys(keys)}


if __name__ == "__main__":
    # python3 oracles.py ARGS.pkl ANSWERS.pkl: answers(*ARGS) into ANSWERS
    with open(sys.argv[1], "rb") as f:
        args = pickle.load(f)
    with open(sys.argv[2], "wb") as f:
        pickle.dump(answers(*args), f)
