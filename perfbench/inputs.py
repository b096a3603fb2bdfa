"""Seeded benchmark inputs, generated here rather than by the engine.

The engine has its own generators (``sources.pages.synthesize_pages``,
``sources.generators``); the benchmark does not use them, so a change to
program code cannot change the workload. Everything is drawn from one
``numpy.random.Generator(PCG64(seed))``: the same seed gives the same
bytes on every run.

Two inputs:

- ``crawl``: a Common-Crawl-style ``pages(page_id, url, html)`` table in
  the FIXTURES.md F1/F2 shape. Out-degree is ``1 + r % 2**(r' % 4)``
  (power-law-ish, mean about 2.4), targets are uniform, and page 0 is a
  hub linked from every 17th page. The html embeds the links, so the
  engine's extractor has real work.
- ``grid``: a ``rows x cols`` torus in the shape of the reference's
  ``generate_grid_graph``. Every lattice edge gets a random direction and
  a weight in 1..8, so the directed graph has long reachability chains
  and the symmetric view is 4-regular with no triangles.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SITES = 97
HUB_EVERY = 17
MAX_WEIGHT = 8


@dataclass
class Graph:
    """A generated input as the oracles see it.

    ``edges`` are the deduplicated directed links without self-loops,
    ``weights`` the symmetric per-pair weights keyed by (min, max) order
    on the symmetric edge list ``sym``.
    """

    n: int
    edges: np.ndarray  # (m, 2) int64, directed, deduped, no self-loops
    sym: np.ndarray  # (2m', 2) int64, both directions, deduped
    sym_w: np.ndarray  # (2m',) int64 weight of each sym row


def _dedup_pairs(pairs: np.ndarray) -> np.ndarray:
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    return np.unique(pairs, axis=0)


def symmetric(edges: np.ndarray) -> np.ndarray:
    """Union of ``edges`` with its reverse, deduped, no self-loops."""
    return _dedup_pairs(np.concatenate([edges, edges[:, ::-1]]))


def hash_weight(sym: np.ndarray) -> np.ndarray:
    """Weight 1..8 of each symmetric pair, the same in both directions."""
    lo = np.minimum(sym[:, 0], sym[:, 1])
    hi = np.maximum(sym[:, 0], sym[:, 1])
    return (lo * 31 + hi * 17) % MAX_WEIGHT + 1


def crawl_links(n_pages: int, seed: int) -> list[np.ndarray]:
    """Out-link targets of every page, in html order (duplicates kept)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    spread = 2 ** rng.integers(0, 4, size=n_pages)
    deg = 1 + rng.integers(0, 1 << 30, size=n_pages) % spread
    targets = rng.integers(0, n_pages, size=int(deg.sum()))
    out = np.split(targets, np.cumsum(deg)[:-1])
    for i in range(HUB_EVERY, n_pages, HUB_EVERY):
        out[i] = np.append(out[i], 0)
    return out


def _url(i: int) -> str:
    return f"https://site{i % N_SITES}.example/p/{i}"


def write_crawl(path: str, n_pages: int, seed: int) -> Graph:
    """Write the pages parquet at ``path`` and return the link graph."""
    links = crawl_links(n_pages, seed)
    html = []
    for i, outs in enumerate(links):
        anchors = "".join(
            f'<a href="{_url(int(t))}">l{k}</a>' for k, t in enumerate(outs)
        )
        html.append(
            f"<html><head><title>p{i}</title></head><body>{anchors}"
            f"<p>filler t{(i * 2654435761 + seed) % 100000}</p></body></html>"
        )
    table = pa.table(
        {
            "page_id": pa.array(np.arange(n_pages, dtype=np.int64)),
            "url": pa.array([_url(i) for i in range(n_pages)], pa.string()),
            "html": pa.array([h.encode() for h in html], pa.binary()),
        }
    )
    pq.write_table(table, path)
    src = np.repeat(np.arange(n_pages, dtype=np.int64), [len(o) for o in links])
    edges = _dedup_pairs(np.stack([src, np.concatenate(links)], axis=1))
    sym = symmetric(edges)
    return Graph(n_pages, edges, sym, hash_weight(sym))


def write_grid(path: str, rows: int, cols: int, seed: int) -> Graph:
    """Write the torus ``edges(src, dst, w)`` parquet and return the graph."""
    rng = np.random.Generator(np.random.PCG64(seed))
    ids = np.arange(rows * cols, dtype=np.int64)
    r, c = ids // cols, ids % cols
    right = r * cols + (c + 1) % cols
    down = ((r + 1) % rows) * cols + c
    a = np.concatenate([ids, ids])
    b = np.concatenate([right, down])
    flip = rng.integers(0, 2, size=len(a)).astype(bool)
    edges = _dedup_pairs(np.stack([np.where(flip, b, a), np.where(flip, a, b)], axis=1))
    sym = symmetric(edges)
    pq.write_table(
        pa.table({"src": pa.array(edges[:, 0]), "dst": pa.array(edges[:, 1])}),
        path,
    )
    return Graph(rows * cols, edges, sym, hash_weight(sym))


def write_input(workdir: str, workload: str, seed: int, size: dict) -> tuple[str, Graph]:
    """Generate the workload's input under ``workdir``; return (path, graph)."""
    os.makedirs(workdir, exist_ok=True)
    if workload == "grid":
        path = os.path.join(workdir, "grid.parquet")
        return path, write_grid(path, size["rows"], size["cols"], seed)
    path = os.path.join(workdir, "pages.parquet")
    return path, write_crawl(path, size["pages"], seed)
