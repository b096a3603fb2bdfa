"""The oracles on the FIXTURES.md F3 micro-graphs, where the answers are
known by inspection, plus the input generators' invariants."""

from __future__ import annotations

import numpy as np
import pytest

import inputs
import oracles


def sym_of(pairs) -> np.ndarray:
    return inputs.symmetric(np.array(pairs, dtype=np.int64))


TWO_TRIANGLES_BRIDGE = (6, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)])
PATH_64 = (64, [(i, i + 1) for i in range(63)])
STAR_HUB = (1001, [(i, 0) for i in range(1, 1001)])
DISCONNECTED = (6, [(0, 1), (1, 2), (2, 0), (3, 4)])  # vertex 5 is isolated


@pytest.mark.parametrize(
    "graph", [TWO_TRIANGLES_BRIDGE, PATH_64, STAR_HUB, DISCONNECTED],
    ids=["two_triangles_bridge", "path_64", "star_hub", "disconnected"],
)
def test_pagerank_matches_the_linear_solve(graph):
    """Power iteration converges to the exact solution of
    r = (1-d)/n + d * P^T r, where dangling rows of P are uniform."""
    n, pairs = graph
    edges = np.array(pairs, dtype=np.int64)
    got = oracles.pagerank(n, edges, tol=1e-13)
    p = np.zeros((n, n))
    p[edges[:, 0], edges[:, 1]] = 1.0
    out = p.sum(axis=1)
    p[out == 0] = 1.0 / n
    p[out > 0] /= out[out > 0, None]
    d = oracles.DAMPING
    want = np.linalg.solve(np.eye(n) - d * p.T, np.full(n, (1 - d) / n))
    assert np.allclose(got, want, atol=1e-10)
    assert got.sum() == pytest.approx(1.0)


def test_components():
    assert oracles.components(6, sym_of(TWO_TRIANGLES_BRIDGE[1])).tolist() == [0] * 6
    assert oracles.components(6, sym_of(DISCONNECTED[1])).tolist() == [0, 0, 0, 3, 3, 5]
    assert oracles.components(1001, sym_of(STAR_HUB[1])).tolist() == [0] * 1001


def test_min_label_rounds_on_path():
    k = 5
    got = oracles.min_label_rounds(64, sym_of(PATH_64[1]), k)
    assert got.tolist() == [max(0, v - k) for v in range(64)]


def test_min_label_rounds_reach_components():
    got = oracles.min_label_rounds(6, sym_of(DISCONNECTED[1]), 3)
    assert got.tolist() == oracles.components(6, sym_of(DISCONNECTED[1])).tolist()


@pytest.mark.parametrize(
    "graph,count",
    [(TWO_TRIANGLES_BRIDGE, 2), (PATH_64, 0), (STAR_HUB, 0), (DISCONNECTED, 1)],
)
def test_triangles(graph, count):
    n, pairs = graph
    assert oracles.triangles(n, sym_of(pairs)) == count


def test_bfs_is_capped_by_depth():
    got = oracles.bfs(64, sym_of(PATH_64[1]), 0, max_depth=30)
    assert got == {v: v for v in range(31)}
    assert oracles.bfs(1001, sym_of(STAR_HUB[1]), 5, max_depth=30) == {
        5: 0, 0: 1, **{v: 2 for v in range(1, 1001) if v != 5}
    }


def test_dijkstra_is_capped_by_distance():
    sym = sym_of(PATH_64[1])
    weights = np.full(len(sym), 3)
    assert oracles.dijkstra(64, sym, weights, 0, cap=40) == {v: 3 * v for v in range(14)}


def test_dijkstra_prefers_lighter_path():
    sym = sym_of([(0, 1), (1, 2), (0, 2)])
    w = np.where((sym.min(axis=1) == 0) & (sym.max(axis=1) == 2), 10, 1)
    assert oracles.dijkstra(3, sym, w, 0, cap=40) == {0: 0, 1: 1, 2: 2}


@pytest.mark.parametrize(
    "graph,row",
    [
        (TWO_TRIANGLES_BRIDGE, (1, 3, 3, 1)),
        (PATH_64, (1, 63, 1, 63)),
        (STAR_HUB, (1, 1000, 1, 1000)),
        (DISCONNECTED, (3, 2, 3, 1)),
    ],
)
def test_bcc_summary(graph, row):
    n, pairs = graph
    assert oracles.bcc_summary(n, sym_of(pairs)) == row


def test_bcc_summary_without_edges():
    assert oracles.bcc_summary(3, np.empty((0, 2), dtype=np.int64)) == (3, 0, None, None)


def test_scc_min_id_labels():
    edges = np.array([(1, 2), (2, 0), (0, 1), (2, 3), (4, 3), (3, 4), (5, 0)])
    assert oracles.scc(6, edges).tolist() == [0, 0, 0, 3, 3, 5]


def test_checks_report_mismatches():
    want = np.array([0, 0, 2])
    assert oracles.check_labels(3, [0, 1, 2], [0, 0, 2], want, "c") is None
    assert "1 labels differ" in oracles.check_labels(3, [0, 1, 2], [0, 1, 2], want, "c")
    assert "expected ids" in oracles.check_labels(3, [0, 1], [0, 0], want, "c")
    assert oracles.check_close(2, [1, 0], [0.5, 0.25], np.array([0.25, 0.5]), 1e-9, "r") is None
    assert oracles.check_dist([0, 1], [0, 1], {0: 0, 1: 2}, "d") is not None


# -- generated inputs ------------------------------------------------------


def test_crawl_is_seeded(tmp_path):
    a = inputs.write_crawl(str(tmp_path / "a.parquet"), 2000, seed=7)
    b = inputs.write_crawl(str(tmp_path / "b.parquet"), 2000, seed=7)
    c = inputs.write_crawl(str(tmp_path / "c.parquet"), 2000, seed=8)
    assert np.array_equal(a.edges, b.edges)
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    assert not np.array_equal(a.edges, c.edges)


def test_crawl_shape(tmp_path):
    g = inputs.write_crawl(str(tmp_path / "p.parquet"), 3400, seed=1)
    assert (g.edges[:, 0] != g.edges[:, 1]).all()
    assert len(np.unique(g.edges, axis=0)) == len(g.edges)
    hub_in = g.edges[g.edges[:, 1] == 0, 0]
    assert set(range(17, 3400, 17)) <= set(hub_in.tolist())
    assert 2.0 < len(g.edges) / g.n < 3.0


def test_crawl_html_holds_the_links(tmp_path):
    import pyarrow.parquet as pq
    import re

    path = tmp_path / "p.parquet"
    g = inputs.write_crawl(str(path), 500, seed=3)
    t = pq.read_table(path).to_pydict()
    pairs = set()
    for i, html in zip(t["page_id"], t["html"]):
        for dst in re.findall(r'href="[^"]*/p/(\d+)"', html.decode()):
            if int(dst) != i:
                pairs.add((i, int(dst)))
    assert pairs == set(map(tuple, g.edges.tolist()))


def test_grid_is_a_directed_torus(tmp_path):
    g = inputs.write_grid(str(tmp_path / "g.parquet"), 32, 256, seed=5)
    assert g.n == 8192 and len(g.edges) == 2 * g.n
    assert (np.bincount(g.sym[:, 0], minlength=g.n) == 4).all()
    assert oracles.triangles(g.n, g.sym) == 0
    assert max(oracles.bfs(g.n, g.sym, 0, max_depth=10**9).values()) == 16 + 128
    w = dict(zip(map(tuple, g.sym.tolist()), g.sym_w.tolist()))
    assert all(w[(u, v)] == w[(v, u)] and 1 <= w[(u, v)] <= 8 for u, v in w)
