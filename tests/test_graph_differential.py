"""Differential tests for the iterative graph operators on random graphs.

Each operator runs on small seeded random multigraphs — self-loops,
duplicate edges and several disjoint parts — and is compared with networkx
(connected components, BFS distances) or with a pure-Python loop that
applies the operator's own fixed-round recurrence (k-core peel on the
edge multiset, synchronous label propagation, GraphX-convention and
personalized PageRank). k-truss is compared with networkx.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter, defaultdict

import networkx as nx
import pytest

from map_reduce_engine_spark.operators.graph import (
    bfs_distances,
    connected_components,
    k_core,
    k_truss,
    label_propagation,
    pagerank,
    personalized_pagerank,
)

pytestmark = pytest.mark.quick  # registry-independent: the builder inner loop

OUTSIDE = 999  # a seed node that no edge touches


def _random_graph(seed: int) -> tuple[list[tuple[int, int]], list[int]]:
    """(edges, seed nodes): 2-4 disjoint parts of 2-12 nodes (diameter
    well under any round cap), random edges inside each part, plus
    self-loops and repeated edges."""
    rng = random.Random(seed)
    edges: list[tuple[int, int]] = []
    base = 1
    for _ in range(rng.randint(2, 4)):
        part = list(range(base, base + rng.randint(2, 12)))
        base += len(part) + rng.randint(0, 3)
        # a random spanning tree keeps the part connected
        for i in range(1, len(part)):
            edges.append((part[i], rng.choice(part[:i])))
        edges += [(rng.choice(part), rng.choice(part)) for _ in range(len(part) // 2)]
    edges += [(v, v) for v, _ in rng.sample(edges, 2)]
    edges += rng.sample(edges, 3)
    rng.shuffle(edges)
    nodes = sorted({v for e in edges for v in e})
    return edges, rng.sample(nodes, 2) + [OUTSIDE]


@pytest.fixture(scope="module")
def graph() -> tuple[list[tuple[int, int]], list[int]]:
    """Three seeded random graphs side by side, node ids offset by 1000
    each, so one operator run covers all of them."""
    edges: list[tuple[int, int]] = []
    seeds: list[int] = []
    for i in range(3):
        e, s = _random_graph(i)
        edges += [(a + 1000 * i, b + 1000 * i) for a, b in e]
        seeds += [v + 1000 * i for v in s]
    return edges, seeds


def _frames(spark, graph, src: str, dst: str):
    edges, seeds = graph
    e = spark.createDataFrame(edges, f"{src} BIGINT, {dst} BIGINT")
    s = spark.createDataFrame([(v,) for v in seeds], "node BIGINT")
    return edges, seeds, e, s


def _both_ways(edges):
    return edges + [(b, a) for a, b in edges]


def test_connected_components_matches_networkx(spark, graph):
    edges, _, e, _ = _frames(spark, graph, "id1", "id2")
    g = nx.Graph(edges)
    want = {(v, min(c)) for c in nx.connected_components(g) for v in c}
    assert {(r.node, r.component) for r in connected_components(e).collect()} == want


def test_connected_components_runs_to_fixpoint(spark):
    """A 30-node path is one component labelled 1: labels travel one hop
    per round, so any fixed round cap below 29 splits it."""
    e = spark.createDataFrame([(i, i + 1) for i in range(1, 30)], "id1 BIGINT, id2 BIGINT")
    got = {(r.node, r.component) for r in connected_components(e).collect()}
    assert got == {(i, 1) for i in range(1, 31)}


def test_bfs_distances_match_networkx(spark, graph):
    edges, seeds, e, s = _frames(spark, graph, "src", "dst")
    g = nx.Graph(edges)
    g.add_nodes_from(seeds)
    want = nx.multi_source_dijkstra_path_length(g, set(seeds), cutoff=3)
    got = {r.node: r.dist for r in bfs_distances(e, s, max_depth=3).collect()}
    assert got == want


@pytest.mark.parametrize("k", (2, 3))
def test_k_core_matches_peel_loop(spark, graph, k):
    """Degrees count the doubled edge multiset: a repeated edge counts
    twice and a self-loop adds 2 to its node."""
    edges, _, e, _ = _frames(spark, graph, "u", "v")
    und = _both_ways(edges)
    n_edges = len(und)
    for _ in range(8):
        deg = Counter(a for a, _ in und)
        keep = {a for a, d in deg.items() if d >= k}
        und = [(a, b) for a, b in und if a in keep and b in keep]
        if len(und) == n_edges:
            break
        n_edges = len(und)
    want = dict(Counter(a for a, _ in und))
    assert {r.node: r.core_degree for r in k_core(e, k=k).collect()} == want


def test_label_propagation_matches_synchronous_loop(spark, graph):
    edges, _, e, _ = _frames(spark, graph, "id1", "id2")
    und = _both_ways(edges)
    labels = {a: a for a, _ in und}
    for _ in range(4):
        votes: dict[int, Counter] = defaultdict(Counter)
        for a, b in und:
            votes[b][labels[a]] += 1
        labels = {
            v: min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0] for v, c in votes.items()
        }
    got = {r.node: r.community for r in label_propagation(e, rounds=4).collect()}
    assert got == labels


def _rank_loop(edges, seeds, iterations, d=0.85):
    nodes = {v for e in edges for v in e}
    out_deg = Counter(a for a, _ in edges)
    seed = {v: 1.0 if seeds is None or v in seeds else 0.0 for v in nodes}
    rank = dict(seed)
    for _ in range(iterations):
        in_sum: dict[int, float] = defaultdict(float)
        for a, b in edges:
            in_sum[b] += rank[a] / out_deg[a]
        rank = {v: (1 - d) * seed[v] + d * in_sum[v] for v in nodes}
    return rank


def _assert_ranks(got, want):
    assert got.keys() == want.keys()
    for v, r in want.items():
        assert got[v] == pytest.approx(r, rel=1e-12, abs=1e-15), v


def test_pagerank_matches_rank_loop(spark, graph):
    edges, _, e, _ = _frames(spark, graph, "src", "dst")
    got = {r.node: r.rank for r in pagerank(e, iterations=7).collect()}
    _assert_ranks(got, _rank_loop(edges, None, 7))


def test_personalized_pagerank_matches_rank_loop(spark, graph):
    edges, seeds, e, s = _frames(spark, graph, "src", "dst")
    got = {r.node: r.rank for r in personalized_pagerank(e, s, iterations=7).collect()}
    _assert_ranks(got, _rank_loop(edges, set(seeds), 7))


@pytest.mark.parametrize("k", [3, 4])
def test_k_truss_matches_networkx(spark, graph, k):
    """k_truss needs canonical edges (u < v, no self-loops or repeats). The
    seeded graphs are sparse and have no 4-truss, so a denser seeded part
    (9 nodes, each pair joined with probability 1/2) rides along; its
    3-truss and 4-truss are proper, non-empty subgraphs."""
    rng = random.Random(4)
    dense = [(a, b) for a, b in itertools.combinations(range(3001, 3010), 2) if rng.random() < 0.5]
    canonical = sorted({(min(a, b), max(a, b)) for a, b in graph[0] + dense if a != b})
    e = spark.createDataFrame(canonical, "u BIGINT, v BIGINT")
    h = nx.k_truss(nx.Graph(canonical), k)
    want = {(min(a, b), max(a, b)): len(set(h[a]) & set(h[b])) for a, b in h.edges()}
    got = {(r.u, r.v): r.n_triangles for r in k_truss(e, k=k, max_iter=len(canonical)).collect()}
    assert 0 < len(want) < len(canonical)
    assert got == want
