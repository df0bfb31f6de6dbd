"""Self-tests of the benchmark's generators and answer models.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest

from corpus import Corpus, jaccard, score_pairs, shingle_set
from graphs import (
    FIXTURES,
    MAX_NODES,
    OP_BFS,
    OP_DFS,
    RequestStream,
    canonical_bfs,
    dfs_leaves,
    make_catalog,
    random_graph,
)

# FIXTURES.md §A: expected BFS from 1 (levels) and DFS-leaf set from 1
EXPECTED = {
    1: ([[1], [2], [3], [4, 5]], {4, 5}),
    4: ([[1]], {1}),
    12: ([[1], [2, 3, 4, 5]], {2, 3, 4, 5}),
    13: ([[1], [2], [3, 4], [5, 7], [6]], {4, 6, 7}),
    14: ([[1]], {1}),
    15: ([[1]], {1}),
    16: ([[1], [2], [3], [4], [5], [6]], {6}),
}


@pytest.mark.parametrize("gid", sorted(EXPECTED))
def test_model_matches_fixtures(gid):
    n, edges = FIXTURES[gid]
    g = (n, frozenset((min(a, b), max(a, b)) for a, b in edges))
    bfs, leaves = EXPECTED[gid]
    assert canonical_bfs(g, 1) == bfs
    assert dfs_leaves(g, 1) == leaves


def _calls(seed, k=40):
    s = RequestStream(seed, make_catalog(seed, 64))
    return [s.next_call() for _ in range(k)], s


def test_graph_generators_deterministic_and_seeded():
    assert make_catalog(3, 64) == make_catalog(3, 64)
    assert make_catalog(3, 64) != make_catalog(4, 64)
    a, _ = _calls(3)
    b, _ = _calls(3)
    c, _ = _calls(4)
    assert a == b
    assert a != c


def test_generated_graphs_respect_node_limit():
    for seed in range(5):
        cat = make_catalog(seed, 256)
        assert len(cat) == 256
        assert all(1 <= n <= MAX_NODES for n, _ in cat.values())
        assert all(1 <= a < b <= n for n, es in cat.values() for a, b in es)
        _, s = _calls(seed, 200)
        assert all(1 <= n <= MAX_NODES for n, _ in s.model.values())


def test_catalog_holds_edgeless_and_single_vertex_graphs():
    cat = make_catalog(0, 256)
    assert any(not es for _, es in cat.values())
    assert any(n == 1 for n, _ in cat.values())


def test_request_mix():
    calls, _ = _calls(0, 80)
    ops = [reqs[0][0][1] for reqs in calls]
    assert ops.count(OP_BFS) == ops.count(OP_DFS) == 30
    assert len(ops) - 60 == 20  # a quarter are writes


def test_reads_see_prior_writes():
    s = RequestStream(1, make_catalog(1, 32))
    for _ in range(50):
        (row, want), = s.next_call()
        if row[1] == OP_BFS:
            assert want == {v: lv for lv, vs in enumerate(canonical_bfs(s.model[row[2]], row[5])) for v in vs}


def test_random_graph_shapes_are_valid():
    import random

    rng = random.Random(0)
    for _ in range(500):
        n, es = random_graph(rng)
        assert 1 <= n <= MAX_NODES and all(1 <= a < b <= n for a, b in es)


def test_corpus_deterministic_and_seeded():
    a, b, c = (Corpus(s, 40, 10, 3, 5) for s in (7, 7, 8))
    assert a.docs == b.docs and (a.vecs == b.vecs).all()
    assert a.docs != c.docs and not (a.vecs == c.vecs).all()
    assert a.probe_docs == b.probe_docs


def test_corpus_has_planted_pairs_and_oracles_agree():
    c = Corpus(0, 200, 50, 2, 20)
    n = c.ingested(2)
    text = c.text_pairs(n)
    vec = c.vec_pairs(n)
    assert text and vec
    for (a, b), j in text.items():
        assert a < b and j == jaccard(shingle_set(c.docs[a]), shingle_set(c.docs[b])) >= 0.8
    assert c.text_probe_pairs(0, c.ingested(1))


def test_score_pairs():
    want = {(1, 2): 0.9, (3, 4): 0.45}
    wrong, found, total = score_pairs({(1, 2), (5, 6)}, want, 0.5)
    assert wrong == {(5, 6)} and (found, total) == (1, 1)


def test_reads_traverse_fixed_depths():
    from graphs import bfs_levels

    s = RequestStream(2, make_catalog(2, 256))
    depths = []
    for _ in range(24):
        (row, _), = s.next_call()
        if row[1] in (OP_BFS, OP_DFS):
            depths.append(max(bfs_levels(s.model[row[2]], row[5]).values()))
    assert depths == [2, 4, 6] * 6
