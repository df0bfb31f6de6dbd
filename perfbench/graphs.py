"""Graph inputs for the ``graph_requests`` workload, and the pure-Python
model its answers are checked against.

Everything here is plain Python: the catalog, the request stream and the
expected replies are a function of the seed alone, and the engine only
ever sees the generated rows.

Semantics follow FIXTURES.md: graphs are undirected with 1-based vertex
ids and at most ``MAX_NODES`` vertices; BFS replies each reachable vertex
once with its hop distance from the start; the DFS-leaf reply is the set
of vertices reachable from the start with degree <= 1, excluding a start
vertex that has an edge.
"""

from __future__ import annotations

import random
from collections import deque

MAX_NODES = 30  # the reference's per-graph limit

# FIXTURES.md §A: (n, undirected edges) for G1, G4 and G12-G16.
FIXTURES: dict[int, tuple[int, list[tuple[int, int]]]] = {
    1: (5, [(1, 2), (2, 3), (3, 4), (3, 5)]),
    4: (1, []),
    12: (5, [(1, 2), (1, 3), (1, 4), (1, 5)]),
    13: (7, [(1, 2), (2, 3), (2, 4), (3, 5), (3, 7), (5, 6)]),
    14: (3, []),
    15: (1, []),
    16: (6, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]),
}

SHAPES = ("fixture", "path", "star", "tree", "cycle_tree", "random", "edgeless")

Graph = tuple[int, frozenset[tuple[int, int]]]  # (n, edges with a < b)

OP_WRITE_ADD, OP_WRITE_MODIFY, OP_DFS, OP_BFS = 1, 2, 3, 4


def _norm(edges) -> frozenset[tuple[int, int]]:
    return frozenset((min(a, b), max(a, b)) for a, b in edges if a != b)


def random_graph(rng: random.Random, shape: str | None = None) -> Graph:
    """One graph of a named shape (random when ``shape`` is None), n <= 30."""
    shape = shape or rng.choice(SHAPES)
    if shape == "fixture":
        n, edges = FIXTURES[rng.choice(sorted(FIXTURES))]
        return n, _norm(edges)
    if shape == "edgeless":
        return rng.randint(1, MAX_NODES), frozenset()
    n = rng.randint(2, MAX_NODES)
    if shape == "path":
        return n, _norm((i, i + 1) for i in range(1, n))
    if shape == "star":
        hub = rng.randint(1, n)
        return n, _norm((hub, v) for v in range(1, n + 1) if v != hub)
    if shape in ("tree", "cycle_tree"):
        edges = {(rng.randint(1, v - 1), v) for v in range(2, n + 1)}
        if shape == "cycle_tree" and n >= 3:
            a, b = rng.sample(range(1, n + 1), 2)
            edges.add((a, b))
        return n, _norm(edges)
    p = rng.uniform(1.0, 3.0) / n  # sparse: mean degree 1-3, often disconnected
    return n, _norm((a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1) if rng.random() < p)


def make_catalog(seed: int, n_graphs: int) -> dict[int, Graph]:
    """``n_graphs`` graphs keyed 1..n_graphs; ids 1..7 hold the seven
    FIXTURES.md graphs, so edgeless and single-vertex graphs are always
    present."""
    rng = random.Random(f"catalog:{seed}")
    cat = {}
    for gid, (n, edges) in enumerate(FIXTURES.values(), start=1):
        cat[gid] = (n, _norm(edges))
    for gid in range(len(cat) + 1, n_graphs + 1):
        cat[gid] = random_graph(rng)
    return cat


def gformat_text(g: Graph) -> str:
    """The reference's G-format file for one graph: n, then the n x n
    0/1 adjacency matrix, one space-separated row per line."""
    n, edges = g
    rows = [["0"] * n for _ in range(n)]
    for a, b in edges:
        rows[a - 1][b - 1] = rows[b - 1][a - 1] = "1"
    return f"{n}\n" + "".join(" ".join(r) + "\n" for r in rows)


def bfs_levels(g: Graph, start: int) -> dict[int, int]:
    """vertex -> hop distance from ``start`` for every reachable vertex."""
    n, edges = g
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    level = {start: 0}
    q = deque([start])
    while q:
        v = q.popleft()
        for w in adj.get(v, ()):
            if w not in level:
                level[w] = level[v] + 1
                q.append(w)
    return level


def dfs_leaves(g: Graph, start: int) -> set[int]:
    """Reachable vertices with degree <= 1, minus a non-isolated start."""
    _, edges = g
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return {
        v
        for v in bfs_levels(g, start)
        if deg.get(v, 0) <= 1 and not (v == start and deg.get(v, 0) >= 1)
    }


def canonical_bfs(g: Graph, start: int) -> list[list[int]]:
    """BFS answer as FIXTURES.md prints it: levels, ids sorted within each."""
    levels: dict[int, list[int]] = {}
    for v, lv in bfs_levels(g, start).items():
        levels.setdefault(lv, []).append(v)
    return [sorted(levels[lv]) for lv in sorted(levels)]


class RequestStream:
    """Closed-loop client traffic: single-request dispatch calls.

    A quarter of the requests are op 1/2 writes of a fresh random graph;
    the rest are op 4 BFS and op 3 DFS-leaf reads in equal shares.  Ops
    follow a fixed repeating pattern, and read k traverses exactly
    DEPTHS[k % len(DEPTHS)] levels from its start vertex, so every run,
    whatever its seed, measures the same mix of ops and traversal
    depths; the seed picks the graphs, the write payloads and the start
    vertices.  Read targets are skewed toward recently written graphs.
    The stream keeps the model catalog in step with the writes it
    issues, so each read's expected reply is known when it is generated.
    """

    PATTERN = (OP_WRITE_MODIFY, OP_BFS, OP_DFS, OP_BFS, OP_WRITE_ADD, OP_DFS, OP_BFS, OP_DFS)
    ROUND = 4  # calls per round: one write and three reads
    DEPTHS = (2, 4, 6)  # BFS levels below the start vertex, by read

    def __init__(self, seed: int, catalog: dict[int, Graph]):
        self.rng = random.Random(f"requests:{seed}")
        self.model = dict(catalog)
        self.recent: list[int] = []
        self.seq = 0
        self.i = 0
        self.reads = 0

    def _read_target(self, depth: int) -> tuple[int, int]:
        """(graph id, start vertex) whose BFS reaches exactly ``depth`` levels:
        a recently written graph when one fits, else any catalog graph."""
        recent = list(reversed(self.recent[-8:]))
        self.rng.shuffle(recent)
        ids = sorted(self.model)
        self.rng.shuffle(ids)
        for gid in (recent if self.rng.random() < 0.7 else []) + ids:
            g = self.model[gid]
            starts = [v for v in range(1, g[0] + 1) if max(bfs_levels(g, v).values()) == depth]
            if starts:
                return gid, self.rng.choice(starts)
        raise ValueError(f"no graph has a vertex of eccentricity {depth}")

    def request(self, op: int) -> tuple[tuple, object]:
        """One request row (REQUEST_SCHEMA order) and its expected reply:
        None for a write, {id: level} for BFS, {id} for DFS leaves."""
        self.seq += 1
        if op in (OP_WRITE_ADD, OP_WRITE_MODIFY):
            gid = max(self.model) + 1 if op == OP_WRITE_ADD else self.rng.choice(sorted(self.model))
            g = random_graph(self.rng)
            self.model[gid] = g
            self.recent.append(gid)
            row = (self.seq, op, gid, list(range(1, g[0] + 1)), sorted(g[1]), None)
            return row, None
        gid, start = self._read_target(self.DEPTHS[self.reads % len(self.DEPTHS)])
        self.reads += 1
        g = self.model[gid]
        want = bfs_levels(g, start) if op == OP_BFS else dfs_leaves(g, start)
        return (self.seq, op, gid, None, None, start), want

    def next_call(self) -> list[tuple[tuple, object]]:
        """The next dispatch call: one request, op taken from PATTERN."""
        op = self.PATTERN[self.i % len(self.PATTERN)]
        self.i += 1
        return [self.request(op)]

    def next_round(self) -> list[list[tuple[tuple, object]]]:
        """The next ROUND calls; any two consecutive rounds hold the whole PATTERN."""
        return [self.next_call() for _ in range(self.ROUND)]
