"""Workload ``graph_requests``: the paper's own traffic.

Setup writes a catalog of seeded graphs as G-format files, bulk-loads it
(``read_gformat_dir`` + ``GraphCatalog.put_all``), exports a sample back
through ``write_gformat_dir`` and warms the request path with one write
and one DFS-leaf read (a BFS plus a degree join).  The measured loop is one
closed-loop client calling ``dispatch_requests`` with one request per
call, each call one micro-batch, in whole rounds of one write and three
reads.  Replies are read back and checked against the pure-Python model
after the loop, outside the timed region.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from graphs import OP_BFS, OP_DFS, OP_WRITE_ADD, OP_WRITE_MODIFY, RequestStream, gformat_text, make_catalog

N_GRAPHS = 256
N_EXPORT = 4  # graphs exported back through write_gformat_dir


def _instrument(ctx) -> None:
    import distributed_graph_db_c_spark.catalog as catalog
    import distributed_graph_db_c_spark.operators.traversal as traversal
    import distributed_graph_db_c_spark.sources.gformat as gformat
    import distributed_graph_db_c_spark.streaming.requests as requests

    t = ctx.tracer
    t.wrap(gformat, "write_gformat_dir", "gformat.write_dir")
    t.wrap(gformat, "read_gformat_dir", "gformat.read_dir")
    t.wrap(catalog.GraphCatalog, "put", "catalog.put")
    t.wrap(catalog.GraphCatalog, "put_all", "catalog.put_all")
    t.wrap(catalog.GraphCatalog, "edges", "catalog.edges")
    t.wrap(requests, "dispatch_requests", "requests.dispatch")
    # dispatch_requests binds bfs/dfs_leaves at import; dfs_leaves looks up
    # bfs and degrees in the traversal module
    t.wrap(requests, "bfs", "traversal.bfs")
    t.wrap(requests, "dfs_leaves", "traversal.dfs_leaves")
    t.wrap(traversal, "bfs", "traversal.bfs")
    t.wrap(traversal, "degrees", "traversal.degrees")


class GraphRequests:
    def __init__(self, ctx):
        self.ctx = ctx
        self.root = ctx.run_root
        self.results = os.path.join(self.root, "replies")
        self.expect: dict[int, tuple[int, object]] = {}  # seq -> (op, expected reply)
        self.samples: dict[int, list[float]] = {op: [] for op in (1, 2, 3, 4)}
        self.bytes_per_edge = 0.0
        self.raised = 0

    def setup(self) -> None:
        import distributed_graph_db_c_spark.sources.gformat as gformat
        import pyspark.sql.functions as F
        from distributed_graph_db_c_spark.catalog import GraphCatalog

        ctx, spark = self.ctx, self.ctx.spark
        _instrument(ctx)
        cat = make_catalog(ctx.seed, N_GRAPHS)
        self.gdir = os.path.join(self.root, "gformat")
        os.makedirs(self.gdir)
        for gid, g in cat.items():
            with open(os.path.join(self.gdir, f"G{gid}.txt"), "w") as f:
                f.write(gformat_text(g))
        self.catalog = GraphCatalog(spark, os.path.join(self.root, "catalog"))
        e, v = gformat.read_gformat_dir(spark, self.gdir)
        self.catalog.put_all(e, v)
        n_edges = sum(2 * len(es) for _, es in cat.values())
        self.bytes_per_edge = _dir_bytes(os.path.join(self.root, "catalog", "edges")) / n_edges
        # the exporter writes one file per graph with a few jobs each, so it
        # exports a sample; the files must match the generated ones byte for byte
        self.export_ids = sorted(cat)[:: N_GRAPHS // N_EXPORT]
        ids = F.col("graph_id").isin(self.export_ids)
        self.export_dir = os.path.join(self.root, "export")
        gformat.write_gformat_dir(
            self.catalog.edges().filter(ids), self.catalog.vertices().filter(ids), self.export_dir
        )
        self.initial = cat
        self.stream = RequestStream(ctx.seed, cat)
        with ctx.tracer.span("session.warmup"):
            for op in (OP_WRITE_MODIFY, OP_DFS):
                self._call([self.stream.request(op)], record=False)

    def _call(self, reqs, record=True) -> None:
        import distributed_graph_db_c_spark.streaming.requests as requests

        spark = self.ctx.spark
        rows = [r for r, _ in reqs]
        for row, want in reqs:
            self.expect[row[0]] = (row[1], want)
        df = spark.createDataFrame(rows, requests.REQUEST_SCHEMA)
        self.ctx.tracer.rid = rows[0][0]
        t0 = time.perf_counter()
        try:
            requests.dispatch_requests(self.catalog, df, self.results)
        except Exception:  # a raised request is a failed one, never dropped
            print(f"request {rows[0][0]} raised:", file=sys.stderr)
            traceback.print_exc()
            self.raised += 1
            for row in rows:
                del self.expect[row[0]]
            return
        finally:
            self.ctx.tracer.rid = None
        if record:
            self.samples[rows[0][1]].append(time.perf_counter() - t0)

    def measure(self, seconds: float) -> None:
        """Run whole rounds of calls until the next round would likely end
        past ``seconds``: a round starts only if the time so far plus the
        mean round time so far fits.  The first round always runs."""
        t0 = time.perf_counter()
        rounds = 0
        while rounds == 0 or (time.perf_counter() - t0) * (rounds + 1) / rounds <= seconds:
            for call in self.stream.next_round():
                self._call(call)
            rounds += 1
        self.window = (t0, time.perf_counter())
        self.wall = self.window[1] - t0

    def check(self) -> tuple[int, int, float]:
        """(attempted, failed, reply recall) over every request sent,
        warm-up included, plus the bulk load and the export.  A write
        fails when the catalog does not hold exactly what it wrote; a read
        fails when its reply differs from the model's."""
        got: dict[int, set] = {}
        for seq, vid, level in _rows(self.results, ("seq", "id", "level")):
            got.setdefault(seq, set()).add((vid, level))
        failed = 0
        want_rows = found_rows = 0
        for seq, (op, want) in self.expect.items():
            if op in (OP_WRITE_ADD, OP_WRITE_MODIFY):
                continue
            have = got.get(seq, set())
            exp = (
                {(v, lv) for v, lv in want.items()} if op == OP_BFS else {(v, None) for v in want}
            )
            want_rows += len(exp)
            found_rows += len(have & exp)
            failed += have != exp
        # writes: the catalog must now hold exactly the model's final graphs,
        # each edge in both directions once and each vertex 1..n once
        model = self.stream.model
        stored_e: dict[int, list] = {}
        for gid, a, b in _rows(os.path.join(self.catalog.root, "edges"), ("graph_id", "src", "dst")):
            stored_e.setdefault(gid, []).append((a, b))
        stored_v: dict[int, list] = {}
        for gid, v in _rows(os.path.join(self.catalog.root, "vertices"), ("graph_id", "id")):
            stored_v.setdefault(gid, []).append(v)
        bad = [
            gid
            for gid, (n, es) in model.items()
            if sorted(stored_v.get(gid, [])) != list(range(1, n + 1))
            or sorted(stored_e.get(gid, [])) != sorted(es | {(b, a) for a, b in es})
        ]
        # each damaged graph is one failed write; a damaged graph no request
        # wrote fails the bulk load, which counts as one more operation
        written = set(self.stream.recent)
        failed += sum(g in written for g in bad) + any(g not in written for g in bad)
        failed += any(
            _read(os.path.join(self.export_dir, f"G{gid}.txt")) != gformat_text(self.initial[gid])
            for gid in self.export_ids
        )
        return len(self.expect) + self.raised + 2, failed + self.raised, found_rows / want_rows if want_rows else 1.0

    def report(self) -> dict:
        writes = self.samples[1] + self.samples[2]
        reads = self.samples[3] + self.samples[4]
        n_ops = len(writes) + len(reads)
        return {
            "write_p50_s": statistics.median(writes),
            "read_p50_s": statistics.median(reads),
            "ops_per_s": n_ops / self.wall,
            "n_ops": n_ops,
            "detail": {
                "graph.write_p50_s": (statistics.median(writes), "s", len(writes)),
                "graph.bfs_p50_s": (_med(self.samples[4]), "s", len(self.samples[4])),
                "graph.dfs_p50_s": (_med(self.samples[3]), "s", len(self.samples[3])),
                "graph.write_max_s": (max(writes), "s", len(writes)),
                "graph.read_max_s": (max(reads), "s", len(reads)),
                "graph.requests_per_s": (n_ops / self.wall, "req/s", n_ops),
            },
        }

    def per_layer(self) -> dict:
        t, w = self.ctx.tracer, self.window
        dispatches = t.by_name("requests.dispatch", w)

        def jobs_per(*ops):
            return _med([t.total_jobs(s) for s in dispatches if self.expect.get(s.rid, (0,))[0] in ops])

        return {
            "gformat.write_dir_s": t.self_p50("gformat.write_dir"),
            "gformat.read_dir_s": t.self_p50("gformat.read_dir"),
            "catalog.put_all_s": t.self_p50("catalog.put_all"),
            "catalog.put_s": t.self_p50("catalog.put", w),
            "catalog.put_jobs": t.jobs_p50("catalog.put", w),
            "catalog.edges_s": t.self_p50("catalog.edges", w),
            "catalog.bytes_per_edge": self.bytes_per_edge,
            "requests.dispatch_self_s": t.self_p50("requests.dispatch", w),
            "requests.jobs_per_dispatch": t.jobs_p50("requests.dispatch", w),
            "requests.jobs_per_write": jobs_per(OP_WRITE_ADD, OP_WRITE_MODIFY),
            "requests.jobs_per_bfs": jobs_per(OP_BFS),
            "requests.jobs_per_dfs": jobs_per(OP_DFS),
            "traversal.bfs_s": t.self_p50("traversal.bfs", w),
            "traversal.bfs_jobs": t.jobs_p50("traversal.bfs", w),
            "traversal.dfs_leaves_s": t.self_p50("traversal.dfs_leaves", w),
            "traversal.degrees_s": t.self_p50("traversal.degrees", w),
        }


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _rows(path: str, cols: tuple[str, ...]):
    """Rows of the parquet dataset under ``path`` (hive-partitioned or
    not), read directly from the files the engine wrote."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=list(cols))
    return zip(*(t.column(c).to_pylist() for c in cols))


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
