"""Workload ``index_ingest``: the write-heavy index path.

Seeded documents and embeddings arrive as micro-batches fed straight to
the ``continuous_index_dedup`` (MinHash text index) and
``continuous_embedding_dedup`` (cosine-LSH vector index) handlers; there
is no stream trigger in between.  Setup bootstraps both indexes with
their first batch.  Each measured cycle then appends one batch to each
index, probes each with a held-out batch (``incremental_dedup_pairs`` /
``decontaminate_incremental``), reads each index's status and compacts it
when the status reports the retrain trigger.  Cycles run whole, so every
run measures the same mix.  The pair sets are checked against exact
all-pairs oracles after the loop, outside the timed region.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback

from corpus import COSINE_TOL, TEXT_THRESHOLD, VEC_THRESHOLD, Corpus, score_pairs

BOOT, BATCH, N_BATCHES, PROBE = 200, 100, 12, 50
TEXT_IDX, VEC_IDX = "perfbench_text", "perfbench_vec"
DOC_DDL = "doc_id long, text string"
VEC_DDL = "vec_id long, embedding array<float>, label int"


def _instrument(ctx) -> None:
    import distributed_graph_db_c_spark.operators.bucketing as bucketing
    import distributed_graph_db_c_spark.operators.dedup as dedup
    import distributed_graph_db_c_spark.operators.similarity as sim
    import distributed_graph_db_c_spark.sinks as sinks

    t = ctx.tracer
    # the continuous_* factories and the index operators import these
    # names inside the function body, so module attributes are where
    # they are looked up
    for mod, attr, name in (
        (dedup, "shingle_hash_sets", "dedup.shingle_sign"),
        (dedup, "minhash_signatures", "dedup.shingle_sign"),
        (dedup, "minhash_dedup_pairs", "dedup.within"),
        (dedup, "incremental_dedup_pairs", "dedup.screen"),
        (dedup, "minhash_index_append", "dedup.append"),
        (dedup, "minhash_index_build", "dedup.build"),
        (dedup, "minhash_index_status", "dedup.status"),
        (dedup, "minhash_index_compact", "dedup.compact"),
        (sim, "with_lsh_buckets", "lsh.bucket"),
        (sim, "cosine_lsh_pairs", "lsh.within"),
        (sim, "decontaminate_incremental", "lsh.screen"),
        (sim, "lsh_index_append", "lsh.append"),
        (sim, "lsh_index_build", "lsh.build"),
        (sim, "lsh_index_status", "lsh.status"),
        (sim, "lsh_index_compact", "lsh.compact"),
        (bucketing, "index_resolve", "bucketing.resolve"),
        (bucketing, "ensure_attached", "bucketing.attach"),
        (bucketing, "index_publish_segment", "bucketing.publish"),
        (bucketing, "index_publish_generation", "bucketing.publish"),
        (bucketing, "write_bucketed", "bucketing.write"),
        (sinks, "claim_marker", "sinks.claim"),
    ):
        t.wrap(mod, attr, name)


class IndexIngest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.c = Corpus(ctx.seed, BOOT, BATCH, N_BATCHES, PROBE)
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("text_ingest", "vec_ingest", "text_probe", "vec_probe", "maintain")
        }
        self.done = 0  # ingest batches appended after the bootstrap
        self.raised = 0
        self.ops = 0
        self.probe_got: list[tuple[str, int, set]] = []
        self.segments_at_probe: list[int] = []
        self.bytes_in = self.bytes_written = 0

    def setup(self) -> None:
        from distributed_graph_db_c_spark.streaming.dedup import (
            continuous_embedding_dedup,
            continuous_index_dedup,
        )

        ctx = self.ctx
        _instrument(ctx)
        self.text_pairs_dir = f"{ctx.run_root}/text_pairs"
        self.vec_pairs_dir = f"{ctx.run_root}/vec_pairs"
        self.text_handler = continuous_index_dedup(TEXT_IDX, self.text_pairs_dir)
        self.vec_handler = continuous_embedding_dedup(VEC_IDX, self.vec_pairs_dir)
        # batch 0 builds generation 1 of each index, compiling the shingle,
        # signature, bucketing and table-write code the appends reuse
        with ctx.tracer.span("session.warmup"):
            self._ingest("text", 0)
            self._ingest("vec", 0)

    def _frame(self, kind: str, rows):
        return self.ctx.spark.createDataFrame(rows, DOC_DDL if kind == "text" else VEC_DDL)

    def _ingest(self, kind: str, b: int) -> float:
        ids = self.c.batch_range(b)
        rows = self.c.doc_rows(ids) if kind == "text" else self.c.vec_rows(ids)
        df = self._frame(kind, rows)
        handler = self.text_handler if kind == "text" else self.vec_handler
        self.ops += 1
        t0 = time.perf_counter()
        with self.ctx.tracer.span(f"stream.{kind}_handler"):
            handler(df, b)
        dt = time.perf_counter() - t0
        self.bytes_in += sum(len(r[1]) if kind == "text" else 4 * len(r[1]) for r in rows)
        return dt

    def _probe(self, kind: str, b: int) -> float:
        from distributed_graph_db_c_spark.operators import dedup, similarity

        if kind == "text":
            df = self._frame(kind, self.c.probe_doc_rows(b))
            fn = lambda: dedup.incremental_dedup_pairs(df, TEXT_IDX).select("old_id", "new_id")
        else:
            df = self._frame(kind, self.c.probe_vec_rows(b))
            fn = lambda: similarity.decontaminate_incremental(df, VEC_IDX).select("id_a", "id_b")
        self.ops += 1
        self.segments_at_probe.append(self._segments(kind))
        t0 = time.perf_counter()
        with self.ctx.tracer.span(f"client.{kind}_probe"):
            rows = fn().collect()
        dt = time.perf_counter() - t0
        self.probe_got.append((kind, b, {(min(r[0], r[1]), max(r[0], r[1])) for r in rows}))
        return dt

    def _segments(self, kind: str) -> int:
        from distributed_graph_db_c_spark.operators.bucketing import index_resolve, index_segments

        spark = self.ctx.spark
        prefix = TEXT_IDX if kind == "text" else VEC_IDX
        return len(index_segments(spark, prefix, index_resolve(spark, prefix)))

    def _maintain(self) -> float:
        from distributed_graph_db_c_spark.operators import dedup, similarity

        spark = self.ctx.spark
        self.ops += 1
        t0 = time.perf_counter()
        with self.ctx.tracer.span("client.maintain"):
            if dedup.minhash_index_status(spark, TEXT_IDX)["retrain_due"]:
                dedup.minhash_index_compact(spark, TEXT_IDX)
            st = similarity.lsh_index_status(spark, VEC_IDX)
            if st["retrain_due"] and st["segments"]:
                similarity.lsh_index_compact(spark, VEC_IDX)
        return time.perf_counter() - t0

    def measure(self, seconds: float) -> None:
        """Run whole cycles until the next one would likely end past
        ``seconds``: a cycle starts only if the time so far plus the mean
        cycle time so far fits.  The first cycle always runs."""
        t0 = time.perf_counter()
        s = self.samples
        while self.done < N_BATCHES and (
            self.done == 0 or (time.perf_counter() - t0) * (self.done + 1) / self.done <= seconds
        ):
            b = self.done + 1
            try:
                cycle = (
                    self._ingest("text", b),
                    self._probe("text", b - 1),
                    self._ingest("vec", b),
                    self._probe("vec", b - 1),
                    self._maintain(),
                )
            except Exception:  # the index state is unknown after a raise: stop here
                print(f"cycle {b} raised:", file=sys.stderr)
                traceback.print_exc()
                self.raised += 1
                break
            for k, dt in zip(("text_ingest", "text_probe", "vec_ingest", "vec_probe", "maintain"), cycle):
                s[k].append(dt)
            self.done = b
        self.window = (t0, time.perf_counter())
        self.wall = self.window[1] - t0
        self.bytes_written = _dir_bytes(self.ctx.spark.conf.get("spark.sql.warehouse.dir"))

    def check(self) -> tuple[int, int, float]:
        """(attempted, failed, pair recall).  A pair the oracle does not
        hold fails the batch that wrote it (the batch of its larger id) or
        the probe that returned it; recall is over the ingested pairs."""
        spark = self.ctx.spark
        n_rows = self.c.ingested(self.done)
        bad_batches: set[tuple[str, int]] = set()
        found = total = 0
        for kind, pairs_dir, cols, want, floor in (
            ("text", self.text_pairs_dir, ("doc_a", "doc_b"), self.c.text_pairs(n_rows), TEXT_THRESHOLD),
            ("vec", self.vec_pairs_dir, ("id_a", "id_b"), self.c.vec_pairs(n_rows), VEC_THRESHOLD + COSINE_TOL),
        ):
            got = {(r[0], r[1]) for r in spark.read.parquet(pairs_dir).select(*cols).distinct().collect()}
            wrong, f, t = score_pairs(got, want, floor)
            bad_batches |= {(kind, self.c.batch_of(max(p))) for p in wrong}
            found, total = found + f, total + t
        bad_probes = 0
        for kind, b, got in self.probe_got:
            n_idx = self.c.ingested(b + 1)  # probe b ran after ingest batch b + 1
            want = (
                self.c.text_probe_pairs(b, n_idx) if kind == "text" else self.c.vec_probe_pairs(b, n_idx)
            )
            bad_probes += bool(got - want.keys())
        return self.ops, len(bad_batches) + bad_probes + self.raised, found / total if total else 1.0

    def report(self) -> dict:
        s = self.samples
        writes = s["text_ingest"] + s["vec_ingest"]
        reads = s["text_probe"] + s["vec_probe"]
        cycles = len(s["maintain"])
        rows = 2 * BATCH * cycles
        # both indexes ingest and probe once per cycle: the per-cycle mean of
        # the two keeps the pooled figure balanced whatever the cycle count
        return {
            "write_p50_s": statistics.median(map(statistics.mean, zip(s["text_ingest"], s["vec_ingest"]))),
            "read_p50_s": statistics.median(map(statistics.mean, zip(s["text_probe"], s["vec_probe"]))),
            "ops_per_s": len(writes + reads + s["maintain"]) / self.wall,
            "n_ops": len(writes + reads + s["maintain"]),
            "detail": {
                "index.text_ingest_p50_s": (statistics.median(s["text_ingest"]), "s", cycles),
                "index.vec_ingest_p50_s": (statistics.median(s["vec_ingest"]), "s", cycles),
                "index.text_probe_p50_s": (statistics.median(s["text_probe"]), "s", cycles),
                "index.vec_probe_p50_s": (statistics.median(s["vec_probe"]), "s", cycles),
                "index.maintain_p50_s": (statistics.median(s["maintain"]), "s", cycles),
                "index.rows_per_s": (rows / self.wall, "rows/s", rows),
            },
        }

    def per_layer(self) -> dict:
        t, w = self.ctx.tracer, self.window
        out = {
            "stream.text_handler_self_s": t.self_p50("stream.text_handler", w),
            "stream.vec_handler_self_s": t.self_p50("stream.vec_handler", w),
            "dedup.jobs_per_batch": t.jobs_p50("stream.text_handler", w),
            "lsh.jobs_per_batch": t.jobs_p50("stream.vec_handler", w),
            "index.segments_at_probe": _med(self.segments_at_probe),
            "index.bytes_written_per_input_byte": self.bytes_written / max(self.bytes_in, 1),
        }
        for name in (
            "dedup.shingle_sign", "dedup.within", "dedup.screen", "dedup.append",
            "dedup.status", "dedup.compact", "lsh.bucket", "lsh.within", "lsh.screen",
            "lsh.append", "lsh.status", "lsh.compact", "bucketing.resolve", "bucketing.attach",
            "bucketing.publish", "bucketing.write", "sinks.claim",
        ):
            out[f"{name}_s"] = t.self_p50(name, w)
        return out

    def teardown(self) -> None:
        from distributed_graph_db_c_spark.operators.bucketing import index_drop_all

        spark = self.ctx.spark
        index_drop_all(spark, TEXT_IDX, ("_bands", "_shingles"))
        index_drop_all(spark, VEC_IDX, ("_buckets", "_vectors", "_meta"))


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    import os

    path = path.removeprefix("file:")
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
