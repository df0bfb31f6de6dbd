"""Measure the MAINTAINED embedding stream's 10x point (round 14 — the
r13 verdict's item 2, second half).

BENCH_SF1's r13 table records stream_continuous_embedding_dedup at a
deliberate NO-MAINTENANCE 4.5x: planes freeze at the bootstrap batch's
sizing, the drift arm (retrain_due) flips at batch 2, and the gate keeps
running anyway so the oracle covers one uninterrupted stream.  This
harness times the shape production actually runs — the same three
micro-batches, but with the maintenance act the trigger cues performed
BETWEEN batch 2 and batch 3 (lsh_index_build rebuild over the
accumulated corpus: next generation, planes re-sized to the grown
basis; pytest pin: tests/test_round14_properties.py::
test_continuous_embedding_stream_rides_mid_stream_retrain) — against
the no-maintenance control, at sf0.1 and the synthetic sf1.

Per-phase timings are reported so the drift cost is visible where it
lives: batch 3's screen+within step against a 2/3-basis retrained index
vs against a 1/3-basis overgrown one.

Recall is reported, not asserted: the re-sized planes are FINER
(planes_for grows with the basis), so at this corpus — 0.45
near-random cosine, the standing LSH worst case where the auto-sizer's
caps bind below the recall target — the retrained screens trade some
candidate recall for the occupancy the drift arm exists to reclaim.
Both shapes' accumulated distinct pair sets are scored against exact
all-pairs cosine (the oracle of the streaming gate); at dedup-grade
thresholds (>= 0.8) both sit at recall 1.0 and the sets are equal (the
sf0.001 pytest pin).

Usage:
    python tools/bench_maintained_stream.py [sf_dir ...]
defaults to /root/testdata/sf0.1 and .scratch/sf1 (run make_sf1 first).
Prints one JSON line per sf_dir.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from distributed_graph_db_c_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1"
)


def run_stream(spark, sf_dir: str, maintained: bool) -> dict:
    from distributed_graph_db_c_spark.operators.bucketing import index_claim, index_drop_all
    from distributed_graph_db_c_spark.operators.similarity import (
        N_PLANES,
        lsh_index_build,
        lsh_index_status,
    )
    from distributed_graph_db_c_spark.sinks import _hadoop_fs
    from distributed_graph_db_c_spark.sources.tables import load_table
    from distributed_graph_db_c_spark.streaming.dedup import (
        continuous_embedding_dedup,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    prefix = f"bmaint_{uuid.uuid4().hex[:8]}"
    scratch = scratch_dir("bmaint")
    phases: dict[str, float] = {}
    try:
        batches = [
            emb.filter(F.pmod("vec_id", F.lit(3)) == i).localCheckpoint(eager=True)
            for i in range(3)
        ]
        handler = continuous_embedding_dedup(prefix, f"{scratch}/pairs")
        t_all = time.perf_counter()
        for i in (0, 1):
            t0 = time.perf_counter()
            handler(batches[i], i)
            phases[f"batch{i}"] = round(time.perf_counter() - t0, 3)
        st = lsh_index_status(spark, prefix)
        assert st["retrain_due"], "equal thirds must flip the drift arm"
        if maintained:
            t0 = time.perf_counter()
            lsh_index_build(
                batches[0].unionByName(batches[1]), prefix,
                threshold=0.45, dim=64, multiprobe=N_PLANES,
            )
            phases["retrain"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        handler(batches[2], 2)
        phases["batch2"] = round(time.perf_counter() - t0, 3)
        total = round(time.perf_counter() - t_all, 3)
        n_pairs = spark.read.parquet(f"{scratch}/pairs").distinct().count()
        return {"total_sec": total, "phases": phases, "distinct_pairs": n_pairs}
    finally:
        index_drop_all(spark, prefix, ("_buckets", "_vectors"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(index_claim(warehouse, prefix)), False)
        cleanup(scratch)


def main() -> None:
    sf_dirs = sys.argv[1:] or [SF01, SF1]
    spark = get_spark("bench-maintained-stream")
    spark.sparkContext.setLogLevel("ERROR")
    from distributed_graph_db_c_spark.operators.similarity import cosine_pairs
    from distributed_graph_db_c_spark.sources.tables import load_table

    for sf_dir in sf_dirs:
        out = {"sf_dir": sf_dir}
        # maintained first so JIT/codegen warmup penalizes it, not the
        # control (conservative for the claim being measured)
        out["maintained"] = run_stream(spark, sf_dir, maintained=True)
        out["no_maintenance"] = run_stream(spark, sf_dir, maintained=False)
        exact = cosine_pairs(
            load_table(spark, sf_dir, "embeddings"), threshold=0.45
        ).count()
        out["exact_pairs"] = exact
        for k in ("maintained", "no_maintenance"):
            out[k]["recall"] = (
                round(out[k]["distinct_pairs"] / exact, 4) if exact else 1.0
            )
        print(json.dumps(out))


if __name__ == "__main__":
    main()
