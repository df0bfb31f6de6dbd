"""Pins for SEGMENT COMPACTION WITHOUT RETRAIN (round 13 — the r12
verdict's item 5): all three persisted indexes can fold a generation's
published append segments back into one base as a pure union rewrite —
per-item content (minhash signatures, LSH bucket keys under frozen
planes, IVF cells under a frozen quantizer) makes compaction EXACT by
the same argument as append.  The contracts pinned here:

- post-compaction reads are bit-identical to the wide layout;
- the segment-count arm of the retrain trigger resets (that is the
  point: servicing it no longer costs a full rebuild);
- the DRIFT arm survives where drift is real: the LSH/IVF sizing basis
  is copied verbatim and status/append keep counting rows beyond it
  (a compaction must never silently reset plane/quantizer drift);
  the minhash index has no frozen sizing, so both arms reset there;
- readers pinned to the pre-compaction generation keep answering it;
- appends continue on the compacted generation;
- a no-segments compact refuses (a no-op rewrite would churn storage).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from distributed_graph_db_c_spark.operators.bucketing import (
    index_drop_all,
    index_segments,
)


# ---------------------------------------------------------------- minhash


def _docs(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [(i, " ".join(f"w{j + i}" for j in range(25))) for i in range(lo, hi)],
        "doc_id long, text string",
    )


def _mh_pairs(df) -> dict:
    return {
        (r["old_id"], r["new_id"]): round(r["jaccard"], 9) for r in df.collect()
    }


def _mh_clean(spark, prefix: str) -> None:
    from distributed_graph_db_c_spark.operators.bucketing import index_claim
    from distributed_graph_db_c_spark.sinks import _hadoop_fs

    index_drop_all(spark, prefix, ("_bands", "_shingles"))
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    fs.delete(jpath(index_claim(warehouse, prefix)), False)


def test_minhash_compact_exact_resets_trigger_and_keeps_pins(spark):
    from distributed_graph_db_c_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_index_append,
        minhash_index_build,
        minhash_index_compact,
        minhash_index_status,
        minhash_index_vacuum,
    )

    prefix = "cmp_mh"
    _mh_clean(spark, prefix)
    docs = _docs(spark, 0, 60)
    probe = _docs(spark, 50, 80).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    try:
        minhash_index_build(docs.filter(F.col("doc_id") < 30), prefix)
        minhash_index_append(
            docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 45)), prefix
        )
        minhash_index_append(docs.filter(F.col("doc_id") >= 45), prefix)
        want = _mh_pairs(incremental_dedup_pairs(probe, prefix))
        assert want, "fixture produced no cross pairs"

        audit = minhash_index_compact(spark, prefix)
        assert audit["generation"] == 2
        assert audit["compacted_segments"] == [1, 2]
        assert audit["rows"] == 60

        # bit-identical reads off the compacted generation
        assert _mh_pairs(incremental_dedup_pairs(probe, prefix)) == want
        # BOTH trigger arms reset — minhash has no frozen sizing
        st = minhash_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (2, [])
        assert (st["base_rows"], st["appended_rows"]) == (60, 0)
        assert not st["retrain_due"]
        # a reader pinned to the WIDE generation still answers it
        assert _mh_pairs(
            incremental_dedup_pairs(probe, prefix, generation=1)
        ) == want
        # appends continue on the compacted generation
        a = minhash_index_append(_docs(spark, 200, 210), prefix)
        assert (a["generation"], a["segment"]) == (2, 1)
        # vacuum reclaims the wide generation; the survivor answers
        assert minhash_index_vacuum(spark, prefix) == [1]
        with pytest.raises(Exception):
            incremental_dedup_pairs(probe, prefix, generation=1).collect()
    finally:
        _mh_clean(spark, prefix)


def test_minhash_compact_narrows_read_plan_to_one_part(spark):
    """The scale POINT of compaction: a 2-segment generation's read
    shuffles the delta once per part (3 bkey exchanges); the compacted
    generation's read is ONE co-located probe join — exactly 1 delta
    exchange, index side still bucketed (SelectedBucketsCount)."""
    import re

    from distributed_graph_db_c_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_index_append,
        minhash_index_build,
        minhash_index_compact,
    )

    prefix = "cmp_mh_plan"
    _mh_clean(spark, prefix)
    docs = _docs(spark, 0, 60)
    probe = _docs(spark, 200, 220)
    try:
        minhash_index_build(docs.filter(F.col("doc_id") < 30), prefix)
        minhash_index_append(
            docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 45)), prefix
        )
        minhash_index_append(docs.filter(F.col("doc_id") >= 45), prefix)

        def plan() -> str:
            return (
                incremental_dedup_pairs(probe, prefix, materialize=False)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )

        def cand_cache_reads(p: str) -> int:
            # each per-part VERIFICATION branch must read the persisted
            # candidate set from cache (r13 finding: uncached, every
            # branch re-executed the whole candidate union — P^2 bands
            # scans; InMemoryTableScan's printed CHILD repeats the scan
            # text, so count the cache-scan nodes, not scan text)
            return len(re.findall(r"InMemoryTableScan \[old_id", p))

        wide = plan()
        # 3 parts > the cache threshold: every verification branch
        # reads the persisted candidate set
        assert cand_cache_reads(wide) == 3, wide[:1500]
        minhash_index_compact(spark, prefix)
        narrow = plan()
        # plan WIDTH (the retrain trigger's per-read cost) collapses to
        # one pipelined probe join — below the cache threshold, no
        # candidate cache (the barrier costs more than it saves at one
        # part), one bands scan, one shingles scan, index side bucketed
        assert cand_cache_reads(narrow) == 0, narrow[:1500]
        assert (
            len(re.findall(r"(?:File)?Scan parquet [^\n]*_bands\[", narrow)) == 1
        ), narrow[:1500]
        assert (
            len(re.findall(r"(?:File)?Scan parquet [^\n]*_shingles\[", narrow)) == 1
        )
        assert narrow.count("SelectedBucketsCount") >= 2, narrow[:1500]
    finally:
        _mh_clean(spark, prefix)


def test_minhash_compact_refuses_without_segments(spark):
    from distributed_graph_db_c_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_compact,
    )

    prefix = "cmp_mh_empty"
    _mh_clean(spark, prefix)
    try:
        minhash_index_build(_docs(spark, 0, 20), prefix)
        with pytest.raises(ValueError, match="nothing to compact"):
            minhash_index_compact(spark, prefix)
    finally:
        _mh_clean(spark, prefix)


# ------------------------------------------------------------------- LSH


DIM = 12


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _lsh_clean(spark, prefix: str) -> None:
    from distributed_graph_db_c_spark.operators.bucketing import index_claim
    from distributed_graph_db_c_spark.sinks import _hadoop_fs

    index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    fs.delete(jpath(index_claim(warehouse, prefix)), False)


def test_lsh_compact_exact_and_drift_arm_survives(spark):
    from distributed_graph_db_c_spark.operators.similarity import (
        decontaminate_incremental,
        lsh_index_append,
        lsh_index_build,
        lsh_index_compact,
        lsh_index_status,
    )

    rng = np.random.RandomState(31)
    train = rng.randn(40, DIM)
    corpus = _vecs(
        spark, [(i, [float(x) for x in train[i]]) for i in range(40)]
    )
    ev = _vecs(
        spark,
        [
            (1000 + i, [float(x) for x in train[2 * i] + 0.05 * rng.randn(DIM)])
            for i in range(12)
        ],
    )
    prefix = "cmp_lsh"
    _lsh_clean(spark, prefix)
    try:
        lsh_index_build(
            corpus.filter(F.col("vec_id") < 24), prefix, dim=DIM, threshold=0.8
        )
        lsh_index_append(
            corpus.filter((F.col("vec_id") >= 24) & (F.col("vec_id") < 32)), prefix
        )
        lsh_index_append(corpus.filter(F.col("vec_id") >= 32), prefix)
        before = lsh_index_status(spark, prefix)
        assert before["segments"] == [1, 2]
        assert before["appended_rows"] == 16
        want = {
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in decontaminate_incremental(ev, prefix).collect()
        }
        assert want, "planted eval matches must survive"

        audit = lsh_index_compact(spark, prefix)
        assert audit["generation"] == 2
        assert audit["compacted_segments"] == [1, 2]
        assert (audit["rows"], audit["basis_rows"]) == (40, 24)

        got = {
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in decontaminate_incremental(ev, prefix).collect()
        }
        assert got == want
        # segment arm reset, DRIFT arm preserved: the 16 folded rows
        # still count against the frozen planes' 24-row sizing basis
        st = lsh_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (2, [])
        assert st["basis_rows"] == 24
        assert st["appended_rows"] == 16
        assert st["appended_frac"] == before["appended_frac"]
        assert st["retrain_due"], "16/24 > 0.5 must stay due after compaction"
        # a pinned reader still answers the wide generation
        got1 = {
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in decontaminate_incremental(ev, prefix, generation=1).collect()
        }
        assert got1 == want
        # appends continue, drift accumulating on top of the folded rows
        a = lsh_index_append(
            _vecs(spark, [(500 + i, [float(x) for x in rng.randn(DIM)]) for i in range(4)]),
            prefix,
        )
        assert (a["generation"], a["segment"]) == (2, 1)
        assert a["appended_rows"] == 20
    finally:
        _lsh_clean(spark, prefix)


# ------------------------------------------------------------------- IVF


def test_ivf_compact_exact_preserves_drift_and_pins(spark, tmp_path):
    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_compact,
        ivf_index_attach,
        ivf_query_persisted,
        ivf_vacuum_generations,
    )

    rng = np.random.RandomState(17)
    base = _vecs(
        spark, [(i, [float(x) for x in rng.randn(8)]) for i in range(48)]
    )
    d1 = _vecs(
        spark, [(100 + i, [float(x) for x in rng.randn(8)]) for i in range(8)]
    )
    d2 = _vecs(
        spark, [(200 + i, [float(x) for x in rng.randn(8)]) for i in range(8)]
    )
    path = str(tmp_path / "ivf_cmp")
    ivf_build(base, path, n_cells=4)
    ivf_append(spark, path, d1)
    a2 = ivf_append(spark, path, d2)
    assert a2["n_segments"] == 2

    def topk(generation=None):
        return [
            (r["vec_id"], round(r["cosine"], 9))
            for r in ivf_query_persisted(
                spark, path, query_id=5, top_k=6, nprobe=4, generation=generation
            ).collect()
        ]

    want = topk()
    assert want

    audit = ivf_compact(spark, path)
    assert audit["generation"] == 2
    assert audit["compacted_segments"] == [1, 2]
    assert audit["total_rows"] == 64
    # drift preserved: 16 appended rows over a 48-row trained basis
    assert abs(audit["appended_frac"] - 16 / 48) < 1e-12
    assert audit["retrain_due"], "1/3 > 0.25 must stay due after compaction"

    # bit-identical probes off the compacted generation
    assert topk() == want
    # the attach descriptor carries the drift forward (append_log seed)
    desc = ivf_index_attach(spark, path)
    assert (desc["generation"], desc["segments"]) == (2, [])
    assert (desc["n_base"], desc["total_rows"]) == (48, 64)
    assert abs(desc["appended_frac"] - 16 / 48) < 1e-12
    assert desc["retrain_due"]
    # a reader pinned to the wide generation still answers it
    assert topk(generation=1) == want
    # appends continue on the compacted generation
    a3 = ivf_append(spark, path, _vecs(
        spark, [(300 + i, [float(x) for x in rng.randn(8)]) for i in range(4)]
    ))
    assert (a3["segment"], a3["n_segments"]) == (1, 1)
    assert abs(a3["appended_frac"] - 20 / 48) < 1e-12
    # vacuum reclaims the wide generation
    assert ivf_vacuum_generations(spark, path, keep_last=1) == [1]


def test_ivf_compact_refusals(spark, tmp_path):
    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_build,
        ivf_compact,
    )

    rng = np.random.RandomState(23)
    base = _vecs(
        spark, [(i, [float(x) for x in rng.randn(8)]) for i in range(16)]
    )
    path = str(tmp_path / "ivf_cmp_empty")
    ivf_build(base, path, n_cells=4)
    with pytest.raises(ValueError, match="nothing to compact"):
        ivf_compact(spark, path)
