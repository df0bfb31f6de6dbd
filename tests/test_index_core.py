"""Fault-injection pins for the segmented-index core
(operators/bucketing.py) behind the MinHash and cosine-LSH indexes:

(a) an append whose snapshot was superseded — a compaction or rebuild
    published between the snapshot open and the append — refuses with
    both generations named, publishes no segment and releases the claim;
(b) a screen given an older snapshot's delta screens that generation
    under ITS recorded parameters, whatever a newer generation records;
(c) the MinHash ledger's ``batch_rows`` is the delta's indexable-document
    count, and no caller can supply it;
(d) a missing params or bucket-spec sidecar is a hard error."""

from __future__ import annotations

import inspect
import os
import shutil
from urllib.parse import urlparse

import numpy as np
import pyspark.sql.functions as F
import pytest

from distributed_graph_db_c_spark.operators.bucketing import (
    BUCKET_SPEC_FILE,
    INDEX_PARAMS_FILE,
    ensure_attached,
    index_claim,
    index_drop_all,
    index_gen_prefix,
    index_open,
    index_segments,
    warehouse_location,
)
from distributed_graph_db_c_spark.operators.dedup import (
    MINHASH_INDEX,
    incremental_dedup_pairs,
    minhash_index_append,
    minhash_index_build,
    minhash_index_compact,
)
from distributed_graph_db_c_spark.operators.similarity import (
    LSH_INDEX,
    decontaminate_incremental,
    lsh_index_append,
    lsh_index_build,
)
from distributed_graph_db_c_spark.sinks import ConcurrentCommitError, _hadoop_fs

DIM = 16


def _docs(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [(i, " ".join(f"w{j + i}" for j in range(25))) for i in range(lo, hi)],
        "doc_id long, text string",
    )


def _vectors(spark):
    """60 train vectors (ids 0..59) + 20 eval vectors (ids 1000+i), eval
    i a noisy copy of train 3i — every eval has a planted match."""
    rng = np.random.RandomState(11)
    train = rng.randn(60, DIM)
    rows = [(i, [float(x) for x in train[i]]) for i in range(60)]
    for i in range(20):
        rows.append((1000 + i, [float(x) for x in train[3 * i] + 0.15 * rng.randn(DIM)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _claim_held(spark, prefix: str) -> bool:
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    return fs.exists(jpath(index_claim(warehouse, prefix)))


def _clean(spark, prefix: str, suffixes) -> None:
    index_drop_all(spark, prefix, suffixes)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    fs.delete(jpath(index_claim(warehouse, prefix)), False)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_append_refuses_superseded_snapshot(spark):
    docs = _docs(spark, 0, 60)
    prefix = "core_mh_stale"
    _clean(spark, prefix, MINHASH_INDEX.suffixes)
    try:
        minhash_index_build(docs.filter(F.col("doc_id") < 30), prefix)
        minhash_index_append(docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)), prefix)
        d = index_open(spark, MINHASH_INDEX, prefix).delta(docs.filter(F.col("doc_id") >= 40))
        assert minhash_index_compact(spark, prefix)["generation"] == 2
        with pytest.raises(ConcurrentCommitError, match="generation 1.*generation 2"):
            minhash_index_append(d, prefix)
        d.release()
        assert index_segments(spark, prefix, 1) == [1]
        assert index_segments(spark, prefix, 2) == []
        assert not _claim_held(spark, prefix)
        # a delta of the new snapshot appends fine
        d2 = index_open(spark, MINHASH_INDEX, prefix).delta(docs.filter(F.col("doc_id") >= 40))
        assert minhash_index_append(d2, prefix)["generation"] == 2
        d2.release()
    finally:
        _clean(spark, prefix, MINHASH_INDEX.suffixes)


def test_lsh_append_refuses_superseded_snapshot(spark):
    vecs = _vectors(spark)
    base = vecs.filter(F.col("vec_id") < 30)
    prefix = "core_lsh_stale"
    _clean(spark, prefix, LSH_INDEX.suffixes)
    try:
        lsh_index_build(base, prefix, threshold=0.8, dim=DIM, multiprobe=4)
        d = index_open(spark, LSH_INDEX, prefix).delta(
            vecs.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 60))
        )
        assert lsh_index_build(base, prefix, threshold=0.8, dim=DIM, multiprobe=4) == 2
        with pytest.raises(ConcurrentCommitError, match="generation 1.*generation 2"):
            lsh_index_append(d, prefix)
        d.release()
        assert index_segments(spark, prefix, 1) == []
        assert index_segments(spark, prefix, 2) == []
        assert not _claim_held(spark, prefix)
    finally:
        _clean(spark, prefix, LSH_INDEX.suffixes)


def test_lsh_screen_keeps_older_snapshot_parameters(spark):
    vecs = _vectors(spark)
    train = vecs.filter(F.col("vec_id") < 60)
    ev = vecs.filter(F.col("vec_id") >= 1000)
    prefix = "core_lsh_params"
    _clean(spark, prefix, LSH_INDEX.suffixes)
    try:
        lsh_index_build(train, prefix, threshold=0.8, dim=DIM, multiprobe=4)
        old = index_open(spark, LSH_INDEX, prefix)
        expected = _rows(decontaminate_incremental(ev, prefix))
        assert expected
        # a rebuild sized for a far larger corpus records other planes
        lsh_index_build(train, prefix, threshold=0.8, dim=DIM, multiprobe=4, n_rows=30000)
        new = index_open(spark, LSH_INDEX, prefix)
        key = ("n_planes", "n_tables")
        assert new.generation == 2
        assert [new.params[k] for k in key] != [old.params[k] for k in key]
        d = old.delta(ev)
        assert len(d.buckets.head()["buckets"]) == old.params["n_tables"]
        assert _rows(decontaminate_incremental(d, prefix)) == expected
        d.release()
    finally:
        _clean(spark, prefix, LSH_INDEX.suffixes)


def test_minhash_screen_keeps_older_snapshot_parameters(spark):
    docs = _docs(spark, 0, 60)
    old_docs = docs.filter(F.col("doc_id") < 40)
    batch = docs.filter(F.col("doc_id") >= 40)
    prefix = "core_mh_params"
    _clean(spark, prefix, MINHASH_INDEX.suffixes)
    try:
        minhash_index_build(old_docs, prefix)
        old = index_open(spark, MINHASH_INDEX, prefix)
        expected = _rows(incremental_dedup_pairs(batch, prefix, threshold=0.5))
        assert expected
        minhash_index_build(old_docs, prefix, bands=32, rows=2)
        assert index_open(spark, MINHASH_INDEX, prefix).params["bands"] == 32
        d = old.delta(batch)
        assert _rows(incremental_dedup_pairs(d, prefix, threshold=0.5)) == expected
        d.release()
    finally:
        _clean(spark, prefix, MINHASH_INDEX.suffixes)


def test_minhash_ledger_batch_rows_is_the_deltas_indexable_count(spark):
    base = _docs(spark, 0, 30)
    # five documents under k=3 tokens never enter the shingle store
    delta = _docs(spark, 30, 40).unionByName(
        spark.createDataFrame([(100 + i, "too short") for i in range(5)], "doc_id long, text string")
    )
    prefix = "core_mh_rows"
    _clean(spark, prefix, MINHASH_INDEX.suffixes)
    try:
        minhash_index_build(base, prefix)
        d = index_open(spark, MINHASH_INDEX, prefix).delta(delta)
        assert d.rows == 10
        audit = minhash_index_append(d, prefix)
        d.release()
        assert audit["batch_rows"] == 10
        assert audit["appended_rows"] == 10
        params = inspect.signature(minhash_index_append).parameters
        assert not {"batch_rows", "hs_rows", "hs_df", "sig_df"} & set(params)
    finally:
        _clean(spark, prefix, MINHASH_INDEX.suffixes)


def test_missing_params_or_bucket_spec_is_a_hard_error(spark):
    prefix = "core_mh_sidecars"
    _clean(spark, prefix, MINHASH_INDEX.suffixes)
    try:
        minhash_index_build(_docs(spark, 0, 20), prefix)
        shingles = f"{index_gen_prefix(prefix, 1)}_shingles"
        loc = urlparse(warehouse_location(spark, shingles)).path
        # the bucket spec first, in a "fresh session" that must attach
        # the table: drop the catalog entry, keep the files
        shutil.copytree(loc, loc + "__staged")
        spark.sql(f"DROP TABLE {shingles}")
        shutil.rmtree(loc, ignore_errors=True)
        shutil.move(loc + "__staged", loc)
        os.remove(os.path.join(loc, BUCKET_SPEC_FILE))
        with pytest.raises(FileNotFoundError, match=BUCKET_SPEC_FILE):
            ensure_attached(spark, shingles, "id bigint, hs array<bigint>")
        os.remove(os.path.join(loc, INDEX_PARAMS_FILE))
        with pytest.raises(FileNotFoundError, match=INDEX_PARAMS_FILE):
            index_open(spark, MINHASH_INDEX, prefix)
    finally:
        _clean(spark, prefix, MINHASH_INDEX.suffixes)
