"""Round-16 optimization equivalence pins: the shared bucketing pass
and validation counts of the LSH/minhash/IVF append family (guide
§1.2/§4) — for the two warehouse indexes now carried by a snapshot's
delta — must be RESULT-INVARIANT: same pairs, same audits, same
refusals, with and without the sharing."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
import pytest

from distributed_graph_db_c_spark.operators.bucketing import (
    index_claim,
    index_drop_all,
    index_open,
)
from distributed_graph_db_c_spark.operators.similarity import (
    LSH_INDEX,
    N_PLANES,
    cosine_lsh_pairs,
    decontaminate_incremental,
    lsh_index_append,
    lsh_index_build,
    lsh_params_for,
    with_lsh_buckets,
)
from distributed_graph_db_c_spark.sinks import _hadoop_fs
from distributed_graph_db_c_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").localCheckpoint(eager=True)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_cosine_lsh_pairs_buckets_df_is_result_invariant(spark, emb):
    n = emb.count()
    n_planes, n_tables, _probe, _ = lsh_params_for(
        n, 0.45, min_multiprobe=N_PLANES
    )
    shared = with_lsh_buckets(
        emb, 64, n_planes=n_planes, n_tables=n_tables
    ).localCheckpoint(eager=True)
    base = cosine_lsh_pairs(emb, 0.45, 64, multiprobe=N_PLANES, n_rows=n)
    via = cosine_lsh_pairs(
        emb, 0.45, 64, multiprobe=N_PLANES, n_rows=n, buckets_df=shared
    )
    assert _rows(base) == _rows(via)


def test_lsh_append_precounted_and_buckets_df_invariant(spark, emb):
    """The round-16 sharing — one bucketing pass and one validation
    aggregate per batch — rides on a snapshot's delta: appending and
    screening through deltas must equal the plain-frame path."""
    halves = [
        emb.filter(F.pmod("vec_id", F.lit(2)) == i).localCheckpoint(eager=True)
        for i in range(2)
    ]
    eva = emb.filter(F.pmod("vec_id", F.lit(7)) == 0)
    audits, screens = [], []
    for use_sharing in (False, True):
        prefix = f"r16t_{uuid.uuid4().hex[:8]}"
        try:
            lsh_index_build(
                halves[0], prefix, threshold=0.45, dim=64, multiprobe=N_PLANES
            )
            if use_sharing:
                d = index_open(spark, LSH_INDEX, prefix).delta(halves[1])
                d.counts, d.buckets  # the handler's per-batch passes, made once
                audit = lsh_index_append(d, prefix)
                d.release()
                ev = index_open(spark, LSH_INDEX, prefix).delta(eva)
                screens.append(_rows(decontaminate_incremental(ev, prefix)))
                ev.release()
            else:
                audit = lsh_index_append(halves[1], prefix)
                screens.append(_rows(decontaminate_incremental(eva, prefix)))
            audits.append(audit)
        finally:
            index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
            wh = spark.conf.get("spark.sql.warehouse.dir")
            fs, jpath = _hadoop_fs(spark, wh)
            fs.delete(jpath(index_claim(wh, prefix)), False)
    assert audits[0] == audits[1]
    assert screens[0] == screens[1]


def test_lsh_append_refuses_delta_of_superseded_dim(spark, emb):
    """A delta validated and bucketed under generation 1's recorded dim
    must not land once a rebuild at another dim is published: the append
    refuses (naming both generations), publishes no segment and
    releases the claim."""
    from distributed_graph_db_c_spark.operators.bucketing import index_segments
    from distributed_graph_db_c_spark.sinks import ConcurrentCommitError

    halves = [
        emb.filter(F.pmod("vec_id", F.lit(2)) == i).localCheckpoint(eager=True)
        for i in range(2)
    ]
    prefix = f"r16t_{uuid.uuid4().hex[:8]}"
    wh = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, wh)
    try:
        lsh_index_build(
            halves[0], prefix, threshold=0.45, dim=64, multiprobe=N_PLANES
        )
        d = index_open(spark, LSH_INDEX, prefix).delta(halves[1])
        narrow = halves[0].withColumn("embedding", F.slice("embedding", 1, 32))
        lsh_index_build(narrow, prefix, threshold=0.45, dim=32, multiprobe=N_PLANES)
        with pytest.raises(ConcurrentCommitError, match="generation 1.*generation 2"):
            lsh_index_append(d, prefix)
        d.release()
        assert index_segments(spark, prefix, 1) == []
        assert index_segments(spark, prefix, 2) == []
        assert not fs.exists(jpath(index_claim(wh, prefix)))
    finally:
        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
        fs.delete(jpath(index_claim(wh, prefix)), False)


def test_minhash_append_hs_rows_invariant(spark):
    """Appending through a snapshot's delta whose indexable count the
    caller already took (the handler's empty-batch guard) must equal the
    plain-frame append: the ledger reuses the delta's own count."""
    from distributed_graph_db_c_spark.operators.dedup import (
        MINHASH_INDEX,
        minhash_index_append,
        minhash_index_build,
        minhash_index_status,
    )

    docs = load_table(spark, SF_DIR, "documents").localCheckpoint(eager=True)
    halves = [docs.filter(F.pmod("doc_id", F.lit(2)) == i) for i in range(2)]
    audits, statuses = [], []
    for pass_rows in (False, True):
        prefix = f"r16m_{uuid.uuid4().hex[:8]}"
        try:
            minhash_index_build(halves[0], prefix)
            if pass_rows:
                d = index_open(spark, MINHASH_INDEX, prefix).delta(halves[1])
                assert d.rows > 0
                audits.append(minhash_index_append(d, prefix))
                d.release()
            else:
                audits.append(minhash_index_append(halves[1], prefix))
            statuses.append(minhash_index_status(spark, prefix))
        finally:
            index_drop_all(spark, prefix, ("_bands", "_shingles"))
            wh = spark.conf.get("spark.sql.warehouse.dir")
            fs, jpath = _hadoop_fs(spark, wh)
            fs.delete(jpath(index_claim(wh, prefix)), False)
    assert audits[0] == audits[1]
    assert statuses[0] == statuses[1]
