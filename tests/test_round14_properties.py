"""Round-14 property pins — the r13 ADVICE seams plus the r13 verdict's
maintenance-story gap, each closed at the root and pinned here:

1. RETRAIN MID-STREAM for the LSH streaming composition (the r13
   verdict's item 2): the mid-stream-compaction pins existed for the
   minhash stream and the IVF ingest loop, but nothing proved
   ``continuous_embedding_dedup`` rides an ``lsh_index_build`` REBUILD
   (next generation, re-sized planes) between micro-batch runs — the
   maintenance act its measured no-maintenance drift shape assumes
   production performs.  Pinned end-to-end on one checkpoint.

2. On-disk bucket spec (ADVICE r13 medium): ``ensure_attached`` call
   sites hardcoded the default bucket counts, so an index built with a
   non-default ``n_buckets`` read from a fresh session was auto-attached
   with a mismatched CLUSTERED BY spec — mislabeled bucket membership,
   silently missed pairs.  ``write_bucketed`` now records the spec in a
   ``_BUCKET_SPEC`` sidecar (invisible to scans — the _SUCCESS naming
   rule), ``ensure_attached`` reads it instead of trusting its caller,
   and an explicit ``attach_bucketed`` with a contradicting spec refuses
   loudly.

3. Zero-indexable micro-batches (ADVICE r13 low): a batch with nothing
   to index (empty, or every doc under k tokens) could never classify as
   a replay, so each crash-redelivery appended and PUBLISHED another
   empty segment — silently widening every subsequent read plan until
   the max_segments arm tripped.  All three continuous handlers now
   treat it as a no-op (nothing to index, and no pair can form).

4. ``continuous_ivf_ingest.handle.audits`` retention is BOUNDED (the
   r13 verdict's anti-pattern audit): one dict per micro-batch for the
   life of the stream is a slow driver-memory leak; only the newest
   ``max_audits`` entries are kept.

5. Round-14 review pins (the in-round review of the diff + the
   streaming/index seam): classify-step reads auto-attach cross-session
   segments BEFORE they can kill the stream; duplicated BOOTSTRAP
   batches refuse pre-write in both vector handlers (their builds,
   unlike their appends, perform no duplicate check); the scratch-index
   stream's hs/buckets write order leaves no permanent-wedge crash
   window; index_drop_all reclaims width-overflowed segment names; the
   _BUCKET_SPEC sidecar republishes atomically with no orphaned temps,
   validates the sorted flag, and refuses (clearly) when torn.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"


def _local(uri: str) -> str:
    p = urlparse(uri)
    return p.path if p.scheme in ("", "file") else uri


def _stage_at(frames, out_dir, offset):
    """stage_stream_dir with an index offset, so a SECOND availableNow
    run of the same checkpoint picks up only the new files — delegates
    to the shared helper so the staging convention lives in ONE place."""
    from distributed_graph_db_c_spark.streaming.sources import stage_stream_dir

    stage_stream_dir(frames, out_dir, start=offset)


# -- 1: the LSH stream rides a mid-stream RETRAIN -----------------------------


def test_continuous_embedding_stream_rides_mid_stream_retrain(spark):
    """The maintenance story's ACTING half for the one stream where
    no-maintenance drift is super-linear: the continuous embedding
    stream bootstraps the index and appends a segment; its drift arm
    (``retrain_due``) flips; a maintenance job between micro-batch runs
    REBUILDS the index over the accumulated corpus (lsh_index_build —
    next generation, planes RE-SIZED to the grown basis); the stream
    then resumes on the SAME checkpoint — its next batch must resolve
    the retrained generation, classify as all-new, screen against it,
    and land as ITS first append segment, with the accumulated distinct
    pair set still equal to exact all-pairs cosine over the whole
    corpus.  The retrain twin of
    test_continuous_stream_rides_mid_stream_compaction."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        index_claim,
        index_drop_all,
        index_open,
    )
    from distributed_graph_db_c_spark.operators.similarity import (
        LSH_INDEX,
        N_PLANES,
        cosine_pairs,
        lsh_index_build,
        lsh_index_status,
    )
    from distributed_graph_db_c_spark.sinks import _hadoop_fs
    from distributed_graph_db_c_spark.sources.tables import load_table
    from distributed_graph_db_c_spark.streaming.dedup import (
        EMB_PAIRS_DDL,
        continuous_embedding_dedup,
    )
    from distributed_graph_db_c_spark.streaming.sources import (
        cleanup,
        read_file_stream,
        run_available_now,
        scratch_dir,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    expected = sorted(
        tuple(r) for r in cosine_pairs(emb, threshold=0.45).collect()
    )
    assert expected, "corpus must contain near-dup embedding pairs"
    prefix = "r14retrain"
    index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
    scratch = scratch_dir("retrain")
    try:
        batches = [emb.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
        in_dir = f"{scratch}/in"
        handler = continuous_embedding_dedup(prefix, f"{scratch}/pairs")
        # phase 1: bootstrap (gen 1, planes sized to batch 0) + one
        # append segment — equal thirds, so the drift arm flips
        _stage_at(batches[:2], in_dir, 0)
        semb = read_file_stream(spark, in_dir, emb.schema)
        run_available_now(semb, f"{scratch}/ckpt", foreach_batch=handler)
        st = lsh_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (1, [1])
        assert st["retrain_due"], "equal thirds must trip the 0.5 drift arm"
        assert st["basis_rows"] == batches[0].count()
        # maintenance between micro-batch runs: the act retrain_due
        # cues — a full rebuild over the accumulated corpus, with the
        # stream's own recall floor (the handler bootstraps with
        # multiprobe=N_PLANES; the rebuild must keep that operating
        # point or resumed screens would silently lose recall)
        grown = batches[0].unionByName(batches[1])
        gen = lsh_index_build(
            grown, prefix, threshold=0.45, dim=64, multiprobe=N_PLANES
        )
        assert gen == 2
        st = lsh_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (2, [])
        assert not st["retrain_due"], "a fresh rebuild has zero drift"
        # the planes were genuinely RE-SIZED: the recorded sizing basis
        # grew from one third of the corpus to two
        assert st["basis_rows"] == grown.count() > batches[0].count()
        meta = index_open(spark, LSH_INDEX, prefix, generation=2).params
        assert int(meta["n_rows"]) == st["basis_rows"]
        # phase 2: the stream resumes on the SAME checkpoint and must
        # ride the retrained generation
        _stage_at(batches[2:], in_dir, 2)
        semb = read_file_stream(spark, in_dir, emb.schema)
        run_available_now(semb, f"{scratch}/ckpt", foreach_batch=handler)
        st = lsh_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (2, [1])
        got = sorted(
            tuple(r)
            for r in spark.read.schema(EMB_PAIRS_DDL)
            .parquet(f"{scratch}/pairs")
            .distinct()
            .collect()
        )
        assert got == expected
    finally:
        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(index_claim(warehouse, prefix)), False)
        cleanup(scratch)


# -- 2: the on-disk bucket spec ------------------------------------------------


def test_bucket_spec_recorded_and_recovered_cross_session(spark):
    """An index built with a NON-DEFAULT bucket count must read
    correctly from a session that never saw the build: write_bucketed
    records the spec on disk, and ensure_attached recovers THAT spec
    instead of its caller's default — the silent-missed-pairs corruption
    the r13 ADVICE named."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        ensure_attached,
        read_bucket_spec,
        warehouse_location,
        write_bucketed,
    )

    table = "r14spec_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    )
    try:
        write_bucketed(df, table, key="id", n_buckets=5)
        spec = read_bucket_spec(spark, table)
        assert spec == {"keys": ["id"], "n_buckets": 5, "sorted": True}
        expected = spark.table(table).count()
        # simulate a fresh session: drop the catalog entry, keep files
        loc = _local(warehouse_location(spark, table))
        staged = loc + "__staged"
        shutil.copytree(loc, staged)
        spark.sql(f"DROP TABLE {table}")
        if os.path.exists(loc):
            shutil.rmtree(loc)
        shutil.move(staged, loc)
        # the caller supplies no spec — the recorded one is the only one
        ensure_attached(spark, table, "id bigint, grp bigint")
        got = spark.catalog.getTable(table)
        assert got.tableType == "EXTERNAL"
        assert spark.table(table).count() == expected
        # the attached spec is the RECORDED one: the co-located join
        # against a genuinely 5-bucket probe compiles zero-Exchange AND
        # returns every pair — exactly the property a mislabeled
        # 32-bucket attach over 5-bucket files silently breaks (no
        # Exchange, wrong bucket membership, missed matches)
        probe = "r14spec_probe"
        spark.sql(f"DROP TABLE IF EXISTS {probe}")
        write_bucketed(
            spark.range(500).select("id"), probe, key="id", n_buckets=5
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table(table).join(spark.table(probe), "id")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, "attach must co-locate with 5 buckets"
            assert j.count() == expected
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {probe}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_attach_bucketed_refuses_contradicting_spec(spark):
    """An EXPLICIT attach whose spec contradicts the on-disk record is
    always the corruption attach_bucketed's docstring warns about —
    refuse loudly instead of mislabeling bucket membership."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        attach_bucketed,
        warehouse_location,
        write_bucketed,
    )

    table = "r14spec_refuse"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    df = spark.range(100).select(F.col("id"))
    try:
        write_bucketed(df, table, key="id", n_buckets=5)
        loc = _local(warehouse_location(spark, table))
        staged = loc + "__staged"
        shutil.copytree(loc, staged)
        spark.sql(f"DROP TABLE {table}")
        if os.path.exists(loc):
            shutil.rmtree(loc)
        shutil.move(staged, loc)
        with pytest.raises(ValueError, match="contradicts the on-disk"):
            attach_bucketed(spark, table, "id bigint", "id", 32)
        # the recorded spec attaches fine
        attach_bucketed(spark, table, "id bigint", "id", 5)
        assert spark.table(table).count() == 100
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_attach_bucketed_refuses_sorted_mismatch_and_torn_sidecar(spark):
    """Review follow-ups (round 14): (a) a SORTED BY attach over
    unsorted bucket files is the same silent-corruption class as a
    bucket-count mismatch (one file per bucket means Spark trusts the
    sort metadata and elides the sort in sort-merge joins) — the
    contradiction check covers the sorted flag too; (b) a torn/empty
    sidecar must raise a CLEAR error naming the file, not a py4j
    EOFException on every later attach, and never silently fall back
    to the caller's (possibly wrong) spec."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        attach_bucketed,
        read_bucket_spec,
        warehouse_location,
        write_bucketed,
    )

    table = "r14spec_sorted"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(
            spark.range(100).select("id"), table, key="id", n_buckets=5,
            sorted_buckets=False,
        )
        loc = _local(warehouse_location(spark, table))
        staged = loc + "__staged"
        shutil.copytree(loc, staged)
        spark.sql(f"DROP TABLE {table}")
        if os.path.exists(loc):
            shutil.rmtree(loc)
        shutil.move(staged, loc)
        # (a) right keys + count, WRONG sort claim -> refuse
        with pytest.raises(ValueError, match="contradicts the on-disk"):
            attach_bucketed(spark, table, "id bigint", "id", 5)
        attach_bucketed(
            spark, table, "id bigint", "id", 5, sorted_buckets=False
        )
        assert spark.table(table).count() == 100
        spark.sql(f"DROP TABLE {table}")
        # (b) torn sidecar (created, never written) -> clear refusal
        spec_path = os.path.join(loc, "_BUCKET_SPEC")
        open(spec_path, "w").close()
        with pytest.raises(ValueError, match="cannot be read/parsed"):
            read_bucket_spec(spark, table)
        with pytest.raises(ValueError, match="cannot be read/parsed"):
            attach_bucketed(spark, table, "id bigint", "id", 5)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(loc, ignore_errors=True)


def test_continuous_ivf_ingest_rejects_degenerate_audit_bound():
    import pytest as _pytest

    from distributed_graph_db_c_spark.streaming.dedup import continuous_ivf_ingest

    with _pytest.raises(ValueError, match="max_audits must be >= 1"):
        continuous_ivf_ingest("/tmp/never-used", max_audits=0)


def test_bucket_spec_sidecar_invisible_to_scans(spark):
    """The sidecar must never surface as data: a full scan of the
    bucketed table (and of its directory read as raw parquet) returns
    exactly the written rows."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        warehouse_location,
        write_bucketed,
    )

    table = "r14spec_scan"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(spark.range(64).select("id"), table, key="id", n_buckets=4)
        loc = _local(warehouse_location(spark, table))
        assert os.path.exists(os.path.join(loc, "_BUCKET_SPEC"))
        assert spark.table(table).count() == 64
        assert spark.read.parquet(loc).count() == 64
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# -- 3 + 4: zero-indexable batches are no-ops; audits retention is bounded ----


def test_continuous_minhash_empty_and_unindexable_batches_are_noops(spark):
    """Redelivering a batch with ZERO indexable rows (empty, or every
    doc under k tokens) must not append — each crash-redelivery used to
    publish another empty segment, widening every later read plan; nor
    may such a batch bootstrap an empty generation whose zero-row basis
    poisons the retrain ledger."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        index_claim,
        index_drop_all,
        index_generations,
    )
    from distributed_graph_db_c_spark.operators.dedup import (
        minhash_index_status,
    )
    from distributed_graph_db_c_spark.sinks import _hadoop_fs
    from distributed_graph_db_c_spark.sources.tables import load_table
    from distributed_graph_db_c_spark.streaming.dedup import continuous_index_dedup
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    docs = load_table(spark, SF_DIR, "documents")
    prefix = "r14noopmh"
    index_drop_all(spark, prefix, ("_bands", "_shingles"))
    scratch = scratch_dir("noopmh")
    try:
        handler = continuous_index_dedup(prefix, f"{scratch}/pairs")
        empty = docs.limit(0)
        short = spark.createDataFrame(
            [(9_000_001, "too short"), (9_000_002, "also short")],
            "doc_id long, text string",
        )
        # an unindexable FIRST batch must not bootstrap a generation
        handler(empty, 0)
        handler(short, 1)
        assert not index_generations(spark, prefix)
        # a real batch bootstraps normally afterwards
        handler(docs.filter(F.pmod("doc_id", F.lit(2)) == 0), 2)
        st = minhash_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (1, [])
        # redelivered unindexable batches are no-ops, not empty segments
        for bid in (3, 4, 5):
            handler(empty, bid)
            handler(short, bid + 10)
        st = minhash_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (1, [])
    finally:
        index_drop_all(spark, prefix, ("_bands", "_shingles"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(index_claim(warehouse, prefix)), False)
        cleanup(scratch)


def test_continuous_embedding_empty_batches_are_noops(spark):
    from distributed_graph_db_c_spark.operators.bucketing import (
        index_claim,
        index_drop_all,
        index_generations,
    )
    from distributed_graph_db_c_spark.operators.similarity import (
        lsh_index_status,
    )
    from distributed_graph_db_c_spark.sinks import _hadoop_fs
    from distributed_graph_db_c_spark.sources.tables import load_table
    from distributed_graph_db_c_spark.streaming.dedup import (
        continuous_embedding_dedup,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = load_table(spark, SF_DIR, "embeddings")
    prefix = "r14noopemb"
    index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
    scratch = scratch_dir("noopemb")
    try:
        handler = continuous_embedding_dedup(prefix, f"{scratch}/pairs")
        empty = emb.limit(0)
        handler(empty, 0)
        assert not index_generations(spark, prefix)
        handler(emb.filter(F.pmod("vec_id", F.lit(2)) == 0), 1)
        st = lsh_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (1, [])
        for bid in (2, 3, 4):
            handler(empty, bid)
        st = lsh_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (1, [])
    finally:
        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(index_claim(warehouse, prefix)), False)
        cleanup(scratch)


def test_ivf_ingest_rankings_have_margin():
    """stream_continuous_ivf_ingest's oracle contingency — the ingest
    construction's twin of test_ivf_append_rankings_have_margin:
    centroids come from the BOOTSTRAP batch (vec_id % 3 == 0) instead
    of the append gate's base corpus, so the numpy-vs-SQL-fold float
    seams (cell assignment, probe-boundary ranking) need their own
    margin pin on this corpus.  Fails loudly if a corpus change pushes
    any margin within 1e-9 — BEFORE the driver's hash compare could."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from distributed_graph_db_c_spark.queries.streaming import (
        _IVF_INGEST_CELLS,
        _IVF_INGEST_MOD,
        _IVF_INGEST_NPROBE,
        _IVF_INGEST_Q,
    )

    for sf in (SF_DIR, "/root/testdata/sf0.01"):
        t = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
        ids = t["vec_id"].to_numpy()
        E = np.stack([np.asarray(v, dtype=np.float64) for v in t["embedding"]])
        bmask = ids % _IVF_INGEST_MOD == 0
        bids, BE = ids[bmask], E[bmask]
        h = np.array(
            [hashlib.md5(str(int(i)).encode()).hexdigest() for i in bids]
        )
        cidx = np.lexsort((bids, h))[:_IVF_INGEST_CELLS]
        C = BE[cidx]
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        En = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
        S = En @ Cn.T
        Ss = np.sort(S, axis=1)
        assert (Ss[:, -1] - Ss[:, -2]).min() > 1e-9, f"assignment margin at {sf}"
        Q = np.sort(S[ids < _IVF_INGEST_Q], axis=1)[:, ::-1]
        assert (
            Q[:, _IVF_INGEST_NPROBE - 1] - Q[:, _IVF_INGEST_NPROBE]
        ).min() > 1e-9, f"probe boundary margin at {sf}"


def test_continuous_ivf_ingest_rides_mid_stream_retrain(spark):
    """The IVF twin of the embedding stream's retrain pin (the acting
    half of ITS drift arm): the ingest stream bootstraps gen 1 and
    appends a segment; the append audit flips retrain_due (30 rows onto
    a 30-row basis = 1.0 >= the 0.25 default); a maintenance job
    between micro-batch runs RETRAINS the quantizer over the ingested
    corpus (ivf_retrain_swap -> gen 2, re-seeded centroids); the stream
    resumes on the SAME checkpoint and its next batch lands as gen 2's
    first append segment — with probe-all queries still exactly equal
    to brute force over everything ingested.  Completes the
    maintenance matrix: compact-mid-stream pins exist for all three
    streams (r13/r14), retrain-mid-stream now for both drift-prone
    indexes (LSH above, IVF here)."""
    import numpy as np

    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_index_attach,
        ivf_query_persisted,
        ivf_retrain_swap,
    )
    from distributed_graph_db_c_spark.streaming.dedup import continuous_ivf_ingest
    from distributed_graph_db_c_spark.streaming.sources import (
        cleanup,
        read_file_stream,
        run_available_now,
        scratch_dir,
    )

    rng = np.random.RandomState(47)
    vecs = rng.randn(90, 16)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(90)],
        "vec_id long, embedding array<double>",
    )
    s = scratch_dir("ivf-retrain")
    path = f"{s}/idx"
    try:
        batches = [corpus.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
        in_dir = f"{s}/in"
        handler = continuous_ivf_ingest(path, n_cells=4)
        _stage_at(batches[:2], in_dir, 0)
        sv = read_file_stream(spark, in_dir, corpus.schema)
        run_available_now(sv, f"{s}/ckpt", foreach_batch=handler)
        assert (lambda d: (d["generation"], d["segments"]))(
            ivf_index_attach(spark, path)
        ) == (1, [1])
        assert handler.audits[-1]["retrain_due"], (
            "an equal-sized append must flip the drift arm"
        )
        # maintenance between micro-batch runs: the act the trigger cues
        ingested = batches[0].unionByName(batches[1])
        assert ivf_retrain_swap(spark, path, ingested, n_cells=4) == 2
        # resume on the SAME checkpoint; the next batch must resolve
        # the retrained generation and append there
        _stage_at(batches[2:], in_dir, 2)
        sv = read_file_stream(spark, in_dir, corpus.schema)
        run_available_now(sv, f"{s}/ckpt", foreach_batch=handler)
        desc = ivf_index_attach(spark, path)
        assert (desc["generation"], desc["segments"]) == (2, [1])
        # probe-all == brute force over everything ingested
        q = [float(x) for x in vecs[7]]
        want = {
            i: round(
                float(
                    vecs[7] @ vecs[i]
                    / (np.linalg.norm(vecs[7]) * np.linalg.norm(vecs[i]))
                ),
                9,
            )
            for i in range(90)
        }
        rows = ivf_query_persisted(
            spark, path, query_vec=q, top_k=90, nprobe=4
        ).collect()
        got = {r["vec_id"]: round(r["cosine"], 9) for r in rows}
        assert set(got) == set(want)
        assert all(abs(got[k] - want[k]) < 1e-9 for k in want)
    finally:
        cleanup(s)


def test_continuous_ivf_ingest_audits_bounded_and_empty_noop(spark):
    """handle.audits keeps only the newest ``max_audits`` entries (a
    months-long stream must not leak driver memory one dict per
    micro-batch), and an empty micro-batch neither appends a segment
    nor records an audit."""
    import numpy as np

    from distributed_graph_db_c_spark.operators.similarity import ivf_index_attach
    from distributed_graph_db_c_spark.streaming.dedup import continuous_ivf_ingest
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    rng = np.random.RandomState(44)
    vecs = rng.randn(60, 8)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    s = scratch_dir("ivf-audits")
    path = f"{s}/idx"
    try:
        handler = continuous_ivf_ingest(path, n_cells=2, max_audits=3)
        empty = corpus.limit(0)
        # an empty FIRST batch must not bootstrap a zero-row quantizer
        handler(empty, 0)
        assert handler.audits == []
        batches = [corpus.filter(F.pmod("vec_id", F.lit(6)) == i) for i in range(6)]
        for i, b in enumerate(batches, start=1):
            handler(b, i)
        desc = ivf_index_attach(spark, path)
        assert (desc["generation"], desc["segments"]) == (1, [1, 2, 3, 4, 5])
        # bounded retention: only the NEWEST 3 audits are kept
        assert len(handler.audits) == 3
        assert [a["segment"] for a in handler.audits] == [3, 4, 5]
        # empty mid-stream batches: no segment, no audit entry
        handler(empty, 99)
        assert ivf_index_attach(spark, path)["segments"] == [1, 2, 3, 4, 5]
        assert [a["segment"] for a in handler.audits] == [3, 4, 5]
    finally:
        cleanup(s)


# -- round-14 review pins: streaming/index seam hardening ---------------------


def _drop_preserving_files(spark, tables: list[str]) -> None:
    """Simulate 'another session appended': destroy THIS session's
    catalog entries for ``tables`` while preserving their warehouse
    directories (managed DROP purges, so the data is staged aside and
    restored) — the same simulation as test_round13_properties."""
    from distributed_graph_db_c_spark.operators.bucketing import warehouse_location

    staged = {}
    for t in tables:
        loc = _local(warehouse_location(spark, t))
        staged[t] = loc + "__staged"
        shutil.copytree(loc, staged[t])
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for t, s in staged.items():
        loc = _local(warehouse_location(spark, t))
        if os.path.exists(loc):
            shutil.rmtree(loc)
        shutil.move(s, loc)


def test_continuous_stream_classify_survives_cross_session_append(spark):
    """The classify step reads the resolved index parts BEFORE the
    screen call whose own ensure_attached would self-heal them (round
    14 review): a segment another session published after this session
    attached must not kill the stream with TABLE_OR_VIEW_NOT_FOUND —
    simulated by destroying the catalog entries (files preserved)
    between an append and the next micro-batch."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        index_claim,
        index_drop_all,
        index_seg_prefix,
    )
    from distributed_graph_db_c_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_index_status,
    )
    from distributed_graph_db_c_spark.sinks import _hadoop_fs
    from distributed_graph_db_c_spark.sources.tables import load_table
    from distributed_graph_db_c_spark.streaming.dedup import (
        PAIRS_DDL,
        continuous_index_dedup,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    docs = load_table(spark, SF_DIR, "documents")
    expected = sorted(
        tuple(r) for r in minhash_dedup_pairs(docs, threshold=0.8).collect()
    )
    prefix = "r14xsesscls"
    index_drop_all(spark, prefix, ("_bands", "_shingles"))
    scratch = scratch_dir("xsesscls")
    try:
        batches = [docs.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
        handler = continuous_index_dedup(prefix, f"{scratch}/pairs")
        handler(batches[0], 0)  # bootstrap gen 1
        handler(batches[1], 1)  # segment 1
        # "another session appended": this session's catalog forgets the
        # segment tables, the on-disk markers still name them
        sp = index_seg_prefix(prefix, 1, 1)
        _drop_preserving_files(spark, [f"{sp}_bands", f"{sp}_shingles"])
        handler(batches[2], 2)  # classify must auto-attach, not die
        st = minhash_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (1, [1, 2])
        got = sorted(
            tuple(r)
            for r in spark.read.schema(PAIRS_DDL)
            .parquet(f"{scratch}/pairs")
            .distinct()
            .collect()
        )
        assert got == expected
    finally:
        index_drop_all(spark, prefix, ("_bands", "_shingles"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(index_claim(warehouse, prefix)), False)
        cleanup(scratch)


def test_continuous_handlers_refuse_duplicated_bootstrap_batch(spark):
    """lsh_index_build / ivf_build perform no internal-duplicate check
    (unlike their appends), so before round 14 a duplicated FIRST batch
    silently built a poisoned generation 1 — and the IVF stream then
    wedged on that batch's own crash-redelivery (generations exist by
    then, so the replay hit the duplicate refusal).  Both handlers now
    refuse BEFORE any write, bootstrap included."""
    import numpy as np

    from distributed_graph_db_c_spark.operators.bucketing import (
        index_drop_all,
        index_generations,
    )
    from distributed_graph_db_c_spark.sources.tables import load_table
    from distributed_graph_db_c_spark.streaming.dedup import (
        continuous_embedding_dedup,
        continuous_ivf_ingest,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = load_table(spark, SF_DIR, "embeddings")
    prefix = "r14dupboot"
    index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
    scratch = scratch_dir("dupboot")
    try:
        dup = emb.limit(5).unionByName(emb.limit(2))
        handler = continuous_embedding_dedup(prefix, f"{scratch}/pairs")
        with pytest.raises(ValueError, match="internally duplicated"):
            handler(dup, 0)
        assert not index_generations(spark, prefix)
        assert not os.path.exists(f"{scratch}/pairs")

        rng = np.random.RandomState(52)
        vecs = rng.randn(12, 8)
        corpus = spark.createDataFrame(
            [(i % 9, [float(x) for x in vecs[i]]) for i in range(12)],
            "vec_id long, embedding array<double>",
        )  # ids 0..8 with 0,1,2 duplicated
        ivf = continuous_ivf_ingest(f"{scratch}/idx", n_cells=2)
        with pytest.raises(ValueError, match="internally duplicated"):
            ivf(corpus, 0)
        assert not os.path.exists(f"{scratch}/idx")
    finally:
        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
        cleanup(scratch)


def test_incremental_minhash_replay_survives_crash_between_index_writes(spark):
    """The scratch-index stream's crash window (round 14 review): the
    hs store now lands BEFORE the buckets store, and ``have_index``
    gates on buckets (the LAST write) — a crash between the two leaves
    hs-without-buckets, which a redelivery treats as no-index (its hs
    rows duplicate; the exact-Jaccard verify makes the duplicate pair
    rows byte-identical, collapsed by readers' distinct()) instead of
    the old order's permanent PATH_NOT_FOUND wedge."""
    import shutil as _shutil

    from distributed_graph_db_c_spark.operators.dedup import minhash_dedup_pairs
    from distributed_graph_db_c_spark.sources.tables import load_table
    from distributed_graph_db_c_spark.streaming.dedup import (
        PAIRS_DDL,
        incremental_minhash_dedup,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    docs = load_table(spark, SF_DIR, "documents")
    expected = sorted(
        tuple(r) for r in minhash_dedup_pairs(docs, threshold=0.8).collect()
    )
    scratch = scratch_dir("crashwin")
    try:
        a = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
        b = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
        handler = incremental_minhash_dedup(
            f"{scratch}/idx", f"{scratch}/pairs", threshold=0.8
        )
        handler(a, 0)
        # crash between the hs write and the buckets write: hs persisted,
        # buckets gone
        _shutil.rmtree(f"{scratch}/idx/buckets")
        handler(a, 0)  # redelivery must not raise (old order: wedge)
        handler(b, 1)
        got = sorted(
            tuple(r)
            for r in spark.read.schema(PAIRS_DDL)
            .parquet(f"{scratch}/pairs")
            .distinct()
            .collect()
        )
        assert got == expected
    finally:
        cleanup(scratch)


def test_index_drop_all_reclaims_wide_segment_names(spark):
    """index_drop_all's cleanup pattern accepts widened %04d/%08d
    numbers (round 14 review) — segment 10000's tables must not leak
    past the drop the way the marker regexes already guard."""
    from distributed_graph_db_c_spark.operators.bucketing import index_drop_all

    wide = "r14wide__g00000001_s10000_bands"
    spark.sql(f"DROP TABLE IF EXISTS {wide}")
    spark.range(3).write.mode("overwrite").saveAsTable(wide)
    assert spark.catalog.tableExists(wide)
    index_drop_all(spark, "r14wide", ("_bands", "_shingles"))
    assert not spark.catalog.tableExists(wide)


def test_bucket_spec_republish_leaves_single_sidecar(spark):
    """Re-publishing a bucketed table (write_bucketed over the same
    name) must leave exactly one _BUCKET_SPEC and no orphaned
    __tmp files (round 14 review: the rename-first retry path)."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        read_bucket_spec,
        warehouse_location,
        write_bucketed,
    )

    table = "r14spec_repub"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(spark.range(50).select("id"), table, key="id", n_buckets=4)
        write_bucketed(spark.range(60).select("id"), table, key="id", n_buckets=8)
        assert read_bucket_spec(spark, table)["n_buckets"] == 8
        loc = _local(warehouse_location(spark, table))
        names = os.listdir(loc)
        assert names.count("_BUCKET_SPEC") == 1
        assert not [n for n in names if "__tmp_" in n]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_minhash_index_refuses_mismatched_parameters(spark):
    """The minhash index now records its build parameters on disk (the
    LSH meta hazard's twin, round 14 review): a read or append with
    parameters that disagree with the recorded build would bucket in a
    foreign bkey space and silently return zero candidates / publish a
    poisoned segment — both must refuse loudly, while matching
    parameters (and pre-sidecar generations) behave as before."""
    from distributed_graph_db_c_spark.operators.bucketing import index_drop_all
    from distributed_graph_db_c_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_index_append,
        minhash_index_build,
    )
    from distributed_graph_db_c_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    prefix = "r14params"
    index_drop_all(spark, prefix, ("_bands", "_shingles"))
    try:
        # non-default banding: 32 bands x 2 rows (num_perm still 64)
        minhash_index_build(
            docs.filter(F.pmod("doc_id", F.lit(2)) == 0), prefix,
            bands=32, rows=2,
        )
        delta = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
        with pytest.raises(ValueError, match="recorded build parameters"):
            incremental_dedup_pairs(delta, prefix)  # defaults: 16x4
        with pytest.raises(ValueError, match="recorded build parameters"):
            minhash_index_append(delta, prefix)  # defaults: 16x4
        # the recorded parameters work end-to-end
        minhash_index_append(delta, prefix, bands=32, rows=2)
        probe = docs.limit(30).select(
            (F.col("doc_id") + 7_000_000).alias("doc_id"), "text"
        )
        got = incremental_dedup_pairs(probe, prefix, bands=32, rows=2)
        assert got.count() > 0, "shifted copies must pair with originals"
    finally:
        index_drop_all(spark, prefix, ("_bands", "_shingles"))


def test_ivf_append_refuses_empty_delta_and_logs_on_spark_branch(spark, monkeypatch):
    """Two ivf_append seams (round 14 review): (a) an EMPTY delta must
    refuse pre-mutation — a published empty segment's fileless lists
    directory breaks every later read of the generation with
    UNABLE_TO_INFER_SCHEMA; (b) the append_log's Spark fallback rows
    (any non-local warehouse) must carry exactly the DDL's four columns
    — tuple(audit.values()) had drifted to six, crashing every
    remote-warehouse append AFTER the segment published and BEFORE the
    claim released (the local pyarrow branch masked it)."""
    import numpy as np

    from distributed_graph_db_c_spark.operators import similarity as sim
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    rng = np.random.RandomState(61)
    vecs = rng.randn(40, 8)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    s = scratch_dir("ivfempty")
    path = f"{s}/idx"
    try:
        sim.ivf_build(corpus.filter(F.col("vec_id") < 30), path, n_cells=4)
        with pytest.raises(ValueError, match="empty delta"):
            sim.ivf_append(spark, path, corpus.limit(0))
        # (a) the refusal left no segment and released the claim: a
        # real append still lands
        # (b) force the Spark fallback for the append_log write
        monkeypatch.setattr(sim, "_local_fs_path", lambda _spark, _p: None)
        audit = sim.ivf_append(spark, path, corpus.filter(F.col("vec_id") >= 30))
        assert audit["segment"] == 1 and audit["batch_rows"] == 10
        log = spark.read.parquet(f"{sim.ivf_resolve(spark, path)}/append_log")
        assert set(log.columns) == {
            "batch_rows", "total_rows", "appended_frac", "retrain_due"
        }
        assert log.count() >= 1
    finally:
        cleanup(s)
