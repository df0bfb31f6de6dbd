"""Round-15 property pins — the r14 ADVICE seams, each closed at the
root and pinned here:

1. Sidecar byte format (ADVICE r14 low #1): ``write_json_sidecar``
   used Java ``DataOutputStream.writeUTF``, which caps payloads at
   64 KiB of modified UTF-8 behind a 2-byte length prefix and makes
   the file unreadable to external JSON tools.  It now writes RAW
   UTF-8 JSON and ``read_json_sidecar`` reads the full stream.

2. Republish absence window (ADVICE r14 low #2): on the republish
   path (destination occupied) the writer deleted the old sidecar
   before renaming the new one in, so a concurrent reader could
   observe NO sidecar and silently fall back to its caller-supplied
   spec — the exact trusted-wrong-default corruption the sidecar
   exists to prevent.  The old sidecar now moves to a hidden
   ``__bak_*__`` name first and the reader consults it when the final
   name is missing, so absence is never observed mid-republish.

3. hs_dir crash-redelivery growth (ADVICE r14 low #3): each crash
   redelivery of a micro-batch permanently re-appended the batch's hs
   rows, and repeated crash cycles compounded — multiplying
   verify-join rows for the affected ids in every future batch (cost
   growth, not correctness).  The hs append is now IDEMPOTENT (ids
   already stored are dropped before the write — hs content is
   deterministic per id), and the in-batch lookup prefers the batch's
   fresh rows via the same broadcast-anti shape, so the verify join
   never sees an id twice even mid-replay.
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import urlparse

import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"


def _local(uri: str) -> str:
    p = urlparse(uri)
    return p.path if p.scheme in ("", "file") else uri


def test_sidecar_bytes_are_raw_utf8_json(spark):
    """ADVICE r14 #1: the on-disk sidecar must be plain JSON readable
    by external tools (json.load over the raw file), with no Java
    framing bytes."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        read_bucket_spec,
        warehouse_location,
        write_bucketed,
    )

    table = "r15spec_raw"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_bucketed(spark.range(20).select("id"), table, key="id", n_buckets=3)
        loc = _local(warehouse_location(spark, table))
        with open(os.path.join(loc, "_BUCKET_SPEC"), "rb") as fh:
            data = fh.read()
        assert data[:1] == b"{", "sidecar must start with raw JSON, no length prefix"
        external = json.loads(data.decode("utf-8"))
        assert external == {"keys": ["id"], "n_buckets": 3, "sorted": True}
        assert read_bucket_spec(spark, table) == external
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_sidecar_torn_file_still_refuses(spark):
    """Bytes that are not raw UTF-8 JSON — garbage, or JSON behind a
    2-byte length prefix (the retired Java framing) — raise the clear
    contract error, never return None or a guess."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        BUCKET_SPEC_FILE,
        read_json_sidecar,
    )

    loc = "/tmp/r15_torn_sidecar"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(loc)
    body = json.dumps({"keys": ["doc_id"], "n_buckets": 7}).encode("utf-8")
    try:
        for data in (
            b"\x00\xff not json and not a valid frame",
            len(body).to_bytes(2, "big") + body,
        ):
            with open(os.path.join(loc, BUCKET_SPEC_FILE), "wb") as fh:
                fh.write(data)
            with pytest.raises(ValueError, match="cannot be read/parsed"):
                read_json_sidecar(spark, loc, BUCKET_SPEC_FILE)
    finally:
        shutil.rmtree(loc, ignore_errors=True)


def test_sidecar_republish_backup_never_absent(spark):
    """ADVICE r14 #2: a reader that races the republish and misses the
    final name must find the hidden backup (the OLD contract) instead
    of None — and a completed publish sweeps the backups."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        BUCKET_SPEC_FILE,
        read_json_sidecar,
        write_json_sidecar,
    )

    loc = "/tmp/r15_republish_backup"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(loc)
    try:
        old = {"keys": ["id"], "n_buckets": 4, "sorted": True}
        write_json_sidecar(spark, loc, BUCKET_SPEC_FILE, old)
        # simulate the mid-republish instant: final moved aside to the
        # backup name, replacement not yet installed
        os.rename(
            os.path.join(loc, BUCKET_SPEC_FILE),
            os.path.join(loc, BUCKET_SPEC_FILE + "__bak_deadbeef__"),
        )
        assert read_json_sidecar(spark, loc, BUCKET_SPEC_FILE) == old
        # the interrupted publish retries and completes: exactly one
        # sidecar remains, no backups, no temps, new contract wins
        new = {"keys": ["id"], "n_buckets": 8, "sorted": True}
        write_json_sidecar(spark, loc, BUCKET_SPEC_FILE, new)
        assert read_json_sidecar(spark, loc, BUCKET_SPEC_FILE) == new
        # ignore the local-FS checksum artifacts (dot-prefixed, invisible
        # to Spark's listing rule like the sidecar itself)
        names = sorted(n for n in os.listdir(loc) if not n.startswith("."))
        assert names == [BUCKET_SPEC_FILE], names
    finally:
        shutil.rmtree(loc, ignore_errors=True)


def test_sidecar_backup_vanish_falls_back_to_final(spark, monkeypatch):
    """A backup can legitimately vanish between the reader's glob and
    its open — the interrupted publish completed and swept it, so the
    final name is live again with the NEW contract.  The reader must
    re-read the final rather than misreporting a torn sidecar.  A
    vanished backup with NO live final still refuses loudly (the writer
    crashed with the contract genuinely unrecoverable)."""
    from distributed_graph_db_c_spark.operators import bucketing

    loc = "/tmp/r15_backup_vanish"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(loc)
    final = os.path.join(loc, bucketing.BUCKET_SPEC_FILE)
    bak = final + "__bak_cafef00d__"
    old = {"keys": ["id"], "n_buckets": 4, "sorted": True}
    new = {"keys": ["id"], "n_buckets": 16, "sorted": True}
    real_read_all = bucketing._read_all
    try:
        with open(bak, "w") as fh:
            json.dump(old, fh)
        calls = {"racing": 0}

        def racing_read_all(sp, fs, p):
            if "__bak_" in str(p):
                # the writer completes between the glob and our open:
                # backup swept, new contract installed under final
                calls["racing"] += 1
                os.remove(bak)
                with open(final, "w") as fh:
                    json.dump(new, fh)
                raise OSError("backup swept mid-read")
            return real_read_all(sp, fs, p)

        monkeypatch.setattr(bucketing, "_read_all", racing_read_all)
        got = bucketing.read_json_sidecar(spark, loc, bucketing.BUCKET_SPEC_FILE)
        assert got == new, got
        assert calls["racing"] == 1

        # arm 2: backup vanishes but the final never appears — the
        # clear contract error, never None or a stale guess
        os.remove(final)
        with open(bak, "w") as fh:
            json.dump(old, fh)

        def vanish_only(sp, fs, p):
            if "__bak_" in str(p):
                os.remove(bak)
                raise OSError("backup swept, no final installed")
            return real_read_all(sp, fs, p)

        monkeypatch.setattr(bucketing, "_read_all", vanish_only)
        with pytest.raises(ValueError, match="cannot be read/parsed"):
            bucketing.read_json_sidecar(spark, loc, bucketing.BUCKET_SPEC_FILE)
    finally:
        shutil.rmtree(loc, ignore_errors=True)


def test_ivf_post_retrain_batch_crash_redelivery_is_noop(spark):
    """The one replay arm the r14 retrain pin left unexercised: the
    batch that lands AFTER a mid-stream retrain gets crash-redelivered.
    Its rows are fully indexed in generation 2 by then, so the
    handler's three-way classify must take the replay-skip arm against
    the RETRAINED generation — no second segment, no duplicate
    scoring, same query answers."""
    import numpy as np

    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_index_attach,
        ivf_query_persisted,
        ivf_retrain_swap,
    )
    from distributed_graph_db_c_spark.streaming.dedup import continuous_ivf_ingest
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    rng = np.random.RandomState(53)
    vecs = rng.randn(60, 8)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    s = scratch_dir("ivf-replay-g2")
    path = f"{s}/idx"
    try:
        batches = [corpus.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
        handler = continuous_ivf_ingest(path, n_cells=4)
        handler(batches[0], 0)
        handler(batches[1], 1)
        assert ivf_retrain_swap(
            spark, path, batches[0].unionByName(batches[1]), n_cells=4
        ) == 2
        handler(batches[2], 2)
        desc = ivf_index_attach(spark, path)
        assert (desc["generation"], desc["segments"]) == (2, [1])
        q = [float(x) for x in vecs[11]]
        before = sorted(
            (r["vec_id"], round(r["cosine"], 9))
            for r in ivf_query_persisted(
                spark, path, query_vec=q, top_k=60, nprobe=4
            ).collect()
        )
        # crash-redelivery of the post-retrain batch: must classify as
        # fully-indexed against gen 2 and skip — not append a second
        # segment, not refuse
        handler(batches[2], 2)
        desc = ivf_index_attach(spark, path)
        assert (desc["generation"], desc["segments"]) == (2, [1])
        after = sorted(
            (r["vec_id"], round(r["cosine"], 9))
            for r in ivf_query_persisted(
                spark, path, query_vec=q, top_k=60, nprobe=4
            ).collect()
        )
        assert after == before
    finally:
        cleanup(s)


def test_lsh_post_retrain_batch_crash_redelivery_keeps_pairs_exact(spark):
    """The LSH twin of the IVF pin above: the embedding-dedup batch
    that lands after a mid-stream retrain gets crash-redelivered.  The
    classify step must see its ids fully indexed in generation 2 and
    take the replay arm — re-emitting byte-identical pair rows (the
    at-least-once sink contract; distinct() collapses them) and
    appending NO second segment — so the accumulated distinct pair set
    still equals exact all-pairs cosine."""
    from distributed_graph_db_c_spark.operators.bucketing import (
        index_claim,
        index_drop_all,
    )
    from distributed_graph_db_c_spark.operators.similarity import (
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
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = load_table(spark, SF_DIR, "embeddings")
    expected = sorted(
        tuple(r) for r in cosine_pairs(emb, threshold=0.45).collect()
    )
    prefix = "r15lshreplay"
    index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
    scratch = scratch_dir("lsh-replay-g2")
    try:
        batches = [emb.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
        handler = continuous_embedding_dedup(prefix, f"{scratch}/pairs")
        handler(batches[0], 0)
        handler(batches[1], 1)
        assert lsh_index_status(spark, prefix)["retrain_due"]
        assert lsh_index_build(
            batches[0].unionByName(batches[1]), prefix,
            threshold=0.45, dim=64, multiprobe=N_PLANES,
        ) == 2
        handler(batches[2], 2)
        st = lsh_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (2, [1])
        # crash-redelivery of the post-retrain batch
        handler(batches[2], 2)
        st = lsh_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (2, [1]), (
            "replay must not append a second segment"
        )
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


def test_hs_append_idempotent_under_repeated_crash_redelivery(spark):
    """ADVICE r14 #3: repeated crash cycles on the SAME micro-batch
    must not grow hs_dir — after N redeliveries every id still has
    exactly one stored hs row, and the accumulated pair set still
    matches the batch operator exactly."""
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
    scratch = scratch_dir("r15hsidem")
    try:
        a = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
        b = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
        handler = incremental_minhash_dedup(
            f"{scratch}/idx", f"{scratch}/pairs", threshold=0.8
        )
        handler(a, 0)
        # two full crash cycles between the hs and buckets writes —
        # the compounding case the advice called out
        for _ in range(2):
            shutil.rmtree(f"{scratch}/idx/buckets")
            handler(a, 0)
        handler(b, 1)
        hs = spark.read.parquet(f"{scratch}/idx/hs")
        n_rows = hs.count()
        n_ids = hs.select("id").distinct().count()
        assert n_rows == n_ids == docs.count(), (n_rows, n_ids)
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
