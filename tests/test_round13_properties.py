"""Round-13 property pins — the r12 ADVICE seams, each closed at the
root and pinned here:

1. Segment-marker WIDTH OVERFLOW (ADVICE r12 low #2): ``%04d`` widens
   past 9999, so segment 10000 publishes ``_s10000__published__`` — an
   anchored fixed-width ``\\d{4}`` match silently dropped that segment
   from every snapshot while the next append died on the marker O_EXCL
   collision.  The regexes now accept ``\\d{4,}`` (and ``\\d{8,}`` for
   generations); pinned against the exact literal marker names the
   formatters emit at and past the width boundary.

2. Percent-in-path marker names (ADVICE r12 low #4): ``_ivf_seg_marker``
   applied printf-``%`` to an f-string that had already interpolated the
   content path, so a warehouse path containing a literal ``%`` (e.g. a
   URL-encoded directory) raised or corrupted the marker name.

3. Cross-session segment visibility (ADVICE r12 low #3): a reader
   session that built/attached BEFORE another session's append resolves
   the new segment from the on-disk markers but used to read its tables
   through the session catalog only — TABLE_OR_VIEW_NOT_FOUND until a
   manual re-attach.  The read paths now ``ensure_attached`` any
   resolved part missing from the catalog.  Simulated end-to-end by
   destroying the catalog entries (data preserved aside) between the
   append and the read.
"""

from __future__ import annotations

import os
import re
import shutil
from urllib.parse import urlparse

import pyspark.sql.functions as F

SF_DIR = "/root/testdata/sf0.001"


# -- 1: marker width overflow ------------------------------------------------


def test_minhash_seg_marker_regex_survives_width_overflow():
    from distributed_graph_db_c_spark.operators.bucketing import (
        INDEX_GEN_FMT,
        INDEX_SEG_FMT,
        _SEG_MARKER_RE,
    )

    pat = re.compile(_SEG_MARKER_RE % re.escape("idx"))
    for seg in (1, 9999, 10000, 123456):
        name = f"_idx{INDEX_GEN_FMT % 1}{INDEX_SEG_FMT % seg}__published__"
        m = pat.match(name)
        assert m, f"segment {seg} marker {name!r} must stay visible"
        assert (int(m.group(1)), int(m.group(2))) == (1, seg)
    # generations widen past 8 digits the same way
    wide = f"_idx{INDEX_GEN_FMT % 123_456_789}{INDEX_SEG_FMT % 1}__published__"
    assert pat.match(wide), "9-digit generation marker must stay visible"


def test_ivf_seg_marker_regex_survives_width_overflow():
    from distributed_graph_db_c_spark.operators.similarity import (
        _IVF_SEG_MARKER_RE,
        _ivf_seg_marker,
    )

    for seg in (1, 9999, 10000, 123456):
        name = os.path.basename(_ivf_seg_marker("/wh/emb/g=00000001", seg))
        m = _IVF_SEG_MARKER_RE.match(name)
        assert m, f"segment {seg} marker {name!r} must stay visible"
        assert int(m.group(1)) == seg


# -- 2: percent-in-path marker names ----------------------------------------


def test_ivf_seg_marker_tolerates_percent_in_path():
    from distributed_graph_db_c_spark.operators.similarity import _ivf_seg_marker

    got = _ivf_seg_marker("/wh/emb%20idx/g=00000001", 3)
    assert got == "/wh/emb%20idx/g=00000001/_s0003__published__"
    # '%s'-shaped path segments were the corrupting case, not just '%20'
    got = _ivf_seg_marker("/wh/100%s-done/g=00000001", 3)
    assert got == "/wh/100%s-done/g=00000001/_s0003__published__"


# -- FLAC predicted-subframe tier (round 13, r12 verdict item 3) -------------


def _sig(n: int = 800):
    import numpy as np

    t = np.arange(n)
    return (1000 * np.sin(t / 20) + 200 * np.sin(t / 3)).astype(np.int16)


def test_flac_fixed_and_lpc_roundtrip_integer_exact():
    """Encoder-synthesized FIXED blobs (every order, smooth AND
    white-noise signals — the escape coding fires on the noisy high
    orders) and quantized-coefficient LPC blobs decode integer-exact."""
    import numpy as np

    from distributed_graph_db_c_spark.operators.flac_codec import (
        flac_decode,
        flac_encode,
    )

    smooth = _sig()
    noisy = np.random.RandomState(7).randint(-32768, 32767, 800).astype("int16")
    for order in range(5):
        for sig in (smooth, noisy):
            out, rate, bps = flac_decode(
                flac_encode(sig, 16000, subframe="fixed", order=order)
            )
            assert (rate, bps) == (16000, 16)
            assert (out[:, 0] == sig).all(), f"fixed order {order}"
    for order in (1, 2, 3, 4):
        out, _, _ = flac_decode(
            flac_encode(smooth, 16000, subframe="lpc", order=order)
        )
        assert (out[:, 0] == smooth).all(), f"lpc order {order}"
    # real compression, not a verbatim respelling: order-4 FIXED on the
    # smooth signal must land well under the raw 16-bit payload
    assert len(flac_encode(smooth, 16000, subframe="fixed", order=4)) < 0.5 * 1600


def test_flac_partitioned_rice_and_escape_roundtrip():
    import numpy as np

    from distributed_graph_db_c_spark.operators.flac_codec import (
        flac_decode,
        flac_encode,
    )

    sig = _sig(768)
    for po in (0, 1, 2, 3):
        out, _, _ = flac_decode(
            flac_encode(sig, 16000, subframe="fixed", order=2, partition_order=po)
        )
        assert (out[:, 0] == sig).all(), f"partition order {po}"
    # one silent partition (constant residual -> raw/low-param) next to
    # one white-noise partition (escape fires for high raw width)
    mix = np.concatenate(
        [
            np.zeros(384, dtype=np.int16),
            np.random.RandomState(1).randint(-30000, 30000, 384).astype("int16"),
        ]
    )
    out, _, _ = flac_decode(
        flac_encode(mix, 16000, subframe="fixed", order=1, partition_order=1)
    )
    assert (out[:, 0] == mix).all()


def test_flac_stereo_decorrelation_roundtrip_integer_exact():
    import numpy as np

    from distributed_graph_db_c_spark.operators.flac_codec import (
        flac_decode,
        flac_encode,
    )

    smooth = _sig()
    st = np.stack([smooth, (smooth * 0.7).astype(np.int16) + 7], axis=1)
    for mode in ("left_side", "right_side", "mid_side"):
        for sub in ("verbatim", "fixed", "lpc"):
            out, rate, bps = flac_decode(
                flac_encode(st, 16000, subframe=sub, order=2, stereo_mode=mode)
            )
            assert out.shape == (800, 2), (mode, sub)
            assert (out == st).all(), (mode, sub)
    # odd left+right parity exercises the mid/side LSB reconstruction
    odd = np.stack(
        [smooth | 1, (smooth * 0.5).astype(np.int16) & ~1], axis=1
    ).astype(np.int16)
    out, _, _ = flac_decode(flac_encode(odd, 16000, stereo_mode="mid_side"))
    assert (out == odd).all()


def test_decode_audio_handles_predicted_flac_everywhere():
    """The corpus gate's synth now rotates through VERBATIM / FIXED /
    LPC codings by doc_id; decode_audio must decode every rotation
    natively (no capability probe) with the int32 convention intact."""
    from distributed_graph_db_c_spark.operators.flac_codec import flac_decode
    from distributed_graph_db_c_spark.operators.multimodal import (
        decode_audio,
        synth_flac_native,
        synth_wav,
    )

    for doc_id in range(14):  # two full rotations of the 7 codings
        blob = synth_flac_native(doc_id)
        frames, rate = decode_audio(blob)
        w_frames, w_rate = decode_audio(synth_wav(doc_id))
        assert rate == w_rate
        assert (frames == (w_frames.astype("int64") << 16)).all(), doc_id
        native, _, _ = flac_decode(blob)
        assert (native[:, 0] == w_frames[:, 0]).all(), doc_id


# -- mid-stream compaction (lifecycle x streaming integration) ---------------


def _stage_at(frames, out_dir, offset):
    """stage_stream_dir with an index offset, so a SECOND availableNow
    run of the same checkpoint picks up only the new files.  Round 14:
    delegates to the shared helper — the staging convention (names,
    mtime base/spacing) lives in ONE place."""
    from distributed_graph_db_c_spark.streaming.sources import stage_stream_dir

    stage_stream_dir(frames, out_dir, start=offset)


def test_continuous_stream_rides_mid_stream_compaction(spark):
    """The nightly maintenance story END TO END: a continuous dedup
    stream bootstraps the index and appends a segment; BETWEEN
    micro-batch runs, a maintenance job COMPACTS the generation
    (segments fold into gen 2); the stream then resumes on the same
    checkpoint — its next batches must resolve the compacted
    generation, screen against it bit-identically, and land as ITS
    append segments, with the accumulated distinct pair set still equal
    to the batch operator over the whole corpus."""
    import pyspark.sql.functions as F

    from distributed_graph_db_c_spark.operators.bucketing import (
        index_claim,
        index_drop_all,
    )
    from distributed_graph_db_c_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_index_compact,
        minhash_index_status,
    )
    from distributed_graph_db_c_spark.sinks import _hadoop_fs
    from distributed_graph_db_c_spark.sources.tables import load_table
    from distributed_graph_db_c_spark.streaming.dedup import (
        PAIRS_DDL,
        continuous_index_dedup,
    )
    from distributed_graph_db_c_spark.streaming.sources import (
        cleanup,
        read_file_stream,
        run_available_now,
        scratch_dir,
    )

    docs = load_table(spark, SF_DIR, "documents")
    expected = sorted(
        tuple(r) for r in minhash_dedup_pairs(docs, threshold=0.8).collect()
    )
    assert expected, "gate corpus must contain near-dup pairs"
    prefix = "r13midcmp"
    index_drop_all(spark, prefix, ("_bands", "_shingles"))
    scratch = scratch_dir("midcmp")
    try:
        batches = [docs.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]
        in_dir = f"{scratch}/in"
        handler = continuous_index_dedup(prefix, f"{scratch}/pairs")
        # phase 1: bootstrap (gen 1) + one append segment
        _stage_at(batches[:2], in_dir, 0)
        sdocs = read_file_stream(spark, in_dir, docs.schema)
        run_available_now(sdocs, f"{scratch}/ckpt", foreach_batch=handler)
        st = minhash_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (1, [1])
        # maintenance between micro-batch runs: fold the segment away
        audit = minhash_index_compact(spark, prefix)
        assert audit["generation"] == 2
        # phase 2: the stream resumes on the SAME checkpoint and must
        # ride the new generation
        _stage_at(batches[2:], in_dir, 2)
        sdocs = read_file_stream(spark, in_dir, docs.schema)
        run_available_now(sdocs, f"{scratch}/ckpt", foreach_batch=handler)
        st = minhash_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (2, [1, 2])
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


# -- continuous embedding dedup (the third index's streaming composition) ----


def test_continuous_embedding_dedup_equals_batch_and_handles_replay(spark):
    """The LSH index's streaming composition (round 13, late): the
    accumulated distinct pair set must equal EXACT all-pairs cosine
    over the whole corpus; the stream leaves the real generation/
    segment index behind; a crash-after-publish replay rewrites exact
    duplicates and skips the append; partial id reuse refuses BEFORE
    the pairs write; and a nightly batch screens the stream-built index
    directly."""
    import pyspark.sql.functions as F
    import pytest

    from distributed_graph_db_c_spark.operators.bucketing import (
        index_claim,
        index_drop_all,
    )
    from distributed_graph_db_c_spark.operators.similarity import (
        cosine_pairs,
        decontaminate_incremental,
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
        stage_stream_dir,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    expected = sorted(
        tuple(r) for r in cosine_pairs(emb, threshold=0.45).collect()
    )
    assert expected, "corpus must contain near-dup embedding pairs"
    prefix = "r13contemb"
    index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
    scratch = scratch_dir("contemb")
    try:
        batches = [emb.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        semb = read_file_stream(spark, in_dir, emb.schema)
        run_available_now(
            semb,
            f"{scratch}/ckpt",
            foreach_batch=continuous_embedding_dedup(prefix, f"{scratch}/pairs"),
        )

        def got():
            return sorted(
                tuple(r)
                for r in spark.read.schema(EMB_PAIRS_DDL)
                .parquet(f"{scratch}/pairs")
                .distinct()
                .collect()
            )

        assert got() == expected
        st = lsh_index_status(spark, prefix)
        assert (st["generation"], st["segments"]) == (1, [1, 2])

        handler = continuous_embedding_dedup(prefix, f"{scratch}/pairs")
        # crash-AFTER-publish replay: fully-indexed batch rewrites
        # exact duplicates (incl. its self-matches filtered away) and
        # skips the append
        handler(batches[1], 99)
        assert lsh_index_status(spark, prefix)["segments"] == [1, 2]
        assert got() == expected
        # partial id reuse refuses BEFORE the pairs write
        mixed = batches[1].select("vec_id", "embedding").limit(3).unionByName(
            emb.select((F.col("vec_id") + 9_000_000).alias("vec_id"), "embedding")
            .limit(2)
        )
        with pytest.raises(ValueError, match="id REUSE"):
            handler(mixed, 100)
        assert lsh_index_status(spark, prefix)["segments"] == [1, 2]
        assert got() == expected
        # one index, two cadences: a nightly batch screens it directly
        night = emb.limit(20).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        assert decontaminate_incremental(night, prefix).count() > 0
    finally:
        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        fs.delete(jpath(index_claim(warehouse, prefix)), False)
        cleanup(scratch)


# -- continuous IVF ingest (the ANN index's streaming ingest loop) -----------


def test_continuous_ivf_ingest_equals_batch_build_and_rides_maintenance(spark):
    """The vector-DB ingestion loop: streaming micro-batches into the
    persisted IVF index must answer probes exactly like one frozen-
    quantizer index over the union (probe-all = brute force on this
    fixture); replays skip, partial reuse refuses, and a mid-stream
    COMPACT folds the accumulated segments while resumed batches append
    to the new generation."""
    import numpy as np
    import pyspark.sql.functions as F
    import pytest

    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_compact,
        ivf_index_attach,
        ivf_query_persisted,
    )
    from distributed_graph_db_c_spark.streaming.dedup import continuous_ivf_ingest
    from distributed_graph_db_c_spark.streaming.sources import (
        cleanup,
        read_file_stream,
        run_available_now,
        scratch_dir,
    )

    rng = np.random.RandomState(41)
    vecs = rng.randn(90, 16)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(90)],
        "vec_id long, embedding array<double>",
    )
    s = scratch_dir("ivf-ingest")
    path = f"{s}/idx"
    try:
        batches = [corpus.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
        in_dir = f"{s}/in"
        handler = continuous_ivf_ingest(path, n_cells=4)
        _stage_at(batches[:2], in_dir, 0)
        sv = read_file_stream(spark, in_dir, corpus.schema)
        run_available_now(sv, f"{s}/ckpt", foreach_batch=handler)
        desc = ivf_index_attach(spark, path)
        assert (desc["generation"], desc["segments"]) == (1, [1])
        assert handler.audits[0].get("bootstrap") and handler.audits[1]["segment"] == 1

        # probe-all == brute force over everything ingested so far
        def strong(fam_vec, pins=None):
            rows = ivf_query_persisted(
                spark, path, query_vec=fam_vec, top_k=90, nprobe=4,
                **(pins or {}),
            ).collect()
            return {r["vec_id"]: round(r["cosine"], 9) for r in rows}

        q = [float(x) for x in vecs[7]]
        ingested = np.vstack([vecs[i] for i in range(90) if i % 3 != 2])
        want = {
            i: round(float(vecs[7] @ vecs[i] / (np.linalg.norm(vecs[7]) * np.linalg.norm(vecs[i]))), 9)
            for i in range(90) if i % 3 != 2
        }
        got = strong(q)
        assert set(got) == set(want)
        assert all(abs(got[k] - want[k]) < 1e-9 for k in want)

        # mid-stream maintenance: compact, then resume the stream
        assert ivf_compact(spark, path)["generation"] == 2
        _stage_at(batches[2:], in_dir, 2)
        sv = read_file_stream(spark, in_dir, corpus.schema)
        run_available_now(sv, f"{s}/ckpt", foreach_batch=handler)
        desc = ivf_index_attach(spark, path)
        assert (desc["generation"], desc["segments"]) == (2, [1])
        assert desc["total_rows"] == 90

        # replay skips; partial reuse refuses pre-mutation
        handler(batches[2], 99)
        assert handler.audits[-1].get("replay")
        assert ivf_index_attach(spark, path)["segments"] == [1]
        mixed = batches[2].limit(2).unionByName(
            corpus.select((F.col("vec_id") + 500).alias("vec_id"), "embedding")
            .limit(2)
        )
        with pytest.raises(ValueError, match="id REUSE"):
            handler(mixed, 100)
        assert ivf_index_attach(spark, path)["segments"] == [1]
    finally:
        cleanup(s)


# -- transformWithState twins (round 13: the standing watch item shipped) ----


def _stream_emissions(spark, events, builder, label, n_batches=3):
    from distributed_graph_db_c_spark.streaming.sources import (
        cleanup,
        read_file_stream,
        run_available_now,
        scratch_dir,
        stage_stream_dir,
    )

    scratch = scratch_dir(f"test-{label}")
    try:
        batches = [
            events.filter(F.pmod("event_id", F.lit(n_batches)) == i)
            for i in range(n_batches)
        ]
        in_dir = stage_stream_dir(batches, f"{scratch}/in")
        sev = read_file_stream(spark, in_dir, events.schema)
        name = f"t13_{label}"
        run_available_now(
            builder(sev), f"{scratch}/ckpt", query_name=name, output_mode="update"
        )
        return sorted(tuple(r) for r in spark.table(name).collect())
    finally:
        cleanup(scratch)


def test_transform_with_state_twins_match_apply_in_pandas(spark):
    """Spark 4.1 ships the transformWithStateInPandas API (the r9-r12
    standing watch); the StatefulProcessor twins must emit EXACTLY what
    the applyInPandasWithState forms emit on the same staged batches —
    per-batch emissions, not just final state (sorted multiset
    equality), so a migration is a one-line swap.  Capability-gated on
    the tws RUNTIME (its driver worker needs protobuf, absent and
    pip-unreachable in this container — probed, never assumed)."""
    import pytest

    from distributed_graph_db_c_spark.sources.tables import load_table
    from distributed_graph_db_c_spark.streaming.stateful import (
        attribution_stream,
        attribution_stream_tws,
        tws_runtime_available,
        user_running_totals,
        user_running_totals_tws,
    )

    if not tws_runtime_available():
        pytest.skip(
            "transformWithState runtime unavailable (google.protobuf "
            "absent): twins verified where the tier ships"
        )
    events = load_table(spark, SF_DIR, "events")
    old = _stream_emissions(spark, events, user_running_totals, "apip_tot")
    new = _stream_emissions(spark, events, user_running_totals_tws, "tws_tot")
    assert old and new == old
    old = _stream_emissions(spark, events, attribution_stream, "apip_attr")
    new = _stream_emissions(spark, events, attribution_stream_tws, "tws_attr")
    assert old and new == old


# -- JPEG chroma subsampling (round 13, r12 verdict item 4) ------------------


def test_jpeg_subsampled_roundtrip_q90_pins():
    """4:2:0 and 4:2:2 encode→decode on the gate's gradient synths:
    decoded dims EXACT for every rotation; q90 roundtrip error bounded
    (chroma at half resolution is lossy by design — the pin is the
    bound, not exactness); luma-dominated mean error stays near the
    4:4:4 figure on these smooth gradients."""
    import numpy as np

    from distributed_graph_db_c_spark.operators.jpeg_codec import (
        jpeg_decode,
        jpeg_encode,
    )
    from distributed_graph_db_c_spark.operators.multimodal import (
        _jpeg_gradient_rgb,
    )

    for doc_id in (0, 1, 12, 63, 299):
        rgb = _jpeg_gradient_rgb(doc_id)
        for ss in ("420", "422"):
            blob = jpeg_encode(rgb, quality=90, subsampling=ss)
            dec = jpeg_decode(blob)
            assert dec.shape == rgb.shape and dec.dtype == np.uint8, (doc_id, ss)
            err = np.abs(dec.astype(float) - rgb.astype(float))
            assert np.quantile(err, 0.9) <= 10.0, (doc_id, ss, np.quantile(err, 0.9))
            assert err.mean() < 4.0, (doc_id, ss, err.mean())
            assert jpeg_encode(rgb, quality=90, subsampling=ss) == blob
    # odd dimensions force partial MCUs on every edge
    rng = np.random.RandomState(3)
    y, x = np.mgrid[0:33, 0:47]
    img = np.clip(
        np.stack([x * 5 % 256, y * 7 % 256, (x + y) * 3 % 256], axis=-1)
        * 0.5
        + 64
        + rng.randn(33, 47, 3) * 2,
        0,
        255,
    ).astype(np.uint8)
    for ss in ("444", "422", "420"):
        dec = jpeg_decode(jpeg_encode(img, quality=90, subsampling=ss))
        assert dec.shape == img.shape, ss


def test_jpeg_restart_intervals_decode_bit_identical():
    """DRI/RSTn support (round 13): a stream encoded with restart
    markers must decode to EXACTLY the pixels of the marker-free stream
    at the same subsampling (restarts change framing, never content),
    including an interval small enough that the RST index wraps past 7,
    and a corrupt boundary (missing marker) fails loudly."""
    import numpy as np
    import pytest

    from distributed_graph_db_c_spark.operators.jpeg_codec import (
        jpeg_decode,
        jpeg_encode,
    )
    from distributed_graph_db_c_spark.operators.multimodal import (
        _jpeg_gradient_rgb,
    )

    for doc_id in (0, 12, 63):
        rgb = _jpeg_gradient_rgb(doc_id)
        for ss in ("444", "422", "420"):
            ref = jpeg_decode(jpeg_encode(rgb, quality=90, subsampling=ss))
            for ri in (1, 3, 7):
                blob = jpeg_encode(
                    rgb, quality=90, subsampling=ss, restart_interval=ri
                )
                assert b"\xff\xdd" in blob
                assert (jpeg_decode(blob) == ref).all(), (doc_id, ss, ri)
    # a stream whose DRI promises restarts that never arrive fails loudly
    rgb = _jpeg_gradient_rgb(0)
    plain = jpeg_encode(rgb, quality=90)
    sos = plain.index(b"\xff\xda")
    with_dri = (
        plain[:sos] + b"\xff\xdd\x00\x04\x00\x01" + plain[sos:]
    )
    with pytest.raises(NotImplementedError, match="restart"):
        jpeg_decode(with_dri)


def test_jpeg_gate_synth_rotates_subsampling():
    """The corpus gate's synthesizer now rotates 444/422/420 by doc_id;
    every rotation must decode natively with exact dims and the gate's
    standing ±3 mean-pixel tolerance."""
    import numpy as np

    from distributed_graph_db_c_spark.operators.jpeg_codec import jpeg_decode
    from distributed_graph_db_c_spark.operators.multimodal import (
        _jpeg_gradient_rgb,
        synth_jpeg_native,
    )

    seen = set()
    for doc_id in range(9):
        blob = synth_jpeg_native(doc_id)
        # the SOF component spec byte carries the sampling factors
        sof = blob.index(b"\xff\xc0")
        seen.add(blob[sof + 11])  # Y component's (h<<4)|v byte
        src = _jpeg_gradient_rgb(doc_id)
        dec = jpeg_decode(blob)
        assert dec.shape == src.shape, doc_id
        assert (
            abs(dec.astype(float).mean() - src.astype(float).mean()) <= 3.0
        ), doc_id
    assert seen == {0x11, 0x21, 0x22}, f"rotation must cover all three: {seen}"


# -- 3: cross-session segment reads auto-attach ------------------------------


def _local(uri: str) -> str:
    p = urlparse(uri)
    return p.path if p.scheme in ("", "file") else uri


def _drop_preserving_files(spark, tables: list[str]) -> None:
    """Simulate 'another session appended': destroy THIS session's
    catalog entries for ``tables`` while preserving their warehouse
    directories (managed DROP purges, so the data is staged aside and
    restored) — afterwards the on-disk markers still name the segment
    but the catalog has never heard of it, exactly the state a reader
    session is in after an external append."""
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


def test_minhash_cross_session_segment_read_auto_attaches(spark):
    from distributed_graph_db_c_spark.operators.bucketing import (
        index_drop_all,
        index_seg_prefix,
    )
    from distributed_graph_db_c_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_index_append,
        minhash_index_build,
    )
    from distributed_graph_db_c_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    prefix = "r13xsess_mh"
    index_drop_all(spark, prefix, ("_bands", "_shingles"))
    try:
        minhash_index_build(docs.filter(F.pmod("doc_id", F.lit(2)) == 0), prefix)
        minhash_index_append(docs.filter(F.pmod("doc_id", F.lit(2)) == 1), prefix)
        delta = docs.limit(40).select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
        )
        expected = {
            (r["old_id"], r["new_id"], round(r["jaccard"], 9))
            for r in incremental_dedup_pairs(delta, prefix, threshold=0.8).collect()
        }
        assert expected, "shifted copies must pair with their originals"
        sp = index_seg_prefix(prefix, 1, 1)
        seg_tables = [f"{sp}_bands", f"{sp}_shingles"]
        _drop_preserving_files(spark, seg_tables)
        for t in seg_tables:
            assert not spark.catalog.tableExists(t)
        got = {
            (r["old_id"], r["new_id"], round(r["jaccard"], 9))
            for r in incremental_dedup_pairs(delta, prefix, threshold=0.8).collect()
        }
        assert got == expected
        # and the attach the read performed is the safe EXTERNAL kind
        for t in seg_tables:
            assert spark.catalog.getTable(t).tableType == "EXTERNAL"
    finally:
        index_drop_all(spark, prefix, ("_bands", "_shingles"))


def test_lsh_cross_session_segment_read_auto_attaches(spark):
    import numpy as np

    from distributed_graph_db_c_spark.operators.bucketing import (
        index_drop_all,
        index_seg_prefix,
    )
    from distributed_graph_db_c_spark.operators.similarity import (
        decontaminate_incremental,
        lsh_index_append,
        lsh_index_build,
    )

    rng = np.random.RandomState(13)
    train = rng.randn(40, 8)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in train[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [
            (1000 + i, [float(x) for x in train[2 * i] + 0.05 * rng.randn(8)])
            for i in range(10)
        ],
        "vec_id long, embedding array<double>",
    )
    prefix = "r13xsess_lsh"
    index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
    try:
        lsh_index_build(
            corpus.filter(F.col("vec_id") < 20), prefix, dim=8, threshold=0.8
        )
        lsh_index_append(corpus.filter(F.col("vec_id") >= 20), prefix)
        expected = {
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in decontaminate_incremental(ev, prefix).collect()
        }
        assert expected, "planted eval matches must survive"
        sp = index_seg_prefix(prefix, 1, 1)
        seg_tables = [f"{sp}_buckets", f"{sp}_vectors"]
        _drop_preserving_files(spark, seg_tables)
        for t in seg_tables:
            assert not spark.catalog.tableExists(t)
        got = {
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in decontaminate_incremental(ev, prefix).collect()
        }
        assert got == expected
        for t in seg_tables:
            assert spark.catalog.getTable(t).tableType == "EXTERNAL"
    finally:
        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
