"""Round-11 property pins: generation-versioned IVF index reads.

The r10 verdict's residual race (a snapshot-less lazy-scan reader
overlapping a retrain swap could read mixed generations) is closed by
LAYOUT this round: versioned.py's numbered-generation directory pattern
applied to the IVF index (operators/similarity.py).  These tests pin the
whole lifecycle under the new layout:

- ivf_build publishes ``g=00000001``; a rebuild publishes ``g=00000002``
  and the resolver always binds to the newest;
- a reader that resolved a generation BEFORE a retrain-swap keeps
  answering from it, bit-identically, while a fresh reader sees the new
  generation (the race, pinned dead);
- ivf_vacuum_generations is the ONLY destroyer of a published
  generation, and a reader pinned to a vacuumed one fails loudly;
- ivf_index_attach (the lsh_index_attach twin for plain-path sidecars)
  validates + describes a restarted index;
- ADVICE r10: appending to an index whose meta records n_base == 0
  refuses in the pre-mutation section (claim released, index untouched).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark, sf_dir=SF_DIR):
    from distributed_graph_db_c_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_ivf_build_publishes_generations_and_vacuum(spark):
    """Builds are numbered generations: first build = g=00000001, a
    rebuild on the same path = g=00000002 (resolver binds newest), and
    vacuum deletes exactly the non-kept generations — a pinned read of
    a vacuumed generation raises, never silently reads another."""
    from distributed_graph_db_c_spark.operators.similarity import (
        _ivf_generations,
        ivf_build,
        ivf_resolve,
        ivf_vacuum_generations,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    s = scratch_dir("ivfgen")
    try:
        g1 = ivf_build(base, f"{s}/idx", n_cells=24)
        assert g1 == 1
        assert ivf_resolve(spark, f"{s}/idx").endswith("g=00000001")
        g2 = ivf_build(emb, f"{s}/idx", n_cells=24)
        assert g2 == 2
        assert _ivf_generations(spark, f"{s}/idx") == [1, 2]
        assert ivf_resolve(spark, f"{s}/idx").endswith("g=00000002")
        # explicit pinning works for both; staging siblings never leak
        assert ivf_resolve(spark, f"{s}/idx", generation=1).endswith(
            "g=00000001"
        )
        assert not [d for d in os.listdir(f"{s}/idx") if "stage" in d]

        with pytest.raises(ValueError):
            ivf_vacuum_generations(spark, f"{s}/idx", keep_last=0)
        removed = ivf_vacuum_generations(spark, f"{s}/idx", keep_last=1)
        assert removed == [1]
        assert _ivf_generations(spark, f"{s}/idx") == [2]
        with pytest.raises(FileNotFoundError, match="generation 1"):
            ivf_resolve(spark, f"{s}/idx", generation=1)
    finally:
        cleanup(s)


def test_ivf_reader_during_swap_pins_old_generation(spark):
    """THE r10 residual race, pinned dead: a reader whose plan resolved
    generation g=1 before a retrain-swap KEEPS answering g=1's results
    bit-identically after the swap (the old directory is immutable and
    survives until vacuum), while a fresh reader resolves g=2 and sees
    the retrained corpus."""
    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_build,
        ivf_query_persisted,
        ivf_retrain_swap,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    # query with vec_id 0's own embedding — vec 0 is OUTSIDE the base
    # corpus, so the old generation can never return it, and IN the
    # retrained corpus, where it is its own nearest neighbor
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    s = scratch_dir("ivfpin")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        reader = ivf_query_persisted(
            spark, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24
        )
        before = sorted(map(tuple, reader.collect()))
        assert 0 not in {vid for vid, _ in before}

        gen = ivf_retrain_swap(spark, f"{s}/idx", emb, n_cells=24)
        assert gen == 2

        # the pre-swap reader re-executes over the SAME generation
        pinned = sorted(map(tuple, reader.collect()))
        assert pinned == before, "pre-swap reader leaked the new generation"

        # a fresh reader resolves g=2: vec 0 is now its own top hit
        fresh = ivf_query_persisted(
            spark, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24
        )
        top = fresh.orderBy(F.desc("cosine"), F.asc("vec_id")).head()
        assert top["vec_id"] == 0 and top["cosine"] == pytest.approx(1.0)
    finally:
        cleanup(s)


def test_ivf_index_attach_recovers_descriptor_and_result(spark):
    """The restarted-nightly-driver path for the IVF index (the
    lsh_index_attach twin, r10 verdict item 6): after build + append, a
    FRESH session attaches the plain-path sidecars and gets (a) the
    maintenance descriptor back — generation, n_cells, dim, n_base,
    total_rows, appended_frac, retrain_due — and (b) the exact query
    results the building session saw.  A wedged index (standing append
    claim) refuses at attach time; a damaged one names the missing
    sidecar."""
    from distributed_graph_db_c_spark.operators.similarity import (
        _append_claim,
        ivf_append,
        ivf_build,
        ivf_index_attach,
        ivf_query_persisted,
        ivf_resolve,
    )
    from distributed_graph_db_c_spark.sinks import ConcurrentCommitError
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    n_base, n_delta = base.count(), delta.count()
    qvec = [1.0] + [0.0] * 63
    s = scratch_dir("ivfattach")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        audit = ivf_append(spark, f"{s}/idx", delta)
        before = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24
                ).collect(),
            )
        )

        # simulated restart: a brand-new session state over the same files
        fresh = spark.newSession()
        desc = ivf_index_attach(fresh, f"{s}/idx")
        assert desc == {
            "generation": 1,
            "segments": [1],  # round 12: the append landed as a segment
            "n_cells": 24,
            "dim": 64,
            "n_base": n_base,
            "total_rows": n_base + n_delta,
            "appended_frac": pytest.approx(n_delta / n_base),
            "retrain_due": True,  # 100/400 >= 0.25 on this corpus
        }
        after = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    fresh, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24
                ).collect(),
            )
        )
        assert after == before and before

        # wedged: a standing append claim refuses the attach
        claim = _append_claim(f"{s}/idx")
        with open(claim, "w") as f:
            f.write("wedged-appender")
        with pytest.raises(ConcurrentCommitError):
            ivf_index_attach(fresh, f"{s}/idx")
        os.remove(claim)

        # damaged: a missing sidecar is named, not a deep query error
        import shutil

        shutil.rmtree(f"{ivf_resolve(spark, f'{s}/idx')}/meta")
        with pytest.raises(IOError, match="meta"):
            ivf_index_attach(fresh, f"{s}/idx")
    finally:
        cleanup(s)


def test_ivf_append_refuses_empty_base(spark):
    """ADVICE r10: meta.n_base == 0 must refuse in the PRE-MUTATION
    section — before this fix the ZeroDivisionError fired after the
    data writes succeeded, wedging the success-only claim on an append
    that had actually completed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_graph_db_c_spark.operators.similarity import (
        _append_claim,
        ivf_append,
        ivf_build,
        ivf_resolve,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    s = scratch_dir("ivfzero")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        content = ivf_resolve(spark, f"{s}/idx")
        n_rows = spark.read.parquet(f"{content}/ids").count()
        # simulate the pathological index: meta claims an empty build
        pq.write_table(
            pa.table({"n_base": pa.array([0], type=pa.int64())}),
            f"{content}/meta/part-00000.parquet",
        )
        with pytest.raises(ValueError, match="EMPTY corpus"):
            ivf_append(spark, f"{s}/idx", delta)
        assert not os.path.exists(_append_claim(f"{s}/idx")), (
            "pre-mutation refusal must release the claim"
        )
        assert spark.read.parquet(f"{content}/ids").count() == n_rows, (
            "refusal must leave the index untouched"
        )
    finally:
        cleanup(s)


def test_decontaminate_by_source_rollup_is_complete_and_consistent(spark):
    """The per-source rollup must conserve the provenance rows it
    composes: leaked_evals sums to the contaminated-eval count, every
    source's max_cosine appears among that source's provenance rows,
    and leak_share sums to 1 (all computed from the same frame, so the
    report can never over- or under-count a source)."""
    from distributed_graph_db_c_spark.queries.dedup import (
        dedup_decontaminate_by_source,
        dedup_semantic_decontaminate,
    )

    prov = dedup_semantic_decontaminate(spark, SF_DIR).collect()
    rollup = dedup_decontaminate_by_source(spark, SF_DIR).collect()
    assert sum(r["leaked_evals"] for r in rollup) == len(prov)
    assert sum(r["leak_share"] for r in rollup) == pytest.approx(1.0)
    # per-source max re-derived from the provenance rows via doc source
    docs = {
        r["doc_id"]: r["source"]
        for r in _emb(spark).sparkSession.read.parquet(
            f"{SF_DIR}/documents.parquet"
        ).collect()
    }
    by_source = {}
    for r in prov:
        src = docs[r["train_id"]]
        by_source[src] = max(by_source.get(src, 0.0), r["cosine"])
    got = {r["source"]: r["max_cosine"] for r in rollup}
    assert got == by_source


def test_token_rollup_merge_path_and_single_scan(spark):
    """The derived-metric rollup (round 11): the lang/global tiers —
    re-aggregations of the leaf TOKEN histogram — must equal the same
    quantiles computed directly from raw documents, and the composed
    plan must contain no documents scan (the one raw scan happened at
    the leaf checkpoint, where token counting ran as a codegen
    expression)."""
    from distributed_graph_db_c_spark.functions.text import token_count
    from distributed_graph_db_c_spark.queries.sketches import (
        ROLLUP_ALL,
        _hist_quantiles,
        sketch_token_quantiles_rollup,
    )
    from distributed_graph_db_c_spark.sources.tables import load_table

    df = sketch_token_quantiles_rollup(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan, "a rollup level re-scanned raw rows"

    got = {(r["lang"], r["source"]): tuple(r)[2:] for r in df.collect()}
    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "lang", "source", token_count().alias("n_toks")
    )
    direct_lang = _hist_quantiles(
        docs.groupBy("lang", "n_toks").agg(F.count("*").alias("cnt")),
        F.col("lang"),
        F.lit(ROLLUP_ALL),
        value_col="n_toks",
        prefix="toks",
    )
    for r in direct_lang.collect():
        assert got[(r["lang"], ROLLUP_ALL)] == tuple(r)[2:], r["lang"]
    direct_global = _hist_quantiles(
        docs.groupBy("n_toks").agg(F.count("*").alias("cnt")),
        F.lit(ROLLUP_ALL),
        F.lit(ROLLUP_ALL),
        value_col="n_toks",
        prefix="toks",
    ).collect()
    assert got[(ROLLUP_ALL, ROLLUP_ALL)] == tuple(direct_global[0])[2:]
    n_leaf = docs.select("lang", "source").distinct().count()
    n_lang = docs.select("lang").distinct().count()
    assert len(got) == n_leaf + n_lang + 1


def test_ivf_publish_race_fails_loudly_and_discards_staging(spark, monkeypatch):
    """The generation publish is exists-check + rename + nest-audit
    (commit_version's discipline).  Two pins: (a) a directory that
    appears BETWEEN the listing and the rename — the true race window,
    simulated by pinning the listing — raises ConcurrentCommitError and
    discards the staging, never nesting staged data inside the winner's
    directory; (b) a directory that exists at listing time is simply
    numbered past (numbering never reuses), leaving the foreign dir
    untouched."""
    import distributed_graph_db_c_spark.operators.similarity as sim
    from distributed_graph_db_c_spark.sinks import ConcurrentCommitError
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    s = scratch_dir("ivfrace")
    path = f"{s}/idx"
    try:
        sim.ivf_build(base, path, n_cells=24)

        # (a) the race window: the listing said [1], but g=2 lands
        # before our rename (the concurrent publisher won)
        os.makedirs(f"{s}/idx/g=00000002")
        staging = f"{s}/idx/_g_stage_racetest__"
        os.makedirs(staging)
        open(f"{staging}/marker", "w").write("staged")
        real = sim._ivf_generations
        monkeypatch.setattr(sim, "_ivf_generations", lambda sp, p: [1])
        with pytest.raises(ConcurrentCommitError, match="generation 2"):
            sim._ivf_publish_generation(spark, path, staging)
        monkeypatch.setattr(sim, "_ivf_generations", real)
        assert not os.path.exists(staging), "loser must discard its staging"
        assert os.listdir(f"{s}/idx/g=00000002") == [], (
            "loser must never write into the winner's directory"
        )

        # (b) a dir present at listing time: numbering skips past it
        gen = sim.ivf_build(base, path, n_cells=24)
        assert gen == 3
        assert sim._ivf_generations(spark, path) == [1, 2, 3]
        assert sim.ivf_resolve(spark, path).endswith("g=00000003")
    finally:
        cleanup(s)


def test_ivf_build_on_live_index_delegates_to_retrain_exclusion(spark):
    """r11 review finding, pinned: a rebuild over a LIVE index must run
    under the retrain mutual exclusion — ivf_build delegates to
    ivf_retrain_swap, so a standing append claim makes it refuse
    loudly instead of publishing a new generation that silently orphans
    the in-flight delta, and the old generation keeps answering."""
    from distributed_graph_db_c_spark.operators.similarity import (
        _append_claim,
        _ivf_generations,
        ivf_build,
        ivf_query_persisted,
    )
    from distributed_graph_db_c_spark.sinks import ConcurrentCommitError
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    s = scratch_dir("ivfliveb")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        ap = _append_claim(f"{s}/idx")
        with open(ap, "w") as f:
            f.write("in-flight appender")
        with pytest.raises(ConcurrentCommitError):
            ivf_build(emb, f"{s}/idx", n_cells=24)
        assert _ivf_generations(spark, f"{s}/idx") == [1], (
            "refused rebuild must not have published anything"
        )
        os.remove(ap)
        # and a clean rebuild still works, claim-guarded, as generation 2
        assert ivf_build(emb, f"{s}/idx", n_cells=24) == 2
        got = ivf_query_persisted(
            spark, f"{s}/idx", query_vec=[1.0] + [0.0] * 63, top_k=3, nprobe=24
        )
        assert got.count() == 3
    finally:
        cleanup(s)


def test_ivf_index_attach_refuses_standing_retrain_claim(spark):
    """r11 review finding, pinned: attach is the maintenance entry
    point — a dead retrainer's leaked commit claim must surface AT
    ATTACH TIME as a loud refusal naming the marker, not later as a
    confusing mid-maintenance error from ivf_append/retrain."""
    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_build,
        ivf_index_attach,
    )
    from distributed_graph_db_c_spark.sinks import ConcurrentCommitError, _commit_claim
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    s = scratch_dir("ivfattrt")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        rt = _commit_claim(f"{s}/idx")
        with open(rt, "w") as f:
            f.write("dead retrainer")
        with pytest.raises(ConcurrentCommitError, match="retrain-swap claim"):
            ivf_index_attach(spark, f"{s}/idx")
        os.remove(rt)
        assert ivf_index_attach(spark, f"{s}/idx")["generation"] == 1
    finally:
        cleanup(s)


def test_token_budget_select_is_greedy_prefix_and_maximal(spark):
    """The budget manifest must be exactly the greedy quality prefix:
    per language, (a) the selected docs are a PREFIX of the
    (quality DESC, doc_id) order — no cherry-picking a cheaper doc from
    further down; (b) the budget holds (max cum_toks <= budget); (c)
    adding the FIRST REJECTED doc would exceed it (maximality — the
    engine never leaves budget on the table)."""
    from distributed_graph_db_c_spark.functions.text import (
        quality_score,
        token_count,
    )
    from distributed_graph_db_c_spark.queries.text import (
        TOKEN_BUDGET_PER_LANG,
        pipeline_token_budget_select,
    )
    from distributed_graph_db_c_spark.sources.tables import load_table

    sel = pipeline_token_budget_select(spark, "/root/testdata/sf0.01").collect()
    docs = (
        load_table(spark, "/root/testdata/sf0.01", "documents")
        .select(
            "lang",
            "doc_id",
            token_count().alias("n_toks"),
            quality_score().alias("quality"),
        )
        .collect()
    )
    by_lang = {}
    for r in docs:
        by_lang.setdefault(r["lang"], []).append(r)
    selected = {}
    for r in sel:
        selected.setdefault(r["lang"], set()).add(r["doc_id"])
        assert r["cum_toks"] <= TOKEN_BUDGET_PER_LANG
    assert set(selected) == set(by_lang), "every language gets a slice"
    for lang, rows in by_lang.items():
        order = sorted(rows, key=lambda r: (-r["quality"], r["doc_id"]))
        cum, want = 0, []
        for r in order:
            if cum + r["n_toks"] > TOKEN_BUDGET_PER_LANG:
                break  # greedy PREFIX: the first overflow ends the slice
            cum += r["n_toks"]
            want.append(r["doc_id"])
        assert selected[lang] == set(want), lang
        # maximality: the next doc in the order would overflow
        nxt = order[len(want)]
        assert cum + nxt["n_toks"] > TOKEN_BUDGET_PER_LANG, lang


def test_ivf_single_query_generation_pin(spark):
    """The generation= pin on the SINGLE-query persisted path (the
    batch path is driver-gated by sim_ivf_time_travel): after a
    retrain, generation=1 answers exactly what the index answered
    before the retrain, generation=2 matches the default resolve, and
    a never-published generation raises loudly."""
    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_build,
        ivf_query_persisted,
        ivf_retrain_swap,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    qvec = [1.0] + [0.0] * 63
    s = scratch_dir("ivfgpin")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        before = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24
                ).collect(),
            )
        )
        ivf_retrain_swap(spark, f"{s}/idx", emb, n_cells=24)
        g1 = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24,
                    generation=1,
                ).collect(),
            )
        )
        assert g1 == before and before
        g2 = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24,
                    generation=2,
                ).collect(),
            )
        )
        default = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24
                ).collect(),
            )
        )
        assert g2 == default
        with pytest.raises(FileNotFoundError, match="generation 7"):
            ivf_query_persisted(
                spark, f"{s}/idx", query_vec=qvec, generation=7
            )
    finally:
        cleanup(s)
