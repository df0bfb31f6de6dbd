"""Randomized state-machine pin for the LSH/decontamination index
lifecycle (round 12, late — the third of the three gauntlets; with
tests/test_index_lifecycle_property.py and
tests/test_ivf_lifecycle_property.py every persisted index now has
randomized interleaving coverage of its shared lifecycle): random
build(rebuild)/append/vacuum/query sequences must track a pure Python
model — on-disk generation/segment listings, the from-disk status
ledger, and every fresh or pinned screen's pair set.

Recall contingency engineered away: family vectors are near-identical
within a family (cosine ~0.99998 — a 0.005-scale perturbation on an
orthogonal axis) and near-orthogonal across families (~1e-4), and the
index is built with a 4-bit multiprobe floor, so the threshold-0.8
answer is exactly the planted family relation restricted to the
indexed snapshot."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from distributed_graph_db_c_spark.operators.bucketing import (
    index_claim,
    index_drop_all,
    index_generations,
    index_segments,
)
from distributed_graph_db_c_spark.operators.similarity import (
    decontaminate_incremental,
    lsh_index_append,
    lsh_index_build,
    lsh_index_compact,
    lsh_index_status,
    lsh_index_vacuum,
)

DIM = 32
N_FAM = 10
THRESHOLD = 0.8


def _vec(fam: int, member: int) -> list[float]:
    v = np.zeros(DIM)
    v[fam] = 1.0
    v[N_FAM + (fam + member) % (DIM - N_FAM)] = 0.005 * (member + 1)
    return [float(x) for x in v]


def _vectors(spark, ids: list[int]):
    rows = [(i, _vec(i % 100, i // 100)) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _clean(spark, prefix: str) -> None:
    from distributed_graph_db_c_spark.sinks import _hadoop_fs

    index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    fs.delete(jpath(index_claim(warehouse, prefix)), False)


def _expected(indexed: set[int]) -> set[tuple[int, int]]:
    return {(200 + (d % 100), d) for d in indexed if (d % 100) < N_FAM}


OPS = st.lists(
    st.tuples(
        st.sampled_from(["rebuild", "append", "vacuum", "query", "compact"]),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=3,
    max_size=7,
)


@given(ops=OPS)
@settings(max_examples=5, deadline=None)
def test_lsh_lifecycle_tracks_model(spark, ops):
    prefix = "lshlcprop"
    _clean(spark, prefix)
    gens: dict[int, list[set[int]]] = {}
    # per-generation SIZING BASIS (meta.n_rows): builds record their
    # corpus size; a compact copies the basis verbatim (frozen planes)
    basis: dict[int, int] = {}
    try:
        ev = _vectors(spark, [200 + f for f in range(N_FAM)])
        base_ids = list(range(N_FAM))
        g = lsh_index_build(
            _vectors(spark, base_ids), prefix,
            threshold=THRESHOLD, dim=DIM, multiprobe=4,
        )
        assert g == 1
        gens[1] = [set(base_ids)]
        basis[1] = len(base_ids)
        for kind, k in ops:
            newest = max(gens)
            if kind == "rebuild":
                corpus = sorted(set().union(*gens[newest]))
                extra = [
                    100 + f for f in range(N_FAM) if 100 + f not in corpus
                ][: k % 3]
                g = lsh_index_build(
                    _vectors(spark, corpus + extra), prefix,
                    threshold=THRESHOLD, dim=DIM, multiprobe=4,
                )
                assert g == newest + 1
                gens[g] = [set(corpus + extra)]
                basis[g] = len(corpus + extra)
            elif kind == "compact":
                # round 13: fold segments into the next generation's
                # base — a pure union in the model, basis carried over
                if len(gens[newest]) < 2:
                    with pytest.raises(ValueError):
                        lsh_index_compact(spark, prefix)
                    continue
                audit = lsh_index_compact(spark, prefix)
                assert audit["generation"] == newest + 1
                assert audit["compacted_segments"] == list(
                    range(1, len(gens[newest]))
                )
                gens[newest + 1] = [set().union(*gens[newest])]
                basis[newest + 1] = basis[newest]
            elif kind == "append":
                used = set().union(*gens[newest])
                pool = [100 + f for f in range(N_FAM) if 100 + f not in used]
                ids = pool[: (k % 3 + 1)]
                if not ids:
                    continue
                audit = lsh_index_append(_vectors(spark, ids), prefix)
                assert (audit["generation"], audit["segment"]) == (
                    newest,
                    len(gens[newest]),
                )
                gens[newest].append(set(ids))
            elif kind == "vacuum":
                if len(gens) < 2:
                    continue
                doomed = sorted(gens)[:-1]
                assert lsh_index_vacuum(spark, prefix, keep_last=1) == doomed
                for g in doomed:
                    del gens[g]
            else:  # query
                got = {
                    (r["id_a"], r["id_b"])
                    for r in decontaminate_incremental(ev, prefix).collect()
                }
                assert got == _expected(set().union(*gens[max(gens)]))
                g = sorted(gens)[k % len(gens)]
                seg = k % len(gens[g])
                got_pin = {
                    (r["id_a"], r["id_b"])
                    for r in decontaminate_incremental(
                        ev, prefix, generation=g, as_of_segment=seg
                    ).collect()
                }
                assert got_pin == _expected(
                    set().union(*gens[g][: seg + 1])
                ), f"pin (g={g}, s<={seg}) diverged"
            # disk state tracks the model after EVERY op
            assert index_generations(spark, prefix) == sorted(gens)
            for g in gens:
                assert index_segments(spark, prefix, g) == list(
                    range(1, len(gens[g]))
                )
            st_ = lsh_index_status(spark, prefix)
            newest = max(gens)
            assert (st_["generation"], st_["segments"]) == (
                newest,
                list(range(1, len(gens[newest]))),
            )
            # the drift arm measures rows beyond the SIZING BASIS —
            # compaction folds segment rows into the base without
            # resetting it (round 13)
            assert st_["basis_rows"] == basis[newest]
            assert st_["appended_rows"] == max(
                0, len(gens[newest][0]) - basis[newest]
            ) + sum(len(p) for p in gens[newest][1:])
    finally:
        _clean(spark, prefix)
