"""Randomized state-machine pin for the unified persisted-index
lifecycle (round 12, late): random interleavings of build / append /
vacuum / pinned+fresh queries over the minhash index must track a pure
Python model exactly — generations and segments as listed from disk,
and every query's pair set as brute-force exact Jaccard over the
model's indexed snapshot.

The corpus is CONSTRUCTED so the LSH total-recall contingency cannot
flake the property: near-dup pairs sit at Jaccard >= 0.90 (a single
token edit in a 60-token doc; per-pair miss probability under 16x4
banding ~4e-8) and every non-dup pair shares no 3-shingle at all
(disjoint vocabularies), so the threshold-0.8 answer is exactly the
planted-pair relation restricted to the indexed snapshot.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from distributed_graph_db_c_spark.operators.bucketing import (
    index_claim,
    index_drop_all,
    index_generations,
    index_segments,
)
from distributed_graph_db_c_spark.operators.dedup import (
    incremental_dedup_pairs,
    minhash_index_build,
    minhash_index_append,
    minhash_index_compact,
    minhash_index_vacuum,
)

# ---- corpus construction ---------------------------------------------------
# 18 originals with pairwise-disjoint vocabularies; each original i has a
# near-dup twin (id 100+i, one token edited) and the QUERY batch holds a
# second twin (id 200+i).  Indexing any subset S of {originals, twins}
# and querying the batch must surface exactly {(d, 200+i) : d in S,
# d % 100 == i} — every query doc matches its own family only.

N_FAM = 18
DOC_LEN = 60


def _text(fam: int, edit_pos: int | None) -> str:
    toks = [f"f{fam}w{j}" for j in range(DOC_LEN)]
    if edit_pos is not None:
        toks[edit_pos] = f"f{fam}EDIT{edit_pos}"
    return " ".join(toks)


def _docs(spark, ids: list[int]):
    rows = [
        (i, _text(i % 100, None if i < 100 else 7 + (i // 100)))
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch_ids() -> list[int]:
    return [200 + f for f in range(N_FAM)]


def _expected(indexed: set[int]) -> set[tuple[int, int]]:
    return {(d, 200 + (d % 100)) for d in indexed if (d % 100) < N_FAM}


def _clean(spark, prefix: str) -> None:
    from distributed_graph_db_c_spark.sinks import _hadoop_fs

    index_drop_all(spark, prefix, ("_bands", "_shingles"))
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    fs.delete(jpath(index_claim(warehouse, prefix)), False)


# ---- the op alphabet -------------------------------------------------------
# Each op is (kind, payload); payloads index into deterministic id pools
# so hypothesis shrinks cleanly.  The model is:
#   gens: dict[gen] -> list[set[int]]   (parts: base + one set per segment)

OPS = st.lists(
    st.tuples(st.sampled_from(["build", "append", "vacuum", "query", "compact"]),
              st.integers(min_value=0, max_value=5)),
    min_size=3,
    max_size=7,
)


@given(ops=OPS)
@settings(max_examples=5, deadline=None)
def test_minhash_lifecycle_tracks_model(spark, ops):
    prefix = "lcprop"
    _clean(spark, prefix)
    gens: dict[int, list[set[int]]] = {}
    # id pools: build k uses originals [0, 3k); append k uses twins
    # 100..100+k*3 not yet in the newest generation
    try:
        batch = _docs(spark, _batch_ids())
        for kind, k in ops:
            newest = max(gens) if gens else None
            if kind == "build":
                ids = list(range(3 * (k % 5 + 1)))
                g = minhash_index_build(_docs(spark, ids), prefix)
                assert g == (newest or 0) + 1
                gens[g] = [set(ids)]
            elif kind == "append":
                if newest is None:
                    continue
                used = set().union(*gens[newest])
                pool = [100 + f for f in range(N_FAM) if 100 + f not in used]
                ids = pool[: (k % 3 + 1)]
                if not ids:
                    continue
                audit = minhash_index_append(_docs(spark, ids), prefix)
                assert (audit["generation"], audit["segment"]) == (
                    newest,
                    len(gens[newest]),
                )
                gens[newest].append(set(ids))
            elif kind == "compact":
                # round 13: fold the newest generation's segments into
                # the next generation's base — a pure union in the model
                if newest is None or len(gens[newest]) < 2:
                    with pytest.raises((ValueError, FileNotFoundError)):
                        minhash_index_compact(spark, prefix)
                    continue
                audit = minhash_index_compact(spark, prefix)
                assert audit["generation"] == newest + 1
                assert audit["compacted_segments"] == list(
                    range(1, len(gens[newest]))
                )
                gens[newest + 1] = [set().union(*gens[newest])]
            elif kind == "vacuum":
                if len(gens) < 2:
                    continue
                doomed = sorted(gens)[:-1]
                assert minhash_index_vacuum(spark, prefix, keep_last=1) == doomed
                for g in doomed:
                    del gens[g]
            else:  # query
                if not gens:
                    continue
                # fresh resolve
                got = {
                    (r["old_id"], r["new_id"])
                    for r in incremental_dedup_pairs(
                        batch, prefix, threshold=0.8
                    ).collect()
                }
                assert got == _expected(set().union(*gens[max(gens)]))
                # random pin: a surviving generation + segment horizon
                g = sorted(gens)[k % len(gens)]
                seg = k % len(gens[g])  # 0 = base only
                got_pin = {
                    (r["old_id"], r["new_id"])
                    for r in incremental_dedup_pairs(
                        batch, prefix, threshold=0.8,
                        generation=g, as_of_segment=seg,
                    ).collect()
                }
                assert got_pin == _expected(
                    set().union(*gens[g][: seg + 1])
                ), f"pin (g={g}, s<={seg}) diverged"
            # disk listings track the model after EVERY op
            assert index_generations(spark, prefix) == sorted(gens)
            for g in gens:
                assert index_segments(spark, prefix, g) == list(
                    range(1, len(gens[g]))
                )
    finally:
        _clean(spark, prefix)
