"""Similarity search over embeddings (SURVEY.md §2.3).

Two tiers, same contract:
- ``brute_force_topk`` / ``cosine_pairs``: exact cosine against every
  vector — O(n) per query / O(n^2) pairs.  The correctness baseline and
  the DuckDB-oracle path.
- ``lsh_bucket`` + ``ann_topk``: random-hyperplane LSH (16 deterministic
  planes -> 16-bit bucket).  Bucketing is a single vectorized pandas_udf
  (one numpy matmul per Arrow batch); candidate generation is a bucket
  equijoin, so a 100 TB index probes one bucket instead of scanning.
  The planes are derived from md5 of (plane, dim) — fixed forever, no RNG
  state, identical on every executor.
"""

from __future__ import annotations

import functools
import hashlib
import re as _re
from functools import cached_property

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from ..functions.vectors import cosine_seq, norm2_seq
from .bucketing import (
    IndexSpec,
    index_append,
    index_attach,
    index_build,
    index_compact,
    index_status,
    index_target,
    index_vacuum_generations,
)

# Multi-table LSH: L independent tables of p hyperplanes each.  A table's
# bucket count is 2^p; more tables -> higher recall, more planes -> finer
# buckets.  (4, 8) suits ~10^3 vectors; a 100 TB index wants more planes
# (e.g. 16) so buckets stay small, plus more tables to hold recall.
N_PLANES = 4
N_TABLES = 8


@functools.lru_cache(maxsize=32)
def _planes(dim: int, n_planes: int = N_PLANES, n_tables: int = N_TABLES) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5), shape
    (n_tables * n_planes, dim) — md5-derived, no RNG state, identical on
    every executor forever.  Memoized (round 14 review): the nested
    Python md5 loop is tables*planes*dim digests (~786k at a
    24x32x1024 production sizing, seconds of driver time) for a pure
    function of its arguments, and the hot paths call it once per
    operator invocation; the cached array is frozen read-only so no
    caller can corrupt the shared copy."""
    vals = np.empty((n_tables * n_planes, dim))
    for p in range(n_tables * n_planes):
        for i in range(dim):
            h = hashlib.md5(f"plane:{p}:{i}".encode()).digest()
            vals[p, i] = int.from_bytes(h[:8], "big") / 2**64 - 0.5
    vals.flags.writeable = False
    return vals


def brute_force_topk(
    embeddings: DataFrame, query_id: int, top_k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k cosine neighbours of one stored vector."""
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    return (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            cosine_seq(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(top_k)
    )


def cosine_pairs(
    embeddings: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All pairs with cosine >= threshold (id_a < id_b) — exact O(n^2)
    scoring; the oracle for the LSH path."""
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_seq(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def with_lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add an array<long> ``buckets`` column (one bucket per LSH table) via
    one Arrow-batched numpy matmul per batch (the vectorized-UDF pattern;
    ~100x a row-at-a-time UDF)."""
    planes = _planes(dim, n_planes, n_tables)

    @pandas_udf("array<long>")
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # (batch, dim)
        signs = (m @ planes.T) > 0  # (batch, n_tables*n_planes)
        signs = signs.reshape(len(m), n_tables, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        buckets = signs @ weights  # (batch, n_tables)
        return pd.Series(list(buckets))

    return embeddings.withColumn("buckets", bucket_udf(F.col(vec_col)))


def lsh_bucket_table(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, table, bucket) — one row per (vector, LSH table); the
    join key for candidate generation."""
    b = with_lsh_buckets(embeddings, dim, n_planes, n_tables, id_col, vec_col)
    return b.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.posexplode("buckets").alias("table", "bucket"),
    )


def ann_topk(
    embeddings: DataFrame,
    query_id: int,
    dim: int,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    margin_ranked: bool = False,
) -> DataFrame:
    """Approximate top-k: score only vectors colliding with the query in
    >= 1 of the LSH tables.  Trades recall for a bucket-pruned scan;
    recall vs brute force measured in tests/test_dedup_similarity.py.

    ``multiprobe`` > 0 additionally probes, per table, ``multiprobe``
    buckets at Hamming distance 1 from the query's bucket — the standard
    way to buy recall WITHOUT more tables: the index stays the same size,
    only the broadcast query bucket list grows
    (n_tables x (1 + multiprobe) rows).  Which bits get flipped:

    - default: the first ``multiprobe`` sign bits (position order) —
      zero extra work, all plan-side.
    - ``margin_ranked=True``: the ``multiprobe`` bits whose hyperplanes
      the query is CLOSEST to (smallest |projection|) — those are the
      bits most likely to differ for a true near neighbour, so each
      probe buys more recall (classic multi-probe LSH ordering).  Costs
      one bounded driver-side fetch of the query vector (1 row, same as
      the IVF probe-selection pattern) to rank the margins."""
    bt = lsh_bucket_table(embeddings, dim, id_col=id_col, vec_col=vec_col)
    if multiprobe > 0 and margin_ranked:
        spark = embeddings.sparkSession
        qrow = embeddings.filter(F.col(id_col) == query_id).select(vec_col).head()
        qv = np.asarray(qrow[0], dtype=np.float64)
        planes = _planes(dim)
        proj = planes @ qv  # (n_tables * n_planes,)
        probe_rows = []
        for t in range(N_TABLES):
            margins = proj[t * N_PLANES : (t + 1) * N_PLANES]
            # identical sign convention to the bucketing UDF: bit b set iff
            # projection > 0
            base = int(sum(1 << b for b in range(N_PLANES) if margins[b] > 0))
            probe_rows.append((t, base))
            # kind="stable" (round 14 review): default introsort breaks
            # |margin| ties by internal partitioning order, which varies
            # across numpy versions — the same hazard _probe_cells
            # already pins; ties must flip the LOWEST bit first
            for b in np.argsort(np.abs(margins), kind="stable")[
                : min(multiprobe, N_PLANES)
            ]:
                probe_rows.append((t, base ^ (1 << int(b))))
        qvec = embeddings.filter(F.col(id_col) == query_id).select(
            F.col(vec_col).alias("_qvec")
        )
        q = (
            spark.createDataFrame(probe_rows, "table int, bucket long")
            .crossJoin(F.broadcast(qvec))
            .select("_qvec", "table", "bucket")
        )
    else:
        q = bt.filter(F.col("id") == query_id).select(
            F.col("vec").alias("_qvec"), "table", "bucket"
        )
        if multiprobe > 0:
            flips = F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << b))
                    for b in range(min(multiprobe, N_PLANES))
                ],
            )
            q = q.select(
                "_qvec", "table", F.explode(flips).alias("bucket")
            )
    candidates = (
        bt.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col("id") != query_id)
        .select("id", "vec", "_qvec")
        .dropDuplicates(["id"])
    )
    return (
        candidates.select(
            F.col("id").alias(id_col),
            cosine_seq(F.col("vec"), F.col("_qvec")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(top_k)
    )


def ann_batch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
) -> DataFrame:
    """Top-k neighbours for EVERY query vector in one plan — the
    production shape of ANN (a query batch amortizes the index build;
    :func:`ann_topk` is its single-query special case).

    ``queries`` is a (qid, qvec) DataFrame (typically a selection of the
    corpus or a broadcast-sized probe set).  Both sides are bucketed with
    the same deterministic planes; candidates come from the
    (table, bucket) equijoin — each query scores only its colliding
    vectors, never the corpus — and a per-qid window takes the top k
    (rank by cosine desc, id asc, same tie order as the exact path).
    ``multiprobe`` widens the query side's bucket list by the first
    ``multiprobe`` Hamming-1 flips per table, exactly as in
    :func:`ann_topk`.  ``n_planes``/``n_tables`` default to the pinned
    gate constants; large corpora should size them together via
    :func:`lsh_params_for` (recall holds only when probes and tables
    scale WITH the plane count — see the recall-sweep test)."""
    bt = lsh_bucket_table(
        embeddings, dim, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col,
    )
    qt = lsh_bucket_table(
        queries, dim, n_planes=n_planes, n_tables=n_tables,
        id_col="qid", vec_col="qvec",
    )
    q = qt.select(F.col("id").alias("qid"), F.col("vec").alias("_qvec"), "table", "bucket")
    if multiprobe > 0:
        q = q.select(
            "qid",
            "_qvec",
            "table",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << b))
                        for b in range(min(multiprobe, n_planes))
                    ],
                )
            ).alias("bucket"),
        )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        bt.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col("id") != F.col("qid"))
        .dropDuplicates(["qid", "id"])
        .select("qid", "id", cosine_seq(F.col("vec"), F.col("_qvec")).alias("cosine"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("qid", F.col("id").alias(id_col), "cosine")
    )


# Auto-sized LSH: target mean bucket occupancy.  Candidate volume per
# table is sum-over-buckets of occupancy^2 — with FIXED planes a 10x
# corpus makes buckets 10x fuller and candidates 100x (observed: the sf1
# spot run took 46x sf0.1's time at n_planes=4).  Holding occupancy
# constant instead (planes ~ log2(n / target)) keeps candidates ~linear
# in the corpus.
_TARGET_BUCKET_ROWS = 32
_MAX_PLANES = 24


def planes_for(n_rows: int) -> int:
    """Bucket-bit count for a corpus of ``n_rows``: smallest n_planes
    holding mean occupancy <= _TARGET_BUCKET_ROWS, floored at the pinned
    gate-scale N_PLANES (so small-corpus gates keep their exact-recall
    parameters) and capped at _MAX_PLANES."""
    import math

    if n_rows <= _TARGET_BUCKET_ROWS * (1 << N_PLANES):
        return N_PLANES
    return min(_MAX_PLANES, math.ceil(math.log2(n_rows / _TARGET_BUCKET_ROWS)))


# Recall-compensation caps for the auto-sized pairs path.  More planes
# (needed to keep buckets small as the corpus grows) shrink the
# per-table collision probability of a TRUE pair — r^P with
# r = 1 - theta/pi — so tables and probes must grow with P or recall
# silently collapses (observed: 8 tables at P=11 predicts ~0.20 recall
# at threshold 0.45 where the P=4 gate had ~1.0).  The caps bound the
# candidate-volume constant; when they bind, the achieved target is
# whatever ``lsh_params_for`` predicts — exposed, not hidden.
_MAX_TABLES = 32
_MAX_MULTIPROBE = 8
_RECALL_TARGET = 0.9


def lsh_params_for(
    n_rows: int,
    threshold: float,
    recall_target: float = _RECALL_TARGET,
    max_tables: int = _MAX_TABLES,
    max_multiprobe: int = _MAX_MULTIPROBE,
    min_multiprobe: int = 0,
) -> tuple[int, int, int, float]:
    """(n_planes, n_tables, multiprobe, predicted_recall) for an
    auto-sized ``cosine_lsh_pairs`` run over ``n_rows`` vectors.

    The model (standard random-hyperplane LSH analysis): a true pair at
    the threshold angle theta = acos(threshold) agrees on one plane with
    probability r = 1 - theta/pi, so one table of P planes collides with
    probability r^P, each of q multiprobe bit-flips adds (1-r) * r^(P-1),
    and L independent tables give recall 1 - (1 - p_table)^L.  Planes are
    fixed by the occupancy rule (:func:`planes_for` — the linearity knob).

    Growth order is TABLES FIRST, probes only once the table cap binds:
    candidate volume is linear in both knobs, but a table buys collision
    probability r^P per unit volume where a probe buys only
    (1-r) * r^(P-1) — smaller whenever r > 1/2, i.e. for every positive
    threshold.  (Measured at sf1, threshold 0.8: tables-first reaches the
    same >=0.9 target at ~1/3 the candidate volume of probes-first.)
    ``min_multiprobe`` floors q regardless (callers with an empirically
    recall-1.0 pinned probe setting keep their candidate superset).
    Worst case remains near-orthogonal corpora at near-random thresholds,
    where constant recall fundamentally costs n^(1+rho) and the caps bind
    — the predicted recall is returned, not hidden; dedup-grade
    thresholds >= 0.8 reach the target well inside the caps."""
    import math

    n_planes = planes_for(n_rows)
    r = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    r = max(r, 1e-9)

    def per_table(q: int) -> float:
        return (r**n_planes) * (1.0 + q * (1.0 - r) / r)

    def recall(q: int, tables: int) -> float:
        return 1.0 - (1.0 - min(per_table(q), 1.0)) ** tables

    q = min(min_multiprobe, n_planes)
    tables = N_TABLES
    while tables < max_tables and recall(q, tables) < recall_target:
        tables += 1
    q_cap = min(max_multiprobe, n_planes) if n_planes > N_PLANES else q
    while q < q_cap and recall(q, tables) < recall_target:
        q += 1
    return n_planes, tables, q, recall(q, tables)


def cosine_lsh_pairs(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_rows: int | None = None,
    buckets_df: DataFrame | None = None,
) -> DataFrame:
    """Pairs with cosine >= threshold via LSH bucketing — the scale twin
    of :func:`cosine_pairs` for the embedding NEAR-DUP problem (the
    pairs analogue of :func:`ann_topk`).

    ``buckets_df`` (round 16, guide §4 — the hs_df/sig_df sharing
    contract applied to the Arrow bucketing pass): a caller running
    several phases over the SAME frame may pass the
    :func:`with_lsh_buckets` output once instead of paying one
    JVM->Python->JVM round-trip per phase.  The caller GUARANTEES it
    was computed over ``embeddings`` with exactly the (n_planes,
    n_tables) this call resolves — the streaming handler shares its
    delta's buckets only when the index's recorded parameters equal the
    batch sizing; a mismatched frame would silently corrupt candidate
    recall, which is why the default recomputes.

    RECALL MODEL (read this before trusting "all pairs"): precision is
    exact (every candidate is re-scored with the exact cosine), but
    candidate RECALL is probabilistic and depends on (n_planes,
    n_tables, multiprobe) — a true pair at angle theta collides in one
    table with probability (1-theta/pi)^n_planes, widened by multiprobe
    and amplified across tables; see :func:`lsh_params_for` for the
    closed form.  When ``n_planes`` is left None the corpus is counted
    (one Spark job — pass ``n_rows`` to skip it) and ALL THREE
    parameters are sized together: planes by the occupancy rule (keeps
    the bucket join linear in the corpus), then probes and tables grown
    to hold predicted recall >= 0.9 up to documented caps
    (_MAX_TABLES/_MAX_MULTIPROBE — near-orthogonal corpora at
    near-random thresholds can exhaust them; dedup-grade thresholds
    >= 0.8 stay well inside).  Fixing planes while tables stay at the
    gate default is the silent-recall-collapse trap this signature
    exists to prevent.

    Candidates = pairs sharing a bucket in >= 1 LSH table (a bucket
    self-equijoin, never an all-pairs cross join); ``multiprobe`` > 0
    additionally matches pairs whose buckets differ by one of the first
    ``multiprobe`` sign bits (one side's bucket list explodes
    x(1+multiprobe), the standard probe-side widening).  Each candidate
    pair is then scored with the same left-fold cosine as the exact path,
    so precision is exact by construction and only candidate recall is
    approximate.

    At a 100 TB corpus the self-equijoin shuffles on (table, bucket) and
    each bucket holds a tiny fraction of the corpus; the gate corpus
    (near-orthogonal random vectors, threshold near the random-cosine
    regime) is the worst case — real clustered embeddings at dedup-grade
    thresholds (>= 0.8) collide within far fewer, smaller buckets.

    Plan shape (the round-4 rewrite, ~8x faster at sf0.1): candidates
    are generated SLIM — (table, bucket, id) rows only, no vectors —
    so the n_tables x (1+multiprobe) redundancy and the dedup shuffle
    move 16-byte pairs, not ~1 KB vector payloads.  Vectors re-attach
    to the DISTINCT candidate pairs afterwards (two id-equijoins), and
    each survivor is scored once.  Candidate set, recall, and output
    are identical to the naive formulation; only the bytes moved drop
    by the vector width.

    Scoring is the UNPACKED-COLUMN dot product: each side arrives as
    ``dim`` float columns plus a precomputed scalar norm (a linear
    map-side transform of the vector table), and the cosine is a
    left-associated chain of 64 codegen multiplies/adds — bit-identical
    to :func:`cosine_seq`'s sequential fold (same float->double casts,
    same association order, 0.0 + x0 == x0) but inside whole-stage
    codegen instead of the interpreted higher-order ``aggregate``,
    which allocates per-row array objects.  ~3x on the scoring stage.

    Vector width is VALIDATED: the unpacked scoring indexes
    ``vec[0..dim)``, and a shorter vector would yield null products, a
    null cosine, and a silently dropped pair — so the norm expression
    raises loudly on any row whose array length != ``dim`` (embedded in
    a column the output needs, where pruning can't remove it)."""
    if n_planes is None:
        # one counting pass sizes bucket space to the corpus (skipped
        # when the caller passes n_rows); probes and tables scale WITH
        # the plane count so recall holds as the corpus grows
        if n_rows is None:
            n_rows = embeddings.count()
        n_planes, auto_tables, auto_probe, _pred = lsh_params_for(
            n_rows, threshold, min_multiprobe=multiprobe
        )
        if n_tables is None:
            n_tables = auto_tables
        multiprobe = max(multiprobe, auto_probe)
    if n_tables is None:
        n_tables = N_TABLES
    bkt = (
        buckets_df
        if buckets_df is not None
        else with_lsh_buckets(
            embeddings, dim, n_planes=n_planes, n_tables=n_tables,
            id_col=id_col, vec_col=vec_col,
        )
    )
    bt = bkt.select(
        F.col(id_col).alias("id"), F.posexplode("buckets").alias("table", "bucket")
    )
    a = _multiprobe(
        bt.select(F.col("id").alias("id_a"), "table", "bucket"),
        "id_a", multiprobe, n_planes,
    )
    b = bt.select(F.col("id").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, on=["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    checked_norm = _checked_norm("cosine_lsh_pairs", dim, id_col, vec_col)
    wa = embeddings.select(
        F.col(id_col).alias("id_a"),
        checked_norm.alias("_na"),
        *[F.col(vec_col)[i].alias(f"_a{i}") for i in range(dim)],
    )
    wb = embeddings.select(
        F.col(id_col).alias("id_b"),
        checked_norm.alias("_nb"),
        *[F.col(vec_col)[i].alias(f"_b{i}") for i in range(dim)],
    )
    dot = functools.reduce(
        lambda acc, t: acc + t,
        [
            F.col(f"_a{i}").cast("double") * F.col(f"_b{i}").cast("double")
            for i in range(dim)
        ],
    )
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_lsh_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """CROSS-corpus near-dup pairs (round 10): (id_a, id_b, cosine) for
    left x right pairs with cosine >= threshold — the decontamination
    shape ("which EVAL documents leak from the TRAIN corpus?"), where
    :func:`cosine_lsh_pairs` answers the within-corpus dedup question.

    Same recall model, same slim-candidates plan, same unpacked-column
    rescoring as the within-corpus op (see cosine_lsh_pairs — this is
    its two-frame form): both sides bucket under the SAME md5-derived
    planes, candidates come from a bucket equijoin between the frames
    (never a cross join), multiprobe widens the LEFT (query/eval) side,
    and every candidate is re-scored exactly, so precision is exact and
    only candidate recall is probabilistic.  Auto-sizing counts the
    UNION corpus (bucket occupancy sees both frames).  Callers own id
    disjointness across frames — a shared id would pair with itself at
    cosine 1.0, which for decontamination is exactly the right answer.

    At 100 TB the train side buckets once (in production: persist it —
    the minhash index pattern applies verbatim) and each eval batch
    shuffles only its own slim (table, bucket, id) rows into the join.

    Sizing-basis contingency (ADVICE r10): this one-shot path auto-sizes
    from left+right (the UNION corpus), while :func:`lsh_index_build`
    sizes from its TRAIN frame alone — near a planes_for boundary the
    two pick different (n_planes, n_tables) and their candidate recall
    can diverge even though both operate above the same threshold.
    Callers needing parameter parity pass the union count as
    ``n_rows`` to lsh_index_build (the build records its sizing basis
    in the generation's params sidecar, so the choice is reproducible
    either way); the incremental path always reproduces the INDEX's
    recorded parameters exactly — equivalence gates pin result equality
    at their operating points."""
    if n_planes is None:
        if n_rows is None:
            n_rows = left.count() + right.count()
        n_planes, auto_tables, auto_probe, _pred = lsh_params_for(
            n_rows, threshold, min_multiprobe=multiprobe
        )
        if n_tables is None:
            n_tables = auto_tables
        multiprobe = max(multiprobe, auto_probe)
    if n_tables is None:
        n_tables = N_TABLES
    la = with_lsh_buckets(
        left, dim, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col,
    ).select(
        F.col(id_col).alias("id_a"),
        F.posexplode("buckets").alias("table", "bucket"),
    )
    la = _multiprobe(la, "id_a", multiprobe, n_planes)
    rb = with_lsh_buckets(
        right, dim, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col,
    ).select(
        F.col(id_col).alias("id_b"),
        F.posexplode("buckets").alias("table", "bucket"),
    )
    cand = (
        la.join(rb, on=["table", "bucket"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    def _unpacked(df: DataFrame, out_id: str, prefix: str, norm_alias: str):
        return df.select(
            F.col(id_col).alias(out_id),
            _checked_norm("cosine_lsh_cross_pairs", dim, id_col, vec_col).alias(norm_alias),
            *[F.col(vec_col)[i].alias(f"{prefix}{i}") for i in range(dim)],
        )

    wa = _unpacked(left, "id_a", "_a", "_na")
    wb = _unpacked(right, "id_b", "_b", "_nb")
    dot = functools.reduce(
        lambda acc, t: acc + t,
        [
            F.col(f"_a{i}").cast("double") * F.col(f"_b{i}").cast("double")
            for i in range(dim)
        ],
    )
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# -- the cosine-LSH decontamination index -------------------------------------
#
# A codec over operators/bucketing.py's segmented-index core (build,
# append, compact, status, attach and vacuum live there once).  Per
# generation and per append segment the index holds two bucketed tables:
#
# - ``_vectors`` (id, nrm, v), bucketed on id: the rescore side, the norm
#   precomputed and the width validated at write;
# - ``_buckets`` (id, bkey), bucketed+sorted on bkey = xxhash64(table,
#   bucket): the candidate join's index side, read co-located (no
#   Exchange above the bucketed scan, plan-pinned).
#
# The planes are md5-derived from (dim, n_planes, n_tables), so the
# generation's params sidecar — those three integers plus the recorded
# multiprobe, threshold and sizing basis ``n_rows`` — pins the bucketing
# exactly; a batch bucketed under other parameters would silently miss
# every candidate, which is why screens and appends bucket under the
# snapshot's recorded parameters and never take them from a caller.

# Appended-rows / sizing-basis ratio at which an append recommends a
# full rebuild.  The planes are FROZEN at build and sized from the
# recorded n_rows; appends grow bucket occupancy past that basis (more
# candidates per bucket — cost creep, and at some point lsh_params_for
# would have chosen more planes).  Compaction does not reset it: rows a
# compaction folds into the base past the basis still count.
LSH_RETRAIN_FRAC = 0.5

# Segment-COUNT half of the trigger — same 1000x argument as
# operators.dedup.MINHASH_MAX_SEGMENTS: tiny nightly appends must not
# grow the per-read plan unboundedly under the row-fraction radar.
LSH_MAX_SEGMENTS = 16


def _checked_norm(who: str, dim: int, id_col: str, vec_col: str):
    """The vector's norm, raising on any row whose width != ``dim``: the
    unpacked scoring indexes ``vec[0..dim)``, and a shorter vector would
    score a null cosine and its pair would vanish silently."""
    return F.when(F.size(F.col(vec_col)) == dim, norm2_seq(F.col(vec_col))).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{who}: {vec_col} width != {dim} for id "),
                F.col(id_col).cast("string"),
            )
        )
    )


def _multiprobe(df: DataFrame, id_name: str, probe: int, n_planes: int) -> DataFrame:
    """Widen (id, table, bucket) rows to also match the buckets one sign
    flip away in each of the first ``probe`` planes — the standard
    probe-side widening."""
    if probe <= 0:
        return df
    flips = [F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(min(probe, n_planes))]
    return df.select(
        id_name, "table", F.explode(F.array(F.col("bucket"), *flips)).alias("bucket")
    )


def _index_tables(vectors, buckets, dim: int, id_col: str, vec_col: str, who: str) -> dict:
    bt = buckets.select(
        F.col(id_col).alias("id"), F.posexplode("buckets").alias("table", "bucket")
    )
    return {
        "_vectors": vectors.select(
            F.col(id_col).alias("id"),
            _checked_norm(who, dim, id_col, vec_col).alias("nrm"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        ),
        "_buckets": bt.select(
            "id", F.xxhash64(F.col("table"), F.col("bucket")).alias("bkey")
        ),
    }


class LshDelta:
    """An embedding batch validated and bucketed ONCE under a snapshot's
    recorded plane parameters, shared by every phase of a micro-batch
    (the classify, screen and append; the within-batch pass can take
    ``buckets`` when its own sizing coincides).  ``counts`` is (rows,
    distinct ids, rows whose width != the recorded dim) from ONE
    aggregation; ``buckets`` is persisted on first use and freed by
    :meth:`release`."""

    def __init__(
        self, snapshot, vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ):
        self.snapshot, self.params = snapshot, snapshot.params
        self.vectors, self.id_col, self.vec_col = vectors, id_col, vec_col

    @cached_property
    def counts(self) -> tuple[int, int, int]:
        # a NULL id collapses to one distinct row, as distinct().count()
        # counts it; a NULL vector's NULL size lands in otherwise(0)
        r = self.vectors.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(self.id_col)).alias("d"),
            F.max(F.col(self.id_col).isNull().cast("int")).alias("has_null"),
            F.sum(
                F.when(F.size(F.col(self.vec_col)) != int(self.params["dim"]), 1).otherwise(0)
            ).alias("n_bad"),
        ).head()
        return int(r["n"]), int(r["d"]) + int(r["has_null"] or 0), int(r["n_bad"] or 0)

    @property
    def rows(self) -> int:
        return self.counts[0]

    @cached_property
    def buckets(self) -> DataFrame:
        p = self.params
        return with_lsh_buckets(
            self.vectors, int(p["dim"]), n_planes=int(p["n_planes"]),
            n_tables=int(p["n_tables"]), id_col=self.id_col, vec_col=self.vec_col,
        ).persist()

    @property
    def ids(self) -> DataFrame:
        return self.vectors.select(F.col(self.id_col).alias("id"))

    def validate(self, what: str) -> None:
        n, n_ids, n_bad = self.counts
        if n_ids != n:
            raise ValueError(
                f"{what}: delta batch has {n - n_ids} internally duplicated "
                f"{self.id_col} value(s) — ids must be unique"
            )
        # before any write: the per-row width raise would otherwise fire
        # mid-segment-write and wedge the success-only claim
        if n_bad:
            raise ValueError(
                f"{what}: {n_bad} delta vector(s) have width != the index's "
                f"recorded dim {self.params['dim']} — a mis-shaped vector can "
                "never collide with the recorded plane parameters; fix the "
                "batch upstream."
            )

    def tables(self) -> dict[str, DataFrame]:
        return _index_tables(
            self.vectors, self.buckets, int(self.params["dim"]), self.id_col,
            self.vec_col, "lsh_index_append",
        )

    def release(self) -> None:
        if "buckets" in self.__dict__:
            self.buckets.unpersist(blocking=False)


LSH_INDEX = IndexSpec(
    "cosine-LSH",
    (
        ("_vectors", "id bigint, nrm double, v array<double>", "id"),
        ("_buckets", "id bigint, bkey bigint", "bkey"),
    ),
    LshDelta,
)


def lsh_index_build(
    train: DataFrame,
    table_prefix: str,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    n_rows: int | None = None,
    buckets_df: DataFrame | None = None,
) -> int:
    """PERSIST the train side of semantic decontamination (the
    minhash_index_build pattern applied to embedding cross-pairs): the
    corpus is bucketed under auto-sized md5 planes ONCE and lands as the
    index's next published GENERATION (returned); each eval batch then
    shuffles ONLY its own slim (id, bkey) rows into the index's bucket
    layout.  The vector width is VALIDATED at write — a short vector
    raises here, not as a silently dropped pair at query time.

    Sizing basis (ADVICE r10): parameters auto-size from the TRAIN count
    by default — the corpus whose bucket occupancy the index actually
    pays — and the basis used is recorded as ``n_rows`` in the params
    sidecar, so any caller can reproduce the exact bucketing.  The
    one-shot :func:`cosine_lsh_cross_pairs` sizes from its left+right
    UNION instead; callers wanting parameter parity pass that union
    count as ``n_rows`` here.  ``buckets_df`` shares a
    :func:`with_lsh_buckets` pass the caller already made over ``train``
    under exactly the parameters this sizing resolves (the streaming
    bootstrap derives both from one lsh_params_for call)."""
    if n_rows is None:
        n_rows = train.count()
    n_planes, n_tables, probe, _pred = lsh_params_for(
        n_rows, threshold, min_multiprobe=multiprobe
    )
    bkt = (
        buckets_df
        if buckets_df is not None
        else with_lsh_buckets(
            train, dim, n_planes=n_planes, n_tables=n_tables,
            id_col=id_col, vec_col=vec_col,
        )
    )
    return index_build(
        train.sparkSession,
        LSH_INDEX,
        table_prefix,
        _index_tables(train, bkt, dim, id_col, vec_col, "lsh_index_build"),
        {
            "n_planes": int(n_planes), "n_tables": int(n_tables),
            "multiprobe": int(probe), "threshold": float(threshold),
            "dim": int(dim), "n_rows": int(n_rows),
        },
        f"lsh_index_build({table_prefix})",
    )


def lsh_index_append(
    new_vectors,
    table_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retrain_frac: float = LSH_RETRAIN_FRAC,
    max_segments: int = LSH_MAX_SEGMENTS,
    check_duplicate_ids: bool = True,
) -> dict:
    """INCREMENTAL maintenance: bucket ONLY the delta batch under the
    index's RECORDED plane parameters and publish it as the newest
    generation's next immutable append SEGMENT (bucketing.index_append).
    ``new_vectors`` is an embedding frame or an :class:`LshDelta` an open
    snapshot made — the streaming handler's one bucketing pass and one
    validation aggregate per micro-batch; an append through a snapshot
    refuses if a newer generation was published since.

    A vector's buckets depend only on itself and the frozen (dim,
    n_planes, n_tables), so base ∪ segments indexes EXACTLY what one
    build with the same parameters over the union would (pytest-pinned).
    What appends cannot do is re-size the planes: the appended fraction
    against the recorded sizing basis ``n_rows`` is the RETRAIN TRIGGER
    — appended_rows / basis_rows >= ``retrain_frac`` OR n_segments >=
    ``max_segments`` flips ``retrain_due``; the retrain is a full
    :func:`lsh_index_build` over the union corpus.

    Refusals happen before any write, claim released: internally
    duplicated ids, vectors whose width != the recorded dim, and
    (``check_duplicate_ids``) ids already indexed — append means NEW
    ids; re-ingest is a rebuild."""
    what = f"lsh_index_append({table_prefix})"
    snap, d = index_target(
        LSH_INDEX, new_vectors, table_prefix, id_col=id_col, vec_col=vec_col
    )
    try:
        return index_append(snap, d, what, check_duplicate_ids, retrain_frac, max_segments)
    finally:
        if d is not new_vectors:
            d.release()


def lsh_index_status(
    spark,
    table_prefix: str,
    retrain_frac: float = LSH_RETRAIN_FRAC,
    max_segments: int = LSH_MAX_SEGMENTS,
) -> dict:
    """The append/rebuild maintenance ledger of a persisted
    decontamination index, recomputed FROM DISK.  ``basis_rows`` is the
    recorded ``n_rows`` the planes were sized for; ``appended_rows``
    counts every row beyond it, wherever it lives (segments, or a base a
    compaction widened), so crossing ``retrain_frac`` is the cue for a
    full ``lsh_index_build`` rebuild."""
    return index_status(spark, LSH_INDEX, table_prefix, retrain_frac, max_segments)


def lsh_index_attach(spark, table_prefix: str, generation: int | None = None) -> int:
    """Recover a persisted decontamination index's catalog entries (base
    and published segments) in a FRESH session — the
    minhash_index_attach counterpart; returns the attached generation.
    Catalog metadata only; the parameters live in the params sidecar,
    which needs no catalog entry."""
    return index_attach(spark, LSH_INDEX, table_prefix, generation)


def lsh_index_compact(spark, table_prefix: str) -> dict:
    """Fold the newest generation's append SEGMENTS back into one base
    WITHOUT re-sizing the planes (bucketing.index_compact): bucket keys
    are per-vector functions of the frozen parameters, so the union is
    bit-identical in content to the wide layout, and the parameters —
    sizing basis included — carry over verbatim.

    Unlike the minhash index, compaction here services ONLY the
    segment-count arm of the retrain trigger: the row-fraction arm
    measures drift past the frozen planes' sizing basis, which no union
    rewrite fixes, and the ledger keeps reporting it.  The source
    generation stays published for pinned readers (reclaim with
    :func:`lsh_index_vacuum`)."""
    return index_compact(spark, LSH_INDEX, table_prefix, f"lsh_index_compact({table_prefix})")


def lsh_index_vacuum(spark, table_prefix: str, keep_last: int = 1) -> list[int]:
    """Delete all but the newest ``keep_last`` published generations of
    a decontamination index (marker first, then tables + files);
    returns the removed generation numbers.  The ONLY destroyer of a
    published generation — a reader still pinned to one fails loudly on
    its next scan, never silently reads a different snapshot."""
    return index_vacuum_generations(spark, table_prefix, LSH_INDEX.suffixes, keep_last)


def decontaminate_incremental(
    eval_batch,
    table_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int | None = None,
    materialize: bool = True,
    generation: int | None = None,
    as_of_segment: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs between an EVAL batch and the indexed
    TRAIN snapshot at cosine >= the index's recorded threshold — the
    nightly form of :func:`cosine_lsh_cross_pairs` (the
    incremental_dedup_pairs contract, for embeddings).  ``eval_batch``
    is an embedding frame or an :class:`LshDelta` an open snapshot made.
    A vector's buckets depend only on itself and the recorded plane
    parameters, so the candidate set decomposes exactly and
    batch-vs-index equals one-shot cross pairs whenever both operating
    points have total recall.

    Scale shape: the batch buckets itself (delta-sized), the candidate
    join shuffles ONLY the batch's (id_a, bkey) rows into each index
    part's bucket layout (no Exchange above the bucketed scan —
    plan-pinned), and rescoring joins the slim candidate ids against the
    id-bucketed vectors tables the same way.  Probe widening defaults to
    the recorded multiprobe (a caller may widen it, never narrow it —
    mismatched widening silently loses recall).

    The read binds to ONE snapshot (bucketing.index_open): the newest
    published generation or an explicit ``generation`` pin, and its
    published append segments — all, or up to ``as_of_segment`` (0 =
    base only).  Published tables are immutable, so a rebuild, append
    or compaction racing this read cannot change what it scans."""
    snap, d = index_target(
        LSH_INDEX, eval_batch, table_prefix, generation, as_of_segment,
        id_col=id_col, vec_col=vec_col,
    )
    p = snap.params
    n_planes, dim, threshold = int(p["n_planes"]), int(p["dim"]), float(p["threshold"])
    probe = max(int(p["multiprobe"]), multiprobe or 0)
    ev = _multiprobe(
        d.buckets.select(
            F.col(d.id_col).alias("id_a"),
            F.posexplode("buckets").alias("table", "bucket"),
        ),
        "id_a", probe, n_planes,
    )
    evk = ev.select("id_a", F.xxhash64(F.col("table"), F.col("bucket")).alias("bkey"))
    # one co-located probe join PER PART (ids disjoint across parts by
    # the append-time duplicate check): only the delta-sized evk
    # shuffles, once per part
    cand = functools.reduce(
        DataFrame.unionByName,
        [
            evk.join(t.select(F.col("id").alias("id_b"), "bkey"), "bkey")
            for t in snap.tables("_buckets")
        ],
    )
    cand = cand.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    # persist the slim candidate set when the snapshot is WIDE — the
    # minhash read path's finding, same shape (uncached, P parts cost P^2
    # bucket scans; at 1-2 parts the barrier costs more than it saves)
    cache_cand = len(snap.parts) > 2
    if cache_cand:
        cand = cand.persist()
    wa = d.vectors.select(
        F.col(d.id_col).alias("id_a"),
        _checked_norm("decontaminate_incremental", dim, d.id_col, d.vec_col).alias("_na"),
        *[F.col(d.vec_col)[i].cast("double").alias(f"_a{i}") for i in range(dim)],
    )
    # rescore PER PART for the same co-located-read reason, then union
    rescored = functools.reduce(
        DataFrame.unionByName,
        [
            cand.join(
                t.select(
                    F.col("id").alias("id_b"),
                    F.col("nrm").alias("_nb"),
                    *[F.col("v")[i].alias(f"_b{i}") for i in range(dim)],
                ),
                "id_b",
            )
            for t in snap.tables("_vectors")
        ],
    )
    dot = functools.reduce(
        lambda acc, t: acc + t,
        [F.col(f"_a{i}") * F.col(f"_b{i}") for i in range(dim)],
    )
    result = (
        rescored.join(wa, "id_a")
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    if materialize:
        result = result.localCheckpoint(eager=True)
        if cache_cand:
            cand.unpersist(blocking=False)
        if d is not eval_batch:
            d.release()
    return result


def _probe_cells(cmat: np.ndarray, qn: np.ndarray, nprobe: int) -> list[int]:
    """Rank cells by centroid cosine, ties to the LOWEST cell index.
    np.argsort's default quicksort is NOT stable, so an exact score tie
    would break by array order and diverge from the SQL oracle's
    'cosine DESC, crk' tie rule (r9 advisory); kind="stable" makes the
    tie-break deterministic and oracle-matching."""
    return [int(c) for c in np.argsort(-(cmat @ qn), kind="stable")[:nprobe]]


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray, list]:
    """IVF coarse quantizer: returns (embeddings + ``cell`` column,
    centroid matrix, centroid ids).

    Centroids are a deterministic pseudo-random sample of the data itself
    — the n_cells vectors with smallest md5(vec_id) — instead of k-means
    (no RNG state, no training job; one Lloyd iteration could refine but
    the sample quantizer already gives the inverted-list structure).
    Assignment is one Arrow-batched numpy matmul per batch; at 100 TB the
    index build is a single embarrassingly-parallel scan and each query
    probes nprobe cells instead of the corpus."""
    cents = (
        embeddings.select(id_col, vec_col)
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_cells)
        .collect()
    )
    cent_ids = [r[id_col] for r in cents]
    cmat = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in cents])
    cnorm = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    assign_udf = _cell_assigner(cnorm)
    return embeddings.withColumn("cell", assign_udf(F.col(vec_col))), cnorm, cent_ids


def _cell_assigner(cnorm: np.ndarray):
    """Arrow-batched cell assignment against a FIXED normalized centroid
    matrix — argmax of cosine, ties to the lowest cell (np.argmax takes
    the first maximum).  Shared by the build-time assignment scan and
    ivf_append's delta routing so the two are the same arithmetic by
    construction: an appended vector lands in exactly the cell a rebuild
    with the same quantizer would put it in."""

    @pandas_udf("int")
    def assign_udf(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mn @ cnorm.T, axis=1).astype("int32"))

    return assign_udf


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    top_k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: exact cosine over only the nprobe cells whose
    centroids are nearest the query — the inverted-file ANN counterpart to
    the LSH path (recall vs brute force measured in tests)."""
    assigned, cnorm, _ = ivf_assign(embeddings, n_cells, id_col, vec_col)
    qrow = embeddings.filter(F.col(id_col) == query_id).select(vec_col).head()
    qv = np.asarray(qrow[0], dtype=np.float64)
    qn = qv / max(np.linalg.norm(qv), 1e-12)
    probe = _probe_cells(cnorm, qn, nprobe)
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    return (
        assigned.filter(F.col("cell").isin([int(c) for c in probe]))
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(id_col, cosine_seq(F.col(vec_col), F.col("_qvec")).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(top_k)
    )


_IVF_GEN_FMT = "g=%08d"


def _ivf_generations(spark, path: str) -> list[int]:
    """Published index generations at ``path``, ascending — the
    versioned.py ``_version_dirs`` discipline applied to the IVF
    directory layout (round 11: generation-versioned reads)."""
    from ..sinks import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath(path)):
        return []
    out = []
    for st in fs.listStatus(jpath(path)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("g="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def ivf_resolve(
    spark,
    path: str,
    generation: int | None = None,
    gens: list[int] | None = None,
) -> str:
    """The content directory one index read (or segment append) binds
    to, resolved ONCE per operation: ``path/g=NNNNNNNN`` for the newest
    published generation, or an explicitly pinned older one.  A
    published generation directory is IMMUTABLE under retrain —
    ``ivf_retrain_swap`` stages a hidden sibling and publishes a
    brand-new ``g=`` directory with one rename — so a plan built over
    the resolved directory stays internally consistent for its whole
    lifetime: the r10 snapshot-less-rewrite reader race is closed by
    LAYOUT, not by locking (readers pinned to the old generation keep
    answering from it until an explicit :func:`ivf_vacuum_generations`).
    ``gens`` lets a caller that already listed the directory skip the
    re-listing — LIST is the slow, billed operation on object stores.
    A path with no published generation, or an unpublished pin, raises."""
    if gens is None:
        gens = _ivf_generations(spark, path)
    if generation is None:
        if not gens:
            raise FileNotFoundError(
                f"ivf_resolve({path}): no published generation — build "
                "the index first (ivf_build)"
            )
        generation = gens[-1]
    if generation not in gens:
        raise FileNotFoundError(
            f"ivf_resolve({path}): generation {generation} not "
            f"present (have {gens}) — vacuumed or never published; "
            "generation pinning is explicit, never a silent fallback"
        )
    return f"{path.rstrip('/')}/{_IVF_GEN_FMT % generation}"


def _ivf_publish_generation(
    spark, path: str, staging: str, expected: int | None = None
) -> int:
    """Publish a fully-written staging directory as the next index
    generation with ONE rename (commit_version's exists-check +
    nest-audit discipline): a concurrent reader's listing sees the new
    generation entirely or not at all, and two racing publishers can
    never both believe they published the same number.

    ``expected`` pins the generation number the CALLER planned for —
    a claim-less fresh build passes 1, so that if any other writer
    published meanwhile the publish collides LOUDLY on the existing
    ``g=00000001`` instead of silently renumbering itself on top of an
    index that may already be receiving appends (claim-holding callers
    recompute under their claim and pass None)."""
    from ..sinks import ConcurrentCommitError, _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    gen = (
        expected
        if expected is not None
        else (_ivf_generations(spark, path) or [0])[-1] + 1
    )
    final = f"{path.rstrip('/')}/{_IVF_GEN_FMT % gen}"
    if fs.exists(jpath(final)):
        fs.delete(jpath(staging), True)
        raise ConcurrentCommitError(
            f"ivf publish: generation {gen} already published at {path} "
            "(concurrent publisher won) — staged index discarded, retry"
        )
    if not fs.rename(jpath(staging), jpath(final)):
        # ADVICE r11: a rename can fail for two very different reasons,
        # and only ONE of them should cost the caller its fully-built
        # staging directory.  Re-check the destination: if it exists
        # now, a racer landed between our pre-check and the rename —
        # a genuine lost publish race, staging discarded, retry is
        # cheap and correct.  Otherwise the failure is a filesystem
        # fault (transient or otherwise): LEAVE the staged index in
        # place and surface the error naming it, so the caller can
        # retry the single rename instead of re-paying the build.
        if fs.exists(jpath(final)):
            fs.delete(jpath(staging), True)
            raise ConcurrentCommitError(
                f"ivf publish: lost the publish race for generation "
                f"{gen} at {path} — staged index discarded, retry"
            )
        raise OSError(
            f"ivf publish: rename {staging} -> {final} failed with no "
            "visible concurrent publisher (filesystem fault?) — the "
            f"fully-built staged index is LEFT IN PLACE at {staging}; "
            "retry the publish or inspect the store before rebuilding"
        )
    # post-rename audit: a racer publishing between the exists-check and
    # our rename nests our dir INSIDE theirs — detect and fail loudly
    nested = f"{final}/{staging.rsplit('/', 1)[1]}"
    if fs.exists(jpath(nested)):
        fs.delete(jpath(nested), True)
        raise ConcurrentCommitError(
            f"ivf publish: lost the publish race for generation {gen} at "
            f"{path} — staged index discarded, retry"
        )
    return gen


def ivf_vacuum_generations(spark, path: str, keep_last: int = 1) -> list[int]:
    """Delete all but the newest ``keep_last`` generations; returns the
    removed numbers (versioned.vacuum_versions for the index layout).
    Reclamation is the ONLY operation that destroys a published
    generation — a reader still pinned to a vacuumed one fails LOUDLY
    on its next scan, never silently reads a different snapshot."""
    from ..sinks import _hadoop_fs

    if keep_last < 1:
        raise ValueError("ivf_vacuum_generations: keep_last must be >= 1")
    fs, jpath = _hadoop_fs(spark, path)
    gens = _ivf_generations(spark, path)
    doomed = gens[:-keep_last]
    for g in doomed:
        fs.delete(jpath(f"{path.rstrip('/')}/{_IVF_GEN_FMT % g}"), True)
    return doomed


def ivf_build(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """PERSIST an IVF index as ``path/g=00000001``; returns the
    published generation number.  The content is staged to a hidden
    ``_g_stage_*__`` sibling inside ``path`` and published with ONE
    rename, so readers enumerate either without the new generation or
    with all of it.  Build cost is one embarrassingly-parallel
    assignment scan + one partitioned write; published content is
    IMMUTABLE — retrains stage a sibling and appends publish segment
    subdirectories (see ivf_append), nothing rewrites it.

    LIVE-INDEX REBUILDS DELEGATE (r11 review finding): when ``path``
    already holds a published generation, this routes through
    :func:`ivf_retrain_swap`, which holds the commit claim and enforces
    the append/retrain mutual exclusion.
    A claim-less build publishing over a live index would silently
    orphan an in-flight append's delta in the outgoing generation
    (exactly the case retrain refuses loudly); there is no safe
    claim-less rebuild, so there is no code path for one.  The fresh
    path pins its publish to generation 1: if ANY other writer
    published meanwhile, the publish collides loudly instead of
    renumbering on top of an index that may already have appenders."""
    import uuid as _uuid

    from ..sinks import _hadoop_fs

    spark = embeddings.sparkSession
    fs, jpath = _hadoop_fs(spark, path)
    if _ivf_generations(spark, path):
        return ivf_retrain_swap(spark, path, embeddings, n_cells, id_col, vec_col)
    fs.mkdirs(jpath(path))
    staging = f"{path.rstrip('/')}/_g_stage_{_uuid.uuid4().hex[:8]}__"
    try:
        _ivf_write_content(embeddings, staging, n_cells, id_col, vec_col)
    except BaseException:
        fs.delete(jpath(staging), True)
        raise
    return _ivf_publish_generation(spark, path, staging, expected=1)


def _ivf_write_content(
    embeddings: DataFrame,
    content: str,
    n_cells: int,
    id_col: str,
    vec_col: str,
) -> None:
    """One generation's complete content at ``content``: the inverted
    lists land at ``content``/lists as parquet PARTITIONED BY cell — so
    a probe of nprobe cells is PARTITION PRUNING at the file-listing
    level, reading only those cells' files from disk (the on-disk
    payoff IVF exists for) — the coarse quantizer at
    ``content``/centroids (n_cells tiny rows), the id->cell sidecar at
    ``content``/ids, and the build-size meta at ``content``/meta."""
    assigned, cnorm, _ = ivf_assign(embeddings, n_cells, id_col, vec_col)
    # Lists carry exactly (id, vector, cell) — the columns the query
    # paths read — and nothing else: ivf_append writes the same three,
    # so an input frame with extra columns cannot produce mixed-schema
    # parquet across generations (appended rows silently nulling a
    # column the build had persisted).
    assigned = assigned.select(id_col, vec_col, "cell")
    # Cluster rows by cell BEFORE the partitioned write: without this,
    # every shuffle partition holds a slice of every cell and the sink
    # emits partitions x cells tiny files; with it, each cell's inverted
    # list lands as one contiguous file — fewer files to list and read
    # at probe time, tighter row groups.  (At larger corpora Spark's
    # rebalance/AQE would split oversized cells; the clustering intent
    # is the same.)
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{content}/lists")
    # id->cell SIDECAR (r6 verdict item 3): the query path's only
    # by-id access is "which cell holds this id?" — answered here from
    # a table of two integers per vector (~3% of the vector bytes),
    # RANGE-partitioned and sorted on id so the parquet row-group
    # min/max stats turn the id equality predicate into file/row-group
    # skipping.  Without it, fetching a query vector by id cost a scan
    # of the FULL inverted lists before the partition-pruned probe.
    assigned.select(id_col, "cell").repartitionByRange(
        id_col
    ).sortWithinPartitions(id_col).write.mode("overwrite").parquet(
        f"{content}/ids"
    )
    spark = embeddings.sparkSession
    _write_centroids(spark, f"{content}/centroids", cnorm)
    # Build-size meta: the denominator of ivf_append's retrain trigger.
    # Counted from the ids sidecar's parquet footers (metadata-only, no
    # row scan); immutable after build — appends never rewrite it.
    n_base = spark.read.parquet(f"{content}/ids").count()
    _write_meta(spark, content, n_base)


def _write_meta(spark, path: str, n_base: int) -> None:
    import pyarrow as pa

    table = pa.table({"n_base": pa.array([int(n_base)], type=pa.int64())})
    _write_small_parquet(
        spark, f"{path}/meta", table, [(int(n_base),)], "n_base long"
    )


def _write_centroids(spark, cent_path: str, cnorm) -> None:
    """The coarse quantizer is n_cells tiny DRIVER-LOCAL rows — writing
    it through a Spark job costs ~4.5 s of pure scheduling overhead
    (measured: a 24-row createDataFrame().coalesce(1).write.parquet()
    job), which dominated the whole index build.  On a local path the
    driver writes the parquet directly with pyarrow (milliseconds,
    byte-compatible with spark.read.parquet); remote stores (hdfs/s3)
    keep the Spark write — there the cluster filesystem is the point
    and the job overhead is amortized by the real build around it.

    "Local" is decided by resolving the path through the Hadoop
    filesystem API (the sinks._hadoop_fs discipline), NOT by substring-
    matching the raw string: a scheme-less path on a cluster whose
    defaultFS is HDFS (or a single-slash hdfs:/ URI) must take the
    Spark write, or the centroids would land on the driver's local
    disk while lists/ids go through defaultFS and the later
    spark.read.parquet of centroids silently reads nothing."""
    import pyarrow as pa

    table = pa.table(
        {
            "cell": pa.array(range(cnorm.shape[0]), type=pa.int32()),
            "centroid": pa.array(
                [[float(x) for x in row] for row in cnorm],
                type=pa.list_(pa.float64()),
            ),
        }
    )
    rows = [(int(i), [float(x) for x in cnorm[i]]) for i in range(cnorm.shape[0])]
    _write_small_parquet(
        spark, cent_path, table, rows, "cell int, centroid array<double>"
    )


def _local_fs_path(spark, path: str) -> str | None:
    """The driver-local filesystem path for ``path``, or None when the
    Hadoop-qualified scheme is not ``file:`` — the _write_centroids
    discipline: resolve through the filesystem API, never substring-
    match the raw string (a scheme-less path on an HDFS-defaultFS
    cluster is NOT local)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    qualified = fs.makeQualified(jpath)
    return qualified.toUri().getPath() if qualified.toUri().getScheme() == "file" else None


def _write_small_parquet(
    spark, path: str, pa_table, rows: list, ddl: str, append: bool = False
) -> None:
    """Write a DRIVER-LOCAL handful of rows as a parquet directory.  On
    a local filesystem the driver writes with pyarrow directly — a
    Spark job for n_cells tiny rows costs ~4.5 s of pure scheduling
    (measured, see _write_centroids) — while Hadoop-remote paths keep
    the Spark write, where the cluster filesystem is the point."""
    local = _local_fs_path(spark, path)
    if local is not None:
        import os as _os
        import shutil as _shutil
        import uuid as _uuid

        import pyarrow.parquet as pq

        if not append:
            _shutil.rmtree(local, ignore_errors=True)  # mode("overwrite") parity
        _os.makedirs(local, exist_ok=True)
        name = (
            f"part-{_uuid.uuid4().hex}.parquet" if append else "part-00000.parquet"
        )
        pq.write_table(pa_table, _os.path.join(local, name))
        return
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
        "append" if append else "overwrite"
    ).parquet(path)


IVF_RETRAIN_FRAC = 0.25

# Segment-COUNT half of the retrain trigger — the same 1000x guard as
# the minhash/LSH indexes: tiny nightly appends must not grow the
# per-probe file count unboundedly under the row-fraction radar.
IVF_MAX_SEGMENTS = 16

# -- append SEGMENTS within a generation (round 12, late) --------------------
#
# The IVF append previously mutated the resolved generation's lists/ids
# IN PLACE under its claim, which left the engine's one residual
# snapshot-isolation caveat (ADVICE r11/r12: a reader's single up-front
# quiescence check could not exclude an append landing before its lazy
# lists scan executed).  An appended vector's cell depends only on
# itself and the FROZEN quantizer — per-item independence, the same
# property that let the minhash/LSH indexes adopt segments — so the
# append now lands as a brand-new immutable SEGMENT subdirectory of the
# resolved generation (``<content>/sNNNN/{lists,ids}``, the same
# cell-partitioned layout as the base) plus one atomically-created
# marker file (``<content>/_sNNNN__published__``).  Readers resolve
# (generation, published segments) ONCE and bind every scan to exactly
# those directories: an in-flight append is invisible until its marker
# lands, appends are snapshot-isolated BY LAYOUT, and the reader-side
# append-quiescence refusal is gone.  Cell pruning is unchanged — the
# ``cell IN (...)`` filter prunes partition directories inside every
# part independently; what grows per segment is file count per probed
# cell, which is the segment-count side of the retrain trigger.

IVF_SEG_FMT = "s%04d"
# {4,} not {4}: %04d widens past 9999, and a fixed-width anchor would
# silently drop segment 10000 from every snapshot (see the minhash
# index's _SEG_MARKER_RE for the full failure shape).
_IVF_SEG_MARKER_RE = _re.compile(r"^_s(\d{4,})__published__$")


def _ivf_seg_dir(content: str, seg: int) -> str:
    return f"{content.rstrip('/')}/{IVF_SEG_FMT % seg}"


def _ivf_seg_marker(content: str, seg: int) -> str:
    # seg formatted INSIDE the f-string: applying printf-% to the already-
    # interpolated string would re-interpret any literal '%' in the
    # warehouse path itself (e.g. a URL-encoded directory) as a format spec
    return f"{content.rstrip('/')}/_s{seg:04d}__published__"


def _ivf_segments(spark, content: str) -> list[int]:
    """Published append segments of the generation at ``content``,
    ascending — read from the on-disk marker files (restart-recoverable,
    same discipline as _ivf_generations)."""
    from ..sinks import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, content)
    if not fs.exists(jpath(content)):
        return []
    out = []
    for st in fs.listStatus(jpath(content)):
        m = _IVF_SEG_MARKER_RE.match(st.getPath().getName())
        if m and not st.isDirectory():
            out.append(int(m.group(1)))
    return sorted(out)


def _ivf_parts(spark, content: str, as_of_segment: int | None = None):
    """(part directories, segments) of the snapshot ``content``
    resolves to: the base plus each PUBLISHED append segment, the
    segment list read ONCE here so the whole plan binds to exactly
    these immutable parts (a racing append's segment publishes after
    this listing and is invisible).  ``as_of_segment`` pins the
    within-generation horizon — 0 = base only, N = segments <= N —
    with the engine's explicit-never-fallback contract (the
    minhash/LSH readers' as_of_segment, applied here)."""
    segs = _ivf_segments(spark, content)
    if as_of_segment is not None:
        if as_of_segment != 0 and as_of_segment not in segs:
            raise FileNotFoundError(
                f"IVF index at {content}: segment {as_of_segment} not "
                f"published (have {segs or 'none'}) — segment pinning "
                "is explicit, never a silent fallback"
            )
        segs = [s for s in segs if s <= as_of_segment]
    return [content] + [_ivf_seg_dir(content, s) for s in segs], segs


def _parts_union(spark, parts: list[str], sub: str) -> DataFrame:
    """Union one sidecar (``lists``/``ids``) across snapshot parts.
    Filters push through the union into every part's scan, so
    cell-partition pruning and id row-group skipping are preserved per
    part.  Built lazily per sidecar — the query_vec path never touches
    ids (pytest-pinned: an index without its ids sidecar still answers
    it)."""
    return functools.reduce(
        DataFrame.unionByName,
        [spark.read.parquet(f"{p}/{sub}") for p in parts],
    )


def _ivf_snapshot(spark, content: str):
    """(lists, ids, segments) of the resolved snapshot — the
    both-sidecars convenience for the maintenance paths (append's
    duplicate check, attach's validation)."""
    parts, segs = _ivf_parts(spark, content)
    return (
        _parts_union(spark, parts, "lists"),
        _parts_union(spark, parts, "ids"),
        segs,
    )


def _append_claim(path: str) -> str:
    # underscore prefix: Spark's file listing ignores the marker, so a
    # reader listing the directory still parses clean
    return f"{path.rstrip('/')}/_ivf_append__"


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retrain_frac: float = IVF_RETRAIN_FRAC,
    max_segments: int = IVF_MAX_SEGMENTS,
    check_duplicate_ids: bool = True,
    precounted: tuple[int, int] | None = None,
) -> dict:
    """INCREMENTAL IVF index maintenance (round 10 — the banked r9
    handoff candidate b, the lifecycle counterpart of the minhash
    index's nightly contract): route a delta batch to the EXISTING
    cells via the persisted quantizer and publish it as the resolved
    generation's next immutable append SEGMENT — work sized by the
    DELTA, never a corpus rebuild.

    Semantics: the quantizer is FROZEN — assignment reuses the exact
    _cell_assigner arithmetic of the build scan against the persisted
    centroid table, so after an append the index holds exactly what a
    rebuild WITH THE SAME CENTROIDS over base ∪ delta would hold
    (pytest-pinned: one append vs split appends vs frozen-quantizer
    rebuild, identical list content and query results).  What appends
    CANNOT do is retrain the quantizer: as the appended fraction
    grows, cell balance drifts from what md5-seeding over the full
    corpus would choose.  That drift is one side of the TWO-SIDED
    RETRAIN TRIGGER, recorded on every append: appended_rows /
    base_rows >= ``retrain_frac`` OR n_segments >= ``max_segments``
    (the 1000x guard — every segment adds files to each probed cell's
    read, and tiny nightly appends would grow that unboundedly under
    the row-fraction radar) flips ``retrain_due`` in the returned
    audit and in the persisted ``append_log`` (one row per append —
    the months-lived index's maintenance ledger).  Retraining itself
    is :func:`ivf_retrain_swap` — it holds the commit claim, enforces
    the append/retrain mutual exclusion, and publishes the rebuilt
    index as the next generation, folding every segment back into one
    base (a bare ivf_build on a live index DELEGATES there for exactly
    that reason — there is no claim-less rebuild path).

    Scale shape: one delta-sized assignment scan + a segment write
    whose lists carry the same cell partitioning as the base (a probe
    prunes partition directories inside every part independently);
    published content is NEVER touched — the segment is a brand-new
    directory made visible by one atomically-created marker (round 12,
    late; previously the append wrote into the resolved generation's
    own lists/ids, the engine's one residual snapshot-isolation
    caveat).  Readers resolve (generation, published segments) once
    (:func:`_ivf_snapshot`), so an in-flight append is INVISIBLE and
    no reader quiescence check exists.  The engine's O_EXCL claim
    marker still serializes writers: concurrent appends refuse loudly;
    the claim is released only on success, so a dead appender leaves a
    loud wedge for the NEXT writer (its unpublished segment directory
    is invisible to readers and overwritten by the rerun).  A standing
    RETRAIN claim makes the append refuse first: a segment published
    into the outgoing generation would be silently lost at the swap.

    Append means NEW ids: a re-ingested id would land as a duplicate
    list row (the same candidate scored twice per query), so by default
    the delta's ids are checked against the ids sidecar — one slim
    semi-join against the 2-column table — and a collision refuses
    loudly BEFORE any mutation (the claim is released on this path: the
    index is untouched and valid; re-ingest means replacing the vector,
    which is a rebuild — ivf_retrain_swap — not an append).  Callers
    that guarantee disjoint ids upstream pass
    ``check_duplicate_ids=False`` to skip the join."""
    from ..sinks import ConcurrentCommitError, _commit_claim, claim_marker, _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    retrain = _commit_claim(path)
    if fs.exists(jpath(retrain)):
        raise ConcurrentCommitError(
            f"ivf_append({path}): retrain-swap claim {retrain} is held — "
            "an append now would land in the outgoing index generation "
            "and be lost at the swap. Wait for the retrain."
        )
    claim = _append_claim(path)
    claim_marker(fs, jpath, claim, f"ivf_append({path})")
    # PRE-MUTATION SECTION: everything up to the first write runs under
    # the claim but has touched nothing — ANY failure here (a damaged
    # generation missing its meta, the duplicate-id refusal)
    # releases the claim and re-raises, because wedging a valid,
    # untouched index behind a marker whose remedy is "rerun the
    # append" would fail identically forever.  Only once mutation
    # starts does the claim become success-only (a half-appended index
    # must keep failing loudly).
    try:
        # close the check-then-act window against a concurrent retrain:
        # our marker is now visible, so if the opposing claim ALSO
        # exists, at least one of the two racers sees the other (each
        # creates its own marker BEFORE re-checking) — abort ours.
        if fs.exists(jpath(retrain)):
            raise ConcurrentCommitError(
                f"ivf_append({path}): lost the race with a retrain-swap "
                f"({retrain} appeared after our claim) — aborting before "
                "any mutation; retry after the retrain completes."
            )
        # bind to the CURRENT generation under the claim: the retrain
        # re-check above guarantees no new generation publishes between
        # this resolve and the append's writes
        content = ivf_resolve(spark, path)
        cents = spark.read.parquet(f"{content}/centroids").collect()
        cnorm = np.vstack(
            [
                np.asarray(r["centroid"], dtype=np.float64)
                for r in sorted(cents, key=lambda r: r["cell"])
            ]
        )
        _, ids_table, segs = _ivf_snapshot(spark, content)
        n_before = ids_table.count()  # footer-only
        n_base = spark.read.parquet(f"{content}/meta").head()["n_base"]
        if n_base == 0:
            # ADVICE r10: refuse HERE, in the pre-mutation section where
            # failures release the claim — an index built on an empty
            # corpus has no meaningful retrain fraction (division by
            # zero AFTER the data writes would wedge the success-only
            # claim on a completed append); growing an empty index is a
            # rebuild (ivf_build / ivf_retrain_swap), not an append.
            raise ValueError(
                f"ivf_append({path}): index was built on an EMPTY corpus "
                "(meta.n_base == 0) — the retrain trigger's appended "
                "fraction is undefined; rebuild with ivf_build or "
                "ivf_retrain_swap instead of appending."
            )
        # empty-delta refusal BEFORE any mutation (round 14 review): a
        # partitioned write of an empty frame emits a lists directory
        # with no parquet data files, and once the segment marker
        # publishes, every later read of the generation dies on
        # UNABLE_TO_INFER_SCHEMA — the poisoned-segment hazard the
        # streaming handler guards against; the direct batch API must
        # refuse it too (unlike the catalog-backed minhash/LSH appends,
        # whose schema survives an empty table)
        # count + distinct-count in ONE aggregation job (round 15,
        # guide §1.2 — was two separate delta passes).  ``precounted``
        # (round 16, guide §1.2): a caller that already ran the same
        # count_and_distinct over the same pinned frame (the streaming
        # handler's per-batch validation) passes (n, n_ids) and this
        # delta pass is skipped — identical values by construction.
        from .bucketing import count_and_distinct

        n_in, n_ids = (
            (int(precounted[0]), int(precounted[1]))
            if precounted is not None
            else count_and_distinct(new_vectors, id_col)
        )
        if n_in == 0:
            raise ValueError(
                f"ivf_append({path}): empty delta — nothing to append, "
                "and a published empty segment's fileless lists "
                "directory would break every subsequent read of the "
                "generation. Treat an empty batch as a no-op upstream."
            )
        if check_duplicate_ids:
            # internal duplicates first (round 12, late — parity with
            # the minhash/LSH appends): two delta rows sharing an id
            # would both land in the segment and score the same
            # candidate twice per query, exactly the hazard the
            # index-side check below refuses
            if n_ids != n_in:
                raise ValueError(
                    f"ivf_append({path}): delta batch has "
                    f"{n_in - n_ids} internally duplicated {id_col} "
                    "value(s) — ids must be unique"
                )
            dup = (
                new_vectors.select(id_col)
                .join(ids_table.select(id_col), id_col, "left_semi")
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"ivf_append({path}): {id_col}={dup[0][0]} is already "
                    "in the index — a duplicate list row would score the "
                    "same candidate twice per query. Re-ingest means "
                    "rebuild (ivf_retrain_swap), not append; pass "
                    "check_duplicate_ids=False only when ids are disjoint "
                    "by construction."
                )
        assigned = new_vectors.select(id_col, vec_col).withColumn(
            "cell", _cell_assigner(cnorm)(F.col(vec_col))
        )
    except BaseException:
        fs.delete(jpath(claim), False)  # zero mutation: index still valid
        raise
    # same layout discipline as the build: cluster by cell so each cell
    # directory of the SEGMENT gains one contiguous file, not one
    # sliver per shuffle partition.  The segment is a brand-new
    # directory (mode overwrite clears only a dead appender's
    # unpublished staging, which no reader ever resolved); the marker
    # create below is the atomic commit point.
    seg = (segs[-1] if segs else 0) + 1
    sd = _ivf_seg_dir(content, seg)
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{sd}/lists")
    assigned.select(id_col, "cell").repartitionByRange(
        id_col
    ).sortWithinPartitions(id_col).write.mode("overwrite").parquet(f"{sd}/ids")
    claim_marker(
        fs, jpath, _ivf_seg_marker(content, seg), f"ivf_append({path})"
    )
    batch_rows = spark.read.parquet(f"{sd}/ids").count()  # footer-only
    n_total = n_before + batch_rows
    frac = (n_total - n_base) / n_base
    audit = {
        "batch_rows": int(batch_rows),
        "total_rows": int(n_total),
        "segment": seg,
        "n_segments": len(segs) + 1,
        "appended_frac": float(frac),
        "retrain_due": bool(
            frac >= retrain_frac or len(segs) + 1 >= max_segments
        ),
    }
    import pyarrow as pa

    log_table = pa.table(
        {
            "batch_rows": pa.array([audit["batch_rows"]], type=pa.int64()),
            "total_rows": pa.array([audit["total_rows"]], type=pa.int64()),
            "appended_frac": pa.array([audit["appended_frac"]], type=pa.float64()),
            "retrain_due": pa.array([audit["retrain_due"]], type=pa.bool_()),
        }
    )
    # the Spark fallback rows must carry EXACTLY the DDL's four columns
    # (round 14 review: tuple(audit.values()) silently drifted to six
    # values when segment/n_segments joined the audit — the pyarrow
    # branch masked it locally, while any non-local warehouse crashed
    # here AFTER the segment published and BEFORE the claim released,
    # wedging the index)
    _write_small_parquet(
        spark,
        f"{content}/append_log",
        log_table,
        [(
            audit["batch_rows"], audit["total_rows"],
            audit["appended_frac"], audit["retrain_due"],
        )],
        "batch_rows long, total_rows long, appended_frac double, retrain_due boolean",
        append=True,
    )
    # released ONLY on success — see docstring
    fs.delete(jpath(claim), False)
    return audit


def ivf_retrain_swap(
    spark,
    path: str,
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """RETRAIN the coarse quantizer and publish the result as the NEXT
    index generation — the maintenance step ivf_append's retrain_due
    trigger calls for (round 10; generation-versioned round 11):
    md5-seed centroids over the CURRENT corpus, rebuild the inverted
    lists into a hidden ``_g_stage_*__`` sibling inside ``path``, and
    publish it as ``g=N+1`` with ONE rename under the _commit_claim
    marker.  Returns the new generation number.

    Generation semantics: the publish starts a FRESH index generation —
    meta.n_base becomes the retrain-time corpus count and the
    append_log restarts empty (the retrain is the event the old log was
    accumulating toward; the drift counter must reset with the
    quantizer).  The PREVIOUS generation's directory is left intact: a
    reader that resolved it before the swap keeps answering from it,
    bit-identically (pytest-pinned — the r10 snapshot-less-rewrite
    reader race is gone by layout); storage is reclaimed explicitly via
    :func:`ivf_vacuum_generations`, never implicitly.  Writer mutual
    exclusion is still two-sided: this refuses while an append claim
    stands (the delta would land in the outgoing generation and be
    invisible after the pointer flip), and ivf_append refuses while the
    retrain claim stands.  A retrain that fails before the publish
    leaves the old generation fully intact and answering
    (pytest-pinned); the staging directory is underscore-prefixed,
    invisible to Spark file listings and to the generation resolver."""
    from ..sinks import (
        ConcurrentCommitError,
        _commit_claim,
        _hadoop_fs,
        claim_marker,
    )
    import uuid as _uuid

    fs, jpath = _hadoop_fs(spark, path)
    append_claim = _append_claim(path)
    if fs.exists(jpath(append_claim)):
        raise ConcurrentCommitError(
            f"ivf_retrain_swap({path}): append claim {append_claim} is "
            "held — swapping now would lose the in-flight delta. Wait "
            "for the append, or rerun it if its appender is known dead."
        )
    claim = _commit_claim(path)
    claim_marker(fs, jpath, claim, f"ivf_retrain_swap({path})")
    staging = f"{path.rstrip('/')}/_g_stage_{_uuid.uuid4().hex[:8]}__"
    try:
        # close the check-then-act window against a concurrent append:
        # each racer creates its own marker BEFORE re-checking the
        # other's, so if both slipped past the pre-claim check, at
        # least one re-check here or in ivf_append fires — the swap
        # can never silently consume an in-flight delta.
        if fs.exists(jpath(append_claim)):
            raise ConcurrentCommitError(
                f"ivf_retrain_swap({path}): lost the race with an append "
                f"({append_claim} appeared after our claim) — aborting "
                "before the rebuild; retry after the append completes."
            )
        try:
            _ivf_write_content(corpus, staging, n_cells, id_col, vec_col)
        except BaseException:
            fs.delete(jpath(staging), True)
            raise
        return _ivf_publish_generation(spark, path, staging)
    finally:
        # replace_table semantics (NOT the append's success-only rule):
        # a failure before the publish leaves the old generation intact
        # and valid, so holding the claim would wedge a healthy index.
        fs.delete(jpath(claim), False)


def ivf_compact(
    spark,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retrain_frac: float = IVF_RETRAIN_FRAC,
) -> dict:
    """Fold an IVF generation's published append SEGMENTS back into one
    base WITHOUT retraining the quantizer (round 13 — the
    minhash_index_compact pattern for the embedding index): publish
    ``g=N+1`` whose lists/ids are the pure UNION of generation N's base
    + segments, with the CENTROIDS AND META COPIED VERBATIM.  A
    vector's cell depends only on itself and the frozen quantizer (the
    ivf_append exactness argument), so the compacted generation answers
    every probe bit-identically to the wide one — no assignment scan,
    no k-means; the cost is one IO-bound rewrite of the generation's
    rows, cell-clustered so each cell collapses back to one contiguous
    file (the per-probe file count the segment arm of the retrain
    trigger guards).

    What compaction does NOT service: quantizer drift.  ``meta.n_base``
    is copied unchanged, so the appended-fraction arm keeps measuring
    rows beyond the TRAINED basis (``(total - n_base) / n_base``) —
    after compaction, status/appends still report the true drift, and a
    drift-due index still needs :func:`ivf_retrain_swap`.  The new
    generation's append_log is seeded with one carry-over row stating
    that fraction, so a restarted scheduler's
    :func:`ivf_index_attach` descriptor stays honest.

    Claim discipline mirrors ivf_retrain_swap exactly (two-sided
    append/compact mutual exclusion; failure before the publish leaves
    the old generation intact and answering, claim released on every
    exit path).  The source generation stays published for pinned
    readers — reclaim with :func:`ivf_vacuum_generations`."""
    import uuid as _uuid

    from functools import reduce

    from ..sinks import (
        ConcurrentCommitError,
        _commit_claim,
        _hadoop_fs,
        claim_marker,
    )

    fs, jpath = _hadoop_fs(spark, path)
    append_claim = _append_claim(path)
    if fs.exists(jpath(append_claim)):
        raise ConcurrentCommitError(
            f"ivf_compact({path}): append claim {append_claim} is held — "
            "compacting now would orphan the in-flight delta's segment "
            "in the outgoing generation. Wait for the append."
        )
    claim = _commit_claim(path)
    claim_marker(fs, jpath, claim, f"ivf_compact({path})")
    staging = f"{path.rstrip('/')}/_g_stage_{_uuid.uuid4().hex[:8]}__"
    try:
        # close the check-then-act window (the retrain/append race
        # discipline: each racer claims before re-checking the other)
        if fs.exists(jpath(append_claim)):
            raise ConcurrentCommitError(
                f"ivf_compact({path}): lost the race with an append "
                f"({append_claim} appeared after our claim) — aborting "
                "before the rewrite; retry after the append completes."
            )
        gens = _ivf_generations(spark, path)
        content = ivf_resolve(spark, path, gens=gens)
        segs = _ivf_segments(spark, content)
        if not segs:
            raise ValueError(
                f"ivf_compact({path}): the resolved generation has no "
                "published append segments — nothing to compact."
            )
        parts = [content] + [_ivf_seg_dir(content, s) for s in segs]
        try:
            lists = reduce(
                DataFrame.unionByName,
                [
                    spark.read.parquet(f"{p}/lists").select(
                        id_col, vec_col, "cell"
                    )
                    for p in parts
                ],
            )
            lists.repartition("cell").write.mode("overwrite").partitionBy(
                "cell"
            ).parquet(f"{staging}/lists")
            ids = reduce(
                DataFrame.unionByName,
                [
                    spark.read.parquet(f"{p}/ids").select(id_col, "cell")
                    for p in parts
                ],
            )
            ids.repartitionByRange(id_col).sortWithinPartitions(
                id_col
            ).write.mode("overwrite").parquet(f"{staging}/ids")
            # frozen quantizer + sizing basis, VERBATIM (docstring)
            cents = spark.read.parquet(f"{content}/centroids").collect()
            cnorm = np.vstack(
                [
                    np.asarray(r["centroid"], dtype=np.float64)
                    for r in sorted(cents, key=lambda r: r["cell"])
                ]
            )
            _write_centroids(spark, f"{staging}/centroids", cnorm)
            n_base = int(spark.read.parquet(f"{content}/meta").head()["n_base"])
            _write_meta(spark, staging, n_base)
            # carry-over ledger row: the drift the new generation starts
            # with (its segments are gone but their rows are not)
            n_total = spark.read.parquet(f"{staging}/ids").count()
            frac = (n_total - n_base) / n_base if n_base else float("inf")
            import pyarrow as pa

            carry = {
                "batch_rows": 0,
                "total_rows": int(n_total),
                "appended_frac": float(frac),
                "retrain_due": bool(frac >= retrain_frac),
            }
            log_table = pa.table(
                {
                    "batch_rows": pa.array([0], type=pa.int64()),
                    "total_rows": pa.array([carry["total_rows"]], type=pa.int64()),
                    "appended_frac": pa.array(
                        [carry["appended_frac"]], type=pa.float64()
                    ),
                    "retrain_due": pa.array([carry["retrain_due"]], type=pa.bool_()),
                }
            )
            _write_small_parquet(
                spark,
                f"{staging}/append_log",
                log_table,
                [tuple(carry.values())],
                "batch_rows long, total_rows long, appended_frac double, "
                "retrain_due boolean",
            )
        except BaseException:
            fs.delete(jpath(staging), True)
            raise
        gen = _ivf_publish_generation(spark, path, staging)
        return {
            "generation": gen,
            "from_generation": gens[-1],
            "compacted_segments": segs,
            "total_rows": int(n_total),
            "appended_frac": float(frac),
            "retrain_due": carry["retrain_due"],
        }
    finally:
        fs.delete(jpath(claim), False)


def ivf_query_persisted(
    spark,
    path: str,
    query_id: int | None = None,
    top_k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec=None,
    generation: int | None = None,
    as_of_segment: int | None = None,
) -> DataFrame:
    """Query a persisted IVF index: rank cells by the (tiny, collected)
    centroid table, then scan ONLY the nprobe winning cell partitions —
    the `cell IN (...)` filter prunes at partition-directory level, so
    disk reads scale with nprobe/n_cells of the corpus, not the corpus.
    Scoring reuses the exact left-fold cosine of the brute-force path,
    so whenever the probed cells contain the true top-k the result is
    bit-identical to it.

    The query vector arrives one of two ways, NEITHER of which scans
    the corpus (r6 verdict item 3 — the previous by-id fetch paid a
    full-lists scan before the pruned probe):

    - ``query_vec``: the caller already holds the vector (the usual
      production case — it came from the embedding service) and no
      fetch happens at all;
    - ``query_id``: resolved via the build-time id->cell SIDECAR
      (two integers per vector, id-sorted so the equality predicate
      prunes at row-group stats level), then the vector itself is read
      from that ONE cell partition — the fetch is partition-pruned
      exactly like the probe.  Indexes built before the sidecar
      existed raise loudly (rebuild, or pass ``query_vec``).

    Snapshot isolation (round 12, late: now TOTAL): every read binds
    ONCE, up front, to the generation directory :func:`ivf_resolve`
    returns AND to its published append segments (:func:`_ivf_snapshot`
    lists the segment markers exactly once) — a retrain publishing a
    new generation mid-query cannot mix centroids and lists from
    different generations (RETRAINS never write into a published
    directory), and an APPEND landing mid-query is equally invisible
    (appends publish brand-new segment directories; nothing mutates in
    place, so the former materialize-while-quiescent caveat is gone).
    Pass ``generation`` to pin an OLDER published generation instead of
    the newest — index time travel, the read_version counterpart; a
    vacuumed generation raises loudly — and ``as_of_segment`` to pin
    the within-generation append horizon (0 = base only)."""
    content = ivf_resolve(spark, path, generation=generation)
    cents = spark.read.parquet(f"{content}/centroids").collect()
    cmat = np.vstack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in sorted(
            cents, key=lambda r: r["cell"]
        )]
    )
    parts, _segs = _ivf_parts(spark, content, as_of_segment)
    lists = _parts_union(spark, parts, "lists")
    if query_vec is None:
        if query_id is None:
            raise ValueError(
                "ivf_query_persisted: pass query_vec or query_id"
            )
        cell_row = (
            _parts_union(spark, parts, "ids")
            .filter(F.col(id_col) == query_id)
            .head()
        )
        if cell_row is None:
            raise KeyError(
                f"ivf_query_persisted: {id_col}={query_id} not found in "
                f"index {path}"
            )
        qrow = (
            lists.filter(F.col("cell") == int(cell_row["cell"]))
            .filter(F.col(id_col) == query_id)
            .select(vec_col)
            .head()
        )
        if qrow is None:
            raise IOError(
                f"ivf_query_persisted: index {path} is inconsistent — "
                f"ids sidecar maps {id_col}={query_id} to cell "
                f"{int(cell_row['cell'])} but the inverted list has no "
                "such row; rebuild the index"
            )
        query_vec = list(qrow[0])
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = qv / max(np.linalg.norm(qv), 1e-12)
    probe = _probe_cells(cmat, qn, nprobe)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    out = lists.filter(F.col("cell").isin(probe))
    if query_id is not None:
        out = out.filter(F.col(id_col) != query_id)
    return (
        out.select(id_col, cosine_seq(F.col(vec_col), qlit).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(top_k)
    )


def ivf_batch_query_persisted(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    top_k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    generation: int | None = None,
    as_of_segment: int | None = None,
) -> DataFrame:
    """BATCH query a persisted IVF index: the round-9 disk-pruning form
    of the ANN scorer.  ``queries`` is a driver-held list of (qid,
    vector) pairs — bounded (the retrieval batch), like every query-side
    broadcast in this engine.

    Plan shape: cell ranking happens on the DRIVER against the tiny
    collected centroid table (|queries| x n_cells dot products); the
    probe plan — one (qid, cell) row per probe, carrying the query
    vector — broadcasts onto the inverted lists, which are read with a
    `cell IN (union of probed cells)` filter that prunes whole
    partition directories at file-listing time.  Disk bytes therefore
    scale with |probed cells| / n_cells of the corpus, NEVER the
    corpus: the property the persisted index exists for.  Scoring
    reuses the exact left-fold cosine; per-query top-k rides the
    skew-proof two-stage partial pattern (no global window).  Each
    vector lives in exactly one cell, so the cell-equijoin generates
    each (query, candidate) pair at most once — no dedup stage.

    Whenever the probed cells contain a query's true top-k, its result
    rows are bit-identical to the brute-force scorer's (same fold, same
    tie order); gates pin that operating point per corpus.

    Snapshot isolation as in ivf_query_persisted (round 12, late: now
    TOTAL): one up-front resolve pins every read of this query to ONE
    generation directory and its then-published append segments —
    retrains never rewrite published content and appends land as new
    segments invisible to an already-resolved plan, so no
    materialize-while-quiescent caveat remains."""
    content = ivf_resolve(spark, path, generation=generation)
    cents = spark.read.parquet(f"{content}/centroids").collect()
    cmat = np.vstack(
        [
            np.asarray(r["centroid"], dtype=np.float64)
            for r in sorted(cents, key=lambda r: r["cell"])
        ]
    )
    probe_rows = []
    for qid, vec in queries:
        qv = np.asarray(vec, dtype=np.float64)
        qn = qv / max(np.linalg.norm(qv), 1e-12)
        for c in _probe_cells(cmat, qn, nprobe):
            probe_rows.append((int(qid), c, [float(x) for x in vec]))
    probes = spark.createDataFrame(
        probe_rows, "qid long, cell int, _qvec array<double>"
    )
    union_cells = sorted({c for _, c, _ in probe_rows})
    parts, _segs = _ivf_parts(spark, content, as_of_segment)
    lists = _parts_union(spark, parts, "lists")
    scored = (
        lists.filter(F.col("cell").isin(union_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            id_col,
            cosine_seq(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
    )
    item = F.struct(
        (-F.col("cosine")).alias("neg_c"), F.col(id_col).alias(id_col)
    )
    local = (
        scored.withColumn("pid", F.spark_partition_id())
        .groupBy("qid", "pid")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, top_k).alias("top"))
    )
    merged = (
        local.select("qid", F.explode("top").alias("it"))
        .groupBy("qid")
        .agg(F.slice(F.array_sort(F.collect_list("it")), 1, top_k).alias("top"))
    )
    return merged.select("qid", F.explode("top").alias("it")).select(
        "qid",
        F.col(f"it.{id_col}").alias(id_col),
        (-F.col("it.neg_c")).alias("cosine"),
    )


def ivf_index_attach(spark, path: str, id_col: str = "vec_id") -> dict:
    """Recover a persisted IVF index in a FRESH session (the restarted
    nightly driver) — the lsh_index_attach twin for the plain-path IVF
    sidecars (round 11, r10 verdict item 6).  The sidecars are
    directories, not catalog tables, so there are no entries to
    re-create; what a restart DOES need is the validate-and-describe
    step the catalog attaches perform implicitly:

    - refuse while a mutation claim stands (a wedged index must fail
      loudly at attach time, not as a confusing mid-query error);
    - resolve the CURRENT generation and verify all four sidecars are
      present and parse (a half-vacuumed or hand-damaged index names
      the missing piece instead of raising deep inside a query);
    - return the maintenance descriptor the restarted scheduler lost
      with its driver: generation number, n_cells, build-time n_base,
      current total rows, accumulated appended fraction, and whether a
      retrain is already due — read from meta/centroids footers and
      the append_log ledger, no list data scanned.  The descriptor's
      ``generation`` round-trips as a ``generation=`` pin (ADVICE r11).

    After a successful attach, ivf_query_persisted /
    ivf_batch_query_persisted / ivf_append on ``path`` behave exactly
    as they did in the building session (pytest-pinned against a
    simulated restart, mirroring
    test_lsh_index_attach_recovers_catalog_and_result)."""
    from ..sinks import ConcurrentCommitError, _commit_claim, _hadoop_fs

    gens = _ivf_generations(spark, path)  # ONE listing feeds every step
    fs, jpath = _hadoop_fs(spark, path)
    # Attach is the MAINTENANCE entry point, not a hot read: unlike the
    # query paths (safe under a retrain because their resolved
    # generation is immutable), a restarted scheduler needs to learn
    # about a standing retrain claim HERE — a dead retrainer's leaked
    # marker would otherwise surface later as a confusing
    # mid-maintenance ConcurrentCommitError from ivf_append/retrain
    # (r11 review finding: the docstring promised refusal on ANY
    # mutation claim; the code now delivers it).
    # Round 12: hot reads no longer refuse under an APPEND claim
    # (appends are segment-published, invisible until their marker) —
    # but attach still surfaces BOTH mutation claims: the restarted
    # scheduler must learn about a dead writer's wedge HERE, not as a
    # confusing mid-maintenance ConcurrentCommitError later.
    for claim, what in (
        (_commit_claim(path), "retrain-swap"),
        (_append_claim(path), "append"),
    ):
        if fs.exists(jpath(claim)):
            raise ConcurrentCommitError(
                f"ivf_index_attach({path}): {what} claim {claim} is "
                f"held — a {what} is in flight or its writer died "
                "holding the claim. Wait for it, or remove the marker "
                "if the writer is known dead, then re-attach."
            )
    content = ivf_resolve(spark, path, gens=gens)
    segs = _ivf_segments(spark, content)
    missing = [
        side
        for side in ("lists", "ids", "centroids", "meta")
        if not fs.exists(jpath(f"{content}/{side}"))
    ] + [
        f"{IVF_SEG_FMT % s}/{side}"
        for s in segs
        for side in ("lists", "ids")
        if not fs.exists(jpath(f"{_ivf_seg_dir(content, s)}/{side}"))
    ]
    if missing:
        raise IOError(
            f"ivf_index_attach({path}): generation directory {content} "
            f"is missing sidecar(s) {missing} — the index is incomplete "
            "(interrupted build, manual damage, or a wrong path); "
            "rebuild with ivf_build."
        )
    cents = spark.read.parquet(f"{content}/centroids")
    n_cells = cents.count()
    dim_row = cents.select(F.size("centroid").alias("d")).head()
    n_base = int(spark.read.parquet(f"{content}/meta").head()["n_base"])
    _lists, ids_table, _ = _ivf_snapshot(spark, content)
    total_rows = ids_table.count()  # footer-only
    lists_cols = set(spark.read.parquet(f"{content}/lists").columns)
    required = {id_col, "cell"}
    if not required <= lists_cols:
        raise IOError(
            f"ivf_index_attach({path}): lists schema {sorted(lists_cols)} "
            f"lacks {sorted(required - lists_cols)} — wrong id_col or a "
            "foreign parquet directory."
        )
    appended_frac = 0.0
    retrain_due = False
    if fs.exists(jpath(f"{content}/append_log")):
        last = (
            spark.read.parquet(f"{content}/append_log")
            .orderBy(F.desc("total_rows"))
            .head()
        )
        if last is not None:
            appended_frac = float(last["appended_frac"])
            retrain_due = bool(last["retrain_due"])
    return {
        "generation": gens[-1],
        "segments": segs,
        "n_cells": int(n_cells),
        "dim": int(dim_row["d"]),
        "n_base": n_base,
        "total_rows": int(total_rows),
        "appended_frac": appended_frac,
        "retrain_due": retrain_due,
    }
