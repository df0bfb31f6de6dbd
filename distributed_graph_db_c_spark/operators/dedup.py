"""Deduplication operators (SURVEY.md §2.3): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design — the whole point of the LSH family:
- Exact Jaccard is a shingle-explode + self-join: O(pairs sharing a
  shingle).  Correct, and the *oracle* for the approximate paths, but the
  join blows up on a 100 TB corpus.
- MinHash+LSH replaces it with: one pass to build 64-hash signatures
  (map-side, xxhash64 — JVM codegen, no Python), banding into 16 buckets
  of 4, a bucket-equijoin that only pairs up collision candidates, then
  exact verification on the candidate set.  Shuffle volume is
  O(docs x bands), not O(docs^2).
- SimHash gives a 64-bit per-doc sketch; near-dup = small Hamming
  distance, candidate generation via pigeonhole banding (distance <= 3
  guarantees an identical 16-bit quarter).

Everything is DataFrame expressions; xxhash64 keeps hashing deterministic
across runs/partitionings (and is why these have no DuckDB oracle — the
hash isn't reproducible there; tests verify against the exact-Jaccard
oracle instead, tests/test_dedup_similarity.py).
"""

from __future__ import annotations

from functools import cached_property, reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.text import shingles, tokens
from .bucketing import (
    IndexSpec,
    count_and_distinct,
    index_append,
    index_attach,
    index_build,
    index_compact,
    index_status,
    index_target,
    index_vacuum_generations,
)


def exact_dedup(df: DataFrame, cols: list[str], key: str) -> DataFrame:
    """Survivor-key SUMMARY of exact duplicate groups over ``cols``:
    one row per group carrying the group columns, the deterministic
    min-``key`` survivor id, and ``n_copies``.  NOT a full-row
    dropDuplicates replacement — other columns of the surviving row are
    deliberately absent (round 14 review: the previous docstring
    claimed dropDuplicates-equivalent semantics); join the result back
    on ``key`` to recover the survivor's payload, or use
    ``min_by``/a row_number window when the full row is wanted in one
    pass.  What it adds over dropDuplicates: a DETERMINISTIC survivor
    (dropDuplicates keeps an arbitrary row) and the copy count."""
    return df.groupBy(*cols).agg(F.min(key).alias(key), F.count("*").alias("n_copies"))


def shingle_table(docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) exploded distinct k-shingles."""
    return docs.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("shingle")
    )


def jaccard_pairs(
    docs: DataFrame, threshold: float, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join: (doc_a, doc_b, jaccard) with
    jaccard >= threshold, doc_a < doc_b.  The correctness oracle for the
    LSH paths; at scale prefer minhash_dedup_pairs."""
    sh = shingle_table(docs, k, id_col, text_col)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("id").alias("doc_a"), "shingle")
    b = sh.select(F.col("id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, on="doc_a")
        .join(nb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_hash_sets(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, hs array<long>): the doc's distinct k-shingle hashes.  Docs
    with < k tokens vanish: no shingles, Jaccard 0 to everything.

    Shape chosen for codegen, not elegance: a per-doc higher-order
    ``transform(shingles, xxhash64)`` is interpreted per ELEMENT (~10 µs
    each — minutes per billion shingles), so instead each document's
    token array is SLICED into k offset views (``slice`` is codegen),
    ``arrays_zip`` aligns them into k-gram structs, ``explode`` streams
    the grams, and each is hashed MAP-SIDE as the token tuple
    (``xxhash64(t0..tk-1)``, equivalent to hashing the joined string —
    tokens contain no whitespace).  Only then does ``collect_set``
    shuffle: the exchange carries (id, long) pairs, never token strings,
    and no per-doc sort exists anywhere (the previous window-``lead``
    formulation shuffled AND sorted the token stream before hashing —
    ~1.8x slower at sf0.1 and strictly more data in flight)."""
    ns = F.greatest(F.size("_t") - F.lit(k - 1), F.lit(0))
    sliced = docs.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_t")
    ).select(
        "id", *[F.slice("_t", j + 1, ns).alias(f"_t{j}") for j in range(k)]
    )
    grams = sliced.select(
        "id", F.explode(F.arrays_zip(*[f"_t{j}" for j in range(k)])).alias("s")
    )
    return (
        grams.select("id", F.xxhash64(*[f"s._t{j}" for j in range(k)]).alias("h"))
        .groupBy("id")
        .agg(F.collect_set("h").alias("hs"))
    )


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 64,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hs_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<long>): sig[i] = min over shingle hashes x of
    xxhash64(i, x).  Pass ``hs_df`` (a ``shingle_hash_sets`` result, e.g.
    persisted) to share the shingling pass with other consumers.

    Shape: explode the hashed-shingle LONGS (strings are hashed exactly
    once, map-side, in ``shingle_hash_sets``) and take ``num_perm``
    codegen'd min-aggregates — whole-stage codegen beats per-row
    higher-order-function lambdas for the 64-way hash fan-out, and the
    shuffle moves only (id, long) pairs with map-side partial mins."""
    if hs_df is None:
        hs_df = shingle_hash_sets(docs, k, id_col, text_col)
    exploded = hs_df.select("id", F.explode("hs").alias("h"))
    aggs = [F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"h{i}") for i in range(num_perm)]
    sig = exploded.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_perm)]).alias("sig"))


def minhash_band_buckets(sig: DataFrame, bands: int = 16, rows: int = 4) -> DataFrame:
    """(id, band, bucket): bucket = hash of the band's signature slice."""
    out = []
    for b in range(bands):
        cols = [F.element_at("sig", b * rows + j + 1) for j in range(rows)]
        out.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bucket")))
    return sig.select("id", F.explode(F.array(*out)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b) pairs colliding in >= 1 LSH band.  With b=16, r=4 the
    collision curve crosses ~0.5 Jaccard — high recall at 0.8."""
    sig = minhash_signatures(docs, num_perm, k, id_col, text_col)
    bk = minhash_band_buckets(sig, bands, rows)
    a = bk.select(F.col("id").alias("doc_a"), "band", "bucket")
    b = bk.select(F.col("id").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hs_df: DataFrame | None = None,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard — the scalable near-dup
    join: candidate generation O(docs x bands), verification only on
    collisions.

    Verification joins the candidate pairs (small) against the per-doc
    shingle-hash sets and computes |A∩B| with ``array_intersect`` — a
    per-pair array op instead of re-exploding the corpus into a
    (pair, shingle) join.  Jaccard here is over hashed shingles; a 64-bit
    collision between two distinct shingles of the same doc pair is the
    only divergence from string-set Jaccard (probability ~n²/2⁶⁴ — nil)."""
    # One pass computes the shingle-hash sets; persist shares it between
    # signature building and both sides of the verification join (Catalyst
    # does not dedupe repeated subtrees — without this the corpus is
    # re-scanned and re-shingled three times).  A caller running several
    # phases over the SAME docs (the streaming handler: classify, screen,
    # within, append) passes hs_df/sig_df to share ONE shingling/signing
    # pass across all of them — the caller owns that frame's lifecycle.
    owned = hs_df is None
    if owned:
        hs_df = shingle_hash_sets(docs, k, id_col, text_col).persist()
    sig = (
        sig_df
        if sig_df is not None
        else minhash_signatures(docs, k=k, id_col=id_col, text_col=text_col, hs_df=hs_df)
    )
    bk = minhash_band_buckets(sig)
    ca = bk.select(F.col("id").alias("doc_a"), "band", "bucket")
    cb = bk.select(F.col("id").alias("doc_b"), "band", "bucket")
    cand = (
        ca.join(cb, on=["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = hs_df.select(F.col("id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = hs_df.select(F.col("id").alias("doc_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    result = (
        cand.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # Materialize the (small) surviving-pair set, then release the cached
    # shingle sets — otherwise every invocation leaks persisted partitions
    # for the session lifetime (bench loops this query).
    result = result.localCheckpoint(eager=True)
    if owned:
        hs_df.unpersist(blocking=False)
    return result


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash long): 64-bit SimHash over whitespace tokens.  Bit j of
    the sketch = sign of sum over tokens of (+1 if bit j of xxhash64(token)
    else -1).  All codegen expressions: explode, 64 conditional sums, bit
    reassembly."""
    toks = docs.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
    h = F.xxhash64(F.col("tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    per_doc = toks.groupBy("id").agg(*aggs)
    bits = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        bits = term if bits is None else bits.bitwiseXOR(term)
    return per_doc.select("id", bits.alias("simhash"))


def simhash_candidate_pairs(
    docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_a, doc_b, hamming) with hamming <= max_hamming.  Pigeonhole
    banding: distance <= 3 implies one of the four 16-bit quarters matches
    exactly, so candidates come from 4 bucket-equijoins, then the true
    Hamming distance filters."""
    sh = simhash64(docs, id_col, text_col)
    quarters = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright("simhash", q * 16).bitwiseAND(F.lit(0xFFFF)).alias("qv"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("qq"),
    ).select("id", "simhash", F.col("qq.q").alias("q"), F.col("qq.qv").alias("qv"))
    a = quarters.select(F.col("id").alias("doc_a"), F.col("simhash").alias("sh_a"), "q", "qv")
    b = quarters.select(F.col("id").alias("doc_b"), F.col("simhash").alias("sh_b"), "q", "qv")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, on=["q", "qv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    docs: DataFrame, threshold: float, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """EXACT n-gram CONTAINMENT join: (doc_a, doc_b, containment) with
    |shingles(a) ∩ shingles(b)| / min(|a|, |b|) >= threshold, doc_a <
    doc_b.  Containment catches doc-IN-doc duplication (a quote, a
    boilerplate wrapper, a page embedding another) that Jaccard misses:
    a small doc fully contained in a large one has high containment but
    low Jaccard because the union is dominated by the large doc.

    PREFIX-FILTERED set-similarity join (the SSJoin/PPJoin family,
    Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08 — public literature):
    the naive every-shared-shingle equijoin fans out quadratically on hot
    shingles (stopword trigrams collide every doc with every doc — 31 s
    at sf0.1, unbounded at 100 TB).  Instead, order each doc's shingles
    by GLOBAL RARITY (document frequency ascending); if wlog |A| <= |B|
    and C(A,B) >= t then fewer than (1-t)·|A| of A's shingles miss B, so
    by pigeonhole A's first floor((1-t)·|A|)+1 rarest shingles must hit
    B — candidates = prefix(doc) equijoined against ALL shingles, run
    symmetrically so whichever side is smaller generates the pair.  Total
    recall by construction (EXACT, not probabilistic), and the join's
    fan-out rides the rare tail of the shingle DF distribution instead
    of its hot head.  Verification intersects the two docs' hashed
    shingle ARRAYS (codegen array_intersect) only for surviving candidate
    pairs.  Shingles are xxhash64 longs throughout — the exchange never
    carries token strings, and |hashed set| == |string set| absent a
    64-bit collision (the minhash gate's standing argument), so the
    containment values are bit-identical to the string-set oracle."""
    sets = shingle_hash_sets(docs, k, id_col, text_col)
    ex = sets.select("id", F.explode("hs").alias("h"))
    docfreq = ex.groupBy("h").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "h")
    ranked = ex.join(docfreq, on="h").select(
        "id",
        "h",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(Window.partitionBy("id")).alias("n"),
    )
    # prefix = misses+1 = n - ceil(t*n) + 1, computed ceil-side with an
    # epsilon guard (round 14 review): the floor((1-t)*n)+1 form is
    # equal in exact arithmetic but float-poisoned — 1.0-0.9 is
    # 0.09999999999999998, so at t=0.9, n=10 it yielded prefix 1 where
    # the pigeonhole bound needs 2, silently dropping exact-boundary
    # pairs from an operator documented as total-recall.  The 1e-9
    # slack only ever treats t*n sitting within noise of an integer AS
    # that integer, i.e. it can only LENGTHEN the prefix (recall-safe;
    # at most one extra candidate shingle per doc).
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)).cast("int")
        + 1
    )
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        F.col("id").alias("id_p"), "h"
    )
    cand = (
        prefix.join(ex.select(F.col("id").alias("id_f"), "h"), on="h")
        .filter(F.col("id_p") != F.col("id_f"))
        .select(
            F.least("id_p", "id_f").alias("doc_a"),
            F.greatest("id_p", "id_f").alias("doc_b"),
        )
        .distinct()
    )
    sa = sets.select(F.col("id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = sets.select(F.col("id").alias("doc_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        cand.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                inter.cast("double")
                / F.least(F.size("hs_a"), F.size("hs_b")).cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def substring_dup_pairs(
    docs: DataFrame, k: int = 20, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """EXACT k-token substring duplication: (doc_a, doc_b,
    n_shared_windows, frac_milli) for every pair sharing at least one
    exact k-token window — the exact-substring dedup criterion of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022; their suffix-array k=50 criterion, here as the equivalent
    sliding-window-hash formulation).  frac_milli = permille of the
    smaller doc's windows that appear in the other doc.

    Plan: the doc's distinct k-window xxhash64 set (the slice+zip
    shingler at k) exploded and self-equijoined on the hash.  Unlike
    3-gram shingles, k-token windows are almost all globally unique, so
    the equijoin's fan-out IS the duplication signal — no hot-key
    mitigation needed; the exchange carries (id, long).  At 100 TB this
    is the standard map-side-hash + shuffle-on-fingerprint sweep, cost
    linear in total tokens."""
    sets = shingle_hash_sets(docs, k, id_col, text_col)
    sizes = sets.select("id", F.size("hs").alias("n"))
    ex = sets.select("id", F.explode("hs").alias("h"))
    a = ex.select(F.col("id").alias("doc_a"), "h")
    b = ex.select(F.col("id").alias("doc_b"), "h")
    shared = (
        a.join(b, on="h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )
    na = sizes.select(F.col("id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        shared.join(na, on="doc_a")
        .join(nb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_windows",
            F.expr("(1000 * n_shared_windows) DIV least(na, nb)").alias("frac_milli"),
        )
    )


# -- the MinHash band index: cross-snapshot incremental dedup ----------------
#
# A codec over operators/bucketing.py's segmented-index core (build,
# append, compact, status, attach and vacuum live there once).  Per
# generation and per append segment the index holds two bucketed tables:
#
# - ``_shingles`` (id, hs): the shingle-hash sets, bucketed on id — the
#   verification join reads the index side co-located;
# - ``_bands`` (id, bkey): bkey = xxhash64(band, bucket) folds the band
#   id into the bucket hash so the candidate join needs ONE key —
#   bucketed on bkey, the index side of every candidate join is read
#   co-located, zero Exchange.
#
# The build parameters (num_perm, bands, rows, k) are recorded in the
# generation's params sidecar: a batch signed or banded under other
# parameters lives in a different bkey space and would silently match
# nothing, so screens and appends refuse caller parameters that differ
# from the recorded ones.

# Appended-rows / base-rows ratio at which an append recommends a full
# rebuild (or a compaction: signatures are per-document, so a minhash
# index has no frozen sizing to outgrow and compaction services both arms
# of the trigger).  The cost appends add is plan width: every published
# segment widens each incremental read by one co-located probe join.
MINHASH_RETRAIN_FRAC = 0.5

# Segment-COUNT half of the trigger (the 1000x reflection): a year of
# tiny nightly appends could stay under the row-fraction trigger forever
# while growing the per-read plan to hundreds of probe joins.
MINHASH_MAX_SEGMENTS = 16


def _band_keys(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    return minhash_band_buckets(sig, bands, rows).select(
        "id", F.xxhash64(F.col("band"), F.col("bucket")).alias("bkey")
    )


class MinhashDelta:
    """A document batch shingled and signed ONCE under a snapshot's
    recorded parameters, shared by every phase of a micro-batch (the
    classify, screen and append; the within-batch pass can take ``hs``
    and ``sig`` too).  The frames are persisted on first use and freed
    by :meth:`release`.  ``rows`` counts INDEXABLE documents — those
    with >= k tokens; a shorter one has no shingles, never enters the
    index and matches nothing, exactly as in the one-shot operators."""

    def __init__(
        self, snapshot, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ):
        self.snapshot, self.params = snapshot, snapshot.params
        self.docs, self.id_col, self.text_col = docs, id_col, text_col

    @cached_property
    def hs(self) -> DataFrame:
        return shingle_hash_sets(
            self.docs, self.params["k"], self.id_col, self.text_col
        ).persist()

    @cached_property
    def sig(self) -> DataFrame:
        p = self.params
        return minhash_signatures(
            self.docs, p["num_perm"], p["k"], self.id_col, self.text_col, hs_df=self.hs
        ).persist()

    @cached_property
    def rows(self) -> int:
        return self.hs.count()

    @property
    def ids(self) -> DataFrame:
        return self.hs.select("id")

    def validate(self, what: str) -> None:
        # on the RAW batch, before shingling: shingle_hash_sets groups by
        # id, so two rows sharing an id would silently MERGE their texts
        # into one indexed document
        n_input, n_ids = count_and_distinct(self.docs, self.id_col)
        if n_ids != n_input:
            raise ValueError(
                f"{what}: delta batch has {n_input - n_ids} internally "
                f"duplicated {self.id_col} value(s) — ids must be unique "
                "(shingling would merge their texts into one indexed document)"
            )

    def tables(self) -> dict[str, DataFrame]:
        return {
            "_shingles": self.hs,
            "_bands": _band_keys(self.sig, self.params["bands"], self.params["rows"]),
        }

    def release(self) -> None:
        for name in ("sig", "hs"):
            if name in self.__dict__:
                self.__dict__[name].unpersist(blocking=False)


MINHASH_INDEX = IndexSpec(
    "minhash",
    (
        ("_shingles", "id bigint, hs array<bigint>", "id"),
        ("_bands", "id bigint, bkey bigint", "bkey"),
    ),
    MinhashDelta,
)


def _check_params(snap, what: str, num_perm: int, bands: int, rows: int, k: int) -> None:
    got = {"num_perm": num_perm, "bands": bands, "rows": rows, "k": k}
    if {key: int(v) for key, v in snap.params.items()} != got:
        raise ValueError(
            f"{what}: caller parameters {got} contradict the index's "
            f"recorded build parameters {snap.params} — the band-bucket "
            "keys live in a different space, so every probe join would "
            "silently return zero candidates (or an append would publish "
            "a segment keyed in a foreign space); pass the recorded "
            "parameters"
        )


def minhash_index_build(
    docs: DataFrame,
    table_prefix: str,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hs_df: DataFrame | None = None,
    sig_df: DataFrame | None = None,
) -> int:
    """Persist a MinHash dedup INDEX for a corpus snapshot as the next
    published GENERATION (returned), so later batches dedup against it
    at DELTA cost — the nightly production run: "which of tonight's
    documents already exist in the 100 TB corpus?".  Build cost is the
    corpus's one shingling pass + two bucketed writes; a rebuild writes
    brand-new tables and never touches the generation a concurrent
    reader resolved (see bucketing.index_build for the claim and
    publish discipline).

    ``hs_df``/``sig_df`` share one shingling/signing pass when the
    caller runs several phases over the same corpus under these
    parameters (minhash_dedup_pairs has the full note); the caller owns
    a provided frame's lifecycle.  The 64-bit band-fold collision
    argument is the minhash gates' standing one (~pairs^2/2^64 — nil)."""
    owned = hs_df is None
    hs = shingle_hash_sets(docs, k, id_col, text_col).persist() if owned else hs_df
    sig = (
        sig_df
        if sig_df is not None
        else minhash_signatures(docs, num_perm, k, id_col, text_col, hs_df=hs)
    )
    try:
        return index_build(
            docs.sparkSession,
            MINHASH_INDEX,
            table_prefix,
            {"_shingles": hs, "_bands": _band_keys(sig, bands, rows)},
            {"num_perm": num_perm, "bands": bands, "rows": rows, "k": k},
            f"minhash_index_build({table_prefix})",
        )
    finally:
        if owned:
            hs.unpersist()


def minhash_index_append(
    new_docs,
    table_prefix: str,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    retrain_frac: float = MINHASH_RETRAIN_FRAC,
    max_segments: int = MINHASH_MAX_SEGMENTS,
    check_duplicate_ids: bool = True,
) -> dict:
    """INCREMENTAL maintenance: shingle + sign ONLY the delta batch and
    publish it as the newest generation's next immutable append SEGMENT
    (bucketing.index_append).  ``new_docs`` is a document frame or a
    :class:`MinhashDelta` an open snapshot made — the streaming
    handler's one shingling pass per micro-batch; an append through a
    snapshot refuses if a newer generation was published since.

    A signature depends only on its own document, so base ∪ segments
    indexes EXACTLY what one build over the union would (pytest-pinned),
    and an in-flight append is invisible until its marker lands.  Every
    segment adds one probe join to each later read, so the returned
    audit carries the two-sided REBUILD TRIGGER: appended_rows /
    base_rows >= ``retrain_frac`` OR n_segments >= ``max_segments``
    flips ``retrain_due`` (service it with :func:`minhash_index_compact`
    or a rebuild).  ``batch_rows`` and the counts it accumulates into
    are INDEXABLE documents (see MinhashDelta).

    Append means NEW ids: a re-ingested id would collide with its
    indexed copy in every future candidate join, so the delta is checked
    against the index (``check_duplicate_ids``) and for internal
    duplicates; replacing a document is a rebuild."""
    what = f"minhash_index_append({table_prefix})"
    snap, d = index_target(
        MINHASH_INDEX, new_docs, table_prefix, id_col=id_col, text_col=text_col
    )
    _check_params(snap, what, num_perm, bands, rows, k)
    try:
        return index_append(snap, d, what, check_duplicate_ids, retrain_frac, max_segments)
    finally:
        if d is not new_docs:
            d.release()


def minhash_index_compact(spark, table_prefix: str) -> dict:
    """Fold the newest generation's append SEGMENTS back into one base
    WITHOUT re-shingling (bucketing.index_compact): signatures are
    per-document, so the compacted generation indexes bit-identically
    what the wide one did, at the cost of one IO-bound rewrite of two
    slim tables — and since a minhash index has no frozen sizing to
    outgrow, compaction services BOTH arms of the rebuild trigger.  The
    source generation stays published for pinned readers; reclaim it
    with :func:`minhash_index_vacuum`."""
    return index_compact(
        spark, MINHASH_INDEX, table_prefix, f"minhash_index_compact({table_prefix})"
    )


def minhash_index_status(
    spark,
    table_prefix: str,
    retrain_frac: float = MINHASH_RETRAIN_FRAC,
    max_segments: int = MINHASH_MAX_SEGMENTS,
) -> dict:
    """The append/rebuild maintenance ledger of a persisted minhash
    index, recomputed FROM DISK so a restarted nightly driver needs no
    state: newest generation, its published segments, base/appended row
    counts, and whether the trigger (see :func:`minhash_index_append`)
    has fired."""
    return index_status(spark, MINHASH_INDEX, table_prefix, retrain_frac, max_segments)


def incremental_dedup_pairs(
    new_docs,
    table_prefix: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
    generation: int | None = None,
    as_of_segment: int | None = None,
) -> DataFrame:
    """(old_id, new_id, jaccard) pairs between a NEW batch and the
    indexed corpus snapshot, at Jaccard >= ``threshold``.  ``new_docs``
    is a document frame or a :class:`MinhashDelta` an open snapshot made
    (one shingling pass shared across a micro-batch's phases).

    Exactly equivalent to running :func:`minhash_dedup_pairs` over
    old ∪ new and keeping the cross pairs (pytest-pinned set equality):
    a document's signature — hence its band buckets — depends only on
    its own text, so the candidate collision set decomposes exactly,
    and verification re-scores with the same array_intersect Jaccard
    over the same shingle sets.

    Scale shape: the batch shingles/signs itself (delta-sized), the
    candidate join shuffles ONLY the batch's (id, bkey) rows into each
    index part's bucket layout (no Exchange on the corpus side), and
    verification joins the slim candidate ids against the bucketed
    shingle store the same way.  Re-ingested identical ids are excluded
    (old_id != new_id).

    The read binds to ONE snapshot (bucketing.index_open): the newest
    published generation or an explicit ``generation`` pin, and its
    published append segments — all of them, or up to ``as_of_segment``
    (0 = base only).  Published tables are immutable, so a rebuild,
    append or compaction racing this read cannot change what it
    scans."""
    snap, d = index_target(
        MINHASH_INDEX, new_docs, table_prefix, generation, as_of_segment,
        id_col=id_col, text_col=text_col,
    )
    _check_params(snap, f"incremental_dedup_pairs({table_prefix})", num_perm, bands, rows, k)
    nb = _band_keys(d.sig, bands, rows).select(F.col("id").alias("new_id"), "bkey")
    # one co-located probe join PER PART (a part's ids are disjoint from
    # every other's by the append-time duplicate check, so the unions
    # are exact): only the delta-sized sides shuffle, once per part
    cand = reduce(
        DataFrame.unionByName,
        [
            nb.join(t.select(F.col("id").alias("old_id"), "bkey"), "bkey")
            for t in snap.tables("_bands")
        ],
    )
    cand = (
        cand.filter(F.col("old_id") != F.col("new_id"))
        .select("old_id", "new_id")
        .distinct()
    )
    # Persist the (delta-sized, slim) candidate set when the snapshot is
    # WIDE: the per-part verification union references it once per part
    # and Catalyst does not dedupe repeated subtrees — uncached, P parts
    # cost P^2 bands scans (289 at the 16-segment trigger ceiling).  At
    # 1-2 parts the materialization barrier costs more than AQE's
    # exchange reuse leaves on the table (measured +3.5 s, zero win).
    cache_cand = len(snap.parts) > 2
    if cache_cand:
        cand = cand.persist()
    inter = F.size(F.array_intersect("hs_old", "hs_new"))
    union = F.size("hs_old") + F.size("hs_new") - inter
    verified = reduce(
        DataFrame.unionByName,
        [
            cand.join(
                t.select(F.col("id").alias("old_id"), F.col("hs").alias("hs_old")),
                "old_id",
            )
            for t in snap.tables("_shingles")
        ],
    )
    result = (
        verified.join(
            d.hs.select(F.col("id").alias("new_id"), F.col("hs").alias("hs_new")),
            "new_id",
        )
        .select(
            "old_id",
            "new_id",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # Materialize the (small) surviving-pair set eagerly, then release
    # the caches this call made — a nightly loop must not accumulate one
    # cached delta per run.  ``materialize=False`` returns the lazy plan
    # (caches held) for plan inspection.
    if materialize:
        result = result.localCheckpoint(eager=True)
        if cache_cand:
            cand.unpersist(blocking=False)
        if d is not new_docs:
            d.release()
    return result


def minhash_index_attach(spark, table_prefix: str, generation: int | None = None) -> int:
    """Recover a persisted minhash index's catalog entries (base and
    published segments) in a FRESH session — the restarted nightly
    driver — so :func:`incremental_dedup_pairs` keeps its
    zero-index-shuffle plan; returns the attached generation (newest, or
    the ``generation`` pin).  Catalog metadata only."""
    return index_attach(spark, MINHASH_INDEX, table_prefix, generation)


def minhash_index_vacuum(spark, table_prefix: str, keep_last: int = 1) -> list[int]:
    """Delete all but the newest ``keep_last`` published generations of
    a minhash index (marker first, then tables + files); returns the
    removed generation numbers.  The ONLY destroyer of a published
    generation — a reader still pinned to one fails loudly on its next
    scan, never silently reads a different snapshot."""
    return index_vacuum_generations(spark, table_prefix, MINHASH_INDEX.suffixes, keep_last)
