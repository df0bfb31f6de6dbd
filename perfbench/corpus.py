"""Inputs for the ``index_ingest`` workload, and the exact oracles its
answers are checked against.

Documents and embeddings come from the seed alone.  A share of them are
planted near-duplicates of earlier rows, so the indexes have pairs to
find; the rest are independent.  The oracles compare every pair exactly:
word 3-shingle Jaccard for documents (the engine's tokenization:
lower-cased whitespace tokens) and cosine for embeddings.
"""

from __future__ import annotations

import random
from itertools import combinations

import numpy as np

TEXT_THRESHOLD = 0.8  # continuous_index_dedup default
VEC_THRESHOLD = 0.45  # continuous_embedding_dedup default
DIM = 64
SHINGLE_K = 3
COSINE_TOL = 1e-4  # float32 engine arithmetic vs the float64 oracle

PROBE_ID_BASE = 1_000_000  # held-out probe rows never share ids with ingested rows


def shingle_set(text: str, k: int = SHINGLE_K) -> frozenset[tuple[str, ...]]:
    t = text.lower().split()
    return frozenset(tuple(t[i : i + k]) for i in range(len(t) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


class Corpus:
    """Seeded documents and embeddings, split into a bootstrap batch, a
    sequence of ingest micro-batches and held-out probe batches.

    Row ids follow arrival order, so the batch that discovered a pair is
    the batch holding its larger id.
    """

    def __init__(self, seed: int, boot: int, batch: int, n_batches: int, probe: int):
        self.boot, self.batch, self.n_batches, self.probe = boot, batch, n_batches, probe
        rng = random.Random(f"corpus:{seed}")
        nrng = np.random.default_rng(rng.getrandbits(64))
        n = boot + batch * n_batches
        vocab = [f"w{i}" for i in range(3000)]

        def fresh_doc() -> str:
            return " ".join(rng.choice(vocab) for _ in range(rng.randint(30, 50)))

        def near_doc(text: str) -> str:
            toks = text.split()
            for _ in range(rng.choice((0, 1, 1, 2))):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            return " ".join(toks)

        def fresh_vec() -> np.ndarray:
            return nrng.standard_normal(DIM)

        def near_vec(v: np.ndarray) -> np.ndarray:
            return v + nrng.normal(0.0, rng.uniform(0.1, 0.6), DIM) * np.linalg.norm(v) / np.sqrt(DIM)

        self.docs: list[str] = []
        vecs: list[np.ndarray] = []
        for i in range(n):
            dup = i > 0 and rng.random() < 0.25
            self.docs.append(near_doc(self.docs[rng.randrange(i)]) if dup else fresh_doc())
            dup = i > 0 and rng.random() < 0.25
            vecs.append(near_vec(vecs[rng.randrange(i)]) if dup else fresh_vec())
        self.vecs = np.asarray(vecs, dtype=np.float32)

        # each probe batch: half near-copies of rows ingested before it, half fresh
        self.probe_docs: list[list[str]] = []
        self.probe_vecs: list[np.ndarray] = []
        for b in range(n_batches):
            seen = self.ingested(b + 1)
            pd, pv = [], []
            for _ in range(probe):
                if rng.random() < 0.5:
                    j = rng.randrange(seen)
                    pd.append(near_doc(self.docs[j]))
                    pv.append(near_vec(self.vecs[j].astype(np.float64)))
                else:
                    pd.append(fresh_doc())
                    pv.append(fresh_vec())
            self.probe_docs.append(pd)
            self.probe_vecs.append(np.asarray(pv, dtype=np.float32))

    def ingested(self, n_batches_done: int) -> int:
        """Rows in the index after the bootstrap and ``n_batches_done`` appends."""
        return self.boot + self.batch * n_batches_done

    def batch_range(self, b: int) -> range:
        """Row ids of ingest batch ``b`` (0 is the bootstrap)."""
        if b == 0:
            return range(0, self.boot)
        lo = self.ingested(b - 1)
        return range(lo, lo + self.batch)

    def batch_of(self, row_id: int) -> int:
        return 0 if row_id < self.boot else (row_id - self.boot) // self.batch + 1

    def doc_rows(self, ids) -> list[tuple[int, str]]:
        return [(i, self.docs[i]) for i in ids]

    def vec_rows(self, ids) -> list[tuple[int, list[float], int]]:
        return [(i, self.vecs[i].tolist(), 0) for i in ids]

    def probe_doc_rows(self, b: int) -> list[tuple[int, str]]:
        base = PROBE_ID_BASE + b * self.probe
        return [(base + j, t) for j, t in enumerate(self.probe_docs[b])]

    def probe_vec_rows(self, b: int) -> list[tuple[int, list[float], int]]:
        base = PROBE_ID_BASE + b * self.probe
        return [(base + j, v.tolist(), 0) for j, v in enumerate(self.probe_vecs[b])]

    # -- exact oracles -------------------------------------------------

    def text_pairs(self, n_rows: int) -> dict[tuple[int, int], float]:
        """Every pair among rows [0, n_rows) at Jaccard >= TEXT_THRESHOLD."""
        return _text_pairs({i: shingle_set(self.docs[i]) for i in range(n_rows)})

    def text_probe_pairs(self, b: int, n_rows: int) -> dict[tuple[int, int], float]:
        """Pairs between probe batch ``b`` and rows [0, n_rows)."""
        sets = {i: shingle_set(self.docs[i]) for i in range(n_rows)}
        probe = {i: shingle_set(t) for i, t in self.probe_doc_rows(b)}
        return {
            p: j for p, j in _text_pairs({**sets, **probe}).items()
            if (p[0] in probe) != (p[1] in probe)
        }

    def vec_pairs(self, n_rows: int) -> dict[tuple[int, int], float]:
        """Every pair among rows [0, n_rows) at cosine >= VEC_THRESHOLD - tol."""
        return _vec_pairs(np.arange(n_rows), self.vecs[:n_rows])

    def vec_probe_pairs(self, b: int, n_rows: int) -> dict[tuple[int, int], float]:
        ids = np.concatenate([np.arange(n_rows), PROBE_ID_BASE + b * self.probe + np.arange(self.probe)])
        pairs = _vec_pairs(ids, np.concatenate([self.vecs[:n_rows], self.probe_vecs[b]]))
        return {p: c for p, c in pairs.items() if (p[0] >= PROBE_ID_BASE) != (p[1] >= PROBE_ID_BASE)}


def _text_pairs(sets: dict[int, frozenset]) -> dict[tuple[int, int], float]:
    by_shingle: dict[tuple, list[int]] = {}
    for i, s in sets.items():
        for sh in s:
            by_shingle.setdefault(sh, []).append(i)
    cand = {(min(a, b), max(a, b)) for ids in by_shingle.values() for a, b in combinations(ids, 2)}
    out = {}
    for a, b in cand:
        j = jaccard(sets[a], sets[b])
        if j >= TEXT_THRESHOLD:
            out[(a, b)] = j
    return out


def _vec_pairs(ids: np.ndarray, vecs: np.ndarray) -> dict[tuple[int, int], float]:
    x = vecs.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    cos = x @ x.T
    ia, ib = np.nonzero(np.triu(cos >= VEC_THRESHOLD - COSINE_TOL, k=1))
    return {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b]))): float(cos[a, b])
        for a, b in zip(ia, ib)
    }


def score_pairs(
    got: set[tuple[int, int]], want: dict[tuple[int, int], float], strict_floor: float
) -> tuple[set[tuple[int, int]], int, int]:
    """(wrong pairs, true pairs found, oracle pairs) for a returned pair set.

    ``want`` holds every pair within tolerance of the threshold, so a
    returned pair is wrong only if it is not in ``want``; recall counts
    only the oracle pairs at or above ``strict_floor``.
    """
    wrong = got - want.keys()
    strict = {p for p, s in want.items() if s >= strict_floor}
    return wrong, len(got & strict), len(strict)
