"""Seeded input generators and the NumPy ground truth.

Everything the engine receives is generated here from the run's seed
with NumPy's PCG64 generator; the engine never sees the seed itself.

- Vectors are 64-D with low intrinsic rank: rows live on a random
  16-D subspace plus 1% isotropic noise, the realistic embedding
  geometry (the ``rank=r`` corpus of ``bench_scale.py``).
- Every vector carries a ``tag int`` metadata column, uniform in
  [0, 100), so ``tag < 10`` keeps about a tenth of the store.
- Documents are bags of ``w<k>`` words over a fixed vocabulary. Every
  tenth document is a planted near-duplicate of its predecessor with a
  few words replaced, so the similarity join has pairs it must find.
"""

from __future__ import annotations

import numpy as np

DIM = 64
RANK = 16
TAG_VALUES = 100
DOC_WORDS = 80
VOCAB = 5000
# a planted near-duplicate replaces every REPLACE_STRIDE-th word of its
# predecessor: 3 of 80 words, 3-word-shingle Jaccard about 0.79
REPLACE_STRIDE = 27
NEARDUP_JACCARD = 0.7


class Corpus:
    """A seeded source of vectors, queries and documents."""

    def __init__(self, seed: int):
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.basis = self.rng.standard_normal((RANK, DIM)) / np.sqrt(RANK)

    def vectors(self, n: int) -> np.ndarray:
        """(n, DIM) float32 rows; the store keeps them as array<float>."""
        z = self.rng.standard_normal((n, RANK))
        noise = 0.01 * self.rng.standard_normal((n, DIM))
        return (z @ self.basis + noise).astype(np.float32)

    def queries(self, n: int) -> np.ndarray:
        """(n, DIM) float64 query vectors from the corpus distribution."""
        return self.vectors(n).astype(np.float64)

    def tags(self, n: int) -> np.ndarray:
        return self.rng.integers(0, TAG_VALUES, size=n).astype(np.int32)

    def words(self, n: int, n_words: int) -> np.ndarray:
        return self.rng.integers(0, VOCAB, size=(n, n_words))

    def terms(self, n_terms: int) -> list[str]:
        return [f"w{w}" for w in self.rng.integers(0, VOCAB, size=n_terms)]

    def documents(self, n: int) -> tuple[list[str], list[tuple[int, int]]]:
        """``n`` texts (doc_id = position) and the planted (a, b) pairs."""
        words = self.words(n, DOC_WORDS)
        planted = []
        for i in range(9, n, 10):
            words[i] = words[i - 1]
            words[i, ::REPLACE_STRIDE] = self.rng.integers(
                0, VOCAB, size=len(words[i, ::REPLACE_STRIDE])
            )
            planted.append((i - 1, i))
        return [texts_of(row) for row in words], planted


def texts_of(row) -> str:
    return " ".join(f"w{w}" for w in row)


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    """Exact Jaccard of the distinct n-word shingle sets of two texts."""

    def sh(t):
        w = t.split()
        return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


class Truth:
    """Brute-force squared-L2 search over the stored rows, in NumPy.

    Row ``i`` of ``X`` is the vector with id ``i`` (every workload
    assigns ids that way). Distances are float64 over the float32
    stored values, exactly as the engine casts them; ties break by id.
    """

    def __init__(self, X: np.ndarray):
        self.X = X.astype(np.float64)
        self.norms = np.einsum("ij,ij->i", self.X, self.X)

    def dist(self, q: np.ndarray, ids) -> np.ndarray:
        return ((self.X[np.asarray(ids, dtype=np.int64)] - q) ** 2).sum(axis=1)

    def topk(self, Q: np.ndarray, k: int, mask=None, chunk: int = 32) -> list:
        """(ids, dists) of the k nearest rows for each query of ``Q``
        (one vector or a batch), among rows where ``mask`` is true."""
        out = []
        Q = np.atleast_2d(Q)
        for s in range(0, len(Q), chunk):
            q = Q[s : s + chunk]
            d = self.norms[None, :] - 2.0 * (q @ self.X.T)
            if mask is not None:
                d[:, ~mask] = np.inf
            take = np.argpartition(d, 4 * k, axis=1)[:, : 4 * k]
            for qi, t, row in zip(q, take, d):
                t = t[np.isfinite(row[t])]
                # rank the shortlist on the direct difference: the norm
                # identity loses precision near zero, the difference not
                dd = self.dist(qi, t)
                order = np.lexsort((t, dd))[:k]
                out.append((t[order], dd[order]))
        return out

    def same(self, q: np.ndarray, got_ids, want_ids, want_d) -> bool:
        """Id-exact match, allowing a swap only inside a floating-point
        tie: every returned id must lie at the expected distance (to
        1e-9 relative) of its rank."""
        got_ids = np.asarray(got_ids, dtype=np.int64)
        if len(got_ids) != len(want_ids) or len(set(got_ids)) != len(got_ids):
            return False
        if np.array_equal(got_ids, want_ids):
            return True
        tol = 1e-9 * np.maximum(1.0, np.abs(want_d))
        return bool(np.all(np.abs(self.dist(q, got_ids) - want_d) <= tol))


def recall(got_ids, want_ids) -> float:
    want = set(int(i) for i in want_ids)
    return len(want & set(int(i) for i in got_ids)) / max(len(want), 1)
