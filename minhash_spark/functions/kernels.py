"""Vectorized numpy hashing kernels — the batched (Arrow) counterpart of the
serial oracle. Same arithmetic as /root/reference/src/utils/hash.c:6-25 and
the min-update of src/utils/utils.c:3-33, but computed as one
(n_shingles × sketch_size) matrix per chunk with ``np.minimum.reduceat``
per-document reduction, instead of per-element loops. Differential tests in
tests/test_kernels.py require cell-for-cell equality with oracle.py — the
same invariant the reference demands of its parallel variants vs serial
(/root/reference/test/test_parallel_lock.c:47-57).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from ..config import INFTY, SIG_INFTY_INT, SIG_INFTY_LONG, HASH_KWISE, MinHashConfig

_U64 = np.uint64


def hash_matrix(
    x: np.ndarray, coeffs: tuple[np.ndarray, ...], hash_type: int, M: int
) -> np.ndarray:
    """Hash every element by every function: uint64[n] → uint64[n, size],
    the transposed view of a C-contiguous (size, n) matrix, so that each
    function's values over the n elements are contiguous (min_sketch_batch
    reduces along them).

    Pairwise: ``((a * x) % M + b) % M`` where ``a * x`` wraps mod 2^64 first,
    exactly like the C uint64 arithmetic (src/utils/hash.c:6-9) — computed
    in place so the working set stays one (n × size) matrix (callers keep n
    small enough for it to be cache-resident; see min_sketch_batch).
    K-wise: degree-k polynomial accumulated mod M per step with the same
    wrap-before-mod order as src/utils/hash.c:13-25.

    For the Mersenne prime M = 2^31 - 1 (the default and every reference
    config) no `% M` divides: 2^31 ≡ 1 (mod M), so ``(h >> 31) + (h & M)``
    keeps h's residue and shrinks any uint64 below 2^33 + 2^31 (`_fold`),
    and a second fold or one conditional subtract finishes the reduction.
    Any other M takes the uint64 division.
    """
    x = np.ascontiguousarray(x, dtype=np.uint64)
    mersenne = M == (1 << 31) - 1
    M = _U64(M)
    with np.errstate(over="ignore"):
        if hash_type == HASH_KWISE:
            (C,) = coeffs  # (size, k+1) uint64, each < 2^31
            n, size = x.shape[0], C.shape[0]
            total = np.zeros((size, n), dtype=np.uint64)
            pow_x = np.ones(n, dtype=np.uint64)
            for i in range(C.shape[1]):
                # pow_x ≤ M and C < 2^31, so the product is < 2^62 and
                # does not wrap; one fold leaves it < 2^32
                term = C[:, i, None] * pow_x[None, :]
                if mersenne:
                    _fold(term)
                    total += term  # < 2^32 + 2^31
                    _fold(total)  # ≤ M + 2
                else:
                    term %= M
                    total += term  # < 2M
                _sub_if_ge(total, M)
                # pow_x · x wraps mod 2^64 first, as in the C
                pow_x = pow_x * x
                if mersenne:
                    _fold(pow_x)
                    _fold(pow_x)  # ≤ M + 4
                    _sub_if_ge(pow_x, M)
                else:
                    pow_x %= M
            return total.T
        a, b = coeffs
        h = a[:, None] * x[None, :]
        if mersenne:
            _fold(h)  # < 2^33 + 2^31
            h += b[:, None]  # b < 2^31
            _fold(h)  # ≤ M + 5
            _sub_if_ge(h, M)
        else:
            h %= M
            h += b[:, None]
            h %= M
        return h.T


def _fold(h: np.ndarray) -> None:
    """In place h ← (h >> 31) + (h & (2^31 - 1)): the same residue mod the
    Mersenne prime 2^31 - 1, and < 2^33 + 2^31 for any uint64 h."""
    t = h >> _U64(31)
    h &= _U64((1 << 31) - 1)
    h += t


def _sub_if_ge(h: np.ndarray, M: np.uint64) -> None:
    """In place h ← h - M where h ≥ M: `h %= M` for h < 2M."""
    np.subtract(h, M, out=h, where=h >= M)


def min_sketch_batch(
    shingle_sets: Sequence[np.ndarray],
    cfg: MinHashConfig,
    coeffs: tuple[np.ndarray, ...] | None = None,
    chunk_elems: int = 1 << 10,
) -> np.ndarray:
    """MinHash sketches for a batch of documents → uint64[n_docs, size].

    Concatenates all documents' shingle ids, hashes them in bounded chunks
    (≤ chunk_elems × size × 8 bytes of temporary — the default keeps each
    worker's working set ~1 MB so 32 concurrent executor cores don't thrash
    the shared L3: measured best at both 8 and 32 procs, ~6× over
    DRAM-sized chunks), and reduces per-document minima with
    ``np.minimum.reduceat``. Empty documents stay all-INFTY
    (init_empty_values, src/configuration/configuration.c:143-148). Documents
    larger than a chunk are folded across chunks — min is associative and
    commutative (the same algebra that makes the reference's merge and
    Spark's partial aggregation correct, src/utils/utils.c:36-46).
    """
    if coeffs is None:
        coeffs = cfg.coefficients()
    n_docs = len(shingle_sets)
    size = cfg.sketch_size
    out = np.full((n_docs, size), INFTY, dtype=np.uint64)

    nonempty = [i for i, s in enumerate(shingle_sets) if len(s) > 0]
    if not nonempty:
        return out
    orig_idx = np.array(nonempty, dtype=np.int64)
    lengths = np.array([len(shingle_sets[i]) for i in nonempty], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lengths)])[:-1]
    X = np.concatenate([np.asarray(shingle_sets[i], dtype=np.uint64) for i in nonempty])

    # the docs each chunk of X spans: first[c] ..= last[c]
    pos = np.arange(0, X.shape[0], chunk_elems)
    end = np.minimum(pos + chunk_elems, X.shape[0])
    first = np.searchsorted(starts, pos, side="right") - 1
    # the doc containing the chunk's LAST element (end-1, not end: a doc
    # starting exactly at `end` belongs to the next chunk)
    last = np.searchsorted(starts, end - 1, side="right") - 1
    for p, e, f, l in zip(pos.tolist(), end.tolist(), first.tolist(), last.tolist()):
        # (size, chunk), C-contiguous: the reductions run along the last
        # axis, where np.minimum.reduceat is ~8x faster than along the first
        H = hash_matrix(X[p:e], coeffs, cfg.hash_type, cfg.prime_modulus).T
        if f == l:
            # one doc: a plain min, which also releases the GIL that
            # reduceat holds (driver threads share it)
            row = out[orig_idx[f]]
            np.minimum(row, H.min(axis=1), out=row)
        else:
            seg_starts = np.maximum(starts[f : l + 1], p) - p
            docs = orig_idx[f : l + 1]
            out[docs] = np.minimum(out[docs], np.minimum.reduceat(H, seg_starts, axis=1).T)
    return out


def sketch_to_long(sketches: np.ndarray) -> np.ndarray:
    """uint64 sketches → int64, the domain of the oracle's (pos, value)
    signature cells. Real values are < prime_modulus = 2^31-1 so they fit
    unchanged; INFTY maps to SIG_INFTY_LONG (2^63-1) so min merges keep min
    order."""
    out = sketches.copy()
    out[out == INFTY] = _U64(SIG_INFTY_LONG)
    return out.astype(np.int64)


def sketch_to_int(sketches: np.ndarray) -> np.ndarray:
    """uint64 sketches → int32, the packed signature's cells. Real values are
    < prime_modulus = 2^31-1 so they fit exactly; INFTY maps to SIG_INFTY_INT
    (int32 max — never a real value) so min merges keep min order."""
    out = sketches.copy()
    out[out == INFTY] = _U64(SIG_INFTY_INT)
    return out.astype(np.int32)


def long_to_sketch(longs: np.ndarray) -> np.ndarray:
    """Inverse of sketch_to_long (for oracle comparison in tests)."""
    out = np.asarray(longs, dtype=np.int64).astype(np.uint64)
    out[out == _U64(SIG_INFTY_LONG)] = INFTY
    return out
