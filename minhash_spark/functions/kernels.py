"""Vectorized numpy hashing kernels — the batched (Arrow) counterpart of the
serial oracle. Same arithmetic as /root/reference/src/utils/hash.c:6-25 and
the min-update of src/utils/utils.c:3-33, but per window of a batch's
concatenated shingle ids instead of per-element loops: a window whose ids
repeat hashes each distinct id once into a (n_distinct × sketch_size) table
and gathers each document's rows from it; any other window hashes an
(n_shingles × sketch_size) matrix per chunk and reduces per document with
``np.minimum.reduceat`` (see min_sketch_batch). Differential tests in
tests/test_kernels.py and tests/test_properties.py require cell-for-cell
equality with oracle.py — the
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


# occurrences (direct branch) or distinct ids (table branch) per
# hash_matrix call: a (size × 1,024) uint64 matrix, ~1 MiB at size 128, so
# 32 concurrent executor cores don't thrash a shared L3 (measured best at 8
# and 32 processes, ~6x over DRAM-sized chunks)
_BLOCK = 1 << 10


def min_sketch_batch(
    shingle_sets: Sequence[np.ndarray],
    cfg: MinHashConfig,
    coeffs: tuple[np.ndarray, ...] | None = None,
    chunk_elems: int = 1 << 16,
) -> np.ndarray:
    """MinHash sketches for a batch of documents → uint64[n_docs, size].

    Concatenates all documents' shingle ids and cuts them into windows of
    chunk_elems occurrences. h_i depends only on the shingle, so each window
    first counts its distinct ids (one sort) and takes one of two branches:

    - **Table**, when the distinct ids are at most half of the window's
      occurrences (boilerplate, near-duplicate clusters, common words):
      ``np.unique(..., return_inverse=True)`` gives the distinct ids and
      each occurrence's row; each distinct id is hashed once into a
      row-major table T (n_distinct × size), in _BLOCK-row calls of the
      same hash_matrix, and each document's part of the window reduces as
      ``np.take(T, inv[s:e], axis=0).min(axis=0)``. T holds values < M in
      the narrowest unsigned dtype (uint32 for M = 2^31 - 1, every
      reference config), in one buffer of half a window's rows that every
      table window of the call reuses: at the default window and sketch
      size 128, under 16 MiB per signing thread, and one document's gather
      under 32 MiB.
    - **Direct**, otherwise: hash the window's occurrences in _BLOCK-element
      chunks, each a (size × 1,024) uint64 matrix of ~1 MiB at size 128
      that stays cache-resident, and reduce per-document minima along its
      contiguous axis with ``np.minimum.reduceat``.

    Why half: filling T row-major and gathering from it cost about as much
    per occurrence as hashing saves once ~60% of a window is distinct, and
    a table of tens of thousands of rows no longer fits in cache. Measured
    on 4,200-id sorted documents from pools of varying size (4-core box,
    sketch size 128, table vs direct, two runs): 2.4–2.5x faster at 16%
    distinct, 1.6–1.8x at 38%, 1.1–1.25x at 57%, 0.73–0.89x at 69% and
    0.76–0.78x at 90% on one thread; 2.7–2.9x, 1.7x, 1.1–1.2x, 1.07–1.14x
    and 0.82–1.01x with four threads. The branch is picked per window from
    the input, whose repetition varies from batch to batch and within one,
    and a direct window pays only for the sort (~1–2% of hashing it), so
    there is no option to tune. chunk_elems, the one size parameter, bounds
    the table and the gather.

    Empty documents stay all-INFTY (init_empty_values,
    src/configuration/configuration.c:143-148). A document that spans
    windows or chunks is folded across them — min is associative and
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
    ends = starts + lengths
    X = np.concatenate([np.asarray(shingle_sets[i], dtype=np.uint64) for i in nonempty])
    table = None  # one buffer for every table window of the call

    def hash_block(x: np.ndarray) -> np.ndarray:
        return hash_matrix(x, coeffs, cfg.hash_type, cfg.prime_modulus)

    for p in range(0, X.shape[0], chunk_elems):
        e = min(p + chunk_elems, X.shape[0])
        # a plain sort counts the distinct ids at a quarter of the cost of
        # np.unique's inverse, which only a table window needs
        srt = np.sort(X[p:e])
        if 2 * (1 + np.count_nonzero(srt[1:] != srt[:-1])) > e - p:
            _min_direct(out, X, p, e, starts, orig_idx, hash_block)
            continue
        ids, inv = np.unique(X[p:e], return_inverse=True)
        if table is None:
            rows = min(chunk_elems, X.shape[0]) // 2
            table = np.empty((rows, size), dtype=np.min_scalar_type(cfg.prime_modulus - 1))
        T = table[: ids.shape[0]]
        for q in range(0, ids.shape[0], _BLOCK):
            T[q : q + _BLOCK] = hash_block(ids[q : q + _BLOCK])
        f, l = map(int, _doc_span(starts, p, e))
        seg_s = np.maximum(starts[f : l + 1], p) - p
        seg_e = np.minimum(ends[f : l + 1], e) - p
        for d, s, t in zip(orig_idx[f : l + 1].tolist(), seg_s.tolist(), seg_e.tolist()):
            row = out[d]
            np.minimum(row, np.take(T, inv[s:t], axis=0).min(axis=0), out=row)
    return out


def _doc_span(starts: np.ndarray, p, e):
    """The first and last of the nonempty documents that occurrences
    [p, e) of the concatenated ids touch (scalars or arrays of chunks). The
    last is the document holding e - 1, not e: a document starting exactly
    at e belongs to the next chunk."""
    return (
        np.searchsorted(starts, p, side="right") - 1,
        np.searchsorted(starts, e - 1, side="right") - 1,
    )


def _min_direct(out, X, p, e, starts, orig_idx, hash_block) -> None:
    """Fold the minima of occurrences X[p:e] into `out`, hashing each
    occurrence in _BLOCK-element chunks."""
    pos = np.arange(p, e, _BLOCK)
    end = np.minimum(pos + _BLOCK, e)
    first, last = _doc_span(starts, pos, end)
    for c, ce, f, l in zip(pos.tolist(), end.tolist(), first.tolist(), last.tolist()):
        # (size, chunk), C-contiguous: the reductions run along the last
        # axis, where np.minimum.reduceat is ~8x faster than along the first
        H = hash_block(X[c:ce]).T
        if f == l:
            # one doc: a plain min, which also releases the GIL that
            # reduceat holds (driver threads share it)
            row = out[orig_idx[f]]
            np.minimum(row, H.min(axis=1), out=row)
        else:
            seg_starts = np.maximum(starts[f : l + 1], c) - c
            docs = orig_idx[f : l + 1]
            out[docs] = np.minimum(out[docs], np.minimum.reduceat(H, seg_starts, axis=1).T)


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
