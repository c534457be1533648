"""Driver-side numpy kernels of the dedup, for the pipeline's local path,
the store's narrow path and `operators.cluster`'s local components: url
codes, LSH band pairs with the skew tiers of `lsh.candidate_pairs`, the
equi-join of two key arrays, the Jaccard estimate of
`verify.estimate_jaccard_udf`, pointer-jumping connected components,
Spark's `xxhash64` of an id column (the store's url bucket and Bloom key),
and the band keys of `lsh.band_keys`.

All but `url_codes`, `xxhash64` and `band_keys` work on integer arrays:
the url codes of `url_codes` (0..n-1 in url order, -1 for a null url),
which callers join back with `ids.take`, and signature row indices.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .config import DedupConfig

VERIFY_CHUNK = 1 << 16  # pairs per estimator block: 2 × 32 MiB of int32 cells
XXHASH_CHUNK_BYTES = 1 << 24  # padded bytes per xxhash64 block of byte ids


def _runs(lo: np.ndarray, n: np.ndarray) -> np.ndarray:
    """lo[i], lo[i] + 1, ..., lo[i] + n[i] - 1 for every i, concatenated."""
    return np.arange(n.sum()) - np.repeat(np.cumsum(n) - n - lo, n)


def url_codes(*arrays):
    """(ids, codes, ...): the distinct non-null values of the pyarrow
    (chunked) arrays, all of one type, sorted in Spark's binary order, and
    for each array the int64 index into ids of each value, -1 for a null."""
    chunks = [c for a in arrays for c in getattr(a, "chunks", [a])]
    ids = pc.unique(pa.chunked_array(chunks, arrays[0].type)).drop_null()
    ids = ids.take(pc.array_sort_indices(ids))
    codes = [pc.index_in(a, value_set=ids).fill_null(-1).to_numpy() for a in arrays]
    return ids, *(c.astype(np.int64) for c in codes)


def key_pairs(left: np.ndarray, right: np.ndarray, max_rows: int):
    """Row indices (il, ir) of every pair with left[il] == right[ir], the
    equi-join of two int64 key arrays; None when its rows, counted before
    anything is enumerated, exceed max_rows."""
    ol, orr = np.argsort(left, kind="stable"), np.argsort(right, kind="stable")
    lo, hi = (np.searchsorted(right[orr], left[ol], side) for side in ("left", "right"))
    if int((hi - lo).sum()) > max_rows:
        return None
    return np.repeat(ol, hi - lo), orr[_runs(lo, hi - lo)]


def band_pairs(keys: np.ndarray, codes: np.ndarray, cfg: DedupConfig, max_rows: int):
    """Candidate url-code pairs (ca < cb) of signature rows with band keys
    keys[row, band] and url codes codes[row], plus the bucket stats of
    `lsh.multi_bucket_stats`; None when the bucket pair rows exceed max_rows.

    A pair is counted once per (band occurrence, row of a, row of b) and kept
    at >= cfg.min_band_matches, as `candidate_pairs` counts `n_bands`.
    Buckets of up to salted_bucket_max rows emit all pairs (the plain and
    salted tiers have the same pair set); larger ones emit star pairs, the
    bucket's minimum url with each other member. The pair rows, Σ m(m−1)/2
    over the former plus Σ (m−1) over the latter, are checked against
    max_rows before anything is enumerated."""
    n = int(codes.max(initial=-1)) + 1
    null = n  # sorts after every url in its bucket, as min() skips nulls
    rc = np.where(codes < 0, null, codes).astype(np.int64)
    k, c = keys.ravel(), np.repeat(rc, keys.shape[1])
    order = np.lexsort((c, k))
    k, c = k[order], c[order]
    start = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    m = np.diff(np.r_[start, len(k)])
    multi = m >= 2
    start, m = start[multi], m[multi]
    full = m <= cfg.salted_bucket_max
    if int((m[full] * (m[full] - 1) // 2).sum() + (m[~full] - 1).sum()) > max_rows:
        return None

    # stats: multi_bucket_stats counts a bucket once per row holding its
    # minimum url (its anchor), so never for an all-null bucket
    anchor = c[start]
    bucket = np.repeat(np.arange(len(m)), m)
    hit = (c[_runs(start, m)] == anchor[bucket]) & (anchor[bucket] != null)
    n_anchor = np.bincount(bucket, weights=hit, minlength=len(m)).astype(np.int64)
    capped = m > cfg.max_bucket_size
    stats = {
        "n_multi_buckets": int(n_anchor.sum()),
        "max_bucket": int(m.max(initial=0)),
        "n_capped_buckets": int(n_anchor[capped].sum()),
        "docs_in_capped_buckets": int((n_anchor * m)[capped].sum()),
    }

    # all pairs: each position pairs with the later ones of its bucket
    s, mm = start[full], m[full]
    pos = _runs(s, mm)
    after = np.repeat(s + mm, mm) - pos - 1
    left = np.repeat(pos, after)
    right = _runs(pos + 1, after)
    # star pairs: the bucket's first (minimum) url with each later row
    s, mm = start[~full], m[~full]
    star = _runs(s + 1, mm - 1)
    ca = np.concatenate([c[left], np.repeat(c[s], mm - 1)])
    cb = np.concatenate([c[right], c[star]])
    keep = (ca < cb) & (cb != null)
    uk, n_bands = np.unique(ca[keep] * n + cb[keep], return_counts=True)
    uk = uk[n_bands >= cfg.min_band_matches]
    return uk // max(n, 1), uk % max(n, 1), stats


def pair_rows(codes: np.ndarray, ca: np.ndarray, cb: np.ndarray):
    """Row indices (ia, ib): one entry per (pair, row of ca, row of cb), as
    `verify_pairs` joins a candidate with every signature row of its urls
    (a url without rows pairs with none)."""
    valid = codes >= 0
    order = np.flatnonzero(valid)[np.argsort(codes[valid], kind="stable")]
    n = max(codes.max(initial=-1), ca.max(initial=-1), cb.max(initial=-1)) + 1
    cnt = np.bincount(codes[valid], minlength=int(n))
    first = np.cumsum(cnt) - cnt
    na, nb = cnt[ca], cnt[cb]
    per = na * nb
    pair = np.repeat(np.arange(len(ca)), per)
    t = _runs(np.zeros_like(per), per)
    ia = order[first[ca][pair] + t // nb[pair]]
    ib = order[first[cb][pair] + t % nb[pair]]
    return ia, ib


def verify(S: np.ndarray, ia: np.ndarray, ib: np.ndarray, threshold: float):
    """(index, estimate) of the row pairs (S[ia], S[ib]) whose estimated
    Jaccard is >= threshold: the arithmetic of estimate_jaccard_udf,
    (A == B).sum(1) / size, in blocks of VERIFY_CHUNK pairs."""
    est = np.empty(len(ia))
    for s in range(0, len(ia), VERIFY_CHUNK):
        t = slice(s, s + VERIFY_CHUNK)
        est[t] = (S[ia[t]] == S[ib[t]]).sum(axis=1)
    est /= float(S.shape[1])
    keep = np.flatnonzero(est >= threshold)
    return keep, est[keep]


def components(ca: np.ndarray, cb: np.ndarray, n: int, max_iterations: int):
    """(labels, rounds) of the graph with edges (ca, cb) over codes 0..n-1:
    labels[v] is the minimum code of v's component. None when it does not
    converge within max_iterations rounds."""
    lab = np.arange(n)
    for rounds in range(1, max_iterations + 1):
        la, lb = lab[ca], lab[cb]
        if np.array_equal(la, lb):
            return lab, rounds
        # hook each edge's larger label onto its smaller one, then jump
        # pointers until every vertex points at its tree's root
        np.minimum.at(lab, np.maximum(la, lb), np.minimum(la, lb))
        while not np.array_equal(nxt := lab[lab], lab):
            lab = nxt
    return None


# ---- Spark's xxhash64 -------------------------------------------------------
# org.apache.spark.sql.catalyst.expressions.XXH64 with Spark's seed 42: a
# string or binary value hashes its bytes (hashUnsafeBytes), a long
# hashLong, an int hashInt, and a null is the seed itself. uint64
# arithmetic wraps as Java's long does.
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SEED = 42
_MASK64 = (1 << 64) - 1


def _u64(x: int) -> np.uint64:
    return np.uint64(x & _MASK64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _xxh_padded(mat: np.ndarray, lens: np.ndarray, seed) -> np.ndarray:
    """XXH64 of each row's first lens[i] bytes of the zero-padded uint8
    matrix `mat` (k, 8w), w > max(lens) / 8, with seed (a uint64 scalar or
    one per row), row by row in lockstep: each step applies to the rows
    that still have input for it."""
    k, nbytes = mat.shape
    words, ints = mat.view("<u8"), mat.view("<u4")
    rows = np.arange(k)
    n32 = lens // 32
    seed = np.broadcast_to(np.asarray(seed, np.uint64), (k,))
    v = [seed + _P1 + _P2, seed + _P2, seed, seed - _P1]
    for s in range(int(n32.max(initial=0))):
        live = s < n32
        for j in range(4):
            v[j] = np.where(live, _round(v[j], words[:, 4 * s + j]), v[j])
    h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
    for vj in v:
        h = (h ^ _round(np.uint64(0), vj)) * _P1 + _P4
    h = np.where(n32 > 0, h, seed + _P5) + lens.astype(np.uint64)
    # up to three whole 8-byte words after the 32-byte stripes
    n8 = lens % 32 // 8
    for j in range(3):
        lane = words[rows, np.minimum(4 * n32 + j, nbytes // 8 - 1)]
        h = np.where(j < n8, _rotl(h ^ _round(np.uint64(0), lane), 27) * _P1 + _P4, h)
    # then one 4-byte word, then single bytes
    o = lens & ~7
    four = lens - o >= 4
    lane = ints[rows, np.minimum(o // 4, nbytes // 4 - 1)].astype(np.uint64)
    h = np.where(four, _rotl(h ^ lane * _P1, 23) * _P2 + _P3, h)
    o = o + 4 * four
    for j in range(3):
        byte = mat[rows, np.minimum(o + j, nbytes - 1)].astype(np.uint64)
        h = np.where(o + j < lens, _rotl(h ^ byte * _P5, 11) * _P1, h)
    return _fmix(h)


def _hash_int(x: np.ndarray, seed) -> np.ndarray:
    """hashInt of each int32 of x with seed."""
    x = x.astype(np.int32, copy=False).view(np.uint32).astype(np.uint64)
    return _fmix(_rotl((seed + _P5 + np.uint64(4)) ^ x * _P1, 23) * _P2 + _P3)


def band_keys(S: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """The int64 band keys (n, bands) of the int32 signature matrix S, as
    `operators.lsh.band_keys` derives them from the packed signature:
    band i's key is Spark's xxhash64(i, substring(sig, i·4·rows + 1,
    4·rows)), the XXH64 of the band's 4·rows little-endian bytes seeded
    with hashInt(i, 42)."""
    n, width = len(S), 4 * cfg.rows
    pad = (width // 8 + 1) * 8
    mat = np.zeros((n * cfg.bands, pad), np.uint8)
    cells = np.ascontiguousarray(S, dtype="<i4").view(np.uint8)
    mat[:, :width] = cells.reshape(n * cfg.bands, width)
    seeds = _hash_int(np.arange(cfg.bands), _u64(_SEED))
    h = _xxh_padded(mat, np.full(n * cfg.bands, width), np.tile(seeds, n))
    return h.view(np.int64).reshape(n, cfg.bands)


def _xxh_bytes(arr: pa.Array) -> np.ndarray:
    """hashUnsafeBytes of every value of a large_binary array. Rows go
    through `_xxh_padded` in length order, in blocks of at most
    XXHASH_CHUNK_BYTES padded bytes (a block holds at least one row), so one
    very long id pads only its own block."""
    n = len(arr)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int64, count=arr.offset + n + 1)[arr.offset :]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    lens = np.diff(off)
    order = np.argsort(lens, kind="stable")
    pad = (lens[order] // 8 + 1) * 8  # bytes per padded row, nondecreasing
    out = np.empty(n, np.uint64)
    s = 0
    while s < n:
        lim = min(n, s + XXHASH_CHUNK_BYTES // int(pad[s]) + 1)
        cost = pad[s:lim] * np.arange(1, lim - s + 1)
        e = s + max(1, int(np.searchsorted(cost, XXHASH_CHUNK_BYTES, side="right")))
        idx, width = order[s:e], int(pad[e - 1])
        mat = np.zeros((e - s, width), np.uint8)
        dst = _runs(np.arange(e - s) * width, lens[idx])
        mat.ravel()[dst] = data[_runs(off[idx], lens[idx])]
        out[idx] = _xxh_padded(mat, lens[idx], _u64(_SEED))
        s = e
    return out


def xxhash64_supports(t: pa.DataType) -> bool:
    """Whether `xxhash64` hashes values of arrow type t as Spark does."""
    return (
        pa.types.is_string(t) or pa.types.is_large_string(t)
        or pa.types.is_binary(t) or pa.types.is_large_binary(t)
        or pa.types.is_int64(t) or pa.types.is_int32(t)
    )


def xxhash64(arr) -> np.ndarray:
    """Spark's `xxhash64(col)` of every value of a pyarrow (chunked) array,
    as int64; see `xxhash64_supports` for the types. A null hashes to 42."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if not xxhash64_supports(t):
        raise TypeError(f"xxhash64: no Spark hash of arrow type {t}")
    if pa.types.is_int64(t):
        x = arr.fill_null(0).to_numpy().view(np.uint64)
        h = _fmix(_rotl(_u64(_SEED + int(_P5) + 8) ^ _round(np.uint64(0), x), 27) * _P1 + _P4)
    elif pa.types.is_int32(t):
        h = _hash_int(arr.fill_null(0).to_numpy(), _u64(_SEED))
    else:
        h = _xxh_bytes(arr.cast(pa.large_binary()))
    h = h.view(np.int64)
    if arr.null_count:
        h = np.where(arr.is_valid().to_numpy(zero_copy_only=False), h, _SEED)
    return h
