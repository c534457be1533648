"""Driver-side numpy kernels of the dedup: LSH band pairs with the skew tiers
of `operators.lsh.candidate_pairs`, the Jaccard estimate of
`operators.verify.estimate_jaccard_udf` and the pointer-jumping connected
components of `operators.cluster`.

Everything works on integer arrays: url codes (0..n-1 in url order, -1 for
a null url) and signature row indices. Callers factorize ids and join them
back; these functions never see a url.
"""

from __future__ import annotations

import numpy as np

from .config import DedupConfig

VERIFY_CHUNK = 1 << 16  # pairs per estimator block: 2 × 32 MiB of int32 cells


def _runs(lo: np.ndarray, n: np.ndarray) -> np.ndarray:
    """lo[i], lo[i] + 1, ..., lo[i] + n[i] - 1 for every i, concatenated."""
    return np.arange(n.sum()) - np.repeat(np.cumsum(n) - n - lo, n)


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
    `verify_pairs` joins a candidate with every signature row of its urls."""
    valid = codes >= 0
    order = np.flatnonzero(valid)[np.argsort(codes[valid], kind="stable")]
    cnt = np.bincount(codes[valid], minlength=int(codes.max(initial=-1)) + 1)
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
