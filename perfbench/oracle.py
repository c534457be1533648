"""Numpy reference computations the benchmark checks the engine against.

Everything here runs in the driver process, single-threaded, on the
engine's outputs read back from parquet:

- ``kernel_signatures``: signatures straight from ``functions.kernels`` and
  ``functions.shingles`` (no Spark, no Arrow), to compare cell for cell.
- ``exhaustive_pairs``: every pair with estimated Jaccard >= threshold, by
  comparing all signature pairs (the recall ground truth).
- ``band_model_pairs``: the exact pair set the batch pipeline promises
  while no band bucket exceeds ``salted_bucket_max`` (above it the star
  tier keeps only anchor pairs): pairs that collide in
  >= ``min_band_matches`` LSH bands and verify at >= threshold.
- ``components``: a local union-find over a pair set.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow.parquet as pq

from minhash_spark.config import DedupConfig
from minhash_spark.functions.kernels import min_sketch_batch, sketch_to_int
from minhash_spark.functions.shingles import char_shingle_sets_batch

Pair = tuple[str, str]


def read_signatures(path: str, cfg: DedupConfig) -> dict[str, np.ndarray]:
    """url -> int32 signature row, from a parquet dataset of packed
    little-endian int32 ``minhash`` buffers."""
    t = pq.read_table(path, columns=["url", "minhash"])
    urls = t.column("url").to_pylist()
    buf = b"".join(t.column("minhash").to_pylist())
    mat = np.frombuffer(buf, dtype="<i4").reshape(len(urls), cfg.minhash.sketch_size)
    return dict(zip(urls, mat))


def read_pairs(path: str) -> set[Pair]:
    t = pq.read_table(path, columns=["url_a", "url_b"])
    return {
        (min(a, b), max(a, b))
        for a, b in zip(t.column("url_a").to_pylist(), t.column("url_b").to_pylist())
    }


def kernel_signatures(texts: list[str], cfg: DedupConfig) -> tuple[np.ndarray, float, float]:
    """(int32 signatures, shingling seconds, min-hash seconds)."""
    t0 = time.perf_counter()
    sets = char_shingle_sets_batch(texts, cfg.shingle_size)
    t1 = time.perf_counter()
    sigs = sketch_to_int(min_sketch_batch(sets, cfg.minhash))
    return sigs, t1 - t0, time.perf_counter() - t1


def estimates(sigs: dict[str, np.ndarray], pairs) -> np.ndarray:
    """Estimated Jaccard of each pair; 0 for a pair with a url that has no
    signature, which no threshold check passes."""
    out = []
    for a, b in pairs:
        if a in sigs and b in sigs:
            out.append(np.count_nonzero(sigs[a] == sigs[b]) / sigs[a].shape[0])
        else:
            out.append(0.0)
    return np.array(out)


def exhaustive_pairs(sigs: dict[str, np.ndarray], threshold: float) -> set[Pair]:
    urls = sorted(sigs)
    mat = np.stack([sigs[u] for u in urls])
    need = int(np.ceil(threshold * mat.shape[1]))
    out: set[Pair] = set()
    block = 64
    for start in range(0, len(urls), block):
        rows = mat[start : start + block]
        eq = (rows[:, None, :] == mat[None, start:, :]).sum(axis=2, dtype=np.int16)
        ii, jj = np.nonzero(eq >= need)
        for i, j in zip(ii, jj + start):
            if start + i < j:
                out.add((urls[start + i], urls[j]))
    return out


def band_model_pairs(sigs: dict[str, np.ndarray], cfg: DedupConfig) -> set[Pair]:
    urls = sorted(sigs)
    n = len(urls)
    mat = np.stack([sigs[u] for u in urls])
    keys = []
    for band in range(cfg.bands):
        cols = mat[:, band * cfg.rows : (band + 1) * cfg.rows]
        _, inv, counts = np.unique(cols, axis=0, return_inverse=True, return_counts=True)
        inv = inv.ravel()
        multi = np.nonzero(counts[inv] > 1)[0]
        order = multi[np.argsort(inv[multi], kind="stable")]
        bounds = np.nonzero(np.diff(inv[order]))[0] + 1
        for members in np.split(order, bounds):
            i, j = np.triu_indices(len(members), 1)
            keys.append(members[i].astype(np.int64) * n + members[j])
    if not keys:
        return set()
    uniq, hits = np.unique(np.concatenate(keys), return_counts=True)
    cand = uniq[hits >= cfg.min_band_matches]
    a, b = cand // n, cand % n
    ok = (mat[a] == mat[b]).sum(axis=1) >= np.ceil(
        cfg.jaccard_threshold * mat.shape[1]
    )
    return {(urls[i], urls[j]) for i, j in zip(a[ok], b[ok])}


def components(pairs) -> set[frozenset]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[str, set] = {}
    for x in parent:
        groups.setdefault(find(x), set()).add(x)
    return {frozenset(g) for g in groups.values()}
